package graft.source

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ops.Pipelines
import graft.runtime.{StreamConfig, StreamRunner}

class SourcesSpec extends SparkSpec {

  test("events file stream replays the batch table with identical aggregates") {
    val stream = ClickstreamSource.eventsFileStream(spark, sfDir)
    val q = stream
      .filter(col("event_type") === "view")
      .groupBy(window(col("ts"), "1 hour")).count()
      .writeStream.outputMode("complete").format("memory")
      .queryName("ev_file_stream").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("ev_file_stream")
        .agg(sum("count")).collect()(0).getLong(0)
      val batch = Tables.events(spark, sfDir)
        .filter(col("event_type") === "view").count()
      assert(streamed == batch)
    } finally q.stop()
  }

  test("decodeJsonQuarantine: syntactic corruption flagged exactly; raw line survives") {
    import spark.implicits._
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "event_id BIGINT, t STRING")
    val lines = Seq(
      """{"event_id":1,"t":"view"}""",      // clean
      """{"event_id":2,"t":"vi""",          // truncated → corrupt
      """{"event_id":"oops","t":"view"}""", // type mismatch → corrupt (unconvertible)
      """not json at all""",                // corrupt
      """{"event_id":4,"t":"buy"}""")       // clean
    val out = graft.source.ClickstreamSource
      .decodeJsonQuarantine(lines.toDF("value"), schema)
      .select(col("value"), col("is_corrupt"), col("data.event_id"), col("data.t"))
      .collect().map(r => (r.getString(0), r.getBoolean(1)))
    // corrupt-record contract: syntactic malformation AND unconvertible
    // field values quarantine; clean rows never do
    assert(out.count(_._2) == 3, s"flags: ${out.mkString(", ")}")
    assert(out.filter(_._2).map(_._1).toSet ==
      Set("""{"event_id":2,"t":"vi""", "not json at all",
        """{"event_id":"oops","t":"view"}"""),
      "quarantined rows keep the raw line for replay")
    val clean = graft.source.ClickstreamSource
      .decodeJsonQuarantine(lines.toDF("value"), schema)
      .filter(!col("is_corrupt"))
      .select(col("data.event_id"), col("data.t"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(clean == Set((1L, "view"), (4L, "buy")))
  }

  test("decodeJsonQuarantine: streaming frames classify identically to batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "event_id BIGINT, t STRING")
    val lines = Seq(
      """{"event_id":1,"t":"view"}""",
      """{"event_id":2,"t":"vi""",
      """{"event_id":"oops","t":"view"}""",
      """not json at all""",
      """{"event_id":4,"t":"buy"}""")
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[String]
    mem.addData(lines.take(2))
    mem.addData(lines.drop(2))
    val q = graft.source.ClickstreamSource
      .decodeJsonQuarantine(mem.toDF(), schema)
      .select(col("value"), col("is_corrupt"))
      .writeStream.outputMode("append").format("memory")
      .queryName("quarantine_stream").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("quarantine_stream")
        .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
      val batch = graft.source.ClickstreamSource
        .decodeJsonQuarantine(lines.toDF("value"), schema)
        .select(col("value"), col("is_corrupt"))
        .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
      assert(streamed == batch, "stream ≡ batch classification")
    } finally q.stop()
  }

  test("RocksDB state store provider drives a stateful streaming agg") {
    val provider = "spark.sql.streaming.stateStore.providerClass"
    val before = spark.conf.getOption(provider)
    val checkpoint = Files.createTempDirectory("graft-rocks").toString
    val runner = new StreamRunner(spark,
      StreamConfig(checkpoint, batchDurationSec = 1, useRocksDbStateStore = true))
    try {
      val stream = ClickstreamSource.eventsFileStream(spark, sfDir)
        .withColumnRenamed("ts", "timestamp")
        .withColumn("page", col("event_type"))
      val rows = new java.util.concurrent.atomic.AtomicLong(0)
      runner.start(Pipelines.pageViews(
          stream.withColumn("event_type", lit("page_view"))), "rocks_pv") { (df, _) =>
        rows.addAndGet(df.count())
      }
      // the provider is the query's, recorded in its offset log, not the session's
      assert(spark.conf.getOption(provider) == before)
      assert(!spark.conf.getOption(provider).exists(_.contains("RocksDB")))
      runner.processAllAvailable()
      assert(rows.get() > 0, "stateful agg produced no output under RocksDB")
      val offsets0 = new String(Files.readAllBytes(
        java.nio.file.Paths.get(checkpoint, "rocks_pv", "offsets", "0")), "UTF-8")
      assert(s""""$provider":"[^"]*RocksDBStateStoreProvider"""".r
        .findFirstIn(offsets0).nonEmpty, offsets0)
    } finally runner.stopAll()
  }
}
