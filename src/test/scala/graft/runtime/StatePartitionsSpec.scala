package graft.runtime

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.SparkSpec
import graft.gen.ClickstreamGen
import graft.model.ClickstreamEvent
import graft.ops.Pipelines
import graft.sink.InMemoryKV

/** The fixed per-micro-batch cost of the five side-by-side queries: how
  * many state partitions each one commits, and how many times each
  * micro-batch plan runs.
  */
class StatePartitionsSpec extends SparkSpec {

  private val stateful = Set("page_views", "user_sessions", "conversions", "device_stats")

  private def capture(): (java.util.concurrent.ConcurrentHashMap[String, Seq[Row]],
                          (DataFrame, String) => Unit) = {
    val tables = new java.util.concurrent.ConcurrentHashMap[String, Seq[Row]]()
    (tables, (df, table) => tables.merge(table, df.collect().toSeq, (a, b) => a ++ b))
  }

  /** The progress of the query's last micro-batch that read input. */
  private def lastData(q: StreamingQuery): StreamingQueryProgress =
    q.recentProgress.filter(_.numInputRows > 0).last

  test("ClickstreamProcessor.start: one state partition per query on local[4]; " +
       "the session keeps its own count; each micro-batch plan runs once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    assert(spark.sparkContext.defaultParallelism == 4)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")

    // 400 events 50 ms apart from 2024-01-01T00:00Z: one hourly window
    val evs = ClickstreamGen.events(spark, 400, numPartitions = 2).collect().toSeq
    assert(evs.map(_.timestamp.getTime / 3600000L).distinct.size == 1)
    val stream = MemoryStream[ClickstreamEvent]
    val runner = new StreamRunner(spark,
      StreamConfig(Files.createTempDirectory("graft-ck-parts").toString, batchDurationSec = 1))
    val (_, write) = capture()
    val queries = ClickstreamProcessor.start(runner, stream.toDF(), write, new InMemoryKV)
    try {
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
      stream.addData(evs)
      runner.processAllAvailable()
      val progress = queries.map(q => q.name -> lastData(q)).toMap
      assert(progress.collect { case (n, p) if p.stateOperators.nonEmpty => n }.toSet == stateful)
      progress.values.flatMap(_.stateOperators).foreach(so =>
        assert(so.numShufflePartitions == 1, so.json))
      // one window row in state: Spark's SQL metrics sum over every run of
      // the plan, so a second action in the sink would read 2
      assert(progress("conversions").stateOperators(0).numRowsTotal == 1)
    } finally runner.stopAll()
  }

  test("a restart keeps the checkpoint's state partitions and its state") {
    val events = ClickstreamGen.events(spark, 300, numPartitions = 1).collect().toSeq
    val (first, second) = events.splitAt(150)
    import spark.implicits._
    val srcDir: Path = Files.createTempDirectory("graft-parts-src")
    first.toDF().write.mode("overwrite").parquet(srcDir.toString)
    val schema = spark.read.parquet(srcDir.toString).schema
    def source = spark.readStream.schema(schema).parquet(srcDir.toString)
    val ck = Files.createTempDirectory("graft-parts-ck").toString
    def purchases(evs: Seq[ClickstreamEvent]) = evs.count(_.event_type == "purchase").toLong

    // Run 1: one query on the session's 4 partitions creates the checkpoint
    val run1 = new StreamRunner(spark, StreamConfig(ck, availableNow = true))
    val (t1, write1) = capture()
    val q1 = run1.start(Pipelines.conversions(source), "conversions")(
      ClickstreamProcessor.purchaseStats(write1))
    q1.awaitTermination()
    run1.stopAll()
    assert(lastData(q1).stateOperators(0).numShufflePartitions == 4)
    assert(t1.get("purchase_stats").map(_.getLong(2)) == Seq(purchases(first)))

    // Run 2: all five queries, sized to 1 partition each; conversions
    // resumes its checkpoint and keeps 4, with the first run's window
    second.toDF().write.mode("append").parquet(srcDir.toString)
    val run2 = new StreamRunner(spark, StreamConfig(ck, availableNow = true))
    val (t2, write2) = capture()
    val queries = ClickstreamProcessor.start(run2, source, write2, new InMemoryKV)
    try {
      queries.foreach(_.awaitTermination())
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
      val parts = queries.filter(q => stateful(q.name))
        .map(q => q.name -> lastData(q).stateOperators(0).numShufflePartitions).toMap
      assert(parts == Map("page_views" -> 1, "user_sessions" -> 1,
        "conversions" -> 4, "device_stats" -> 1))
      assert(t2.get("purchase_stats").map(_.getLong(2)) == Seq(purchases(events)))
    } finally run2.stopAll()
  }
}
