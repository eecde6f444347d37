package graft.runtime

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.SparkSpec
import graft.gen.ClickstreamGen
import graft.model.ClickstreamEvent
import graft.ops.Pipelines
import graft.sink.InMemoryKV

/** The fixed per-micro-batch cost of the five side-by-side queries: how
  * many state partitions each one commits, how many times each
  * micro-batch plan runs, whether a micro-batch runs without input, and
  * which processes writing the checkpoint files starts.
  */
class StatePartitionsSpec extends SparkSpec {

  private val stateful = Set("page_views", "user_sessions", "conversions", "device_stats")

  private def capture(): (java.util.concurrent.ConcurrentHashMap[String, Seq[Row]],
                          (DataFrame, String) => Unit) = {
    val tables = new java.util.concurrent.ConcurrentHashMap[String, Seq[Row]]()
    (tables, (df, table) => tables.merge(table, df.collect().toSeq, (a, b) => a ++ b))
  }

  private val CheckpointFileManager = "spark.sql.streaming.checkpointFileManagerClass"

  /** `n` generated events, all within minute `minute` of 2024-01-01T00:00Z. */
  private def eventsAt(minute: Int, n: Int = 200): Seq[ClickstreamEvent] = {
    val evs = ClickstreamGen.events(spark, n, numPartitions = 1, seed = 42L + minute,
      startMillis = ClickstreamGen.DefaultStart + minute * 60000L).collect().toSeq
    assert(evs.map(_.timestamp.getTime / 60000L).distinct ==
      Seq(ClickstreamGen.DefaultStart / 60000L + minute))
    evs
  }

  /** The command lines of the processes this JVM started while `f` ran. */
  private def processesStarted(f: => Unit): Seq[String] = {
    val rec = new Recording()
    val file = Files.createTempFile("graft-procs", ".jfr")
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      try f finally rec.stop()
      rec.dump(file)
      RecordingFile.readAllEvents(file).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
    } finally {
      rec.close()
      Files.deleteIfExists(file)
    }
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

  test("no micro-batch runs without input; expired state goes with the next data batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val chunks = Seq(0, 5, 10).map(eventsAt(_))
    val stream = MemoryStream[ClickstreamEvent]
    val runner = new StreamRunner(spark,
      StreamConfig(Files.createTempDirectory("graft-ck-nodata").toString, batchDurationSec = 1))
    val (tables, write) = capture()
    val queries = ClickstreamProcessor.start(runner, stream.toDF(), write, new InMemoryKV)
    try {
      chunks.foreach { c => stream.addData(c); runner.processAllAvailable() }
      // a trigger that found no input and ran no batch has no addBatch phase
      queries.foreach { q =>
        val ran = q.recentProgress.filter(_.durationMs.containsKey("addBatch"))
        assert(ran.length == 3 && ran.forall(_.numInputRows > 0),
          s"${q.name}: ${ran.map(p => p.batchId -> p.numInputRows).mkString(", ")}")
      }
      // a batch evicts with the watermark of the batch before it: minute 5
      // moves the watermark past the minute-0 windows, minute 10 removes them
      val pv = queries.find(_.name == "page_views").get
        .recentProgress.filter(_.numInputRows > 0)
      assert(pv.map(_.stateOperators(0).numRowsRemoved).toSeq.take(2) == Seq(0L, 0L))
      assert(pv(2).stateOperators(0).numRowsRemoved > 0, pv(2).json)
      val expected = Pipelines.pageViews(chunks.flatten.toDF()).collect().toSeq
      assert(tables.get("page_view_stats").sortBy(_.toString) == expected.sortBy(_.toString))
    } finally runner.stopAll()
  }

  test("checkpoint files on the local file system: no readlink process, " +
       "Hadoop's checksum sidecars kept") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evs = eventsAt(0, 400)
    val ck = Files.createTempDirectory("graft-ck-procs").toString
    val stream = MemoryStream[ClickstreamEvent]
    val runner = new StreamRunner(spark,
      StreamConfig(ck, batchDurationSec = 1, useRocksDbStateStore = true))
    val (_, write) = capture()
    var queries = Seq.empty[StreamingQuery]
    try {
      val started = processesStarted {
        queries = ClickstreamProcessor.start(runner, stream.toDF(), write, new InMemoryKV)
        stream.addData(evs)
        runner.processAllAvailable()
      }
      assert(!started.exists(_.startsWith("readlink")), started.mkString("\n"))
      assert(spark.conf.getOption(CheckpointFileManager).isEmpty)
      for (q <- queries; log <- Seq("offsets", "commits"))
        assert(Files.exists(Paths.get(ck, q.name, log, ".0.crc")), s"${q.name}/$log")
    } finally runner.stopAll()
  }

  test("a session that names its own checkpoint file manager keeps it") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val fileContextManager =
      "org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager"
    val stream = MemoryStream[ClickstreamEvent]
    val runner = new StreamRunner(spark, StreamConfig(
      Files.createTempDirectory("graft-ck-manager").toString, batchDurationSec = 1))
    spark.conf.set(CheckpointFileManager, fileContextManager)
    try {
      // the FileContext-based manager resolves links with a readlink process
      val started = processesStarted {
        runner.start(stream.toDF(), "own_manager")((batch, _) => batch.count())
        stream.addData(eventsAt(0, 50))
        runner.processAllAvailable()
      }
      assert(started.exists(_.startsWith("readlink")), started.mkString("\n"))
      assert(spark.conf.get(CheckpointFileManager) == fileContextManager)
    } finally {
      runner.stopAll()
      spark.conf.unset(CheckpointFileManager)
    }
  }
}
