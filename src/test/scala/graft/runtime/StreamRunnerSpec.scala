package graft.runtime

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.gen.ClickstreamGen
import graft.model.{ClickstreamEvent, Device}
import graft.ops.Pipelines
import graft.sink.{InMemoryKV, KeyValuePipeline, KeyValueSink}

/** Drives the full five-query engine (4 relational sinks + 1 KV sink) on a
  * MemoryStream and checks the persisted outputs against batch-computed
  * truths — the end-to-end the reference never had.
  */
class StreamRunnerSpec extends SparkSpec {

  test("ClickstreamProcessor: all five queries persist correct micro-batch output") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val evs = ClickstreamGen.events(spark, 400, numPartitions = 2).collect().toSeq
    val stream = MemoryStream[ClickstreamEvent]
    val checkpoint = Files.createTempDirectory("graft-ck").toString
    val runner = new StreamRunner(spark, StreamConfig(checkpoint, batchDurationSec = 1))
    runner.attachListener(_ => ()) // exercise the listener path quietly

    val tables = new java.util.concurrent.ConcurrentHashMap[String, Seq[org.apache.spark.sql.Row]]()
    val write: (DataFrame, String) => Unit = (df, table) =>
      tables.merge(table, df.collect().toSeq, (a, b) => a ++ b)
    val kv = new InMemoryKV

    val queries = ClickstreamProcessor.start(runner, stream.toDF(), write, kv)
    try {
      assert(queries.length == 5)
      stream.addData(evs)
      runner.processAllAvailable()

      // K1: page_view_stats matches the batch pipeline
      val expectedPv = Pipelines.pageViews(evs.toDF()).collect()
      assert(tables.get("page_view_stats").toSet == expectedPv.toSet)

      // K2: one session row per (session, user)
      val sess = tables.get("user_sessions")
      assert(sess.map(r => (r.getString(0), r.getInt(1))).distinct.size == sess.size)
      assert(sess.map(_.getLong(4)).sum == 400L)

      // K4 (the reference's missing purchase persistence): totals match
      val purch = tables.get("purchase_stats")
      val expectedRevenue = evs.filter(_.event_type == "purchase")
        .flatMap(_.total_amount).map(BigDecimal(_)).sum
      assert(purch.map(r => BigDecimal(r.getDouble(3))).sum == expectedRevenue)

      // K3: device stats cover all events
      assert(tables.get("device_stats").map(_.getLong(5)).sum == 400L)

      // K5: KV page counters equal page_view counts per page
      val pvByPage = evs.filter(_.event_type == "page_view")
        .groupBy(_.page).view.mapValues(_.size.toLong).toMap
      pvByPage.foreach { case (page, n) =>
        assert(kv.getCounter(s"page_views:$page") == n, s"page $page")
      }
      // K6: time series recorded with the 24h TTL
      val anyPage = pvByPage.keys.head
      assert(kv.getTimeSeries(s"page_views_ts:$anyPage").nonEmpty)
      assert(kv.getTtl(s"page_views_ts:$anyPage").contains(86400L))

      // K7 (the reference's missing redis purchase metrics)
      val nPurchases = evs.count(_.event_type == "purchase").toLong
      assert(kv.getCounter("purchases:count") == nPurchases)
      assert(BigDecimal(kv.getFloatCounter("revenue:total")) == expectedRevenue)
    } finally runner.stopAll()
  }

  test("AvailableNow trigger drains everything then terminates on its own") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evs = ClickstreamGen.events(spark, 200, numPartitions = 2).collect().toSeq
    val stream = MemoryStream[ClickstreamEvent]
    stream.addData(evs) // data present BEFORE start — the backfill shape
    val checkpoint = Files.createTempDirectory("graft-ck-an").toString
    val runner = new StreamRunner(spark,
      StreamConfig(checkpoint, availableNow = true))
    val seen = new java.util.concurrent.atomic.AtomicLong()
    val q = runner.start(
      Pipelines.pageViews(stream.toDF(), watermark = "1 minute"), "an_views") {
      (batch, _) => seen.addAndGet(batch.count())
    }
    try {
      // a processing-time query would run until stopped; AvailableNow must
      // finish by itself once the pre-existing data is drained
      assert(q.awaitTermination(120000), "query did not self-terminate")
      assert(seen.get() > 0)
    } finally runner.stopAll()
  }

  test("update mode revises prior windows across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[ClickstreamEvent]
    val checkpoint = Files.createTempDirectory("graft-ck2").toString
    val runner = new StreamRunner(spark, StreamConfig(checkpoint, batchDurationSec = 1))
    val seen = scala.collection.mutable.Buffer.empty[(Long, Seq[org.apache.spark.sql.Row])]
    val q = runner.start(Pipelines.pageViews(stream.toDF()), "pv") { (df, id) =>
      seen.synchronized(seen += id -> df.collect().toSeq)
    }
    try {
      def ev(min: Int, sec: Int) = ClickstreamEvent(Some(1), "s",
        java.sql.Timestamp.valueOf(f"2024-01-01 00:$min%02d:$sec%02d"), "/", "page_view",
        "direct", graft.model.Device("d", "b", "o"), "ip", "ua",
        None, None, None, None, None, None)
      stream.addData(ev(0, 10))
      runner.processAllAvailable()
      stream.addData(ev(0, 20)) // same window, next micro-batch → revision
      runner.processAllAvailable()
      val updates = seen.synchronized(seen.flatMap(_._2))
        .filter(_.getTimestamp(0).toString == "2024-01-01 00:00:00.0")
        .map(_.getLong(3))
      assert(updates.toSeq == Seq(1L, 2L), s"got $updates")
    } finally runner.stopAll()
  }

  test("retry wrapper: transient sink failures are retried, batch not lost") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[ClickstreamEvent]
    val checkpoint = Files.createTempDirectory("graft-ck3").toString
    val runner = new StreamRunner(spark, StreamConfig(checkpoint, batchDurationSec = 1))
    val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
    val rows = new java.util.concurrent.atomic.AtomicLong(0)
    runner.start(stream.toDF(), "flaky") { (df, _) =>
      if (attempts.incrementAndGet() == 1) sys.error("transient")
      rows.addAndGet(df.count())
    }
    try {
      stream.addData(ClickstreamGen.events(spark, 10, numPartitions = 1).collect().toSeq)
      runner.processAllAvailable()
      assert(attempts.get() >= 2)
      assert(rows.get() == 10L)
    } finally runner.stopAll()
  }

  /** The in-memory KV store, recording every pipelined command as
    * `op key`.
    */
  private final class RecordingKV extends KeyValueSink {
    val mem = new InMemoryKV
    val ops = scala.collection.mutable.Buffer.empty[String]
    def pipeline(): KeyValuePipeline = {
      val p = mem.pipeline()
      new KeyValuePipeline {
        private def rec(op: String, k: String): Unit = ops.synchronized(ops += s"$op $k")
        def set(k: String, v: String): Unit = { rec("set", k); p.set(k, v) }
        def setEx(k: String, v: String, ttl: Long): Unit = { rec("setEx", k); p.setEx(k, v, ttl) }
        def increment(k: String, by: Long): Unit = { rec("incr", k); p.increment(k, by) }
        def incrementByFloat(k: String, by: Double): Unit = {
          rec("incrf", k); p.incrementByFloat(k, by)
        }
        def addTimeSeries(k: String, ts: Long, v: Long, ttl: Long): Unit = {
          rec("series", k); p.addTimeSeries(k, ts, v, ttl)
        }
        def expire(k: String, ttl: Long): Unit = { rec("expire", k); p.expire(k, ttl) }
        def delete(k: String): Unit = { rec("del", k); p.delete(k) }
        def execute(): Unit = { rec("execute", ""); p.execute() }
      }
    }
    def get(key: String): Option[String] = mem.get(key)
    def getCounter(key: String): Long = mem.getCounter(key)
    def getTimeSeries(key: String): Seq[(Long, Long)] = mem.getTimeSeries(key)
    override def close(): Unit = ()
  }

  private def ev(ts: Timestamp, page: String, eventType: String,
                 amount: Option[Double] = None) =
    ClickstreamEvent(Some(1), "s", ts, page, eventType, "direct", Device("d", "b", "o"),
      "ip", "ua", None, None, None, None, None, amount)

  private def sinkKv(evs: Seq[ClickstreamEvent]): RecordingKV = {
    import spark.implicits._
    val kv = new RecordingKV
    ClickstreamProcessor.redisMetrics(kv)(evs.toDF(), 0L)
    kv
  }

  private val t0 = Timestamp.valueOf("2024-01-01 00:00:10")
  private val t1 = Timestamp.valueOf("2024-01-01 00:00:20.5")
  private val t2 = Timestamp.valueOf("2024-01-01 00:05:00")

  test("folded KV sink: an empty batch, or one of other event types, makes no KV call") {
    assert(sinkKv(Seq.empty).ops.isEmpty)
    assert(sinkKv(Seq(ev(t0, "/", "search"), ev(t1, "/cart", "add_to_cart"))).ops.isEmpty)
  }

  test("folded KV sink: all-null timestamps count pages but write no series point") {
    val kv = sinkKv(Seq(ev(null, "/", "page_view"), ev(null, "/", "page_view"),
      ev(null, "/cart", "page_view")))
    assert(kv.getCounter("page_views:/") == 2L)
    assert(kv.getCounter("page_views:/cart") == 1L)
    assert(!kv.ops.exists(_.startsWith("series")))
    assert(kv.ops.count(_ == "execute ") == 1)
  }

  test("folded KV sink: a batch of only page views") {
    val kv = sinkKv(Seq(ev(t0, "/", "page_view"), ev(t1, "/", "page_view"),
      ev(t0, "/cart", "page_view")))
    assert(kv.getCounter("page_views:/") == 2L)
    assert(kv.getCounter("page_views:/cart") == 1L)
    // one batch-level stamp: the max event time, in whole seconds
    val stamp = t1.getTime / 1000L
    assert(kv.getTimeSeries("page_views_ts:/") == Seq(stamp -> 2L))
    assert(kv.getTimeSeries("page_views_ts:/cart") == Seq(stamp -> 1L))
    assert(kv.mem.getTtl("page_views_ts:/").contains(86400L))
    assert(kv.ops.sorted == Seq("execute ", "incr page_views:/", "incr page_views:/cart",
      "series page_views_ts:/", "series page_views_ts:/cart"))
  }

  test("folded KV sink: a batch of only purchases") {
    val kv = sinkKv(Seq(ev(t0, "/payment", "purchase", Some(25.0)),
      ev(t1, "/payment", "purchase", Some(10.5)), ev(t1, "/payment", "purchase")))
    assert(kv.getCounter("purchases:count") == 3L)
    assert(kv.mem.getFloatCounter("revenue:total") == 35.5)
    assert(kv.ops.sorted == Seq("execute ", "incr purchases:count", "incrf revenue:total"))
  }

  test("folded KV sink: revenue is the decimal sum to the cent; the series stamp " +
       "comes from page views only") {
    val amounts = Seq(0.1, 0.2, 19.99, 1234567.89, 0.015)
    val kv = sinkKv(
      amounts.zipWithIndex.map { case (a, i) =>
        ev(t2, if (i % 2 == 0) "/payment" else "/cart", "purchase", Some(a))
      } ++ Seq(ev(t0, "/", "page_view"), ev(null, "/", "page_view")))
    val cents = amounts.map(a => BigDecimal(a).setScale(2, BigDecimal.RoundingMode.HALF_UP)).sum
    assert(cents == BigDecimal("1234588.20"))
    assert(kv.mem.getFloatCounter("revenue:total") == cents.toDouble)
    assert(kv.mem.getFloatCounter("revenue:total") != amounts.sum)
    assert(kv.getCounter("purchases:count") == amounts.size.toLong)
    assert(kv.getCounter("page_views:/") == 2L)
    assert(kv.getTimeSeries("page_views_ts:/") == Seq(t0.getTime / 1000L -> 2L))
  }
}
