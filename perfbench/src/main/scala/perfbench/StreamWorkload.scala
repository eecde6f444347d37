package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.sql.{DriverManager, Timestamp}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.gen.ClickstreamGen
import graft.model.Schemas
import graft.runtime.{ClickstreamProcessor, StreamConfig, StreamRunner}
import graft.sink.{InMemoryKV, JdbcSink, KeyValuePipeline, KeyValueSink}
import graft.source.ClickstreamSource

/** One Kafka-shaped frame as the producer would publish it. */
final case class Frame(key: String, value: String, timestamp: Timestamp)

object Frames {
  /** Fixed, so that one seed gives the same sessions on any host. */
  val Partitions = 4

  /** The reference traffic: `ClickstreamGen.events` with its own defaults
    * (1,000 users, 50 ms mean inter-arrival, exponential jitter) in the
    * wire shape of `ClickstreamGen.toWire`, in event-index order.
    */
  def generate(spark: SparkSession, seed: Long, n: Int): IndexedSeq[Frame] =
    ClickstreamGen.toWire(ClickstreamGen.events(spark, n, numPartitions = Partitions, seed = seed))
      .collect().toIndexedSeq
      .map(r => Frame(r.getString(0), r.getString(1), r.getTimestamp(2)))

  /** One `key <TAB> timestamp ms <TAB> JSON value` line per frame. */
  def write(frames: Seq[Frame], file: File): Unit =
    Files.write(file.toPath, frames.map(f => s"${f.key}\t${f.timestamp.getTime}\t${f.value}\n")
      .mkString.getBytes(StandardCharsets.UTF_8))

  /** `Frames <seed> <events> <file>`: writes the frames a seed gives, for the
    * benchmark's own test that one seed always gives the same bytes.
    */
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]").appName("perfbench-frames")
      .config("spark.sql.session.timeZone", "UTC").config("spark.ui.enabled", "false")
      .getOrCreate()
    try write(generate(spark, args(0).toLong, args(1).toInt), new File(args(2)))
    finally spark.stop()
  }
}

/** Stream workload: frames → MemoryStream → `ClickstreamSource.decode` →
  * the six `ClickstreamProcessor` queries → Derby (portable upsert) and
  * the in-memory KV store, on the RocksDB state store with a 0 s trigger.
  *
  * Set-up generates the frames, starts the six queries and drains
  * `warmUpChunks` chunks, which pay each query's first planning, code
  * generation and JIT. Each round then drains `chunksPerRound` chunks, one
  * at a time: a chunk is added whole and drained with `processAllAvailable`
  * (one operation) on the same running queries, so state carries over as
  * it does in a deployment. `finish` stops the queries and writes the
  * frames and every sink's contents for run.py to check.
  */
final class StreamWorkload(spark: SparkSession, seed: Long, out: File, work: File,
                           warmUpChunks: Int, chunkSize: Int, chunksPerRound: Int, rounds: Int,
                           tracer: Option[Tracer]) extends Workload {

  private val frames = Frames.generate(spark, seed, (warmUpChunks + chunksPerRound * rounds) * chunkSize)

  // Each table has a primary key on its upsert key (`tableKeys`), as the
  // portable upsert requires: it updates by key from concurrent partitions.
  private val tableDdl = Seq(
    "CREATE TABLE page_view_stats (window_start TIMESTAMP NOT NULL, " +
      "window_end TIMESTAMP NOT NULL, page VARCHAR(128) NOT NULL, view_count BIGINT, " +
      "PRIMARY KEY (window_start, window_end, page))",
    "CREATE TABLE user_sessions (session_id VARCHAR(64) NOT NULL, user_id INT NOT NULL, " +
      "session_start TIMESTAMP, session_end TIMESTAMP, event_count BIGINT, " +
      "pages_visited VARCHAR(32000), event_types VARCHAR(32000), " +
      "PRIMARY KEY (session_id, user_id))",
    "CREATE TABLE purchase_stats (window_start TIMESTAMP NOT NULL, " +
      "window_end TIMESTAMP NOT NULL, purchase_count BIGINT, total_revenue DOUBLE, " +
      "unique_buyers BIGINT, PRIMARY KEY (window_start, window_end))",
    "CREATE TABLE device_stats (window_start TIMESTAMP NOT NULL, " +
      "window_end TIMESTAMP NOT NULL, device_type VARCHAR(32) NOT NULL, " +
      "browser VARCHAR(32) NOT NULL, operating_system VARCHAR(32) NOT NULL, " +
      "visit_count BIGINT, unique_users BIGINT, unique_sessions BIGINT, " +
      "PRIMARY KEY (window_start, window_end, device_type, browser, operating_system))")
  private val tables = Seq("page_view_stats", "user_sessions", "purchase_stats", "device_stats")
  private val url = "jdbc:derby:memory:perfbench"
  private val cfg = JdbcSink.JdbcConfig(s"$url;create=true", "", "",
    "org.apache.derby.iapi.jdbc.AutoloadedDriver")
  private val mem = new InMemoryKV

  private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
  import spark.implicits._
  private val stream = MemoryStream[Frame]
  private val runner = new StreamRunner(spark, StreamConfig(
    new File(work, "checkpoint").getAbsolutePath,
    batchDurationSec = 0, useRocksDbStateStore = true))
  private var drained = 0 // frames added so far
  private var chunks = 0 // chunks drained in rounds

  private def drain(n: Int): Double = {
    val t0 = System.nanoTime()
    stream.addData(frames.slice(drained, drained + n))
    runner.processAllAvailable()
    drained += n
    (System.nanoTime() - t0) / 1e9
  }

  def warmUp(): Unit = {
    val conn = DriverManager.getConnection(cfg.url, cfg.properties)
    try tableDdl.foreach(sql => conn.createStatement().execute(sql)) finally conn.close()
    val kv: KeyValueSink = tracer.fold[KeyValueSink](mem)(t => new CountingKV(mem, t))
    val write: (DataFrame, String) => Unit = (df, table) => {
      val t0 = System.nanoTime()
      JdbcSink.upsertPortable(df, table, ClickstreamProcessor.tableKeys(table), cfg)
      tracer.foreach(_.sinkWrite(table, (System.nanoTime() - t0) / 1e6))
    }
    ClickstreamProcessor.start(runner, ClickstreamSource.decode(stream.toDF()), write, kv)
    (1 to warmUpChunks).foreach(_ => drain(chunkSize))
  }

  def more: Boolean = drained + chunkSize * chunksPerRound <= frames.size

  def round(i: Int): RoundResult = {
    val startMs = System.currentTimeMillis()
    val (t0, c0) = (System.nanoTime(), Main.processCpuS())
    val ops = (1 to chunksPerRound).map { _ =>
      chunks += 1
      (s"chunk_$chunks", drain(chunkSize), true)
    }
    RoundResult(startMs, (System.nanoTime() - t0) / 1e9, Main.processCpuS() - c0, ops, "")
  }

  def finish(): Seq[(String, Any)] = {
    runner.stopAll()
    Frames.write(frames.take(drained), new File(out, "frames.tsv"))
    Files.write(new File(out, "snapshot.json").toPath,
      Snapshot.read(url, cfg, tables, mem).json.getBytes(StandardCharsets.UTF_8))
    Seq("events_drained" -> drained)
  }
}

/** Reads back every sink as canonical JSON: rows sorted, timestamps as
  * epoch milliseconds, KV counters for the known page vocabulary.
  */
object Snapshot {
  def read(url: String, cfg: JdbcSink.JdbcConfig, tables: Seq[String], kv: InMemoryKV): Raw = {
    val conn = DriverManager.getConnection(url, cfg.properties)
    val tableJson = try tables.map { t =>
      val rs = conn.createStatement().executeQuery(s"SELECT * FROM $t")
      val md = rs.getMetaData
      val rows = scala.collection.mutable.Buffer.empty[String]
      while (rs.next()) {
        rows += Json.arr((1 to md.getColumnCount).map(c => rs.getObject(c) match {
          case ts: Timestamp => ts.getTime
          case v => v
        }): _*).json
      }
      t -> Json.arr(rows.sorted.map(Raw(_)).toSeq: _*)
    } finally conn.close()
    val pages = Schemas.Vocab.pages
    Json.obj(tableJson ++ Seq(
      "kv_page_views" -> Json.obj(pages.map(p => p -> kv.getCounter(s"page_views:$p")): _*),
      "kv_page_series_total" -> Json.obj(pages.map(p =>
        p -> kv.getTimeSeries(s"page_views_ts:$p").map(_._2).sum): _*),
      "kv_purchases" -> kv.getCounter("purchases:count"),
      "kv_revenue" -> kv.getFloatCounter("revenue:total")): _*)
  }
}

/** KV sink that counts the operations each pipeline carries (trace only). */
final class CountingKV(inner: KeyValueSink, tracer: Tracer) extends KeyValueSink {
  def pipeline(): KeyValuePipeline = {
    val p = inner.pipeline()
    new KeyValuePipeline {
      private var n = 0L
      def set(k: String, v: String): Unit = { n += 1; p.set(k, v) }
      def setEx(k: String, v: String, ttl: Long): Unit = { n += 1; p.setEx(k, v, ttl) }
      def increment(k: String, by: Long): Unit = { n += 1; p.increment(k, by) }
      def incrementByFloat(k: String, by: Double): Unit = { n += 1; p.incrementByFloat(k, by) }
      def addTimeSeries(k: String, ts: Long, v: Long, ttl: Long): Unit = {
        n += 1; p.addTimeSeries(k, ts, v, ttl)
      }
      def expire(k: String, ttl: Long): Unit = { n += 1; p.expire(k, ttl) }
      def delete(k: String): Unit = { n += 1; p.delete(k) }
      def execute(): Unit = { p.execute(); tracer.kvOps(n); n = 0 }
    }
  }
  def get(key: String): Option[String] = inner.get(key)
  def getCounter(key: String): Long = inner.getCounter(key)
  def getTimeSeries(key: String): Seq[(Long, Long)] = inner.getTimeSeries(key)
  override def close(): Unit = inner.close()
}
