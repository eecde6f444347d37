package graft.runtime

import java.util.concurrent.atomic.AtomicBoolean

import org.apache.hadoop.fs.{LocalFileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, StreamingQueryListener, Trigger}

import graft.ops.Pipelines
import graft.sink.{JdbcSink, KeyValueSink}

/** T1-T8: the streaming runtime — query lifecycle, triggers, checkpoints,
  * retrying foreachBatch sinks, progress listener, graceful shutdown.
  *
  * Where the reference's runtime is broken, we implement the *intent*:
  *  - its second `start_processing` definition shadows the first, killing
  *    the listener and `awaitAnyTermination` (`stream_processor.py:430,511`)
  *    — here both work;
  *  - `_setup_monitoring` attaches the listener to a per-query object that
  *    has no such API (`:467`) — here it attaches to `spark.streams`;
  *  - graceful stop (`:501-509`, dead code) — here a real shutdown hook.
  */
final case class StreamConfig(
    checkpointDir: String,
    batchDurationSec: Int = 5, // reference default, config.py:51
    /** RocksDB state store: off-heap, spill-to-disk streaming state — the
      * right provider once session/window state exceeds executor heap
      * (SURVEY.md §7.5). Default HDFS-backed in-memory store otherwise.
      * Applies to the queries this config's runner starts, not to the
      * session; a query restarted from a checkpoint keeps the provider its
      * offset log records.
      */
    useRocksDbStateStore: Boolean = false,
    /** When set, every sink is wrapped in the ExactlyOnce batchId ledger
      * (namespaced by this config's checkpoint dir — coupled lifecycles).
      */
    ledger: Option[KeyValueSink] = None,
    /** `Trigger.AvailableNow`: drain everything currently available in
      * micro-batches, then stop — the catch-up/backfill mode (run the
      * streaming pipeline as a terminating batch job, checkpoint-compatible
      * with the continuous deployment). Default: the reference's
      * processing-time trigger.
      */
    availableNow: Boolean = false)

class StreamRunner(spark: SparkSession, cfg: StreamConfig) {
  import StreamRunner._

  private val queries = scala.collection.mutable.Buffer.empty[StreamingQuery]
  private val stopping = new AtomicBoolean(false)

  /** T7: progress/lifecycle logging — rows/sec and batch duration per
    * trigger (the reference's dead `_setup_monitoring`, attached properly).
    */
  def attachListener(log: String => Unit = s => Console.err.println(s)): Unit =
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        log(s"[stream] started ${e.name} (${e.id})")
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        log(f"[stream] ${e.progress.name}: ${e.progress.numInputRows} rows, " +
          f"${e.progress.processedRowsPerSecond}%.1f rows/s, " +
          s"batch ${e.progress.batchDuration} ms")
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        log(s"[stream] terminated ${e.id}" +
          e.exception.map(x => s" with error: $x").getOrElse(""))
    })

  /** T1/T2/T3/T4/T5: start one update-mode micro-batch query with its own
    * checkpoint dir and a retry-wrapped foreachBatch sink.
    *
    * Update mode is fixed, not an option: every pipeline wired here is an
    * aggregation whose rows are revised in place by key (the JDBC upserts,
    * the KV increments), and it is what lets the query run without
    * no-data micro-batches. In update mode a stateful aggregation's no-data
    * batch only removes expired state and emits no row, so the query runs
    * a micro-batch only when input arrived, and state that the watermark
    * expired is removed by the next data batch instead.
    *
    * The sink sees every micro-batch the query runs and skips empty input
    * itself (P8, the reference's `batch_df.isEmpty()` guards): a guard here
    * would be a second action, and every action re-runs the micro-batch
    * plan, state store included.
    *
    * The query's settings ([[querySettings]]) apply only to it: they are
    * set on the session around `DataStreamWriter.start()`, which clones the
    * session, and restored afterwards.
    */
  def start(df: DataFrame, name: String)(sink: (DataFrame, Long) => Unit): StreamingQuery =
    withSessionConf(spark, querySettings)(startQuery(df, name, sink))

  /** Start queries that run side by side, each on
    * `max(1, defaultParallelism / queries)` state partitions instead of the
    * session's shuffle-partition count: every stateful query commits one
    * state store per partition per micro-batch, so n queries × p
    * partitions is a fixed cost that each micro-batch pays whatever its
    * size. The count is set with the other [[querySettings]] around the
    * starts; a query records it in its offset log, so a query restarted
    * from an existing checkpoint keeps the checkpoint's count.
    */
  def startTogether(specs: Seq[(DataFrame, String, (DataFrame, Long) => Unit)]): Seq[StreamingQuery] = {
    val parts = math.max(1, spark.sparkContext.defaultParallelism / math.max(1, specs.size))
    withSessionConf(spark, querySettings + (ShufflePartitions -> parts.toString)) {
      specs.map { case (df, name, sink) => startQuery(df, name, sink) }
    }
  }

  /** The session settings every query of this runner starts with:
    *  - no no-data micro-batches (see [[start]]);
    *  - the RocksDB state store, when configured;
    *  - on Hadoop's local file system, Spark's FileSystem-based checkpoint
    *    file manager, unless the session names another manager. The
    *    default FileContext-based manager renames through
    *    `AbstractFileSystem.rename`, which resolves links with
    *    `FileUtil.readLink` and so forks a `readlink` process for every
    *    offset, commit, state and RocksDB file it writes. The
    *    FileSystem-based manager renames with `File.renameTo` through the
    *    same `ChecksumFileSystem`, so it writes the same files with the
    *    same `.crc` sidecars.
    */
  private def querySettings: Map[String, String] = {
    val localFs = new Path(cfg.checkpointDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration).isInstanceOf[LocalFileSystem]
    Map(NoDataMicroBatches -> "false") ++
      Option.when(cfg.useRocksDbStateStore)(StateStoreProvider -> RocksDbProvider) ++
      Option.when(localFs &&
          spark.conf.getOption(CheckpointFileManager).forall(_ == FileSystemCheckpointFileManager))(
        CheckpointFileManager -> FileSystemCheckpointFileManager)
  }

  private def startQuery(df: DataFrame, name: String,
                         sink: (DataFrame, Long) => Unit): StreamingQuery = {
    // ledger (outermost) → retry (inner): failed retries never commit the
    // ledger entry, so the batch is re-attempted on redelivery.
    val retried: (DataFrame, Long) => Unit =
      (batch, id) => JdbcSink.retry()(sink(batch, id))
    val effective = cfg.ledger
      .map(l => ExactlyOnce.wrap(name, l, cfg.checkpointDir)(retried))
      .getOrElse(retried)
    val q = df.writeStream
      .queryName(name)
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", s"${cfg.checkpointDir}/$name")
      .trigger(if (cfg.availableNow) Trigger.AvailableNow()
        else Trigger.ProcessingTime(s"${cfg.batchDurationSec} seconds"))
      .foreachBatch(effective)
      .start()
    queries.synchronized(queries += q)
    q
  }

  def active: Seq[StreamingQuery] = queries.synchronized(queries.toSeq)

  /** T6 (intended path): block on any termination; a JVM shutdown hook
    * stops every active query gracefully.
    */
  def awaitAnyTermination(): Unit = {
    sys.addShutdownHook(stopAll())
    spark.streams.awaitAnyTermination()
  }

  def stopAll(): Unit = if (stopping.compareAndSet(false, true)) {
    active.foreach { q => try q.stop() catch { case _: Throwable => () } }
  }

  def processAllAvailable(): Unit = active.foreach(_.processAllAvailable())
}

object StreamRunner {
  private val ShufflePartitions = "spark.sql.shuffle.partitions"
  private val NoDataMicroBatches = "spark.sql.streaming.noDataMicroBatches.enabled"
  private val StateStoreProvider = "spark.sql.streaming.stateStore.providerClass"
  private val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  private val CheckpointFileManager = "spark.sql.streaming.checkpointFileManagerClass"
  private val FileSystemCheckpointFileManager =
    "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"

  /** Run `f` with `settings` set on the session, then restore each key's
    * previous value, or unset it if the session did not set it. Serialized:
    * two concurrent callers would otherwise restore each other's values.
    */
  private def withSessionConf[T](spark: SparkSession, settings: Map[String, String])(
      f: => T): T =
    synchronized {
      val explicit = spark.conf.getAll
      val old = settings.keys.map(k => k -> explicit.get(k))
      settings.foreach { case (k, v) => spark.conf.set(k, v) }
      try f
      finally old.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
    }
}

/** Exactly-once-ish sink discipline (SURVEY.md §7.4.5): foreachBatch +
  * external writes are at-least-once after failure/restart — the same
  * micro-batch can be re-delivered with the same batchId. Wrapping the
  * sink with a batchId ledger makes redelivery a no-op; combined with
  * `JdbcSink.upsert` (idempotent by key) either mechanism alone suffices,
  * together they cover both duplicate-batch and revised-row cases.
  * The reference offers only retries (`stream_processor.py:305-324`).
  *
  * `namespace` MUST share the checkpoint's lifecycle (StreamRunner passes
  * its checkpoint dir): batchIds are stable across restarts only while
  * the checkpoint lives — if the checkpoint is deleted, batchIds restart
  * from 0, so the ledger namespace must be cleared (or changed) with it
  * or old entries would silently swallow the replayed batches.
  */
object ExactlyOnce {
  def wrap(queryName: String, ledger: KeyValueSink, namespace: String = "")(
      sink: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit = {
    (df, batchId) =>
      val key = s"graft:batch:$namespace:$queryName:$batchId"
      if (ledger.get(key).isEmpty) {
        sink(df, batchId)
        val p = ledger.pipeline()
        p.setEx(key, "done", 7 * 86400L) // atomic; entries age out
        p.execute()
      }
  }
}

/** The engine assembled: the reference's four concurrent pipelines
  * (`stream_processor.py:515-522`) + its two Redis paths, folded into one
  * query, wired to real sinks. `jdbcWrite`/KV are injected so tests run
  * fully in-process.
  */
object ClickstreamProcessor {

  /** Sink for page-view window counts → `page_view_stats` (K1). */
  def pageViewStats(write: (DataFrame, String) => Unit)(batch: DataFrame, id: Long): Unit =
    write(batch, "page_view_stats")

  /** K2: session rollups with CSV-flattened arrays → `user_sessions`. */
  def sessionStats(write: (DataFrame, String) => Unit)(batch: DataFrame, id: Long): Unit =
    write(batch, "user_sessions")

  /** K4: the reference's missing `save_purchase_stats_to_postgres`. */
  def purchaseStats(write: (DataFrame, String) => Unit)(batch: DataFrame, id: Long): Unit =
    write(batch, "purchase_stats")

  /** K3: device stats → `device_stats`. */
  def deviceStats(write: (DataFrame, String) => Unit)(batch: DataFrame, id: Long): Unit =
    write(batch, "device_stats")

  /** K5+K6+K7 in one pipelined round trip, from one re-aggregation of the
    * micro-batch by `(event_type, page)` ([[Pipelines.kvRollup]]):
    *  - K5+K6, the reference's intended `update_redis_page_counts`
    *    (`stream_processor.py:363-402`): per-page view counters and a 24h
    *    time series. One batch-level series timestamp (the reference stamps
    *    the batch with now(); we use the max event time of the batch's page
    *    views — null-safe: a batch whose timestamps are all null, e.g.
    *    malformed JSON, still counts pages but records no series point);
    *  - K7, the reference's missing `update_redis_purchase_metrics`
    *    (`stream_processor.py:243-249`): running purchase count and the
    *    `decimal(18,2)` revenue sum, added as a double.
    * Other event types are ignored; an empty batch makes no KV call.
    */
  def redisMetrics(kv: KeyValueSink)(batch: DataFrame, id: Long): Unit = {
    val rows = Pipelines.kvRollup(batch).collect()
    val views = rows.filter(_.getString(0) == "page_view")
    val buys = rows.filter(_.getString(0) == "purchase")
    if (views.nonEmpty || buys.nonEmpty) {
      val batchTs = views.filterNot(_.isNullAt(3)).map(_.getLong(3)).maxOption
      val p = kv.pipeline()
      views.foreach { r =>
        val page = r.getString(1)
        val n = r.getLong(2)
        p.increment(s"page_views:$page", n)
        batchTs.foreach(ts =>
          p.addTimeSeries(s"page_views_ts:$page", ts, n, ttlSec = 86400L))
      }
      if (buys.nonEmpty) {
        p.increment("purchases:count", buys.map(_.getLong(2)).sum)
        val revenue = buys.filterNot(_.isNullAt(4)).map(_.getDecimal(4))
        if (revenue.nonEmpty)
          p.incrementByFloat("revenue:total", revenue.reduce(_ add _).doubleValue)
      }
      p.execute()
    }
  }

  /** Upsert keys for each relational table — the window/dimension columns
    * that identify a row across update-mode revisions (requires a unique
    * index on these columns in the target database).
    */
  val tableKeys: Map[String, Seq[String]] = Map(
    "page_view_stats" -> Seq("window_start", "window_end", "page"),
    "user_sessions" -> Seq("session_id", "user_id"),
    "purchase_stats" -> Seq("window_start", "window_end"),
    "device_stats" -> Seq("window_start", "window_end", "device_type",
      "browser", "operating_system"))

  /** Start all five queries (4 JDBC + 1 KV) off one source DataFrame,
    * side by side ([[StreamRunner.startTogether]]). Every sink skips an
    * empty micro-batch: the JDBC upserts open no connection for an empty
    * partition, [[redisMetrics]] makes no KV call.
    */
  def start(runner: StreamRunner, source: DataFrame,
            write: (DataFrame, String) => Unit, kv: KeyValueSink): Seq[StreamingQuery] =
    runner.startTogether(Seq(
      (Pipelines.pageViews(source), "page_views", pageViewStats(write)),
      (Pipelines.sessions(source), "user_sessions", sessionStats(write)),
      (Pipelines.conversions(source), "conversions", purchaseStats(write)),
      (Pipelines.deviceStats(source), "device_stats", deviceStats(write)),
      (source.filter(col("event_type").isin("page_view", "purchase"))
        .select("event_type", "page", "timestamp", "total_amount"),
        "redis_metrics", redisMetrics(kv))))
}
