package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters for a traced run, gathered through Spark's listener
  * APIs and timers around the benchmark's own calls; before reading, it
  * waits for the listener bus to deliver what was posted. All totals cover
  * the timed rounds and are reported per round.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val c = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val maxima = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobSpans = mutable.Buffer.empty[(Long, Long)]
  private val queryWindows = mutable.Buffer.empty[(String, Long, Long)]
  private var openQuery: Option[(String, Long)] = None

  private def add(k: String, v: Double): Unit = synchronized(c(k) += v)

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      jobStart(e.jobId) = e.time
      c("jobs") += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStart.remove(e.jobId).foreach(s => jobSpans += ((s, e.time)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      c("tasks") += 1
      val m = e.taskMetrics
      if (m != null) {
        c("executor_cpu_ns") += m.executorCpuTime
        c("executor_gc_ms") += m.jvmGCTime
        c("shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
        c("shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead
        c("spill_bytes") += m.memoryBytesSpilled + m.diskBytesSpilled
        c("scan_bytes") += m.inputMetrics.bytesRead
      }
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty) {
        val start = phases.map(_.startTimeMs).min
        Tracer.this.synchronized {
          if (queryWindows.exists { case (_, s, e) => start >= s && start <= e } ||
              openQuery.exists(_._2 <= start))
            c("batch_planning_ms") += phases.map(_.durationMs).sum
        }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  })

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }.withDefaultValue(0.0)
      Tracer.this.synchronized {
        c("decode_rows") += p.numInputRows
        if (p.numInputRows > 0) c("data_microbatches") += 1
        c("stream_planning_ms") += d("queryPlanning")
        c("wal_ms") += d("walCommit") + d("commitOffsets")
        c("add_batch_ms") += d("addBatch")
        if (p.name.startsWith("redis_")) c("kv_ms") += d("addBatch")
        p.stateOperators.foreach { so =>
          c(s"${p.name}.state_rows_removed") += so.numRowsRemoved
          c(s"${p.name}.state_commit_ms") += so.commitTimeMs
          c(s"${p.name}.rows_updated") += so.numRowsUpdated
          maxima(s"${p.name}.state_rows") = math.max(maxima(s"${p.name}.state_rows"), so.numRowsTotal)
          maxima(s"${p.name}.state_bytes") = math.max(maxima(s"${p.name}.state_bytes"), so.memoryUsedBytes)
        }
      }
    }
  })

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)

  def sinkWrite(table: String, ms: Double): Unit = add(s"jdbc_ms.$table", ms)
  def kvOps(n: Long): Unit = add("kv_ops", n)
  def beginQuery(name: String): Unit =
    synchronized { openQuery = Some((name, System.currentTimeMillis())) }
  def endQuery(name: String, seconds: Double): Unit = synchronized {
    openQuery.foreach { case (n, s) => queryWindows += ((n, s, System.currentTimeMillis())) }
    openQuery = None
    c(s"query.$name") += seconds
  }

  /** Forget everything recorded so far: set-up is not part of the trace. */
  def reset(): Unit = {
    PerfbenchBus.drain(sc)
    synchronized {
      c.clear(); maxima.clear(); jobSpans.clear(); queryWindows.clear(); jobStart.clear()
    }
    heapPools.foreach(_.resetPeakUsage())
  }

  /** Length of `[s, e]` that no Spark job covered. */
  private def uncovered(s: Long, e: Long): Double = {
    val spans = jobSpans.map { case (a, b) => (math.max(a, s), math.min(b, e)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var end = s
    spans.foreach { case (a, b) =>
      if (b > end) { covered += b - math.max(a, end); end = b }
    }
    (e - s - covered).toDouble
  }

  def report(rounds: Int): Raw = {
    PerfbenchBus.drain(sc)
    val peakHeapMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    synchronized {
      val r = rounds.toDouble
      val stateful = Seq("page_views", "user_sessions", "conversions", "device_stats")
      val tableOf = Map("page_view_stats" -> "page_views", "user_sessions" -> "user_sessions",
        "purchase_stats" -> "conversions", "device_stats" -> "device_stats")
      val fields = Seq[(String, Any)](
        "source.decode_rows" -> c("decode_rows") / r,
        "source.scan_bytes" -> c("scan_bytes") / r,
        "runtime.microbatches" -> c("data_microbatches") / r,
        "runtime.planning_ms" -> c("stream_planning_ms") / r,
        "runtime.wal_ms" -> c("wal_ms") / r,
        "runtime.add_batch_ms" -> c("add_batch_ms") / r,
        "runtime.jobs_per_microbatch" ->
          (if (c("data_microbatches") > 0) c("jobs") / c("data_microbatches") else 0.0)) ++
        stateful.flatMap { q => Seq(
          s"pipelines.$q.state_rows" -> maxima(s"$q.state_rows"),
          s"pipelines.$q.state_bytes" -> maxima(s"$q.state_bytes"),
          s"pipelines.$q.state_rows_removed" -> c(s"$q.state_rows_removed") / r,
          s"pipelines.$q.state_commit_ms" -> c(s"$q.state_commit_ms") / r)
        } ++
        tableOf.toSeq.sortBy(_._1).flatMap { case (t, q) => Seq(
          s"sink.$t.jdbc_ms" -> c(s"jdbc_ms.$t") / r,
          s"sink.$t.jdbc_rows" -> c(s"$q.rows_updated") / r)
        } ++ Seq(
          "sink.kv_ms" -> c("kv_ms") / r,
          "sink.kv_ops" -> c("kv_ops") / r,
          "queries.planning_ms" -> c("batch_planning_ms") / r,
          "queries.jobs" -> c("jobs") / r,
          "queries.tasks" -> c("tasks") / r,
          "queries.driver_gap_ms" ->
            queryWindows.map { case (_, s, e) => uncovered(s, e) }.sum / r,
          "exchange.shuffle_write_bytes" -> c("shuffle_write_bytes") / r,
          "exchange.shuffle_read_bytes" -> c("shuffle_read_bytes") / r,
          "exchange.spill_bytes" -> c("spill_bytes") / r,
          "executor.cpu_s" -> c("executor_cpu_ns") / 1e9 / r,
          "executor.gc_s" -> c("executor_gc_ms") / 1e3 / r,
          "jvm.peak_heap_mb" -> peakHeapMb) ++
        c.keys.filter(_.startsWith("query.")).toSeq.sorted.map { k =>
          s"queries.${k.stripPrefix("query.")}_s" -> c(k) / r
        }
      Json.obj(fields: _*)
    }
  }
}
