package graft.runtime

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.gen.ClickstreamGen
import graft.model.ClickstreamEvent
import graft.sink.{InMemoryKV, JdbcSink, KeyValueSink, RedisKV}
import graft.source.{ClickstreamSource, KafkaSourceConfig}

/** The engine's entrypoint — the Scala analog of
  * `python -m spark_processor.stream_processor` (reference
  * `stream_processor.py:537-540`), config via env like `config.py`.
  *
  * Modes:
  *  - `GRAFT_SOURCE=kafka`: consume the configured Kafka topic (requires
  *    the kafka connector jar on the classpath);
  *  - `GRAFT_SOURCE=corpus`: run the document-curation pipeline (fused
  *    text features → quality gate → deterministic hash sample → exact
  *    dedup) over a parquet document STREAM with `Trigger.AvailableNow` —
  *    the backfill shape: drain everything, write curated parquet, stop;
  *  - default demo mode: drive the full five-query engine from the
  *    deterministic generator through a MemoryStream, then print what the
  *    sinks received — a self-contained end-to-end run.
  * Sinks: JDBC (upsert, keyed per table) when `POSTGRES_HOST` is set,
  * in-memory capture otherwise; Redis when `REDIS_HOST` is set, in-memory
  * KV otherwise.
  */
object Main {

  /** The settings every session this repo's mains build shares. Spark
    * caches generated classes under (class loader, source) in a cache of
    * `spark.sql.codegen.cache.maxEntries` entries, 100 by default, and
    * that setting is static: only the code that builds the session can
    * raise it. The clickstream queries alone hold about 150 keys, since
    * each streaming query's cloned session gets its own class loader, so
    * at 100 entries every phase recompiles classes it compiled before.
    */
  def sessionConf(shufflePartitions: Int): Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> shufflePartitions.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.ui.enabled" -> "false",
    "spark.sql.codegen.cache.maxEntries" -> "2000")

  def sessionConf(cfg: GraftConfig): Map[String, String] =
    sessionConf(cfg.shufflePartitions)

  /** The one session builder of every main — the entrypoint, `Bench`,
    * `Verify` and the tools: [[sessionConf]] at `shufflePartitions`,
    * with `overrides` replacing single settings, logging at WARN.
    */
  def session(master: String, shufflePartitions: Int,
              overrides: (String, String)*): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName("graft")
      .config(sessionConf(shufflePartitions) ++ overrides)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val cfg = GraftConfig.fromEnv()
    val spark = session(sys.env.getOrElse("SPARK_MASTER", "local[32]"),
      cfg.shufflePartitions)

    val checkpoint = cfg.checkpointDir.getOrElse(
      Files.createTempDirectory("graft-checkpoints").toString)

    // external sinks activate when their host env var is present
    // (REDIS_HOST / POSTGRES_HOST, per config.py); in-process otherwise
    val kv: KeyValueSink =
      if (sys.env.contains("REDIS_HOST")) new RedisKV(cfg.redisHost, cfg.redisPort)
      else new InMemoryKV

    val runner = new StreamRunner(spark,
      StreamConfig(checkpoint, batchDurationSec = cfg.batchDurationSec,
        // RocksDB by default at the entrypoint (GRAFT_STATE_STORE=hdfs
        // opts out): the round-14 ladder measured equal throughput with
        // 7.5x less resident state — see GraftConfig.stateStore
        useRocksDbStateStore = cfg.stateStore == "rocksdb",
        ledger = Some(kv)))
    runner.attachListener()

    val captured = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    val write: (DataFrame, String) => Unit =
      if (sys.env.contains("POSTGRES_HOST")) {
        val jdbc = JdbcSink.JdbcConfig(cfg.jdbcUrl, cfg.postgresUser, cfg.postgresPassword)
        // update-mode output revises window rows across triggers → upsert
        // on the window/dimension keys, not append (append would keep
        // every stale revision; SURVEY.md §7.4.1)
        (df, table) => ClickstreamProcessor.tableKeys.get(table) match {
          case Some(keys) => JdbcSink.upsert(df, table, keys, jdbc)
          case None       => JdbcSink.saveDataFrame(df, table, jdbc)
        }
      } else {
        (df, table) => captured.merge(table, df.count(), (a, b) => a + b)
      }

    // Serving façade (the reference's dashboard/app.py is 0 bytes; this
    // is the read path its README claims — graft.serve.Dashboard):
    // opt-in via GRAFT_DASHBOARD_PORT, serves the live KV store and, when
    // Postgres is configured, the K1-K4 tables under an allowlist.
    val dashboard = sys.env.get("GRAFT_DASHBOARD_PORT").map { p =>
      val jdbcRead =
        if (sys.env.contains("POSTGRES_HOST"))
          Some((JdbcSink.JdbcConfig(cfg.jdbcUrl, cfg.postgresUser, cfg.postgresPassword),
            graft.runtime.ClickstreamProcessor.tableKeys.keySet ++ Set("purchase_stats")))
        else None
      val d = new graft.serve.Dashboard(kv, jdbcRead, p.toInt)
      println(s"[graft] dashboard serving on http://127.0.0.1:${d.boundPort}")
      d
    }

    sys.env.get("GRAFT_SOURCE") match {
      case Some("kafka") =>
        ClickstreamProcessor.start(runner,
          ClickstreamSource.kafka(spark, KafkaSourceConfig(
            cfg.kafkaBootstrapServers, cfg.kafkaTopic,
            maxOffsetsPerTrigger = Some(cfg.maxOffsetsPerTrigger))), write, kv)
        runner.awaitAnyTermination()

      case Some("corpus") =>
        // curation backfill: document stream → curated parquet, then stop
        import org.apache.spark.sql.functions._
        val sfDir = sys.env.getOrElse("GRAFT_CORPUS_DIR", "/root/testdata/sf0.001")
        val schema = graft.source.Tables(spark, sfDir, "documents").schema
        val docs = spark.readStream.schema(schema)
          .option("pathGlobFilter", "documents.parquet").parquet(sfDir)
        // Text.curate = the ONE shared stage-chain definition (also used
        // by the registered queries and the batch/stream equality spec).
        // Exact dedup within the backfill: bounded state because the job
        // terminates; a continuous deployment would use
        // dropDuplicatesWithinWatermark (Pipelines.dedup).
        val curated = graft.text.Text.curate(docs)
          .dropDuplicates("fingerprint")
        val outDir = sys.env.getOrElse("GRAFT_CORPUS_OUT",
          Files.createTempDirectory("graft-curated").toString)
        val kept = new java.util.concurrent.atomic.AtomicLong()
        val backfill = new StreamRunner(spark,
          StreamConfig(checkpoint, availableNow = true))
        // (the listener attached above listens on the global spark.streams
        // bus, so it already covers this runner's query — no second one)
        val q = backfill.start(curated, "corpus_curation") { (batch, _) =>
          // persist: the count and the write would otherwise each re-run
          // the whole curation plan over the micro-batch
          batch.persist()
          try {
            val n = batch.count()
            if (n > 0) {
              kept.addAndGet(n)
              batch.write.mode("append").parquet(outDir)
            }
          } finally batch.unpersist()
        }
        q.awaitTermination()
        println(s"[graft] corpus curation backfill: ${kept.get()} documents " +
          s"kept (quality ≥ 0.5, 30% hash sample, exact-deduped) → $outDir")

      case _ => // demo: generator → MemoryStream → full engine
        import spark.implicits._
        implicit val sqlCtx = spark.sqlContext
        val n = sys.env.getOrElse("GRAFT_DEMO_EVENTS", "5000").toLong
        val stream = MemoryStream[ClickstreamEvent]
        val started = ClickstreamProcessor.start(runner, stream.toDF(), write, kv)
        // Generate distributed and cache; materialize BEFORE the timed
        // window (generation cost is not streaming throughput). The driver
        // then pulls one partition at a time via toLocalIterator — it never
        // holds more than one chunk (50k events ≈ one micro-batch at the
        // 200k measurement size, so the 4-chunk protocol is unchanged)
        // instead of collect()ing all n, so the demo scales with n.
        val ds = ClickstreamGen.events(spark, n)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        ds.count()
        val t0 = System.nanoTime()
        import scala.jdk.CollectionConverters._
        ds.toLocalIterator().asScala.grouped(50000).foreach { chunk =>
          stream.addData(chunk)
          runner.processAllAvailable()
        }
        val secs = (System.nanoTime() - t0) / 1e9
        runner.stopAll()
        ds.unpersist()
        println(f"[graft] processed $n events through ${started.size} streaming queries " +
          f"in $secs%.1f s (${n / secs}%.0f events/s end-to-end)")
        captured.forEach((t, c) => println(s"[graft] table $t: $c rows written"))
        kv match {
          case mem: InMemoryKV =>
            println(s"[graft] kv purchases:count = ${mem.getCounter("purchases:count")}")
            println(f"[graft] kv revenue:total = ${mem.getFloatCounter("revenue:total")}%.2f")
            graft.model.Schemas.Vocab.pages.take(3).foreach { p =>
              println(s"[graft] kv page_views:$p = ${mem.getCounter(s"page_views:$p")} " +
                s"(ts points: ${mem.getTimeSeries(s"page_views_ts:$p").length})")
            }
          case _ => ()
        }
    }
    dashboard.foreach(_.close())
    spark.stop()
  }
}
