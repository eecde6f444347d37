package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

import graft.SparkEntry

/** The benchmark's JVM half: runs one workload against the program's public
  * functions and writes `result.json` (timings, per-operation verdicts,
  * optional per-layer trace) plus the outputs that `run.py` checks
  * independently after this process exits.
  *
  *   --workload stream_clickstream|batch_queries
  *   --inputs <dir>    batch: the generated parquet tables
  *   --seed <n>        stream: the seed of the generated frames
  *   --out <dir>       result.json and check artifacts go here
  *   --work <dir>      scratch for checkpoints, stores, Spark local dirs
  *   --seconds <n>     rounds start while the timed phase is shorter than n
  *   --rounds <r>      ... and until at least r rounds ran
  *   --trace 0|1       attach the layer listeners
  *   --cores <n>       Spark local[n], and n shuffle (and state) partitions
  *   --queries a,b,..  batch: the fixed query list of one round
  *   --warmup <n>      stream: untimed warm-up chunks
  *   --chunk <n>       stream: events per chunk
  *   --per-round <n>   stream: chunks drained one by one in a round
  *
  * A run measures at least `--rounds` rounds and at least `--seconds`; the
  * stream has frames for exactly `--rounds` rounds.
  */
object Main {
  private val cpuBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def processCpuS(): Double = cpuBean.getProcessCpuTime / 1e9

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val out = new File(opt("out"))
    val work = new File(opt("work"))
    out.mkdirs(); work.mkdirs()
    val seconds = opt("seconds").toDouble
    val minRounds = opt("rounds").toInt
    val trace = opt("trace") == "1"
    val cores = opt("cores").toInt

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val tracer = if (trace) Some(new Tracer(spark)) else None
    val w: Workload = workload match {
      case "stream_clickstream" =>
        new StreamWorkload(spark, opt("seed").toLong, out, work, opt("warmup").toInt,
          opt("chunk").toInt, opt("per-round").toInt, minRounds, tracer)
      case "batch_queries" =>
        new BatchWorkload(spark, new File(opt("inputs")), out, work,
          opt("queries").split(",").toSeq, tracer)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // Set-up ends where round 1's measured part starts.
    val w0 = System.nanoTime()
    w.warmUp()
    System.err.println(f"[perfbench] JVM up ${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s, " +
      f"warm-up ${(System.nanoTime() - w0) / 1e9}%.1f s")
    tracer.foreach(_.reset())

    val rounds = scala.collection.mutable.Buffer.empty[RoundResult]
    require(minRounds >= 1, "--rounds must be at least 1")
    while (w.more && (rounds.size < minRounds ||
           (System.currentTimeMillis() - rounds.head.startMs) / 1e3 < seconds))
      rounds += w.round(rounds.size + 1)
    val extra = w.finish()

    // A batch round repeats the same queries on the same inputs, so it must
    // reproduce round 1's outputs, which run.py checks against the oracles.
    val roundsJson = rounds.map { r =>
      val same = r.digest == rounds.head.digest
      Json.obj("wall_s" -> r.wallS, "cpu_s" -> r.cpuS,
        "ops" -> r.ops.map { case (name, s, ok) => Json.arr(name, s, ok && same) })
    }
    val result = Json.obj(
      "timed_start_epoch_ms" -> rounds.head.startMs,
      "rounds" -> Json.arr(roundsJson.toSeq: _*),
      "trace" -> tracer.map(_.report(rounds.size)).getOrElse(Json.obj()),
      "workload" -> Json.obj(extra: _*))
    Files.write(new File(out, "result.json").toPath, result.json.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}

/** One timed round: when its measured part started, its wall and process
  * CPU seconds, (operation, seconds, completed) per operation, and a digest
  * of every output it produced.
  */
final case class RoundResult(startMs: Long, wallS: Double, cpuS: Double,
                             ops: Seq[(String, Double, Boolean)], digest: String)

trait Workload {
  /** Untimed set-up work before round 1. */
  def warmUp(): Unit
  /** Whether the inputs hold another round. */
  def more: Boolean
  def round(i: Int): RoundResult
  /** Untimed work after the last round; returns facts for result.json. */
  def finish(): Seq[(String, Any)]
}

object Digest {
  def rows(rows: Seq[Row]): String = md5(rows.map(_.toString).sorted.mkString("\n"))
  def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(StandardCharsets.UTF_8)).map("%02x".format(_)).mkString
  def copyDir(from: File, to: File): Unit = {
    to.mkdirs()
    from.listFiles().filter(_.isFile).foreach { f =>
      Files.copy(f.toPath, new File(to, f.getName).toPath, StandardCopyOption.REPLACE_EXISTING)
    }
  }
}

/** Already-rendered JSON text. */
final case class Raw(json: String) {
  override def toString: String = json
}

/** Minimal JSON rendering for the result file. */
object Json {
  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}"))
  def arr(xs: Any*): Raw = Raw(xs.map(value).mkString("[", ",", "]"))
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def value(v: Any): String = v match {
    case null => "null"
    case r: Raw => r.json
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Number => n.toString
    case t: Timestamp => t.getTime.toString
    case xs: Seq[_] => arr(xs: _*).json
    case other => str(other.toString)
  }
}

/** Batch workload: a round is one pass over the fixed query list on a fresh
  * copy of the inputs. Stores are keyed on their input files, so a query that
  * reads one (doc_dup_groups: the pair graph and dup labels) rebuilds it in
  * every round: a round measures what a new day's data costs, not a cache
  * hit. Results are collected to the driver, as a caller would.
  */
final class BatchWorkload(spark: SparkSession, inputs: File, out: File, work: File,
                          names: Seq[String], tracer: Option[Tracer]) extends Workload {
  private val queries = SparkEntry.queries
  names.foreach(n => require(queries.contains(n), s"unknown query $n"))

  private type Output = (org.apache.spark.sql.types.StructType, Seq[Row])

  private var firstOutputs = Map.empty[String, Output]

  /** One pass over the queries on a fresh copy of the inputs. */
  private def pass(i: Int): (RoundResult, Map[String, Output]) = {
    val dir = new File(work, s"inputs_r$i")
    Digest.copyDir(inputs, dir)
    val startMs = System.currentTimeMillis()
    val (t0, c0) = (System.nanoTime(), Main.processCpuS())
    val outputs = scala.collection.mutable.LinkedHashMap.empty[String, Output]
    val ops = names.map { n =>
      tracer.foreach(_.beginQuery(n))
      val q0 = System.nanoTime()
      val res = try {
        val df = queries(n)(spark, dir.getAbsolutePath)
        Some((df.schema, df.collect().toSeq))
      } catch {
        case e: Exception =>
          System.err.println(s"[perfbench] $n failed: ${e.getMessage}")
          None
      }
      val s = (System.nanoTime() - q0) / 1e9
      tracer.foreach(_.endQuery(n, s))
      res.foreach(r => outputs(n) = r)
      (n, s, res.isDefined)
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = Main.processCpuS() - c0
    val digest = names.map(n => n + "=" + outputs.get(n).map(r => Digest.rows(r._2)).getOrElse("-"))
      .mkString(";")
    (RoundResult(startMs, wall, cpu, ops, Digest.md5(digest)), outputs.toMap)
  }

  /** One untimed pass, so that round 1 does not pay the first compiles. */
  def warmUp(): Unit = pass(0)

  def round(i: Int): RoundResult = {
    val (r, outputs) = pass(i)
    if (i == 1) firstOutputs = outputs
    r
  }

  def more: Boolean = true

  /** Writes round 1's outputs and the queries' oracle SQL for the DuckDB check. */
  def finish(): Seq[(String, Any)] = {
    val res = new File(out, "results")
    firstOutputs.foreach { case (n, (schema, rows)) =>
      spark.createDataFrame(rows.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(new File(res, n).getAbsolutePath)
    }
    val oracles = SparkEntry.oracleSql
    val json = Json.obj(names.map(n => n -> oracles.get(n).orNull): _*)
    Files.write(new File(out, "oracle_sql.json").toPath, json.json.getBytes(StandardCharsets.UTF_8))
    Nil
  }
}
