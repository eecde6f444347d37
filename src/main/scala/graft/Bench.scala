package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Driver benchmark: every registered query at SPARK_GRAFT_SF_DIR.
  *
  * Variance-proof protocol (round 5):
  *   - the suite runs SPARK_GRAFT_BENCH_REPS times (default 3) after a
  *     warmup pass, and the reported per-query number is the MEDIAN
  *     across reps — single runs at sf0.1 have shown ±20% machine-load
  *     noise, so one sample proves nothing;
  *   - the FULL artifact (per-rep seconds, medians, spread, load average
  *     before/after each rep) is written by Bench itself to
  *     SPARK_GRAFT_BENCH_OUT (default BENCH_local_r{N}.json in the cwd,
  *     N from LEAKCHECK.json's round counter — a hardcoded default once
  *     overwrote the previous round's committed record in place) — the
  *     round artifact must never depend on how much log tail the driver
  *     captured;
  *   - stdout still carries the driver contract: exactly one JSON line
  *     `{"metric":"total","value":median,"unit":"sec","queries":{...}}`.
  *
  * Queries are fully materialized through the noop sink (count() could
  * let Catalyst skip work). The warmup pass pays JIT/codegen costs that
  * would otherwise land on whichever query runs first.
  */
object Bench {
  private def loadAvg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")),
      StandardCharsets.UTF_8).trim.split(" ").take(3).mkString(",")
    catch { case _: Throwable => "" }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) -1.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** The sum of the successful timings and the names of the failed
    * queries (time −1): a failure marks the run incomplete instead of
    * making its total smaller.
    */
  private[graft] def tally(secs: Seq[(String, Double)]): (Double, Seq[String]) =
    (secs.collect { case (_, s) if s >= 0 => s }.sum, secs.collect { case (n, s) if s < 0 => n })

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", {
      // round-stamped default so successive rounds never clobber each
      // other's committed artifact. SPARK_GRAFT_BENCH_ROUND pins the
      // label explicitly (ADVICE r8: an end-of-round bench invoked
      // after the driver ticks the counter would stamp round+1 and
      // mislabel the artifact, as r7's did); absent that, fall back to
      // LEAKCHECK.json's counter + 1 — the counter holds the LAST
      // COMPLETED round during a build session (the driver ticks it at
      // round end), so the session in flight is round+1.
      // Never overwrite an existing record: suffix instead (a hardcoded
      // default once destroyed the previous round's committed artifact)
      val round = sys.env.get("SPARK_GRAFT_BENCH_ROUND")
        .flatMap(v => scala.util.Try(v.toInt).toOption)
        .orElse {
          try """"round"\s*:\s*(\d+)""".r.findFirstMatchIn(new String(
              Files.readAllBytes(Paths.get("LEAKCHECK.json")),
              StandardCharsets.UTF_8)).map(_.group(1).toInt + 1)
          catch { case _: Throwable => None }
        }
      val base = round.fold("BENCH_local_latest")(n => f"BENCH_local_r$n%02d")
      (Iterator.single(s"$base.json") ++
        Iterator.from(2).map(i => s"${base}_$i.json"))
        .find(p => !Files.exists(Paths.get(p))).get
    })
    // Citability stamp (round-13 verdict ask #2): the r10 rule — a bench
    // record is citable when the PRE-LAUNCH 1-min load is < 2 — must be
    // auditable from the artifact itself, not from BASELINE.md prose.
    // Read /proc/loadavg BEFORE SparkSession init (per-rep load_before
    // readings come after the in-JVM build phase and self-report the
    // bench's own 32-core work, ~3–9 depending on scale).
    val preLaunchLoad = loadAvg()
    val spark = graft.runtime.Main.session(s"local[$cpus]", cpus.toInt)

    def materialize(name: String): Double = {
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }

    // BUILD meter (separate from query timings): force every one-time
    // shared store — pair graphs, dup-group labels, IVF/PQ models, the
    // Zipf corpus, compacted events — BEFORE warmup, so query rows
    // measure queries and the one-time costs are itemized in their own
    // artifact section (a 40 s pair-graph build once landed on whichever
    // consumer ran first; round-7 verdict #6).
    val builds = queries.CorpusQueries.prebuildStores(spark, sfDir)
    builds.foreach { case (n, secs) =>
      System.err.println(f"[bench] build $n%-24s $secs%7.2f s")
    }

    // Warmup: one query per table family — lineitem (q1), embeddings +
    // vector kernels (emb_norms), documents + string paths (doc_quality),
    // events incl. the nanos read path (ev_top_types), orders + customer
    // (top_customers) — so the measured loop starts hot everywhere.
    materialize("q1_pricing_summary")
    materialize("emb_norms")
    materialize("doc_quality")
    materialize("ev_top_types")
    materialize("top_customers")

    val names = SparkEntry.queries.keys.toSeq.sorted
    case class Rep(idx: Int, loadBefore: String, loadAfter: String,
                   secs: Map[String, Double], total: Double, failed: Seq[String])
    val repRuns = (1 to reps).map { i =>
      val lb = loadAvg()
      val secs = names.map(n => n -> materialize(n)).toMap
      val la = loadAvg()
      val (total, failed) = tally(names.map(n => n -> secs(n)))
      System.err.println(f"[bench] rep $i/$reps total=$total%.1fs load=$lb->$la")
      Rep(i, lb, la, secs, total, failed)
    }

    val medians = names.map { n =>
      n -> median(repRuns.map(_.secs(n)).filter(_ >= 0))
    }
    val spreads = names.map { n =>
      val xs = repRuns.map(_.secs(n)).filter(_ >= 0)
      n -> (if (xs.isEmpty) -1.0 else xs.max - xs.min)
    }
    val (medianTotal, _) = tally(medians)
    val failed = repRuns.flatMap(_.failed).distinct.sorted

    def jmap(kv: Seq[(String, Double)]): String =
      kv.map { case (k, v) => "\"" + k + "\":" + f"$v%.4f" }.mkString("{", ",", "}")
    val driverLine =
      s"""{"metric":"total","value":$medianTotal,"unit":"sec","queries":${jmap(medians)},"sf":"$sfDir","reps":$reps}"""

    val repsJson = repRuns.map { r =>
      s"""{"rep":${r.idx},"load_before":"${r.loadBefore}","load_after":"${r.loadAfter}","total":${f"${r.total}%.2f"},"queries":${jmap(names.map(n => n -> r.secs(n)))}}"""
    }.mkString("[", ",", "]")
    val artifact =
      s"""{"metric":"total","value":$medianTotal,"unit":"sec","sf":"$sfDir","reps":$reps,
         |"pre_launch_load":"$preLaunchLoad",
         |"build":${jmap(builds)},
         |"queries":${jmap(medians)},
         |"spread":${jmap(spreads)},
         |"failed":${failed.map("\"" + _ + "\"").mkString("[", ",", "]")},
         |"runs":$repsJson}""".stripMargin
    Files.write(Paths.get(outPath), artifact.getBytes(StandardCharsets.UTF_8))
    System.err.println(s"[bench] full artifact -> $outPath")

    println(driverLine)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[bench] FAILED ${failed.size} queries: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
