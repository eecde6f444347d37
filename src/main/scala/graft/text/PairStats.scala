package graft.text

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.source.Tables

/** Pair-pipeline observability: candidate volume vs surviving results for
  * the prefix-filtered Jaccard join on a given documents table — the
  * number SCALE.md's amplification claims rest on, measurable on any
  * corpus:
  *
  *   sbt "runMain graft.text.PairStats <sfDir> [threshold]"
  *
  * Prints one line: docs, candidates (post length+positional filter,
  * deduplicated), results, candidates-per-result.
  *
  * `--minhash-boilerplate [nDocs] [cap]` instead measures the minhash
  * band-bucket HOT path on a planted boilerplate corpus (near-identical
  * docs that collide in every band): candidate volume and the max
  * rows-per-task of the bucket join, plain vs grid-salted — the spread
  * evidence for the 100 TB hot-bucket claim.
  *
  * `--zipf <sfDir> [threshold]` runs the same measurement on the
  * deterministic Zipf(1) corpus (`ZipfCorpus`, unblocked — the corpus
  * behind the registered `doc_jaccard_pairs_zipf`): the realistic
  * candidate-volume datapoint, vs the fixture's dense worst case.
  */
object PairStats {
  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--minhash-boilerplate")) return minhashHot(args)
    if (args.headOption.exists(_.startsWith("--containment")))
      return containmentStats(args)
    val zipf = args.headOption.contains("--zipf")
    // `--xsource <sfDir> [threshold]`: the CROSS-SOURCE regime — lang-only
    // blocking, the `crossSourcePairGraph` store build. Same measurement,
    // 20× bigger blocks; the attribution datapoint for its sf1 build cost.
    val xsource = args.headOption.contains("--xsource")
    val rest = if (zipf || xsource) args.drop(1) else args
    val dir = rest(0)
    val threshold = if (rest.length > 1) rest(1).toDouble else 0.8
    val spark = session()

    val docs = if (zipf) graft.gen.ZipfCorpus(spark, dir)
               else Tables(spark, dir, "documents")
    val blockCols = if (zipf) Seq.empty[String]
                    else if (xsource) Seq("lang")
                    else Seq("lang", "source")
    val tok = Dedup.tokenized(docs, blockCols, "text", "doc_id", 10000)
    val nDocs = tok.d.count()
    val t0 = System.nanoTime()
    val candidates = Dedup.prefixCandidates(tok.d, blockCols, threshold,
      10000, hotBucketCap = 100000, Some(tok.ranks), None, tok.parts).count()
    val tCand = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val results = Dedup.prefixJaccardPairs(
      docs, blockCols, threshold).count()
    val tRes = (System.nanoTime() - t1) / 1e9
    val amp = if (results > 0) candidates.toDouble / results else Double.NaN
    println(f"[pairstats] docs=$nDocs candidates=$candidates " +
      f"results=$results candidates_per_result=$amp%.1f threshold=$threshold " +
      f"cand_sec=$tCand%.1f build_sec=$tRes%.1f")
    spark.stop()
  }

  /** `--containment <sfDir> [threshold]` (or `--containment-zipf`):
    * candidate-volume evidence for the asymmetric containment join
    * (`doc_containment_pairs` / `_zipf` plans).
    */
  private def containmentStats(args: Array[String]): Unit = {
    val zipf = args.headOption.contains("--containment-zipf")
    val dir = args(1)
    val threshold = if (args.length > 2) args(2).toDouble else 0.9
    val spark = session()
    val docs = if (zipf) graft.gen.ZipfCorpus.materialized(spark, dir)
               else Tables(spark, dir, "documents")
    val blockCols = if (zipf) Seq.empty[String] else Seq("lang", "source")
    val tok = Dedup.tokenized(docs, blockCols, "text", "doc_id", 10000)
    val nDocs = tok.d.count()
    val candidates = Dedup.containmentCandidatesAB(tok.d, tok.d, tok.ranks,
      blockCols, threshold, hotBucketCap = 100000, None, tok.parts,
      tok.minNw).count()
    val results = Dedup.containmentPairs(docs, blockCols, threshold).count()
    val amp = if (results > 0) candidates.toDouble / results else Double.NaN
    println(f"[pairstats] containment docs=$nDocs candidates=$candidates " +
      f"results=$results candidates_per_result=$amp%.1f threshold=$threshold")
    spark.stop()
  }

  /** The session of every mode, sized by `SPARK_GRAFT_CPUS`. */
  private def session(overrides: (String, String)*): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    graft.runtime.Main.session(s"local[$cpus]", cpus.toInt, overrides: _*)
  }

  private def minhashHot(args: Array[String]): Unit = {
    val n = if (args.length > 1) args(1).toInt else 2000
    val cap = if (args.length > 2) args(2).toInt else 200
    // AQE coalescing would merge the small partitions and blur the
    // per-task spread this tool exists to measure; the broadcast join a
    // 2k-doc corpus gets would hide the hot reduce cell entirely — at
    // 100 TB the bucket side is not broadcastable, so force the
    // sort-merge/shuffle-hash shape the claim is about
    val spark = session(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    import spark.implicits._

    // boilerplate corpus: template text with one varying token — survives
    // exact dedup, collides in every minhash band (the adversarial shape)
    val tmpl = "terms of service apply to all users of this site please " +
      "read carefully before continuing to use the product version"
    val docs = (1 to n).map(i => (i.toLong, s"$tmpl ${i % 4}"))
      .toDF("doc_id", "text").repartition(32)

    def spread(capVal: Int): (Long, Long, Int) = {
      val cand = Dedup.minhashCandidates(docs, numHashes = 64, bands = 16,
        shingleW = 3, textCol = "text", idCol = "doc_id", hotBucketCap = capVal)
      val perTask = cand
        .withColumn("pid", org.apache.spark.sql.functions.spark_partition_id())
        .groupBy("pid").count().collect()
      (perTask.map(_.getLong(1)).sum, perTask.map(_.getLong(1)).max,
        perTask.length)
    }
    val (candPlain, maxPlain, tasksPlain) = spread(Int.MaxValue)
    val (candGrid, maxGrid, tasksGrid) = spread(cap)
    val uniq = Dedup.minhashCandidates(docs, 64, 16, 3, "text", "doc_id", cap)
      .dropDuplicates("a_id", "b_id").count()
    println(f"[minhash-hot] docs=$n cap=$cap unique_pairs=$uniq " +
      f"plain: candidates=$candPlain max_task_rows=$maxPlain tasks=$tasksPlain; " +
      f"grid: candidates=$candGrid max_task_rows=$maxGrid tasks=$tasksGrid " +
      f"spread=${maxPlain.toDouble / maxGrid}%.1fx")
    spark.stop()
  }
}
