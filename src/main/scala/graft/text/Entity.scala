package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Skew

/** Entity resolution: fuzzy record matching under an edit-distance bound
  * — the "same customer typed twice" / "same author, two spellings"
  * problem a curation pipeline hits when joining records that lack a
  * shared key. Classic blocking formulation (Fellegi–Sunter style
  * candidate generation): records only compare within a block, so the
  * quadratic verify is bounded by the largest block, not the corpus.
  */
object Entity {

  /** Fuzzy duplicate pairs: records sharing `blockCols` whose `strCol`
    * values are within `maxDist` Levenshtein edits. Each unordered pair
    * is emitted once (`a_id < b_id`) with its exact distance.
    *
    * Two candidate strategies, one verify (EntitySpec pins them to the
    * same result set as a quadratic reference):
    *
    *  - `"neighborhood"` (chosen by the cost probe under `"auto"` when
    *    maxDist ≤ 2 and the block-pair volume Σn² is large):
    *    FastSS-style deletion-variant equality join. Each record emits
    *    the ≤ C(len, ≤d) hashes of its deletion variants
    *    ([[graft.functions.TextExpressions.DeletionNeighborhood]]); a
    *    pair within d edits MUST share a variant (delete the unaligned
    *    positions of an optimal alignment from each side), so the
    *    equality join on (block, variant-hash) is a lossless filter and
    *    the DP verifies the deduplicated candidates. This removes the
    *    block² verify volume entirely — the fixed-length TPC-H names
    *    make the length filter vacuous, and the measured sf1 cost was
    *    all DP invocations (VERDICT r8 #5). IDs-only on every exchange:
    *    variants carry (id, block, hash); strings are re-joined only for
    *    the ~|candidates| verify rows.
    *  - `"block"`: the classic Fellegi–Sunter blocked self-join, for
    *    maxDist > 2 (variant counts grow as C(len, d)) or long keys:
    *    `abs(len(a) − len(b)) ≤ maxDist` prunes before the DP; blocks
    *    above `hotBlockCap` rows go through the lossless grid-salted
    *    self-join every dedup pair kernel uses
    *    ([[graft.ops.Skew.gridJoin]]): the same candidate set spread
    *    over G² tasks, with a bounded hot-block census.
    *
    * The verify is always the native
    * [[graft.functions.TextExpressions.EditDistanceWithin]] kernel:
    * common-affix strip + banded DP, `levenshtein(a, b, threshold)`
    * semantics at a fraction of its cost on near-identical strings.
    */
  def editDistancePairs(records: DataFrame, maxDist: Int,
                        idCol: String, strCol: String,
                        blockCols: Seq[String],
                        hotBlockCap: Int = 100000,
                        probePartitions: Int = 0,
                        strategy: String = "auto"): DataFrame = {
    require(blockCols.nonEmpty, "blocking columns are the scale contract")
    require(Set("auto", "neighborhood", "block")(strategy), strategy)
    // CHECKPOINT the slim projection (round-16, guide §1.2): the cost
    // probe, the hot-block census, both join sides and (on the
    // neighborhood path) the variant-count sizing each held the full
    // upstream subtree — for the md5-rank subset twin that subtree is a
    // global id rank + semi-join re-executed per consumer (4+ scans in
    // the before-plan). The slim frame is (id, key string, block cols) —
    // the narrowest materialization in the pipeline.
    val slim = records.select(
      (col(idCol).as("id") +: col(strCol).as("s") +:
        blockCols.map(c => col(c))): _*)
      .localCheckpoint()
    // "auto" is COST-BASED, not a flat rule: the block join's work is
    // Σ_b n_b² DP verifies while the neighborhood path pays ~C(len,≤d)
    // variant rows per record plus candidate joins — a crossover, not a
    // dominance (measured on the customer fixture: at Σn² ≈ 9M the
    // block join wins 0.8 s vs 2.5 s; at Σn² ≈ 450M the neighborhood
    // wins 7.0 s vs 24.7 s). One bounded IDs-only aggregate (the same
    // map-side-combined block-size scan the hot-block detector runs)
    // prices both before any pair work starts. Explicit strategies skip
    // the probe job.
    val useNeighborhood = strategy match {
      case "neighborhood" => true
      case "block" => false
      case _ =>
        maxDist <= 2 && {
          val row = slim.groupBy(blockCols.map(col): _*)
            .agg(count(lit(1)).as("n"))
            .agg(sum(col("n") * col("n"))).head()
          val pairVolume = if (row.isNullAt(0)) 0L else row.getLong(0)
          pairVolume > 100L * 1000 * 1000
        }
    }
    if (useNeighborhood)
      return neighborhoodPairs(slim, maxDist, blockCols, probePartitions)
    // When `records` is dimension-sized, the other side broadcasts and
    // the probe side's SCAN parallelism caps the whole pair generation —
    // a table under files.maxPartitionBytes is ONE task doing every DP.
    // probePartitions > 0 spreads it first (a shuffle of the slim
    // columns only; pointless — leave 0 — when the probe side is large
    // enough to arrive in many splits). Content-hash partitioning on the
    // unique id, not keyless round-robin: a keyless repartition(n) pays
    // SPARK-23207's local sort on the one task the spread exists to
    // relieve (the r15 ScanSpread rationale).
    val probe = if (probePartitions > 0)
      slim.repartition(probePartitions, col("id")) else slim
    // hot blocks route on a single-column fingerprint of the block key;
    // the join itself always uses the real block columns
    Skew.gridJoin(probe.toDF(("a_id" +: "a_s" +: blockCols): _*),
        slim.toDF(("b_id" +: "b_s" +: blockCols): _*), blockCols,
        xxhash64(blockCols.map(col): _*), hotBlockCap, Skew.Occurrences)
      .filter(col("a_id") < col("b_id"))
      .filter(abs(length(col("a_s")) - length(col("b_s"))) <= maxDist)
      .withColumn("dist", graft.functions.TextExpressions
        .editDistanceWithin(col("a_s"), col("b_s"), maxDist))
      .filter(col("dist") >= 0) // bounded form yields −1 above threshold
      .select(col("a_id"), col("b_id"), col("dist"))
  }

  /** INCREMENTAL entity resolution — the day-over-day shape of
    * [[editDistancePairs]]: every within-`maxDist` pair involving ≥ 1
    * batch record, canonical (a_id < b_id), without regenerating the
    * old×old candidate volume previous runs already resolved. One probe
    * relation suffices (the incremental-Jaccard argument applied to the
    * FastSS join): a qualifying pair SHARES a deletion variant, so
    * batch variants probed against the (standing ∪ batch) variant index
    * reach every batch-touching pair — old×new with the batch record as
    * probe, new×new with either. At warehouse scale the standing
    * variant index is a persisted table keyed (block, variant-hash);
    * the batch probes it and appends its own variants — an index
    * lookup, batch-proportional, never corpus². Canonical order via
    * least/greatest (batch ids interleave standing ids); verify is the
    * same bounded-threshold DP over join-backed strings.
    */
  def editDistancePairsIncremental(batch: DataFrame, existing: DataFrame,
                                   maxDist: Int,
                                   idCol: String, strCol: String,
                                   blockCols: Seq[String],
                                   probePartitions: Int = 0): DataFrame = {
    require(blockCols.nonEmpty, "blocking columns are the scale contract")
    require(maxDist <= 2, "variant counts C(len, d) explode past d = 2")
    def slim(df: DataFrame): DataFrame = df.select(
      (col(idCol).as("id") +: col(strCol).as("s") +:
        blockCols.map(c => col(c))): _*)
    // ONE tagged-union pass and checkpoint instead of re-deriving each
    // side per consumer (the r15 incremental idiom): the batch variants,
    // the union variants, the sizing aggregate and both verify
    // join-backs each re-ran the upstream scan + filters (5 scans of the
    // same table in the before-plan); the sides are disjoint so the
    // batch flag recovers each exactly from the shared blocks.
    val tagged = Dedup.tagBatch(slim(batch), slim(existing)).localCheckpoint()
    val sNew = tagged.filter(col("__batch")).drop("__batch")
    val sAll = tagged.drop("__batch")
    def variants(df: DataFrame, role: String): DataFrame = {
      // hash on the unique id, not keyless (SPARK-23207 — see
      // editDistancePairs' probe)
      val src = if (probePartitions > 0)
        df.repartition(probePartitions, col("id")) else df
      src.select(
        (col("id").as(s"${role}_id") +: blockCols.map(col) :+
          explode(graft.functions.TextExpressions
            .deletionNeighborhood(col("s"), maxDist)).as("vh")): _*)
    }
    // SHUFFLE_HASH: the variant explode's inflation is invisible to
    // size stats (the editDistancePairs rationale); above the volume
    // gate the exchange is sized so each per-partition build map fits
    // (see variantJoinParts — shuffled-hash builds do not spill)
    val keys = blockCols :+ "vh"
    val nParts = variantJoinParts(sAll, maxDist)
    def sized(df: DataFrame): DataFrame =
      if (nParts > 0) df.repartition(nParts, keys.map(col): _*) else df
    val cands = sized(variants(sNew, "a")).hint("SHUFFLE_HASH")
      .join(sized(variants(sAll, "b")), keys)
      .filter(col("a_id") =!= col("b_id"))
      .select(least(col("a_id"), col("b_id")).as("a_id"),
        greatest(col("a_id"), col("b_id")).as("b_id"))
      .distinct()
    cands
      .join(sAll.select(col("id").as("a_id"), col("s").as("a_s")), "a_id")
      .join(sAll.select(col("id").as("b_id"), col("s").as("b_s")), "b_id")
      .filter(abs(length(col("a_s")) - length(col("b_s"))) <= maxDist)
      .withColumn("dist", graft.functions.TextExpressions
        .editDistanceWithin(col("a_s"), col("b_s"), maxDist))
      .filter(col("dist") >= 0)
      .select(col("a_id"), col("b_id"), col("dist"))
  }

  /** SPILL-AWARE partition count for the variant join: a shuffled-hash
    * build does NOT spill — every per-partition map must FIT in task
    * memory — and the explode's volume is invisible to the planner
    * (size stats come from the pre-explode scan), so the build volume
    * comes from the arithmetic variant-count bound
    * Σ (1 + len + C(len, 2)) — one lengths-only scan, no kernel run —
    * and [[graft.ops.ExchangeSizing]] turns it into a layout. Row
    * shape: a variant row is (8 B id + short variant-hash string +
    * shuffle overhead) ≈ 74 B. The sf10 ladder forced this: 1.5 M
    * names × ~170 variants = 255 M build rows over the default 32
    * partitions OOM'd every task ("not enough memory to build hash
    * map"), while sf0.1/sf1 volumes stay under the gate and keep
    * their plans byte-identical.
    */
  private def variantJoinParts(slim: DataFrame, maxDist: Int): Int = {
    val l = length(col("s")).cast("long")
    val est = maxDist match {
      case 0 => lit(1L)
      case 1 => lit(1L) + l
      // d = 2 closed form; deletionNeighborhood dedups, so this is an
      // upper bound for any d ≤ 2 (the require below the callers)
      case _ => lit(1L) + l + l * (l - 1L) / 2L // Column `/` divides as double
    }
    val total = slim.agg(coalesce(sum(est.cast("long")), lit(0L)))
      .head().getLong(0)
    graft.ops.ExchangeSizing.shjBuildParts(slim.sparkSession, total,
      bytesPerRow = 74)
  }

  /** Deletion-neighborhood candidate generation + DP verify (see
    * [[editDistancePairs]]). `slim` is (id, s, blockCols…).
    */
  private def neighborhoodPairs(slim: DataFrame, maxDist: Int,
                                blockCols: Seq[String],
                                probePartitions: Int): DataFrame = {
    // the variant explode inflates ~C(len, ≤d)× — spread the source
    // first or a single-split table generates every variant in one task
    // (hash on the unique id, not keyless: SPARK-23207)
    val src = if (probePartitions > 0)
      slim.repartition(probePartitions, col("id")) else slim
    val variants = src.select(
      (col("id") +: blockCols.map(col) :+
        explode(graft.functions.TextExpressions
          .deletionNeighborhood(col("s"), maxDist)).as("vh")): _*)
    val keys = blockCols :+ "vh"
    val nParts = variantJoinParts(slim, maxDist)
    def sized(df: DataFrame): DataFrame =
      if (nParts > 0) df.repartition(nParts, keys.map(col): _*) else df
    val va = sized(variants.toDF(("a_id" +: blockCols :+ "vh"): _*))
    val vb = sized(variants.toDF(("b_id" +: blockCols :+ "vh"): _*))
    // near pairs share MANY variants (every deletion avoiding their
    // differing positions) — distinct before the verify so each pair
    // pays one DP. IDs-only rows on this exchange. The SHUFFLE_HASH
    // hint is load-bearing: the explode's ~C(len,≤d)× inflation is
    // invisible to size estimation (stats come from the pre-explode
    // scan), so Spark otherwise picks a BroadcastHashJoin and builds a
    // single-threaded multi-hundred-MB HashedRelation on the driver —
    // measured 17 s of the sf1 query's 23 s. A shuffled hash join
    // builds per-partition maps in parallel; above the volume gate the
    // explicit key repartition satisfies the join's distribution (no
    // second exchange) while shrinking each map to ~1 M rows.
    val cands = va.hint("SHUFFLE_HASH").join(vb, keys)
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id")).distinct()
    cands
      .join(slim.select(col("id").as("a_id"), col("s").as("a_s")), "a_id")
      .join(slim.select(col("id").as("b_id"), col("s").as("b_s")), "b_id")
      .filter(abs(length(col("a_s")) - length(col("b_s"))) <= maxDist)
      .withColumn("dist", graft.functions.TextExpressions
        .editDistanceWithin(col("a_s"), col("b_s"), maxDist))
      .filter(col("dist") >= 0)
      .select(col("a_id"), col("b_id"), col("dist"))
  }

  /** [[graft.text.Dedup.incrementalStreamStep]] instance for the fuzzy
    * entity-resolution family ([[editDistancePairsIncremental]]). */
  def fuzzyStreamStep(batch: DataFrame, batchId: Long, standingPath: String,
                      maxDist: Int, idCol: String, strCol: String,
                      blockCols: Seq[String]): DataFrame =
    Dedup.incrementalStreamStep(
      batch.select((Seq(idCol, strCol) ++ blockCols).map(col): _*),
      batchId, standingPath)(
      editDistancePairsIncremental(_, _, maxDist, idCol, strCol, blockCols))

  /** Streaming fuzzy-match pairs — [[fuzzyStreamStep]] per micro-batch
    * (exactly-once across the stream, spec-pinned like its
    * [[graft.text.Dedup]] siblings). */
  def fuzzyPairStream(stream: DataFrame, standingPath: String,
                      checkpointDir: String,
                      maxDist: Int, idCol: String, strCol: String,
                      blockCols: Seq[String], compactEvery: Int = 0)
                     (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    Dedup.incrementalPairStream(stream, standingPath, checkpointDir,
      compactEvery)(
      fuzzyStreamStep(_, _, standingPath, maxDist, idCol, strCol,
        blockCols))(sink)
}
