package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{HashExpressions, VectorExpressions}
import graft.ops.Skew

/** Corpus deduplication at scale: exact, MinHash+LSH, SimHash, and n-gram
  * Jaccard. All candidate generation is *bucketed* (band/chunk join) so the
  * cost is O(candidates), never O(n²) — the property that matters at 100 TB.
  * Verification of candidates is exact and happens only within buckets.
  *
  * Hash functions are Spark builtins (`xxhash64`) inside higher-order array
  * expressions — deterministic across runs/executors and codegen-friendly.
  */
object Dedup {

  // shiftleft/shiftright in the Scala DSL only take Int bit counts; these
  // call the SQL functions, which accept a Column on both sides.
  private def shr(c: Column, bits: Column): Column = call_function("shiftright", c, bits)
  private def shl(c: Column, bits: Column): Column = call_function("shiftleft", c, bits)

  /** Exact dedup: hash-groupBy on a content fingerprint. One shuffle of
    * (fingerprint, id) pairs — text itself never moves.
    */
  def exact(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs.groupBy(md5(col(textCol)).as("fingerprint"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_dups"))

  /** Incremental exact dedup — the growing-corpus shape: keep the rows of
    * `batch` that are (a) not content-identical to anything in `existing`
    * and (b) the min-id survivor within the batch itself. The existing
    * corpus contributes ONLY its fingerprint set (at production scale,
    * the standing fingerprint index — its text is never re-read), the
    * anti join and survivor window key on the fingerprint. Payload
    * columns the caller's downstream projection drops are pruned out of
    * every exchange by Catalyst (the registered query keeps only
    * (doc_id, lang) and its plan shuffles no text — plan-asserted);
    * callers that keep the text in the output pay exactly one shuffle of
    * the surviving batch, never of the existing corpus.
    */
  def incremental(batch: DataFrame, existing: DataFrame,
                  textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val oldFps = existing.select(md5(col(textCol)).as("__fp")).distinct()
    val surv = batch.withColumn("__fp", md5(col(textCol)))
      .join(oldFps, Seq("__fp"), "left_anti")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("__fp"))
    surv.withColumn("__min_id", min(col(idCol)).over(w))
      .filter(col(idCol) === col("__min_id"))
      .drop("__fp", "__min_id")
  }

  /** Snapshot diff — the corpus-version delta an incremental ingest
    * reports: per document id, whether it was `added`, `removed`,
    * `changed`, or `unchanged` between two snapshots, decided on md5
    * fingerprints via a FULL OUTER join on the id.
    *
    * Scale shape: fingerprints are computed scan-side, so the only
    * thing the outer join shuffles is (id, fp) — text never rides the
    * exchange regardless of corpus size — and the join key is the
    * unique document id, so there is no skew hazard. The output is one
    * slim row per id in either snapshot; callers aggregate it into the
    * delta report (the registered query) or anti-filter it into the
    * to-reprocess work list.
    */
  def snapshotDiff(old: DataFrame, cur: DataFrame,
                   textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    old.select(col(idCol), md5(col(textCol)).as("old_fp"))
      .join(cur.select(col(idCol), md5(col(textCol)).as("new_fp")),
        Seq(idCol), "full_outer")
      .withColumn("status",
        when(col("old_fp").isNull, "added")
          .when(col("new_fp").isNull, "removed")
          .when(col("old_fp") =!= col("new_fp"), "changed")
          .otherwise("unchanged"))

  /** The streaming form of [[incremental]]: a document stream dedups
    * against the standing fingerprint index (stream-static anti join —
    * the static side is the index, re-read per micro-batch) and within
    * itself via `dropDuplicates` on the fingerprint. Two documented
    * differences from the batch form, both inherent to streaming: the
    * within-stream survivor is FIRST-SEEN (arrival order), not min-id —
    * a global min needs a window, which streams can't do — and the
    * within-stream dedup state is unbounded unless the caller uses
    * `withWatermark` + `dropDuplicatesWithinWatermark` upstream for the
    * bounded-state variant. Cross-batch drops are identical to batch.
    */
  def incrementalStream(stream: DataFrame, existing: DataFrame,
                        textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val oldFps = existing.select(md5(col(textCol)).as("__fp")).distinct()
    stream.withColumn("__fp", md5(col(textCol)))
      .join(oldFps, Seq("__fp"), "left_anti")
      .dropDuplicates("__fp")
      .drop("__fp")
  }

  /** One micro-batch step of the STREAMING near-dup loop (and the unit
    * [[minhashPairStream]] runs per batch): probe the persisted standing
    * corpus at `standingPath` with this batch via
    * [[minhashPairsMd5Incremental]] — every near-dup pair involving ≥ 1
    * batch document, old×old never regenerated — then append the batch
    * to the store under `__batch = batchId`. Exactly-once discipline:
    * the append uses dynamic partition overwrite of THIS batch's
    * partition (redelivery rewrites the identical rows), and the
    * standing side excludes the current batch id, so a redelivered
    * batch probes the same standing set and returns the identical pair
    * frame. Returns the pairs (materialize before the next step).
    */
  def minhashStreamStep(batch: DataFrame, batchId: Long, standingPath: String,
                        threshold: Double = 0.5,
                        textCol: String = "text", idCol: String = "doc_id",
                        numHashes: Int = 64, bands: Int = 16,
                        shingleW: Int = 3): DataFrame =
    incrementalStreamStep(batch.select(col(idCol), col(textCol)), batchId,
      standingPath)(minhashPairsMd5Incremental(_, _, threshold,
      numHashes, bands, shingleW, textCol, idCol))

  /** One micro-batch step of ANY incremental pair family over a
    * batch-partitioned standing store: run `pairFn(batch, standing)` —
    * every pair involving ≥ 1 batch row, old×old never regenerated —
    * then append the batch under `__batch = batchId`. Exactly-once
    * discipline: the append dynamically overwrites THIS batch's
    * partition (redelivery rewrites identical rows) and the standing
    * side excludes the current batch id, so a redelivered batch probes
    * the same standing set and returns the identical frame. The result
    * is checkpointed BEFORE the store gains the batch. Store resolution
    * goes through [[graft.ops.StandingStore]] — Hadoop-FS-agnostic (an
    * HDFS/S3 store resolves by the path's own scheme, never
    * `java.io.File`, which would report a remote store absent and turn
    * every batch into "first batch") and compaction-aware (a folded
    * base + newer deltas read as one standing set).
    */
  def incrementalStreamStep(batch: DataFrame, batchId: Long,
                            standingPath: String)
                           (pairFn: (DataFrame, DataFrame) => DataFrame)
      : DataFrame = {
    val spark = batch.sparkSession
    val standing = graft.ops.StandingStore
      .read(spark, standingPath, excludeBatch = batchId,
        batch.columns.toIndexedSeq)
      .getOrElse(batch.limit(0))
    val pairs = pairFn(batch, standing).localCheckpoint()
    batch.withColumn("__batch", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("__batch").parquet(standingPath)
    pairs
  }

  /** Streaming lift of [[incrementalStreamStep]] for ANY pair family:
    * each micro-batch runs `stepFn(batch, batchId)` — so across the
    * stream every qualifying pair is emitted EXACTLY ONCE, at its later
    * member's arrival — and `sink` receives (pairs, batchId) per batch
    * (the [[graft.runtime.Streams]] foreachBatch discipline). With
    * `compactEvery > 0`, every N-th batch folds the standing store's
    * older partitions into a bounded-file base
    * ([[graft.ops.StandingStore.compact]]) — without it a week-long
    * stream accretes one tiny parquet partition per trigger, the
    * small-files failure [[graft.ops.Compact]] documents. Compaction
    * keeps the latest batch as a delta (`keepLast ≥ 1`), so the
    * foreachBatch redelivery contract is untouched: a replayed batch
    * still overwrites its own partition and probes the identical
    * standing set (CorpusStreamSpec crosses two compaction boundaries
    * and proves output identity + redelivery idempotence).
    */
  def incrementalPairStream(stream: DataFrame, standingPath: String,
                            checkpointDir: String, compactEvery: Int = 0)
                           (stepFn: (DataFrame, Long) => DataFrame)
                           (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (b: DataFrame, id: Long) =>
        sink(stepFn(b, id), id)
        if (compactEvery > 0 && (id + 1) % compactEvery == 0)
          graft.ops.StandingStore.compact(b.sparkSession, standingPath)
      }
      .start()

  /** Streaming day-over-day near-dup detection: [[minhashStreamStep]]
    * per micro-batch (sequential batches ≡ one-shot, spec-pinned). One
    * wired instance of [[incrementalPairStream]]; its siblings —
    * [[jaccardPairStream]], [[containmentPairStream]],
    * [[simhashPairStream]], [[graft.text.Entity.fuzzyPairStream]] —
    * lift the other (batch, standing) ⇒ pairs families the same way,
    * each with its own exactly-once spec.
    */
  def minhashPairStream(stream: DataFrame, standingPath: String,
                        checkpointDir: String,
                        threshold: Double = 0.5,
                        textCol: String = "text", idCol: String = "doc_id",
                        compactEvery: Int = 0)
                       (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    incrementalPairStream(stream, standingPath, checkpointDir, compactEvery)(
      minhashStreamStep(_, _, standingPath, threshold, textCol, idCol))(sink)

  /** [[incrementalStreamStep]] instance for the exact-Jaccard PPJoin
    * family ([[prefixJaccardPairsIncremental]]). */
  def jaccardStreamStep(batch: DataFrame, batchId: Long, standingPath: String,
                        blockCols: Seq[String], threshold: Double,
                        textCol: String = "text", idCol: String = "doc_id")
      : DataFrame =
    incrementalStreamStep(
      batch.select((Seq(idCol, textCol) ++ blockCols).map(col): _*),
      batchId, standingPath)(
      prefixJaccardPairsIncremental(_, _, blockCols, threshold, textCol, idCol))

  /** Streaming exact-Jaccard near-dup pairs — [[jaccardStreamStep]] per
    * micro-batch (exactly-once across the stream, spec-pinned). */
  def jaccardPairStream(stream: DataFrame, standingPath: String,
                        checkpointDir: String,
                        blockCols: Seq[String], threshold: Double,
                        textCol: String = "text", idCol: String = "doc_id",
                        compactEvery: Int = 0)
                       (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    incrementalPairStream(stream, standingPath, checkpointDir, compactEvery)(
      jaccardStreamStep(_, _, standingPath, blockCols, threshold,
        textCol, idCol))(sink)

  /** [[incrementalStreamStep]] instance for the containment-join family
    * ([[containmentPairsIncremental]]). */
  def containmentStreamStep(batch: DataFrame, batchId: Long,
                            standingPath: String,
                            blockCols: Seq[String], threshold: Double,
                            textCol: String = "text", idCol: String = "doc_id")
      : DataFrame =
    incrementalStreamStep(
      batch.select((Seq(idCol, textCol) ++ blockCols).map(col): _*),
      batchId, standingPath)(
      containmentPairsIncremental(_, _, blockCols, threshold, textCol, idCol))

  /** Streaming containment-join pairs — [[containmentStreamStep]] per
    * micro-batch (exactly-once across the stream, spec-pinned). */
  def containmentPairStream(stream: DataFrame, standingPath: String,
                            checkpointDir: String,
                            blockCols: Seq[String], threshold: Double,
                            textCol: String = "text", idCol: String = "doc_id",
                            compactEvery: Int = 0)
                           (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    incrementalPairStream(stream, standingPath, checkpointDir, compactEvery)(
      containmentStreamStep(_, _, standingPath, blockCols, threshold,
        textCol, idCol))(sink)

  /** [[incrementalStreamStep]] instance for the SimHash family
    * ([[simhashPairsMd5Incremental]]). */
  def simhashStreamStep(batch: DataFrame, batchId: Long, standingPath: String,
                        maxHamming: Int = 3,
                        textCol: String = "text", idCol: String = "doc_id")
      : DataFrame =
    incrementalStreamStep(batch.select(col(idCol), col(textCol)),
      batchId, standingPath)(
      simhashPairsMd5Incremental(_, _, maxHamming, textCol, idCol))

  /** Streaming SimHash near-dup pairs — [[simhashStreamStep]] per
    * micro-batch (exactly-once across the stream, spec-pinned). */
  def simhashPairStream(stream: DataFrame, standingPath: String,
                        checkpointDir: String,
                        maxHamming: Int = 3,
                        textCol: String = "text", idCol: String = "doc_id",
                        compactEvery: Int = 0)
                       (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    incrementalPairStream(stream, standingPath, checkpointDir, compactEvery)(
      simhashStreamStep(_, _, standingPath, maxHamming, textCol, idCol))(sink)

  /** `w`-word shingles of a text column, deduplicated, as 64-bit hashes
    * (native kernel; hashes match `xxhash64(concat_ws(" ", …))`).
    */
  def shingles(text: Column, w: Int = 3): Column =
    HashExpressions.shingleHashes(split(text, "\\s+"), w)

  // MinHash permutation parameters: h_i(x) = (a_i * x + b_i) mod p over a
  // Mersenne prime; seeded deterministically. p is 2^31-1 so a*h stays
  // within 63 bits (Spark 4 runs ANSI mode: long overflow would throw).
  private val MinhashPrime = 2147483647L // 2^31 - 1
  private def perms(numHashes: Int, seed: Long): (Seq[Long], Seq[Long]) = {
    val rnd = new scala.util.Random(seed)
    def draw() = (rnd.nextLong().abs % (MinhashPrime - 1)) + 1
    (Seq.fill(numHashes)(draw()), Seq.fill(numHashes)(draw()))
  }

  /** MinHash signature (array of `numHashes` minima) over an
    * already-materialized shingle-hash array column — a single fused
    * native kernel (see graft.functions.VectorExpressions.MinHashSig);
    * the higher-order-function formulation re-walks an interpreted
    * expression tree per element per permutation.
    */
  def minhashSignature(shingleHashes: Column, numHashes: Int = 64,
                       seed: Long = 42L): Column = {
    val (as, bs) = perms(numHashes, seed)
    VectorExpressions.minhashSig(shingleHashes, as.toArray, bs.toArray, MinhashPrime)
  }

  /** MinHash+LSH near-duplicate pairs.
    *
    * signature → `bands` bands of `numHashes/bands` rows → explode to
    * per-band bucket hashes (the band index is folded INTO the hash, so
    * the join key is one long) → self-join per bucket → exact Jaccard on
    * shingle sets for surviving candidates. Only bucket-mates are ever
    * compared; band count tunes the recall/cost curve (match probability
    * ≈ 1-(1-s^r)^b for Jaccard s).
    *
    * Hot-bucket safety ([[graft.ops.Skew.gridJoin]], like every pair
    * kernel): a boilerplate-heavy corpus — near-identical documents that
    * survive exact dedup — collides in EVERY band, putting an N² cell on
    * one reduce task. Band buckets above `hotBucketCap` occurrences go
    * through the lossless grid-salted self-join, which spreads the same
    * candidate multiset over G² tasks.
    *
    * Verify ordering differs from [[simhashPairs]] DELIBERATELY: there the
    * verify inputs (the two 64-bit signatures) already ride the bucket
    * rows, so verifying before the pair dedup is free and shrinks the
    * dedup shuffle to true pairs. Here the verify inputs are the SHINGLE
    * SETS — joining them onto the pre-dedup candidate multiset would
    * multiply payload bytes by the band-collision count (boilerplate
    * corpora collide in all `bands` bands), whereas the dedup shuffle
    * carries 16-byte ID pairs with map-side partial dedup. Measured on a
    * 2k-doc boilerplate corpus: candidates dedup first = 1 payload join
    * per unique pair; verify first = `bands`× the payload traffic.
    */
  def minhashPairs(docs: DataFrame, threshold: Double = 0.7,
                   numHashes: Int = 64, bands: Int = 16, shingleW: Int = 3,
                   textCol: String = "text", idCol: String = "doc_id",
                   hotBucketCap: Int = 100000): DataFrame = {
    // shingle+MinHash kernels are CPU-per-row: kernel-floor scan spread
    val docsIn = graft.ops.ScanSpread.spread(docs.sparkSession, docs,
      graft.ops.ScanSpread.KernelFloor)
    // ONE kernel pass and checkpoint (round-16 — the md5-twin shape
    // applied to the production config): the hot census, both bucket
    // join sides and both verify join-backs each re-ran the
    // shingle+MinHash kernel from lineage (8 parquet scans in the
    // before-plan)
    val sigs = docsIn
      .select(col(idCol).as("id"), shingles(col(textCol), shingleW).as("sh"))
      .select(col("id"), col("sh"), minhashSignature(col("sh"), numHashes).as("sig"))
      .localCheckpoint()
    val rows = numHashes / bands
    val buckets = sigs.select(col("id"),
      explode(transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(b, slice(col("sig"), b * rows + 1, lit(rows)))))
        .as("bh"))
    val cand = bucketSelfJoin(buckets, hotBucketCap)
      .dropDuplicates("a_id", "b_id")
    jaccardVerify(cand, sigs, threshold)
  }

  /** Candidate (a_id, b_id) multiset for [[minhashPairs]] — the band
    * bucket self-join, exposed for candidate-volume/spread measurement.
    * IDs only: shuffling shingle arrays through every band collision
    * would multiply payload bytes by the collision count.
    */
  private[text] def minhashCandidates(docs: DataFrame, numHashes: Int,
                                      bands: Int, shingleW: Int,
                                      textCol: String, idCol: String,
                                      hotBucketCap: Int): DataFrame = {
    val rows = numHashes / bands
    val buckets = docs
      .select(col(idCol).as("id"), shingles(col(textCol), shingleW).as("sh"))
      .select(col("id"), minhashSignature(col("sh"), numHashes).as("sig"))
      .select(col("id"),
        explode(transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(b, slice(col("sig"), b * rows + 1, lit(rows)))))
          .as("bh"))
    bucketSelfJoin(buckets, hotBucketCap)
  }

  /** Grid-salted self-join of a bucket index `(id, bh)` → candidate
    * `(a_id, b_id)` multiset (a_id < b_id) of rows sharing a bucket.
    * `bh` may be any equatable type (long band hashes, string band
    * tuples). Shared by the MinHash configs; see [[minhashPairs]] for
    * the hot-bucket rationale and [[graft.ops.Skew.gridJoin]] for the
    * grid.
    */
  private[text] def bucketSelfJoin(buckets: DataFrame,
                                   hotBucketCap: Int): DataFrame =
    // corpus-proportional exploded index: never broadcastable (see
    // prefixCandidates)
    Skew.gridJoin(buckets.toDF("a_id", "bh").hint("SHUFFLE_HASH"),
        buckets.toDF("b_id", "bh"), Seq("bh"), col("bh"), hotBucketCap,
        Skew.Occurrences)
      .filter(col("a_id") < col("b_id")).select("a_id", "b_id")

  /** Two-sided analogue of [[bucketSelfJoin]] for the incremental probe
    * (standing index × batch): canonical candidate pairs from rows
    * sharing a bucket across the two sides. A hot bucket — combined
    * occupancy above `hotBucketCap` — concentrates every probe match on
    * one reduce task (ADVICE r9: the plain join had no treatment while
    * the docstring claimed it did). Treatment salts the STANDING side
    * (the one that grows without bound day over day) into `grid` cells
    * by id-hash and replicates the batch side across the grid, so a hot
    * bucket's o×n work spreads over `grid` tasks at the cost of
    * replicating only batch rows. Hot detection is one bounded
    * aggregate-collect over combined bucket counts (≤ 64 driver rows),
    * the same class as the self-join's.
    */
  private[text] def bucketProbeJoin(oldB: DataFrame, newB: DataFrame,
                                    hotBucketCap: Int): DataFrame = {
    // corpus-proportional exploded index: never broadcastable (the
    // bucketSelfJoin rationale — explode inflation is invisible to stats)
    val o = oldB.toDF("o_id", "bh").hint("SHUFFLE_HASH")
    val n = newB.toDF("n_id", "bh")
    val hotRows = oldB.toDF("o_id", "bh").select(col("bh"))
      .unionAll(newB.toDF("n_id", "bh").select(col("bh")))
      .groupBy(col("bh"))
      .agg(count(lit(1)).as("cnt")).filter(col("cnt") > hotBucketCap)
      .orderBy(col("cnt").desc, col("bh")).limit(64).collect()
    val joined =
      if (hotRows.isEmpty) o.join(n, Seq("bh"))
      else {
        val hot: Seq[Any] = hotRows.map(_.get(0)).toSeq
        val maxN = hotRows.map(_.getLong(1)).max
        val grid = math.min(32L, (maxN + hotBucketCap - 1) / hotBucketCap).toInt
        val cold = o.filter(!col("bh").isin(hot: _*))
          .join(n.filter(!col("bh").isin(hot: _*)), Seq("bh"))
        val oHot = o.filter(col("bh").isin(hot: _*))
          .withColumn("g", pmod(xxhash64(col("o_id")), lit(grid.toLong)))
        val nHot = n.filter(col("bh").isin(hot: _*))
          .withColumn("g", explode(sequence(lit(0L), lit(grid - 1L))))
        cold.unionByName(oHot.join(nHot, Seq("bh", "g")).drop("g"))
      }
    joined.filter(col("o_id") =!= col("n_id"))
      .select(least(col("o_id"), col("n_id")).as("a_id"),
        greatest(col("o_id"), col("n_id")).as("b_id"))
  }

  /** The ORACLE-REPLAYABLE MinHash+LSH config: identical pipeline shape
    * to [[minhashPairs]] (signature → banded buckets → grid-salted
    * bucket self-join → exact-Jaccard verify), but every engine-side
    * constant is replaced by one a SQL oracle can recompute exactly:
    *
    *  - shingle hash  = first 15 hex chars of md5(shingle text) as a
    *    60-bit integer (both engines render the identical md5 hex —
    *    the `doc_hash_sample` idiom, widened to 15 nibbles);
    *  - permutations  = the affine family h_i(x) = (a_i·(x mod p)+b_i)
    *    mod p with FORMULA-derived constants
    *    a_i = (1103515245·(i+1)+12345) mod (p−1) + 1,
    *    b_i = (69069·(i+1)+362437) mod p, p = 2³¹−1 — an LCG-step
    *    parameter draw both engines compute from `i` alone (the
    *    production config draws from a seeded RNG the oracle can't
    *    replay);
    *  - band key      = the literal (band, sig-slice) tuple rendered to
    *    a string — collision-free by construction, where the
    *    production config folds the slice through xxhash64 (a hash
    *    collision there can only ADD a verified-true pair, which is
    *    fine for dedup but breaks exact oracle equality).
    *
    * The minhash minima still run through the fused native kernel
    * (`VectorExpressions.minhashSig` takes the (a,b) arrays), so this
    * config oracle-checks the kernel arithmetic itself; only the
    * shingle hashing rides md5 instead of the xxhash64 kernel.
    * [[minhashPairs]] stays the production path — md5-per-shingle costs
    * ~an order of magnitude more CPU than the fused shingle kernel.
    */
  def minhashPairsMd5(docs: DataFrame, threshold: Double = 0.5,
                      numHashes: Int = 64, bands: Int = 16, shingleW: Int = 3,
                      textCol: String = "text", idCol: String = "doc_id",
                      hotBucketCap: Int = 100000): DataFrame = {
    // md5-per-shingle is the dominant cost and three jobs read it (hot
    // detection, bucket join, verify) — checkpoint once, like the
    // containment prep (the in-session stand-in for a persisted
    // signature table)
    val sigs = md5ShingleSigs(docs, numHashes, bands, shingleW, textCol, idCol)
      .localCheckpoint()
    val cand = bucketSelfJoin(md5BandBuckets(sigs, numHashes, bands), hotBucketCap)
      .dropDuplicates("a_id", "b_id")
    jaccardVerify(cand, sigs, threshold)
  }

  /** (id, sh, sig) for the md5-replayable MinHash config: 3-word shingles
    * on the single-space tokenization (the fixture's separator; the
    * oracle splits identically), md5-hashed to 60 bits, through the
    * fused minhash kernel with formula-derived permutation constants.
    */
  private def md5ShingleSigs(docs: DataFrame, numHashes: Int, bands: Int,
                             shingleW: Int, textCol: String, idCol: String,
                             carryCols: Seq[String] = Nil): DataFrame = {
    require(numHashes % bands == 0)
    val p = MinhashPrime
    val as = Array.tabulate(numHashes)(i => (1103515245L * (i + 1) + 12345L) % (p - 1) + 1)
    val bs = Array.tabulate(numHashes)(i => (69069L * (i + 1) + 362437L) % p)
    // md5-per-shingle is the window-hash kernel class: spread from the
    // lower floor (measured single-task 1.75-2.0 s checkpoint at sf0.1
    // under KernelFloor - the 0.58 MB fixture never crossed 1 MB)
    val docsIn = graft.ops.ScanSpread.spread(docs.sparkSession, docs,
      graft.ops.ScanSpread.WindowHashFloor)
    val toks = split(col(textCol), " ")
    val shingleHashes = array_distinct(
      when(size(toks) >= shingleW,
        transform(sequence(lit(1), size(toks) - (shingleW - 1)),
          i => conv(substring(md5(concat_ws(" ",
            slice(toks, i, lit(shingleW)))), 1, 15), 16, 10).cast("long")))
      .otherwise(array().cast("array<long>")))
    docsIn
      // Filter on the CHEAP equivalent predicate, BEFORE the kernel
      // projection: `size(sh) > 0 ⟺ size(toks) ≥ shingleW` (the when()
      // yields ≥ 1 element exactly then, and array_distinct of a
      // non-empty array is non-empty). The old `filter(size(sh) > 0)`
      // above the projection was pushed below the spread's exchange by
      // PushDownPredicates with the FULL md5-per-shingle expression
      // substituted in — the whole kernel ran serially on the one
      // pre-spread task (measured 2.5 s at sf0.1, the single largest
      // job of every md5-minhash query) and then again, spread, in the
      // post-exchange projection. The cheap form still pushes below the
      // exchange — which is now a win (short docs drop before the
      // shuffle, one split() per row).
      .filter(size(toks) >= shingleW)
      .select(col(idCol).as("id") +: carryCols.map(col) :+
        shingleHashes.as("sh"): _*)
      .select(col("id") +: carryCols.map(col) :+ col("sh") :+
        VectorExpressions.minhashSig(col("sh"), as, bs, p).as("sig"): _*)
  }

  /** Banded (id, bh) bucket rows over md5-config signatures — literal
    * band-tuple keys, so the oracle reconstructs them verbatim. */
  private def md5BandBuckets(sigs: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val rows = numHashes / bands
    sigs.select(col("id"),
      explode(transform(sequence(lit(0), lit(bands - 1)),
        b => concat(b.cast("string"), lit(":"),
          array_join(transform(slice(col("sig"), b * rows + 1, lit(rows)),
            v => v.cast("string")), ",")))).as("bh"))
  }

  /** Exact shingle-Jaccard verify of an IDs-only candidate set. The
    * corpus-sized shingle payload is shuffle-joined back by id — its
    * parquet-bytes estimate is tiny, so the planner would otherwise
    * build a corpus-proportional broadcast (see [[verified]]).
    */
  private def jaccardVerify(cand: DataFrame, sigs: DataFrame,
                            threshold: Double): DataFrame = {
    def side(role: String): DataFrame = sigs
      .select(col("id").as(s"${role}_id"), col("sh").as(s"${role}_sh"),
        size(col("sh")).as(s"${role}_n"))
      .hint("SHUFFLE_HASH")
    cand
      .join(side("a"), "a_id").join(side("b"), "b_id")
      .withColumn("inter", size(array_intersect(col("a_sh"), col("b_sh"))))
      .select(col("a_id"), col("b_id"),
        (col("inter") / (col("a_n") + col("b_n") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** INCREMENTAL MinHash+LSH near-dup detection — how production LSH
    * dedup actually runs day over day: the standing corpus keeps its
    * banded bucket index; a new batch computes signatures for ITS
    * documents only, probes the standing index (old×new bucket join),
    * and self-joins within itself (new×new) — the old×old candidate
    * volume, already resolved by previous runs, is never regenerated.
    * Emits every near-dup pair involving ≥ 1 batch document, canonical
    * (a_id < b_id), verified by exact shingle Jaccard.
    *
    * Same md5-replayable config as [[minhashPairsMd5]], so the whole
    * incremental shape — index probe, intra-batch join, verify — sits
    * under the DuckDB oracle (which recomputes the full pair relation
    * and keeps the pairs whose greater id is in the batch: identical
    * set, since a pair with ≥ 1 batch member arises in old×new or
    * new×new, and bucket equality is symmetric).
    *
    * Scale shape: the probe join touches the batch's bucket rows against
    * the standing index — with a date-partitioned or bucketed index
    * table, that is an index lookup, not a corpus scan. Hot buckets get
    * the two-sided grid treatment in [[bucketProbeJoin]]: the standing
    * side is salted into grid cells and the (small) batch side
    * replicates across them, so a hot standing bucket never pins all
    * its probe matches on one reduce task; the intra-batch self-join
    * ([[bucketSelfJoin]]) takes the symmetric [[graft.ops.Skew.gridJoin]].
    */
  def minhashPairsMd5Incremental(batch: DataFrame, existing: DataFrame,
                                 threshold: Double = 0.5,
                                 numHashes: Int = 64, bands: Int = 16,
                                 shingleW: Int = 3,
                                 textCol: String = "text", idCol: String = "doc_id",
                                 hotBucketCap: Int = 100000): DataFrame = {
    // both sig frames feed ≥ 3 jobs each (the two hot-detection
    // collects, the probe/self joins, the verify) and md5-per-shingle
    // dominates — one tagged kernel pass and checkpoint (see tagBatch)
    val sigsAll = md5ShingleSigs(tagBatch(batch, existing), numHashes, bands,
      shingleW, textCol, idCol, Seq("__batch")).localCheckpoint()
    val sigsOld = sigsAll.filter(!col("__batch")).drop("__batch")
    val sigsNew = sigsAll.filter(col("__batch")).drop("__batch")
    val oldB = md5BandBuckets(sigsOld, numHashes, bands)
    val newB = md5BandBuckets(sigsNew, numHashes, bands)
    val cross = bucketProbeJoin(oldB, newB, hotBucketCap)
    val fresh = bucketSelfJoin(newB, hotBucketCap)
    val cand = cross.unionByName(fresh).dropDuplicates("a_id", "b_id")
    jaccardVerify(cand, sigsAll.drop("__batch"), threshold)
  }

  /** 64-bit SimHash over whitespace tokens: per-token xxhash64, each bit
    * votes ±1, fingerprint takes the sign (native kernel).
    */
  def simhash(text: Column): Column =
    HashExpressions.simhash64(split(text, "\\s+"))

  /** SimHash near-dup pairs: bucket by 16-bit chunks (pigeonhole: any pair
    * within Hamming distance 3 shares at least one of 4 chunks), verify
    * with `bit_count(xor) <= maxHamming`.
    *
    * Hot-bucket safety ([[graft.ops.Skew.gridJoin]]): SimHash signatures
    * CONCENTRATE on corpora whose token-frequency profiles repeat —
    * measured on the 30-token fixture vocabulary AND on Zipf text,
    * single 16-bit buckets can hold thousands of documents, pinning an
    * N² cell on one reduce task. Buckets above `hotBucketCap`
    * occurrences go through the lossless grid-salted self-join, which
    * spreads the same candidate set over G² tasks.
    * The Hamming verify runs BEFORE the pair dedup, so the dedup shuffle
    * carries only verified pairs.
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
                   textCol: String = "text", idCol: String = "doc_id",
                   hotBucketCap: Int = 100000): DataFrame = {
    // signature kernel is CPU-per-row: spread a row-group-starved scan
    // before it (13.2 s → 2.1 s at sf1 on the one-row-group fixture);
    // checkpoint the signature table — the hot census and both chunk
    // join sides each re-ran the kernel from lineage (the md5-twin
    // shape, round-16)
    val din = graft.ops.ScanSpread.spread(docs.sparkSession, docs,
      graft.ops.ScanSpread.KernelFloor)
    val sh = din.select(col(idCol).as("id"), simhash(col(textCol)).as("sig"))
      .localCheckpoint()
    simhashPairsOnSigs(sh, maxHamming, chunks = 4, chunkBits = 16, hotBucketCap)
  }

  /** The chunk-pigeonhole pair join over an (id, sig) signature table:
    * any pair within Hamming distance < `chunks` shares at least one of
    * the `chunks` bit-chunks (pigeonhole), so bucketing on (chunk index,
    * chunk value) and verifying `bit_count(xor) ≤ maxHamming` finds
    * exactly the qualifying pairs. Shared by the production xxhash64
    * config ([[simhashPairs]]) and the oracle-replayable md5 config
    * ([[simhashPairsMd5]]); hot buckets are grid-salted as documented on
    * [[simhashPairs]]. The pigeonhole guarantee (every qualifying pair
    * found) holds when maxHamming < chunks — the registered configs;
    * looser thresholds still verify exactly but only among chunk-mates
    * (recall < 1, the DedupSpec wide-threshold usage).
    */
  private def simhashPairsOnSigs(sh: DataFrame, maxHamming: Int,
                                 chunks: Int, chunkBits: Int,
                                 hotBucketCap: Int): DataFrame = {
    val mask = (1L << chunkBits) - 1
    val chunked = sh.select(col("id"), col("sig"),
      explode(transform(sequence(lit(0), lit(chunks - 1)), c =>
        struct(c.as("chunk"),
          shr(col("sig"), c * chunkBits).bitwiseAND(mask).as("ch")))).as("ck"))
      .select(col("id"), col("sig"), col("ck.chunk"), col("ck.ch"))
    // hot buckets route on (chunk, ch) packed into one long: chunk ∈
    // [0,chunks), ch < 2^chunkBits
    Skew.gridJoin(chunked.toDF("a_id", "a_sig", "chunk", "ch"),
        chunked.toDF("b_id", "b_sig", "chunk", "ch"), Seq("chunk", "ch"),
        col("chunk").cast("long") * (mask + 1) + col("ch"), hotBucketCap,
        Skew.Occurrences)
      .filter(col("a_id") < col("b_id"))
      .withColumn("hamming", bit_count(col("a_sig").bitwiseXOR(col("b_sig"))))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("a_id", "b_id")
      .select(col("a_id"), col("b_id"), col("hamming"))
  }

  /** The ORACLE-REPLAYABLE SimHash config (the [[minhashPairsMd5]]
    * pattern applied to SimHash): 60-bit signatures over md5-derived
    * per-token hashes, so a SQL oracle recomputes the identical
    * signatures, chunk buckets, candidates and Hamming verify.
    *
    *  - token hash = first 15 hex chars of md5(token) (60 bits — 16
    *    would overflow signed BIGINT in the replay);
    *  - per-bit votes over the token MULTISET (duplicates count, as in
    *    the production kernel), bit j set iff its vote sum is > 0;
    *  - pairs via the shared chunk-pigeonhole join: 4 chunks × 15 bits,
    *    Hamming ≤ 3 < 4 chunks keeps the pigeonhole lossless.
    *
    * The signature is one exploded (doc, token) aggregation with 60
    * conditional-sum columns — map-side combined, 60 longs per doc on
    * the shuffle, text never rides an exchange. [[simhashPairs]]' fused
    * kernel stays the production path.
    */
  def simhashPairsMd5(docs: DataFrame, maxHamming: Int = 3,
                      textCol: String = "text", idCol: String = "doc_id",
                      hotBucketCap: Int = 100000): DataFrame =
    // hot detection + join both read the md5 signature table —
    // checkpoint once (see [[minhashPairsMd5]])
    simhashPairsOnSigs(md5SimhashSigs(docs, textCol, idCol).localCheckpoint(),
      maxHamming, chunks = 4, chunkBits = 15, hotBucketCap)

  /** The md5-replayable 60-bit signature table (id, sig) — shared scan
    * stage of [[simhashPairsMd5]] and [[simhashPairsMd5Incremental]].
    */
  private def md5SimhashSigs(docs: DataFrame, textCol: String,
                             idCol: String,
                             carryCols: Seq[String] = Nil): DataFrame = {
    val bits = 60
    // md5-per-token: the window-hash kernel class (see md5ShingleSigs).
    // `carryCols` ride the aggregation unchanged (ids are unique, so
    // extra grouping keys cannot split a document's votes) — the
    // incremental caller tags sides and computes BOTH in one pass.
    val din = graft.ops.ScanSpread.spread(docs.sparkSession, docs,
      graft.ops.ScanSpread.WindowHashFloor)
    val toks = din.select(col(idCol).as("id") +: carryCols.map(col) :+
      explode(split(col(textCol), "\\s+")).as("tok"): _*)
      .withColumn("h", conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long"))
    val votes = (0 until bits).map(j =>
      sum(when(shr(col("h"), lit(j)).bitwiseAND(1L) === 1L, 1L).otherwise(-1L))
        .as(s"v$j"))
    val sig = (0 until bits).map(j =>
      when(col(s"v$j") > 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_.bitwiseOR(_))
    toks.groupBy(col("id") +: carryCols.map(col): _*).agg(votes.head, votes.tail: _*)
      .select(col("id") +: carryCols.map(col) :+ sig.as("sig"): _*)
  }

  /** INCREMENTAL SimHash dedup under the oracle-replayable config — the
    * [[minhashPairsMd5Incremental]] idiom for the chunk-pigeonhole
    * family: the standing corpus keeps its (chunk, value) bucket index;
    * a new batch computes ITS signatures only, probes the standing
    * index (old×new, hot buckets salted on the standing side with the
    * batch side replicated — [[bucketProbeJoin]]'s two-sided grid) and
    * self-joins within itself (new×new) — old×old candidates, resolved
    * by previous runs, are never regenerated. Emits every Hamming ≤
    * `maxHamming` pair involving ≥ 1 batch document, canonical
    * (a_id < b_id).
    */
  def simhashPairsMd5Incremental(batch: DataFrame, existing: DataFrame,
                                 maxHamming: Int = 3,
                                 textCol: String = "text", idCol: String = "doc_id",
                                 hotBucketCap: Int = 100000): DataFrame = {
    val chunks = 4; val chunkBits = 15
    val mask = (1L << chunkBits) - 1
    // per-token md5 + 60 bit-votes dominate and each side feeds multiple
    // jobs (hot detection + joins) — one tagged kernel pass and
    // checkpoint (see tagBatch)
    val sigsAll = md5SimhashSigs(tagBatch(batch, existing), textCol, idCol,
      Seq("__batch")).localCheckpoint()
    val sigsOld = sigsAll.filter(!col("__batch")).drop("__batch")
    val sigsNew = sigsAll.filter(col("__batch")).drop("__batch")
    def chunked(sh: DataFrame): DataFrame = sh.select(col("id"), col("sig"),
        explode(transform(sequence(lit(0), lit(chunks - 1)), c =>
          struct(c.as("chunk"),
            shr(col("sig"), c * chunkBits).bitwiseAND(mask).as("ch")))).as("ck"))
      .select(col("id"), col("sig"),
        (col("ck.chunk").cast("long") * (mask + 1) + col("ck.ch")).as("bh"))
    // the probe keys pack (chunk, value) into one long so the shared
    // two-sided grid join applies unchanged; the signature rides along
    // for the verify (8 bytes — the verify needs no payload join-back)
    val o = chunked(sigsOld).select(struct(col("id"), col("sig")).as("o"), col("bh"))
    val n = chunked(sigsNew).select(struct(col("id"), col("sig")).as("n"), col("bh"))
    val cross = bucketProbeJoin(o, n, hotBucketCap)
      .select(col("a_id.id").as("a_id"), col("a_id.sig").as("a_sig"),
        col("b_id.id").as("b_id"), col("b_id.sig").as("b_sig"))
      .withColumn("hamming", bit_count(col("a_sig").bitwiseXOR(col("b_sig"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("a_id"), col("b_id"), col("hamming"))
    val fresh = simhashPairsOnSigs(sigsNew, maxHamming, chunks, chunkBits,
      hotBucketCap)
    cross.unionByName(fresh).dropDuplicates("a_id", "b_id")
  }

  /** Exact Jaccard-threshold pairs AT SCALE: prefix-filtered candidate
    * generation + exact verification (the AllPairs/PPJoin family,
    * Bayardo et al. WWW'07 / Chaudhuri et al. ICDE'06 — public
    * algorithms).
    *
    * Sort each document's token set by a canonical total order (global
    * document frequency, rarest first, ties on the token — rare-first
    * minimizes candidate collisions). For Jaccard ≥ t, any qualifying pair
    * shares at least `ceil(t·max(|A|,|B|))` tokens, so the first
    * `|X| − ceil(t·|X|) + 1` tokens of each side (its "prefix") must
    * intersect — joining on prefix tokens is therefore LOSSLESS: unlike
    * MinHash banding there is no recall curve, the result set is exactly
    * the inequality-join's. Cost is O(candidates), never O(n²/blocks):
    * the quadratic blocked form ([[jaccardPairs]]) remains only as the
    * verification kernel.
    *
    * Scale shape: one map-side-combined df aggregation (vocabulary-sized
    * output), one bucket join over exploded PREFIX tokens only (~(1−t) of
    * all tokens), candidates carry IDs only, token arrays join back once
    * per surviving candidate. The tokenized frame is checkpointed once
    * and read by every probe and join ([[tokenized]]).
    */
  def prefixJaccardPairs(docs: DataFrame, blockCols: Seq[String], threshold: Double,
                         textCol: String = "text", idCol: String = "doc_id",
                         commonVocab: Int = 10000,
                         hotBucketCap: Int = 100000): DataFrame = {
    val tok = tokenized(docs, blockCols, textCol, idCol, commonVocab)
    exactMaskFromRanks(tok.ranks, commonVocab) match {
      case mask @ Some(_) =>
        // BOUNDED-DICTIONARY FAST PATH (the containmentScored treatment
        // applied to the symmetric join): with ≤ 64 distinct tokens the
        // 8-byte signature riding the candidate join IS the exact token
        // set, |A∩B| = bit_count(a&b) is computable on the join output,
        // and the pre-verify pair-dedup shuffle plus BOTH payload
        // join-backs plus the per-pair merge-walk disappear — only
        // threshold-PASSING pairs reach the one remaining dedup. This is
        // what makes the lang-only-blocked cross-source graph build
        // tractable on a degenerate dense corpus, where candidate volume
        // is ∝ the (quadratic) true-pair count and the verify machinery
        // was ~2× the total cost (measured: SCALE.md round-12 entry).
        prefixCandidates(tok.d, blockCols, threshold, commonVocab,
            hotBucketCap, Some(tok.ranks), mask, tok.parts)
          .dropDuplicates("a_id", "b_id")
      case None =>
        verified(prefixCandidates(tok.d, blockCols, threshold, commonVocab,
          hotBucketCap, Some(tok.ranks), None, tok.parts), tok, "jaccard",
          JaccardOfInter, threshold)
    }
  }

  /** INCREMENTAL Jaccard near-dup pairs — the day-over-day shape of
    * [[prefixJaccardPairs]]: every Jaccard ≥ t pair involving ≥ 1 batch
    * document, canonical (a_id < b_id), without regenerating the
    * old×old candidate volume. The SYMMETRIC prefix filter needs only
    * ONE probe relation: a qualifying pair shares a token inside BOTH
    * prefixes (the prefix lemma), so batch prefixes × (standing ∪
    * batch) prefixes reaches every batch-touching pair — old×new with
    * the batch doc as probe, new×new with either as probe. Canonical
    * order comes from least/greatest (the probe side is not id-ordered
    * against the index side); ranks are computed over the union, one
    * shared canonical token order (a standing rank table works at
    * scale). The verify joins token arrays back from the union frame,
    * exactly like the full pass.
    */
  def prefixJaccardPairsIncremental(batch: DataFrame, existing: DataFrame,
                                    blockCols: Seq[String], threshold: Double,
                                    textCol: String = "text", idCol: String = "doc_id",
                                    commonVocab: Int = 10000,
                                    hotBucketCap: Int = 100000): DataFrame = {
    val tok = tokenized(tagBatch(batch, existing), blockCols, textCol, idCol,
      commonVocab, Seq("__batch"))
    val dNew = tok.d.filter(col("__batch")).drop("__batch")
    val dAll = tok.d.drop("__batch")
    exactMaskFromRanks(tok.ranks, commonVocab) match {
      case mask @ Some(_) =>
        // bounded-dictionary fast path — see prefixJaccardPairs; one
        // shared rank map over the union keeps the mask bijective for
        // both sides
        prefixCandidatesAB(dNew, dAll, tok.ranks, blockCols, threshold,
            hotBucketCap, mask, tok.parts)
          .dropDuplicates("a_id", "b_id")
      case None =>
        verified(prefixCandidatesAB(dNew, dAll, tok.ranks, blockCols, threshold,
          hotBucketCap, None, tok.parts), tok, "jaccard", JaccardOfInter,
          threshold)
    }
  }

  /** Two-sided prefix-candidate core for [[prefixJaccardPairsIncremental]]:
    * probe-side prefixes (dA) × index-side prefixes (dB), canonical
    * (least, greatest) distinct pairs. Hot buckets are metered by the
    * a×b PRODUCT (the honest join cost for asymmetric sides — the
    * containment treatment) and grid-salted
    * ([[graft.ops.Skew.gridJoin]]); all PPJoin filters (length,
    * positional) are symmetric in (a, b) and apply unchanged.
    */
  private[text] def prefixCandidatesAB(dA: DataFrame, dB: DataFrame,
                                       ranks: Map[String, Int],
                                       blockCols: Seq[String],
                                       threshold: Double,
                                       hotBucketCap: Int,
                                       exactMask: Option[Column] = None,
                                       sizeParts: Int = 0): DataFrame = {
    // never broadcast a corpus-proportional exploded index (see
    // prefixCandidates); hot tokens are metered by the a×b product
    def prefixes(d: DataFrame, role: String): DataFrame =
      prefixIndex(d, blockCols, ranks, threshold, exactMask, role)
    val joined = Skew.gridJoin(prefixes(dA, "a").hint("SHUFFLE_HASH"),
      prefixes(dB, "b"), blockCols :+ "token", col("token"), hotBucketCap,
      Skew.PairProduct, sizeParts)
    val eps = 1e-9
    val alpha = ceil((lit(threshold) / (1 + threshold)) * (col("a_nw") + col("b_nw")) - eps)
    val filtered = joined
      .filter(col("a_id") =!= col("b_id"))
      .filter(col("a_nw") >= lit(threshold) * col("b_nw") - eps &&
        col("b_nw") >= lit(threshold) * col("a_nw") - eps)
      .filter(lit(1) + least(col("a_nw") - col("a_pos") - 1,
        col("b_nw") - col("b_pos") - 1) >= alpha)
    exactMask match {
      case Some(_) =>
        // jaccard is orientation-symmetric, so scoring happens before the
        // (least, greatest) canonicalization — see prefixCandidates
        val inter = bit_count(col("a_sig").bitwiseAND(col("b_sig")))
        filtered
          .select(least(col("a_id"), col("b_id")).as("a_id"),
            greatest(col("a_id"), col("b_id")).as("b_id"),
            (inter / (col("a_nw") + col("b_nw") - inter)).as("jaccard"))
          .filter(col("jaccard") >= threshold)
      case None =>
        filtered
          .select(least(col("a_id"), col("b_id")).as("a_id"),
            greatest(col("a_id"), col("b_id")).as("b_id"))
          .dropDuplicates("a_id", "b_id")
    }
  }

  /** SPILL-AWARE partition count for the hinted shuffled-hash joins of
    * the AllPairs pipelines — [[graft.ops.ExchangeSizing]] with this
    * call site's row shape: a token-index row is (8 B id + short token
    * string + shuffle-row overhead) ≈ 150 B. Every caller now passes
    * `sum(nw)` over the checkpointed tokenized frame — the EXACT
    * exploded inverted-index volume (one row per distinct token per
    * doc), which is also what the largest build side of the candidate
    * join holds — so the estimate is no longer deflated by a gate
    * slack (ADVICE r15: the old 2.0 slack was justified by the retired
    * tokenVolume input counting ALL token instances, a ≥ 2× over-count;
    * with the tight input it let the non-spilling build reach 2× task
    * capacity before forcing the exchange — the exact sf10 OOM regime
    * this gate exists for). All sf ≤ 1 volumes sit far under the gate
    * either way, so bench-scale plans are byte-identical.
    */
  private[text] def candJoinParts(spark: org.apache.spark.sql.SparkSession,
                                  tokenInstances: Long): Int =
    graft.ops.ExchangeSizing.shjBuildParts(spark, tokenInstances,
      bytesPerRow = 150)

  /** The canonical token order both AllPairs pipelines sort by: document
    * frequency ascending (rare first — rare prefix tokens minimize bucket
    * collisions), realized as a BOUNDED dictionary of the top
    * `commonVocab` tokens (most frequent = highest rank = sorted last);
    * the rare tail shares rank 0 with ties broken on the token string.
    * Any fixed total order preserves losslessness, so truncating the
    * dictionary only affects candidate volume among rare tokens — which
    * rarely collide anyway. The df aggregation map-side-combines to
    * vocabulary size; the driver holds ≤ commonVocab strings (the
    * IVF-centroid class of bounded collect).
    */
  private[text] def tokenRanks(d: DataFrame, commonVocab: Int): Map[String, Int] = {
    val top = d.select(explode(col("w")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("token")).limit(commonVocab).collect()
    top.iterator.zipWithIndex
      .map { case (r, i) => r.getString(0) -> (commonVocab - i) }.toMap
  }

  /** The AllPairs preamble's result: the checkpointed token frame `d`
    * `(id, blockCols…, w, [carry…,] nw)`, its canonical token ranks, the
    * spill-aware exchange size of the hinted SHJ joins (0 = default
    * layout) and the smallest token-set size (containment's αmin).
    */
  private[text] final case class Tokenized(d: DataFrame, ranks: Map[String, Int],
                                           parts: Int, minNw: Option[Int])

  /** The AllPairs preamble, written once: tokenize, checkpoint, rank and
    * size. Token sets are SORTED once per document so the verify can
    * merge-walk (SortedIntersectSize) instead of building an intersection
    * array per pair; PrefixTokens re-sorts by rank internally, so w's
    * stored order is free. The tokenize+sort stage is CPU-per-row, so a
    * row-group-starved scan is spread first (ScanSpread kernel floor;
    * 12 → 9 s Jaccard, 37 → 25 s containment at sf1). The rank probe,
    * the sizing probe, the hot census, the candidate join and both verify
    * join-backs all read the frame, and without the checkpoint each
    * re-ran the split/distinct/sort kernel over the corpus; at warehouse
    * scale it is the persisted tokenized table. One bounded probe serves
    * the sizing (sum(nw) is the exact exploded index volume) and αmin.
    */
  private[text] def tokenized(docs: DataFrame, blockCols: Seq[String],
                              textCol: String, idCol: String, commonVocab: Int,
                              carryCols: Seq[String] = Nil): Tokenized = {
    val din = graft.ops.ScanSpread.spread(docs.sparkSession, docs,
      graft.ops.ScanSpread.KernelFloor)
    val d = din.select((col(idCol).as("id") +: blockCols.map(col)) ++
        (array_sort(array_distinct(split(col(textCol), "\\s+"))).as("w") +:
          carryCols.map(col)): _*)
      .withColumn("nw", size(col("w")))
      .localCheckpoint()
    val ranks = tokenRanks(d, commonVocab)
    val sz = d.agg(sum(col("nw").cast("long")), min(col("nw"))).head()
    Tokenized(d, ranks,
      candJoinParts(docs.sparkSession,
        Option(sz.get(0)).map(_.asInstanceOf[Long]).getOrElse(0L)),
      Option(sz.get(1)).map(_.asInstanceOf[Int]))
  }

  /** Exact verify of IDs-only candidate pairs: both token sets join back
    * by id, `inter` = |A∩B| merge-walks the sorted sets, and pairs whose
    * `score` reaches `threshold` come out as `(a_id, b_id, name)`. The
    * payload sides MUST come back via a shuffle join on the id: they are
    * corpus-sized, and their parquet-bytes estimate is tiny (token arrays
    * compress ~1000:1 against their in-memory UnsafeRow form), so the
    * planner would otherwise pick a broadcast build — measured at 4.8 GiB
    * for 50k docs. SHUFFLE_HASH keeps the payload the per-partition build
    * side against the larger candidate stream, pre-partitioned on the id
    * above the volume gate so each build map fits.
    */
  private def verified(cand: DataFrame, tok: Tokenized, name: String,
                       score: Column, threshold: Double): DataFrame = {
    def side(role: String): DataFrame = {
      val s = tok.d.select(col("id").as(s"${role}_id"), col("w").as(s"${role}_w"),
        col("nw").as(s"${role}_nw"))
      (if (tok.parts > 0) s.repartition(tok.parts, col(s"${role}_id")) else s)
        .hint("SHUFFLE_HASH")
    }
    cand.join(side("a"), "a_id").join(side("b"), "b_id")
      .withColumn("inter",
        HashExpressions.sortedIntersectSize(col("a_w"), col("b_w")))
      .select(col("a_id"), col("b_id"), score.as(name))
      .filter(col(name) >= threshold)
  }

  /** [[verified]] scores over its `inter` / `a_nw` / `b_nw` columns. */
  private val JaccardOfInter =
    col("inter") / (col("a_nw") + col("b_nw") - col("inter"))
  private val ContainmentOfInter = col("inter") / col("a_nw")

  /** A batch and the standing corpus as ONE frame, `__batch` flagging
    * each side: the incremental pipelines run one kernel pass and one
    * checkpoint over it instead of one per side (the two eager per-side
    * checkpoints ran sequentially), and since the sides are disjoint the
    * flag recovers each exactly. At warehouse scale the standing side is
    * a persisted table and the checkpoint its in-session stand-in.
    */
  private[text] def tagBatch(batch: DataFrame, existing: DataFrame): DataFrame =
    batch.withColumn("__batch", lit(true))
      .unionByName(existing.withColumn("__batch", lit(false)))

  /** The prefix index of a tokenized frame `(id, blockCols…, w, nw)`:
    * one row per token of each document's canonical `threshold` prefix,
    * renamed `(role_id, blockCols…, role_nw, [role_sig,] role_pos,
    * token)`. posexplode: the index within the prefix array equals the
    * token's position in the full canonical sort — PPJoin's positional
    * filter needs it. `sig` (an 8-byte token bitset) rides every row when
    * given.
    */
  private def prefixIndex(d: DataFrame, blockCols: Seq[String],
                          ranks: Map[String, Int], threshold: Double,
                          sig: Option[Column], role: String): DataFrame = {
    val sigCols = sig.map(_ => "sig").toSeq
    sig.fold(d)(d.withColumn("sig", _))
      .select((col("id") +: blockCols.map(col)) ++ ("nw" +: sigCols).map(col) :+
        posexplode(HashExpressions.prefixTokens(col("w"), ranks, threshold)): _*)
      .withColumnRenamed("col", "token")
      .toDF(s"${role}_id" +: blockCols ++: s"${role}_nw" +:
        sigCols.map(c => s"${role}_$c") ++: Seq(s"${role}_pos", "token"): _*)
  }

  /** Candidate (a_id, b_id) generation for [[prefixJaccardPairs]] —
    * exposed for candidate-volume measurement. `d` must carry
    * (id, blockCols…, w: array<string> distinct tokens, nw: size).
    *
    * Hot-bucket safety: one degenerate token shared by N documents makes
    * an N² bucket — at 100 TB a single such token would pin the whole
    * join on one task. Buckets whose prefix-occurrence count exceeds
    * `hotBucketCap` go through the lossless grid-salted self-join
    * ([[graft.ops.Skew.gridJoin]]): identical pair set, spread over G²
    * tasks.
    */
  private[text] def prefixCandidates(d: DataFrame, blockCols: Seq[String],
                                     threshold: Double, commonVocab: Int,
                                     hotBucketCap: Int,
                                     ranksOpt: Option[Map[String, Int]] = None,
                                     exactMask: Option[Column] = None,
                                     sizeParts: Int = 0): DataFrame = {
    val ranks = ranksOpt.getOrElse(tokenRanks(d, commonVocab))
    // Under `exactMask` (≤64-token bounded dictionary, see
    // containmentCandidatesAB) each index row carries the collision-free
    // 8-byte token bitset, |A∩B| is exact on the join output, and the
    // output is the SCORED threshold-passing pre-dedup stream
    // (a_id, b_id, jaccard) — no verify join-back. Without it: the
    // distinct (a_id, b_id) pair set, as before.
    // Both sides are corpus-proportional exploded indexes whose byte
    // estimate descends from one compact parquet scan — never let the
    // planner broadcast one (see containmentCandidatesAB, where the same
    // mis-estimate built a 4.8 GiB relation at sf1). Above the volume
    // gate the join inputs are pre-partitioned on the join keys so each
    // shuffled-hash build map fits (candJoinParts — SHJ does not spill).
    // Hot tokens are few by construction (prefixes prefer RARE tokens).
    def prefixes(role: String): DataFrame =
      prefixIndex(d, blockCols, ranks, threshold, exactMask, role)
    val joined = Skew.gridJoin(prefixes("a").hint("SHUFFLE_HASH"),
      prefixes("b"), blockCols :+ "token", col("token"), hotBucketCap,
      Skew.Occurrences, sizeParts)
    // Candidate pruning, both lossless (PPJoin, Xiao et al. WWW'08):
    //  - length filter: Jaccard ≤ min/max, so J ≥ t forces
    //    t·|B| ≤ |A| ≤ |B|/t;
    //  - positional filter: J ≥ t forces |A∩B| ≥ t(|A|+|B|)/(1+t), and for
    //    the FIRST common token (positions p in the canonical sort) the
    //    overlap is at most 1 + min(|A|−p_a−1, |B|−p_b−1) — a true pair
    //    always passes at its first common token, which the prefix lemma
    //    puts inside both prefixes.
    // The 1e-9 slack loosens the FP products/ceil only ever toward keeping.
    val eps = 1e-9
    val alpha = ceil((lit(threshold) / (1 + threshold)) * (col("a_nw") + col("b_nw")) - eps)
    val filtered = joined
      .filter(col("a_id") < col("b_id"))
      .filter(col("a_nw") >= lit(threshold) * col("b_nw") - eps &&
        col("b_nw") >= lit(threshold) * col("a_nw") - eps)
      .filter(lit(1) + least(col("a_nw") - col("a_pos") - 1,
        col("b_nw") - col("b_pos") - 1) >= alpha)
    exactMask match {
      case Some(_) =>
        // |A∩B| exact on the join row (collision-free bitsets); the
        // jaccard arithmetic is identical to the verify kernel's
        // (int intersect / int union), so values hash-match the oracle
        val inter = bit_count(col("a_sig").bitwiseAND(col("b_sig")))
        filtered
          .select(col("a_id"), col("b_id"),
            (inter / (col("a_nw") + col("b_nw") - inter)).as("jaccard"))
          .filter(col("jaccard") >= threshold)
      case None =>
        filtered.select("a_id", "b_id").dropDuplicates("a_id", "b_id")
    }
  }

  /** Word w-grams as strings (space-joined runs; short texts yield their
    * single sub-`w` gram) — the decontamination overlap unit. Native
    * kernel (one loop per row; the composed `transform(sequence, slice,
    * array_join)` form walks an interpreted tree per gram). DedupSpec
    * pins kernel ≡ composed.
    */
  private[text] def gramStrings(text: Column, w: Int): Column =
    graft.functions.TextExpressions.wordNgrams(split(text, "\\s+"), w, emitShort = true)

  /** The composed-HOF formulation of [[gramStrings]] — equivalence
    * reference only.
    */
  private[text] def gramStringsComposed(text: Column, w: Int): Column = {
    val toks = split(text, "\\s+")
    transform(sequence(lit(0), greatest(size(toks) - w, lit(0))),
      i => array_join(slice(toks, i + 1, lit(w)), " "))
  }

  /** Benchmark decontamination: drop every document sharing at least one
    * `w`-gram with the benchmark corpus — the test-set-overlap removal
    * step of a training-data pipeline (exact n-gram overlap, the standard
    * first-line decontamination check).
    *
    * Scale shape: the benchmark side is small by nature (eval sets), so
    * its distinct gram set is broadcast; the corpus explodes (id, gram)
    * pairs, the contaminated-id set comes from a broadcast join carrying
    * IDs only, and the final pass is a left-anti join on id — document
    * text never shuffles.
    */
  def decontaminate(docs: DataFrame, benchmark: DataFrame, w: Int = 3,
                    textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val corpusGrams = docs.select(col(idCol).as("__contaminated_id"),
      explode(gramStrings(col(textCol), w)).as("g"))
    val benchGrams = benchmark
      .select(explode(gramStrings(col(textCol), w)).as("g")).distinct()
    val contaminated = corpusGrams.join(broadcast(benchGrams), "g")
      .select(col("__contaminated_id")).distinct()
    docs.join(contaminated, col(idCol) === col("__contaminated_id"), "left_anti")
  }

  /** Graded counterpart of [[decontaminate]]: per document, the number
    * of DISTINCT w-grams, how many of them appear in the benchmark, and
    * the overlap fraction — the contamination REPORT (threshold-tunable,
    * auditable) where the filter is the 0%-tolerance special case. Same
    * scale shape: broadcast benchmark gram set, per-doc counts from a
    * left join carrying (id, gram-hit) only; the int/int ratio divides
    * exactly in both engines.
    */
  def contaminationScore(docs: DataFrame, benchmark: DataFrame, w: Int = 3,
                         textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val corpusGrams = docs.select(col(idCol),
        explode(array_distinct(gramStrings(col(textCol), w))).as("g"))
    val benchGrams = benchmark
      .select(explode(gramStrings(col(textCol), w)).as("g")).distinct()
      .withColumn("hit", lit(1L))
    corpusGrams.join(broadcast(benchGrams), Seq("g"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .select(col(idCol), col("n_grams"), col("n_hit"),
        (col("n_hit") / col("n_grams")).as("contamination"))
  }

  /** LEAKAGE-PROOF corpus split: train/val/test assignment that is
    * coherent by NEAR-DUP GROUP, not by document — the eval-integrity
    * op naive per-doc hash splits get wrong (a near-duplicate of a
    * training document landing in the test split inflates every metric
    * it touches). The whole transitive group draws ONE deterministic
    * md5 bucket from its group id (the [[graft.text.Text.hashModBucket]]
    * idiom — engine-independent, reproducible across snapshots as long
    * as group ids are stable), so no qualifying pair can ever cross a
    * split boundary BY CONSTRUCTION; singleton documents are their own
    * group and split like a plain hash split. `buckets` partitions as
    * [0, train) → train, [train, train+val) → val, rest → test.
    */
  def leakProofSplit(docs: DataFrame, pairs: DataFrame,
                     trainBuckets: Int = 8, valBuckets: Int = 1,
                     buckets: Int = 10,
                     idCol: String = "doc_id"): DataFrame = {
    require(trainBuckets + valBuckets < buckets,
      "need at least one test bucket")
    dupGroups(docs, pairs, idCol)
      .withColumn("bucket", Text.hashModBucket(col("group_id"), buckets))
      .withColumn("split",
        when(col("bucket") < trainBuckets, "train")
          .when(col("bucket") < trainBuckets + valBuckets, "val")
          .otherwise("test"))
      .select(col(idCol), col("group_id"), col("split"))
  }

  /** Transitive duplicate groups: connected components over a near-dup
    * pair graph, each document labeled with the smallest id in its
    * component (the canonical survivor real dedup pipelines keep —
    * pairwise near-dup is not transitive, so clustering must close over
    * the pair relation, or A≈B≈C keeps both A and C).
    *
    * One exact union-find pass, whatever the component diameter: each
    * partition of the edge list folds into a [[MinUnionFind]], the
    * partitions merge through `treeAggregate` (one Spark job), and the
    * driver flattens the result to one (id, label) row per frontier
    * vertex. Only vertices that HAVE edges carry a label; every other
    * document is its own group through the final left join. Pairs with a
    * NULL id connect nothing (an equi-join never matches NULL).
    *
    * The labels join back as a broadcast local frame, so the driver holds
    * one map entry per frontier vertex (~500 k at sf10, tens of MB).
    * Above the broadcast budget, priced as a hash relation of 16-byte
    * rows ([[graft.ops.ExchangeSizing.hashedRelationBytes]]), it fails
    * with the vertex count.
    */
  def dupGroups(docs: DataFrame, pairs: DataFrame,
                idCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val labels = pairs
      .where(col("a_id").isNotNull && col("b_id").isNotNull)
      .select(col("a_id").cast("long"), col("b_id").cast("long"))
      .rdd.treeAggregate(new MinUnionFind)(
        (uf, r) => uf.union(r.getLong(0), r.getLong(1)), _ merge _)
      .labels
    val budget = graft.ops.ExchangeSizing.broadcastBudgetBytes(spark)
    if (graft.ops.ExchangeSizing.hashedRelationBytes(labels.length, 16) > budget)
      throw new IllegalStateException(s"dupGroups: ${labels.length} " +
        s"labelled vertices exceed the $budget-byte broadcast budget")
    val idType = docs.schema(idCol).dataType
    val byId = broadcast(labels.toSeq.toDF("id", "label")
      .select(col("id").cast(idType).as("id"),
        col("label").cast(idType).as("label")))
    docs.select(col(idCol))
      .join(byId, docs(idCol) === byId("id"), "left")
      .select(col(idCol), coalesce(col("label"), col(idCol)).as("group_id"))
  }

  /** Union-find whose every root is the minimum id of its set: a union
    * hangs the larger root under the smaller, so `find` returns the
    * component's min label. Path halving keeps finds near-constant.
    */
  private final class MinUnionFind extends Serializable {
    private val parent = scala.collection.mutable.LongMap.empty[Long]

    private def find(v: Long): Long = {
      var x = v
      var p = parent.getOrElseUpdate(x, x)
      while (p != x) {
        val up = parent(p)
        parent(x) = up
        x = up
        p = parent(x)
      }
      x
    }

    def union(a: Long, b: Long): MinUnionFind = {
      val ra = find(a)
      val rb = find(b)
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      this
    }

    /** Folds `o` in: its sets are exactly the closure of its parent links. */
    def merge(o: MinUnionFind): MinUnionFind = {
      o.parent.foreachEntry((v, p) => union(v, p))
      this
    }

    /** (vertex, min id of its component) for every vertex seen. */
    def labels: Array[(Long, Long)] =
      parent.keysIterator.toArray.map(v => (v, find(v)))
  }

  /** Quality-aware survivor selection over [[dupGroups]] output: per
    * group, the canonical member is the one with the highest `score`
    * (ties broken to the smaller id). Production dedup keeps the BEST
    * group member, not the min-id one — min-id is only the label choice
    * of the CC algorithm. Returns (idCol, group_id, survivor_id): the
    * full provenance map a downstream pipeline joins to re-point
    * references at canonical documents.
    *
    * One window argmax partitioned by group: near-dup groups are bounded
    * fan-in clusters (the pair threshold caps how dissimilar members can
    * be), so the group partitioning has no skew hazard, and the shuffle
    * carries (id, group, score) only — scores must be computed BEFORE
    * this join so payloads never ride it.
    */
  def qualitySurvivors(groups: DataFrame, scores: DataFrame,
                       idCol: String = "doc_id"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("group_id"))
      .orderBy(col("score").desc, col(idCol).asc)
    groups.join(scores, Seq(idCol))
      .withColumn("survivor_id", first(col(idCol)).over(w))
      .select(col(idCol), col("group_id"), col("survivor_id"))
  }

  /** Asymmetric CONTAINMENT pairs: directed (a, b) with
    * |A∩B| / |A| ≥ threshold — "document A's token set is (nearly) inside
    * document B's". The near-dup relation Jaccard can't express: a short
    * doc quoted wholesale by a long one has high containment but low
    * Jaccard (the length filter of the symmetric join would prune the
    * pair outright). The pretraining-curation use is quote/boilerplate
    * provenance and subset-document removal (keep the superset, drop the
    * contained fragment).
    *
    * Same AllPairs machinery as [[prefixJaccardPairs]], adapted to the
    * asymmetric overlap bound α = ⌈t·|A|⌉ (depends only on A):
    *  - the CONTAINED side keeps its canonical prefix — the Jaccard
    *    prefix length |A| − ⌊t·|A|⌋ + 1 is ≥ the containment-tight
    *    |A| − α + 1, so reusing [[HashExpressions.prefixTokens]] stays
    *    lossless;
    *  - the CONTAINER side has NO length upper bound (any |B| ≥ α can
    *    contain A), so no prefix can be taken: B contributes its FULL
    *    canonically-ordered token list — the classic probe-prefix ×
    *    inverted-index shape of set-containment joins;
    *  - length filter: |B| ≥ α; positional filter: at the first shared
    *    token, 1 + min(|A|−p_a−1, |B|−p_b−1) ≥ α (a true pair always
    *    passes at its first common token, which the prefix lemma places
    *    inside A's prefix; B's full list always holds it).
    *
    * The B-side full-token index is frequency-skewed by construction, so
    * hot buckets are measured by their a×b PRODUCT (the join cost) and
    * grid-salted by the same [[graft.ops.Skew.gridJoin]] as the
    * symmetric pipelines — pair (x,y) meets in one (g_x, g_y) cell,
    * spread over G² tasks, lossless.
    */
  def containmentPairs(docs: DataFrame, blockCols: Seq[String], threshold: Double,
                       textCol: String = "text", idCol: String = "doc_id",
                       commonVocab: Int = 10000,
                       hotBucketCap: Int = 100000): DataFrame = {
    val (scored, exact) = containmentScored(docs, blockCols, threshold,
      textCol, idCol, commonVocab, hotBucketCap)
    // the exact-mask path emits pre-dedup scored candidates (a pair
    // surfaces once per surviving shared token); the pair RELATION
    // dedups here — containment is functionally dependent on the pair,
    // so any surviving row carries the right score
    if (exact) scored.dropDuplicates("a_id", "b_id") else scored
  }

  /** Shared scoring core of [[containmentPairs]] / [[containmentTopK]]:
    * (scored frame `(a_id, b_id, containment)` already
    * threshold-filtered, exact-mask flag).
    *
    * BOUNDED-DICTIONARY FAST PATH (the Roaring-bitmap idea at its
    * degenerate best): when the whole corpus speaks ≤ 64 distinct
    * tokens — tag sets, category sets, tiny controlled vocabularies —
    * a document's token SET is one Long (bit r = vocab rank r present)
    * and set intersection is `bit_count(a & b)`. Since round 10 the
    * exact mask rides the CANDIDATE JOIN ITSELF as the 8-byte
    * signature (replacing the lossy 64-bit bloom, which it subsumes:
    * with ≤ 64 ranks the "bloom" is collision-free), so containment is
    * computable directly on the join output and BOTH verify join-backs
    * disappear — the old shape shipped the 16M-row sf1 candidate
    * stream through a dedup shuffle plus two SHUFFLE_HASH joins just
    * to reach the masks it already carried. Values are unchanged: the
    * rank map is a bijection and |A∩B| is bijection-invariant, so the
    * oracle needs no change. Gate: ONE bounded job — distinct tokens
    * capped at 65 rows (map-side partial dedup collapses each
    * partition to vocabulary size first); 65 rows back means the
    * vocabulary is too big and the general path runs. The
    * bounded-collect class either way.
    */
  private[text] def containmentScored(docs: DataFrame, blockCols: Seq[String],
                                      threshold: Double, textCol: String,
                                      idCol: String, commonVocab: Int,
                                      hotBucketCap: Int): (DataFrame, Boolean) = {
    val tok = tokenized(docs, blockCols, textCol, idCol, commonVocab)
    exactMaskFromRanks(tok.ranks, commonVocab) match {
      case mask @ Some(_) =>
        val scored = containmentCandidatesAB(tok.d, tok.d, tok.ranks, blockCols,
            threshold, hotBucketCap, mask, tok.parts, tok.minNw)
          .filter(col("containment") >= threshold)
        (scored, true)
      case None =>
        val cand = containmentCandidatesAB(tok.d, tok.d, tok.ranks, blockCols,
          threshold, hotBucketCap, None, tok.parts, tok.minNw)
        (verified(cand, tok, "containment", ContainmentOfInter, threshold), false)
    }
  }

  /** Per-document top-k containers: for each contained doc A, the k
    * containers B with the highest containment |A∩B|/|A| ≥ threshold
    * (ties broken by ascending b_id — total order, so the result is
    * engine-replayable). The provenance question curation actually asks
    * — "WHICH document swallowed this one" — with output bounded at
    * n·k instead of the full pair relation (the degenerate
    * small-vocabulary fixture emits 10.8M true pairs at sf1; any exact
    * engine pays that output tax, this surface doesn't). Same candidate
    * machinery as [[containmentPairs]]; the ranking is consumed
    * map-side by the bounded
    * [[graft.sim.Similarity.TopKByScore]] accumulator, so the one
    * extra shuffle carries at most n·k (score, id) entries — never a
    * window-rank stream of every qualifying pair.
    */
  def containmentTopK(docs: DataFrame, blockCols: Seq[String], threshold: Double,
                      k: Int, textCol: String = "text", idCol: String = "doc_id",
                      commonVocab: Int = 10000,
                      hotBucketCap: Int = 100000): DataFrame = {
    val topk = udaf(new graft.sim.Similarity.TopKByScore(k))
    // On the exact-mask path the scored stream is PRE-dedup (a pair
    // recurs once per surviving shared token, always with the same
    // score) and flows straight into the accumulator — TopKByScore
    // dedups identical (score, id) entries, so skipping the global
    // pair-dedup shuffle is lossless and the per-a_id ranking is the
    // only wide stage after the candidate join.
    val (scored, _) = containmentScored(docs, blockCols, threshold,
      textCol, idCol, commonVocab, hotBucketCap)
    scored
      .groupBy(col("a_id"))
      .agg(topk(col("containment"), col("b_id")).as("top"))
      .select(col("a_id"), posexplode(col("top")))
      .select(col("a_id"), col("col._2").as("b_id"),
        col("col._1").as("containment"),
        (col("pos") + 1).cast("int").as("rnk"))
  }

  /** INCREMENTAL directed containment — the day-over-day shape of
    * [[containmentPairs]] (the `minhashPairsMd5Incremental` idiom
    * applied to the asymmetric join): emit every containment pair
    * involving ≥ 1 batch document without ever regenerating the
    * old×old candidate volume previous runs already resolved. Two
    * disjoint probe relations through the two-sided candidate core:
    *
    *  1. batch prefixes × (standing ∪ batch) full index — pairs whose
    *     CONTAINED side is new (containers anywhere, including the
    *     batch itself, so new×new needs no third relation);
    *  2. standing prefixes × batch full index — pairs whose contained
    *     side is old and whose CONTAINER arrived in the batch.
    *
    * The relations are disjoint on `a_id` (batch vs standing), so the
    * union needs no cross-relation dedup — only the usual per-pair
    * one. Token ranks and the bounded-vocabulary gate are computed
    * over the UNION (one shared canonical order — the prefix lemma's
    * requirement; a standing rank table works at scale, since any
    * consistent order is lossless). At warehouse scale relation 1 is
    * an index lookup against the persisted token index and relation 2
    * touches |standing prefixes| × |batch| buckets — both
    * batch-proportional, never corpus².
    */
  def containmentPairsIncremental(batch: DataFrame, existing: DataFrame,
                                  blockCols: Seq[String], threshold: Double,
                                  textCol: String = "text", idCol: String = "doc_id",
                                  commonVocab: Int = 10000,
                                  hotBucketCap: Int = 100000): DataFrame = {
    // the tokenized union is checkpointed once: the pipeline runs 6
    // bounded driver probes (ranks, vocab gate, 2× αmin, 2× hot buckets)
    // plus two candidate joins, and without materialization each re-ran
    // the split/distinct/sort kernel — measured at sf1 this made the
    // incremental probe cost as much as the full pair query
    val tok = tokenized(tagBatch(batch, existing), blockCols, textCol, idCol,
      commonVocab, Seq("__batch"))
    val dAll = tok.d.drop("__batch")
    val dNew = tok.d.filter(col("__batch")).drop("__batch")
    val dOld = tok.d.filter(!col("__batch")).drop("__batch")
    val maskOpt = exactMaskFromRanks(tok.ranks, commonVocab)
    val cand = containmentCandidatesAB(dNew, dAll, tok.ranks, blockCols, threshold,
        hotBucketCap, maskOpt, tok.parts)
      .unionByName(containmentCandidatesAB(dOld, dNew, tok.ranks, blockCols,
        threshold, hotBucketCap, maskOpt, tok.parts))
    if (maskOpt.isDefined)
      cand.filter(col("containment") >= threshold).dropDuplicates("a_id", "b_id")
    else verified(cand, tok, "containment", ContainmentOfInter, threshold)
  }

  /** The bounded-dictionary exact-mask expression, derived from an
    * ALREADY-collected rank dictionary — no extra corpus job: `ranks`
    * holds the COMPLETE vocabulary exactly when it was not truncated at
    * `commonVocab` (strictly fewer entries than the cap), so the ≤64
    * gate and the bijective token→bit map both fall out of the one
    * frequency aggregation every prefix pipeline already runs.
    */
  private def exactMaskFromRanks(ranks: Map[String, Int],
                                 commonVocab: Int): Option[Column] =
    if (ranks.size <= 64 && ranks.size < commonVocab) {
      val vocab = ranks.keys.toArray.sorted
      val mapLit = vocab.zipWithIndex
        .map { case (t, i) => s"'${t.replace("'", "''")}', $i" }
        .mkString("map(", ", ", ")")
      Some(expr(s"aggregate(transform(w, t -> " +
        s"shiftleft(CAST(1 AS BIGINT), element_at($mapLit, t))), " +
        "CAST(0 AS BIGINT), (acc, b) -> acc | b)"))
    } else None

  /** Two-sided candidate core: CONTAINED side `dA` (canonical prefixes
    * probe), CONTAINER side `dB` (full positionally-truncated token
    * index). The self case `dA = dB` is [[containmentPairs]] (and
    * PairStats' candidate-volume measurement); the incremental case
    * probes a batch against the standing corpus (and vice versa) without
    * ever regenerating old×old candidates. `ranks` must be ONE shared
    * frequency order for both sides — the prefix lemma relates A's
    * prefix positions to B's index positions through the same canonical
    * token order. With `exactMask` (the ≤64-token bounded-dictionary
    * regime) the signature carried on every index row IS the exact
    * vocab-rank bitset, the bloom witness bound becomes the exact
    * threshold test, and the output is the SCORED pre-dedup stream
    * `(a_id, b_id, containment)` — no verify join-back needed. Without
    * it: the distinct `(a_id, b_id)` pair set.
    */
  private[text] def containmentCandidatesAB(dA: DataFrame, dB: DataFrame,
                                            ranks: Map[String, Int],
                                            blockCols: Seq[String],
                                            threshold: Double,
                                            hotBucketCap: Int,
                                            exactMask: Option[Column],
                                            sizeParts: Int = 0,
                                            minNwOpt: Option[Int] = None): DataFrame = {
    // 64-bit token BLOOM per document, carried on every index row (8
    // bytes): a bit set in a_sig & ~b_sig witnesses ≥1 distinct A-token
    // absent from B, so bit_count(a_sig & ~b_sig) ≤ |A| − α is a
    // LOSSLESS pairwise prune (distinct missing tokens can share a bit,
    // so the witness count only undercounts; a qualifying pair — at
    // most |A| − α missing — always passes). Applied INSIDE the
    // candidate join it kills one-shared-rare-token coincidences before
    // the pair-dedup shuffle and the payload verify: the single shared
    // prefix token is weak evidence at high thresholds, which is where
    // the measured 354-candidates-per-result Zipf blowup came from.
    // Under `exactMask` the same 8 bytes are collision-FREE (bit ↔ vocab
    // rank), so the witness count is the exact missing-token count.
    val sigExpr = exactMask.getOrElse(expr(
      "aggregate(w, 0L, (acc, t) -> acc | shiftleft(1L, cast(pmod(xxhash64(t), 64) as int)))"))
    val aPref = prefixIndex(dA, blockCols, ranks, threshold, Some(sigExpr), "a")
    // Container-side index in canonical order, POSITIONALLY TRUNCATED:
    // any qualifying pair (A, B) produces a join row at the FIRST common
    // token (canonical order), which sits at B-position p_b with all α
    // common tokens at positions ≥ p_b — so p_b ≤ |B| − α. Since
    // α = ⌈t·|A|⌉ ≥ ⌈t·min|A|⌉ =: αmin for EVERY probe, index entries at
    // positions > |B| − αmin can never be a surviving pair's first
    // common token, and dropping them is lossless (the pair still meets
    // at p_b). The dropped tail is each document's MOST FREQUENT tokens
    // (canonical order is rare-first), i.e. exactly the Zipf-head
    // entries whose probe×index products caused the measured
    // 354-candidates-per-result blowup; αmin is a 1-row aggregate.
    // α depends on |A| alone, so αmin comes from the PROBE side.
    val minNw = minNwOpt.getOrElse(Option(dA.agg(min(col("nw"))).head().get(0))
      .map(_.asInstanceOf[Int]).getOrElse(0))
    val eps0 = 1e-9
    val alphaMin = math.ceil(threshold * minNw - eps0).toInt
    val bAll = prefixIndex(dB, blockCols, ranks, 1e-9, Some(sigExpr), "b")
      .filter(col("b_pos") <= col("b_nw") - alphaMin)
    // The b side is the corpus's FULL exploded token index — its
    // byte-size estimate descends from one compact parquet scan, so the
    // planner would broadcast it (measured 4.8 GiB built at sf1, growing
    // with the corpus). Force the shuffle join, building from the
    // smaller prefix index. Hot tokens are metered by JOIN COST (a×b per
    // token): the b side indexes every token, so frequent tokens are hot
    // by construction, but their a-side prefix occurrences are few.
    val joined = Skew.gridJoin(aPref.hint("SHUFFLE_HASH"), bAll,
      blockCols :+ "token", col("token"), hotBucketCap, Skew.PairProduct,
      sizeParts)
    val eps = 1e-9
    val alpha = ceil(lit(threshold) * col("a_nw") - eps)
    val filtered = joined
      .filter(col("a_id") =!= col("b_id"))
      .filter(col("b_nw") >= alpha)
      .filter(lit(1) + least(col("a_nw") - col("a_pos") - 1,
        col("b_nw") - col("b_pos") - 1) >= alpha)
      // bloom witness bound (see dS): missing-token witnesses ≤ |A| − α
      // (exact under exactMask: ⟺ |A∩B| ≥ α ⟺ containment ≥ t)
      .filter(bit_count(col("a_sig").bitwiseAND(bitwise_not(col("b_sig")))) <=
        col("a_nw") - alpha)
    exactMask match {
      case Some(_) =>
        filtered.select(col("a_id"), col("b_id"),
          (bit_count(col("a_sig").bitwiseAND(col("b_sig"))) / col("a_nw"))
            .as("containment"))
      case None =>
        filtered.select("a_id", "b_id").dropDuplicates("a_id", "b_id")
    }
  }

  /** Exact containment within a blocking key — the quadratic verification
    * kernel for [[containmentPairs]] (DedupSpec pins set-equality).
    */
  def containmentPairsQuadratic(docs: DataFrame, blockCols: Seq[String], threshold: Double,
                                textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val d = docs.select(
      (col(idCol).as("id") +: blockCols.map(col)) :+
        array_distinct(split(col(textCol), "\\s+")).as("w"): _*)
      .withColumn("nw", size(col("w")))
    val a = d.toDF("a_id" +: blockCols :+ "a_w" :+ "a_nw": _*)
    val b = d.toDF("b_id" +: blockCols :+ "b_w" :+ "b_nw": _*)
    a.join(b, blockCols)
      .filter(col("a_id") =!= col("b_id"))
      .withColumn("inter", size(array_intersect(col("a_w"), col("b_w"))))
      .select(col("a_id"), col("b_id"),
        (col("inter") / col("a_nw")).as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** Exact word-set Jaccard within a blocking key — the verification
    * kernel, also usable standalone when a natural blocking key exists.
    *
    * Set sizes are computed once per document (O(n)), and the
    * intersection once per pair, materialized as a column before the
    * Jaccard arithmetic — referencing the intersect expression twice
    * would evaluate it twice per pair (no CSE across a projection).
    */
  def jaccardPairs(docs: DataFrame, blockCols: Seq[String], threshold: Double,
                   textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val d = docs.select(
      (col(idCol).as("id") +: blockCols.map(col)) :+
        array_distinct(split(col(textCol), "\\s+")).as("w"): _*)
      .withColumn("nw", size(col("w")))
    val a = d.toDF("a_id" +: blockCols :+ "a_w" :+ "a_nw": _*)
    val b = d.toDF("b_id" +: blockCols :+ "b_w" :+ "b_nw": _*)
    a.join(b, blockCols)
      .filter(col("a_id") < col("b_id"))
      .withColumn("inter", size(array_intersect(col("a_w"), col("b_w"))))
      .select(col("a_id"), col("b_id"),
        (col("inter") / (col("a_nw") + col("b_nw") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Sub-document span dedup — the C4/RefinedWeb pass that whole-document
    * dedup can't express: a boilerplate paragraph repeated across
    * thousands of otherwise-distinct pages survives every document-level
    * pipeline above. Splits each document into fixed `k`-token tumbling
    * blocks, keeps only the globally FIRST occurrence of every distinct
    * block — ordered by (doc_id, block_idx), which also removes repeats
    * within one document — and reassembles the survivors in original
    * order. Returns (doc_id, text_dedup, n_blocks, n_kept); a fully
    * swallowed document keeps its row with empty text so downstream
    * cardinality stays deterministic (dropping it is one `filter`).
    *
    * Scale shape, in three ID-only stages:
    *  1. blocks: scan-side explode to (md5(block), doc_id, block_idx) —
    *     block TEXT never enters an exchange;
    *  2. winners: groupBy(hash).min(struct(doc_id, block_idx)) — the
    *     map-side partial min collapses a boilerplate block repeated
    *     across a whole input split to one row before the shuffle, so a
    *     million-fold block costs no hot reduce cell (the reason this is
    *     an aggregate, NOT a partition-only window, which would sort the
    *     entire hot hash in one task);
    *  3. drops: blocks ⋈ winners on the hash (AQE splits residual skew),
    *     losers grouped into a per-document sorted drop-list. The final
    *     left join ships (doc_id, drop_idx) only — the duplicated
    *     SURPLUS, a few percent of blocks on real corpora — and the text
    *     is rebuilt scan-side from the original token array.
    */
  def spanDedup(docs: DataFrame, k: Int = 8, textCol: String = "text",
                idCol: String = "doc_id"): DataFrame = {
    require(k >= 1)
    // checkpoint the block-hash frame (round-16, the AllPairs idiom):
    // the winners aggregation and the drops join each held the full
    // md5-per-block kernel subtree — one kernel pass now feeds both.
    // The frame is (doc_id, block_idx, bh) — ids and hashes only, the
    // narrowest thing in the pipeline (text never enters an exchange)
    val (base, blocks0) = spanBlocks(docs, k, textCol, idCol)
    val blocks = blocks0.localCheckpoint()
    val winners = blocks.groupBy("bh")
      .agg(min(struct(col("doc_id"), col("block_idx"))).as("first"))
    val drops = blocks.join(winners, "bh")
      .filter(col("doc_id") =!= col("first.doc_id") ||
        col("block_idx") =!= col("first.block_idx"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("block_idx"))).as("drop_idx"))
    spanReassemble(base, drops, k)
  }

  /** Incremental form of [[spanDedup]] — C4 at INGEST: dedup a new
    * batch's spans against (a) the standing index of every block hash
    * already in the corpus and (b) the batch itself (first occurrence by
    * (doc_id, block_idx), as in the one-shot form). Same output schema as
    * [[spanDedup]]. The standing index contributes only its `bh` column
    * (at production scale the persisted block-hash table; its text is
    * never re-read), so the anti lookup is a hash-only join. Callers
    * advance the index with [[spanBlockIndex]] over the batch — ALL of a
    * batch's blocks become claimed, including ones the batch itself
    * dropped, which is what makes sequential ingestion equal the one-shot
    * pass over the concatenated corpus (spec-pinned).
    */
  def spanDedupIncremental(batch: DataFrame, existingIndex: DataFrame,
                           k: Int = 8, textCol: String = "text",
                           idCol: String = "doc_id"): DataFrame = {
    require(k >= 1)
    // one md5-block kernel pass feeds the winners aggregation and the
    // drops join — see spanDedup
    val (base, blocks0) = spanBlocks(batch, k, textCol, idCol)
    val blocks = blocks0.localCheckpoint()
    val freshWinners = blocks.groupBy("bh")
      .agg(min(struct(col("doc_id"), col("block_idx"))).as("first"))
      .join(existingIndex.select(col("bh")), Seq("bh"), "left_anti")
    // a block survives iff its hash is unseen AND it is the batch's first
    // occurrence; `first` is null after the left join exactly when the
    // hash is already claimed by the standing index
    val drops = blocks.join(freshWinners, Seq("bh"), "left")
      .filter(col("first").isNull ||
        col("doc_id") =!= col("first.doc_id") ||
        col("block_idx") =!= col("first.block_idx"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("block_idx"))).as("drop_idx"))
    spanReassemble(base, drops, k)
  }

  /** The standing block-hash index of a corpus at span granularity `k` —
    * the state [[spanDedupIncremental]] dedups against. One column `bh`.
    */
  def spanBlockIndex(docs: DataFrame, k: Int = 8, textCol: String = "text",
                     idCol: String = "doc_id"): DataFrame =
    spanBlocks(docs, k, textCol, idCol)._2.select("bh").distinct()

  /** Shared scan stage of the span family: (base = (doc_id, toks, nb),
    * blocks = (doc_id, block_idx, bh)). Text reduces to md5 hashes before
    * anything shuffles.
    */
  private def spanBlocks(docs: DataFrame, k: Int, textCol: String,
                         idCol: String): (DataFrame, DataFrame) = {
    val toks = split(col(textCol), " ")
    val base = docs.select(col(idCol).as("doc_id"), toks.as("toks"),
      greatest(floor((size(toks) + (k - 1)) / lit(k)), lit(1)).cast("int").as("nb"))
    val blocks = base.select(col("doc_id"),
      posexplode(transform(sequence(lit(0), col("nb") - 1),
        i => md5(spanBlockText(i, k)))).as(Seq("block_idx", "bh")))
    (base, blocks)
  }

  private def spanBlockText(i: Column, k: Int): Column =
    array_join(slice(col("toks"), i * k + 1, lit(k)), " ")

  /** Maximal duplicated-span DETECTION — the variable-length counterpart
    * of [[spanDedup]]'s fixed disjoint blocks (the shape of Lee et al.
    * 2021, "Deduplicating Training Data Makes Language Models Better",
    * which removes repeated substrings ≥ a length threshold found by a
    * suffix array). Distributed re-expression: slide a k-token window
    * over every document (stride 1, not k — so a repeat is found at ANY
    * alignment, which the disjoint-block form misses), mark the
    * positions whose window recurs anywhere in the corpus (including
    * within the same document), and merge overlapping/adjacent marked
    * windows into maximal spans, keeping those ≥ `minLen` tokens.
    * Returns one row per span: (doc_id, span_start, span_len,
    * span_text) — the audit/removal list a pipeline subtracts from the
    * corpus.
    *
    * Scale shape: window text reduces to md5 BEFORE anything shuffles
    * (positions are (doc_id, pos, hash) triples); duplicated hashes come
    * from one map-side-combined count; the island merge is a per-document
    * window function — state bounded by document length, partitioned by
    * doc_id, never a global sort; span text is rebuilt scan-side from the
    * original token array after a per-doc span-list join (the
    * [[spanDedup]] drop-list idiom). Interval merge is exact because all
    * windows share length k: positions sorted, a new span starts iff
    * pos − prev > k (gaps-and-islands), so max-end bookkeeping never
    * needs a running aggregate over varying ends.
    */
  def duplicatedSpans(docs: DataFrame, k: Int = 8, minLen: Int = 16,
                      textCol: String = "text",
                      idCol: String = "doc_id"): DataFrame = {
    require(k >= 1 && minLen >= k,
      s"minLen ($minLen) must be >= k ($k): a single window is the shortest span")
    val toks = split(col(textCol), " ")
    val base = docs.select(col(idCol).as("doc_id"), toks.as("toks"),
      size(toks).as("n"))
    val grams = base.filter(col("n") >= k).select(col("doc_id"),
      posexplode(transform(sequence(lit(0), col("n") - k),
        i => md5(array_join(slice(col("toks"), i + 1, lit(k)), " "))))
        .as(Seq("pos", "gh")))
      // checkpoint (round-16, the AllPairs idiom): the duplicated-hash
      // aggregation and the island join each held the full
      // md5-per-position kernel subtree — one kernel pass feeds both;
      // (doc_id, pos, gh) rows only, text never materializes
      .localCheckpoint()
    // corpus-wide duplicated window hashes: map-side combine collapses a
    // boilerplate window repeated across an input split before the shuffle
    val dup = grams.groupBy(col("gh")).agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).select(col("gh"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val spans = grams.join(dup, "gh").select(col("doc_id"), col("pos"))
      .withColumn("ni",
        when(col("pos") - lag(col("pos"), 1).over(w) > k, 1).otherwise(0))
      .withColumn("island", sum(col("ni")).over(w))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + k).as("span_end"))
      .filter(col("span_end") - col("span_start") >= minLen)
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(
        struct(col("span_start"), col("span_end")))).as("spans"))
    base.join(spans, "doc_id")
      .select(col("doc_id"), col("toks"), explode(col("spans")).as("s"))
      .select(col("doc_id"),
        col("s.span_start").cast("int").as("span_start"),
        (col("s.span_end") - col("s.span_start")).cast("int").as("span_len"),
        array_join(slice(col("toks"), col("s.span_start") + 1,
          col("s.span_end") - col("s.span_start")), " ").as("span_text"))
  }

  /** Rebuild surviving text scan-side from the per-doc drop-list. */
  private def spanReassemble(base: DataFrame, drops: DataFrame, k: Int): DataFrame =
    base.join(drops, Seq("doc_id"), "left")
      .withColumn("drop_idx",
        coalesce(col("drop_idx"), lit(Array.empty[Int])))
      .select(col("doc_id"),
        array_join(transform(
          filter(sequence(lit(0), col("nb") - 1),
            i => !array_contains(col("drop_idx"), i)),
          i => spanBlockText(i, k)), " ").as("text_dedup"),
        col("nb").as("n_blocks"),
        (col("nb") - size(col("drop_idx"))).as("n_kept"))

  /** Dataset-card curation FUNNEL — the per-source audit a training-data
    * run reports: for each cumulative pipeline stage (raw → minimum
    * length → exact-dedup survivor → benchmark-decontaminated), the
    * surviving document and token counts per source. Stages COMPOSE the
    * way the real pipeline does: the dedup survivor is the min-id per
    * fingerprint AMONG length-passing docs (a doc rescued from a group
    * whose shorter twin was length-filtered is the canonical), and
    * decontamination applies to the dedup survivors.
    *
    * Scale shape: one corpus scan computes every per-doc input (token
    * count, md5 fingerprint) — text never leaves the scan; the canonical
    * map is a fingerprint-keyed aggregate joined back by fingerprint
    * (hash+ID columns only on both exchanges), the contamination flag
    * rides [[decontaminate]]'s broadcast gram join, and the 4× stage
    * expansion is a narrow `stack` BEFORE the one (stage, source)
    * aggregation — so the whole funnel costs one scan plus
    * map-side-combined aggregates, regardless of stage count.
    */
  def curationFunnel(docs: DataFrame, benchmark: DataFrame,
                     minTokens: Int = 20, w: Int = 3,
                     textCol: String = "text", idCol: String = "doc_id",
                     srcCol: String = "source",
                     fingerprint: Column = null): DataFrame =
    curationFlags(docs, benchmark, minTokens, w, textCol, idCol, srcCol,
        fingerprint)
      .selectExpr(srcCol, "ntok",
        "stack(4, '1_raw', true, '2_minlen', pass2, " +
          "'3_exact_dedup', pass3, '4_decontaminated', pass4) as (stage, pass)")
      .filter(col("pass"))
      .groupBy(col("stage"), col(srcCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ntok").cast("long")).as("n_tokens"))
      .orderBy(col("stage"), col(srcCol))

  /** Per-document stage flags behind [[curationFunnel]] — exposed so the
    * e2e chain ([[curatedMixtureSample]]) can CONSUME the survivor set
    * the report describes, instead of re-deriving the stages: returns
    * `(idCol, srcCol, ntok, pass2, pass3, pass4)`, cumulative flags for
    * minlen → exact-dedup survivor → decontaminated. Same plan shape as
    * the report: one corpus scan computes ntok/fingerprint (text never
    * on a keyed exchange), the canonical map joins back by fingerprint,
    * the contamination flag rides [[decontaminate]]'s broadcast gram
    * join.
    */
  def curationFlags(docs: DataFrame, benchmark: DataFrame,
                    minTokens: Int = 20, w: Int = 3,
                    textCol: String = "text", idCol: String = "doc_id",
                    srcCol: String = "source",
                    fingerprint: Column = null): DataFrame = {
    // the dedup key is caller-normalizable (real pipelines normalize
    // BEFORE dedup — lowercase, strip boilerplate markers — so content
    // twins that differ only in the normalized-away part collapse);
    // default = raw-text md5, the exact-dedup semantics of [[exact]]
    val fp = Option(fingerprint).getOrElse(md5(col(textCol)))
    // checkpoint the slim flag frame (round-16): the canonical-map
    // aggregate and the final join each re-ran the scan+fingerprint
    // subtree; (id, source, ntok, fp) rows only — text never leaves the
    // one scan either way
    val flagged = docs.select(col(idCol), col(srcCol),
        size(split(col(textCol), "\\s+")).as("ntok"),
        fp.as("fp"))
      .withColumn("pass2", col("ntok") >= minTokens)
      .localCheckpoint()
    val canon = flagged.filter(col("pass2"))
      .groupBy(col("fp")).agg(min(col(idCol)).as("__canon"))
    val clean = decontaminate(docs.select(col(idCol), col(textCol)),
        benchmark, w, textCol, idCol)
      .select(col(idCol)).withColumn("__clean", lit(true))
    flagged
      .join(canon, Seq("fp"), "left")
      .join(clean, Seq(idCol), "left")
      .withColumn("pass3", col("pass2") && col(idCol) === col("__canon"))
      .withColumn("pass4", col("pass3") && col("__clean").isNotNull)
      .select(col(idCol), col(srcCol), col("ntok"),
        col("pass2"), col("pass3"), col("pass4"))
  }

  /** The dataset-card chain CLOSED end-to-end: funnel → waterfill →
    * mixture sample as ONE plan, so the allocation actually DRIVES a
    * sample instead of stopping at a report. Stages:
    *
    *  1. '''Curate''' ([[curationFlags]]): survivors = documents passing
    *     minlen → exact-dedup → decontamination.
    *  2. '''Allocate''' ([[graft.text.Text.mixtureWaterfill]]): the
    *     surviving per-source token totals + caller weights waterfill a
    *     budget of `totAvail·budgetNum/budgetDen` tokens.
    *  3. '''Sample''': each survivor keeps with probability
    *     `allocated_src/avail_src` through the deterministic md5 ppm
    *     bucket — saturated sources keep everything, unsaturated ones
    *     keep at the water level. The keep decision is INTEGER-exact:
    *     `bucket·avail·(totW−wSat) < (B−aSat)·w·10⁶`, realized as a
    *     per-source bucket threshold `keep_lt = ⌈(B−aSat)·w·10⁶ /
    *     (avail·(totW−wSat))⌉` cross-multiplied in BigInt on the
    *     driver (the alloc table is source-cardinality — the bounded
    *     collect class), so both engines pick the identical sample, no
    *     float ever decides a row, and the arithmetic cannot overflow
    *     at any corpus size (the in-plan Long form flips decisions
    *     past ~10¹² tokens·10⁶·den — ADVICE r12).
    *
    * Scale shape: text is read once and never rides a keyed exchange
    * (the funnel contract); the survivor frame is slim (id, source,
    * ntok) and localCheckpoint'ed because three downstream jobs consume
    * it (per-source totals, the waterfill's bounded aggregates, the
    * final keep join); the allocation table is source-cardinality and
    * broadcasts. Driver state: three 1-row/`|sources|`-row collects —
    * the bounded class.
    */
  def curatedMixtureSample(docs: DataFrame, benchmark: DataFrame,
                           weight: Column,
                           budgetNum: Long, budgetDen: Long,
                           minTokens: Int = 20, w: Int = 3,
                           textCol: String = "text", idCol: String = "doc_id",
                           srcCol: String = "source",
                           fingerprint: Column = null): DataFrame = {
    require(budgetDen > 0 && budgetNum >= 0 && budgetNum <= budgetDen,
      "budget fraction must sit in [0, 1]")
    val surv = curationFlags(docs, benchmark, minTokens, w, textCol, idCol,
        srcCol, fingerprint)
      .filter(col("pass4"))
      .select(col(idCol), col(srcCol), col("ntok"))
      .localCheckpoint()
    val perSource = surv.groupBy(col(srcCol))
      .agg(sum(col("ntok").cast("long")).as("avail_tokens"))
      .withColumn("weight", weight)
    val totAvail = perSource
      .agg(coalesce(sum(col("avail_tokens")), lit(0L))).head().getLong(0)
    val budget = totAvail * budgetNum / budgetDen
    val alloc = graft.text.Text.mixtureWaterfill(perSource, budget,
      srcCol, "avail_tokens", "weight")
    // alloc is |sources| rows — collect it and cross-multiply the keep
    // threshold in BigInt: keep ⟺ bucket·avail·den < num·w·10⁶ ⟺
    // bucket < ⌈num·w·10⁶ / (avail·den)⌉ (exact for integer buckets),
    // clamped to [0, 10⁶] so it rides the plan as one small long
    val allocRows = alloc
      .select(col("source"), col("avail_tokens"), col("weight"),
        col("saturated"))
      .collect()
    val num = BigInt(budget) -
      allocRows.iterator.filter(_.getBoolean(3)).map(r => BigInt(r.getLong(1))).sum
    val den = allocRows.iterator.map(r => BigInt(r.getLong(2))).sum -
      allocRows.iterator.filter(_.getBoolean(3)).map(r => BigInt(r.getLong(2))).sum
    val spark = docs.sparkSession
    import spark.implicits._
    val thresholds = allocRows.toSeq.map { r =>
      val a = BigInt(r.getLong(1)) * den
      val n = num * BigInt(r.getLong(2)) * BigInt(1000000L)
      val keepLt =
        if (r.getBoolean(3)) 1000000L            // saturated: keep all
        else if (n <= 0 || a <= 0) 0L            // zero weight/allocation
        else ((n + a - 1) / a).min(BigInt(1000000L)).toLong
      (r.getString(0), keepLt)
    }.toDF(srcCol, "__keep_lt")
    surv
      .join(broadcast(thresholds), srcCol)
      .filter(graft.text.Text.hashModBucket(col(idCol), 1000000) <
        col("__keep_lt"))
      .select(col(idCol), col(srcCol), col("ntok"))
  }

  /** Day-2 [[curationFunnel]]: the funnel is ALGEBRAIC over batches
    * given a standing fingerprint index — per-batch stage counts simply
    * ADD onto yesterday's report, because every stage flag of a batch
    * document is decidable from (the document, the standing index, the
    * benchmark): length and contamination are per-doc, and the dedup
    * survivor is "fingerprint unseen among prior length-passers AND
    * first within this batch" (the [[incremental]] first-seen
    * semantics — arrival order replaces global min-id, the documented
    * streaming difference). The standing corpus contributes ONLY
    * `standingFps` — one fingerprint column, the index a 100 TB
    * deployment keeps; its text is never re-read and the anti probe
    * is a hash-only join.
    *
    * Returns the BATCH's (stage, source, n_docs, n_tokens) rows — add
    * them to the standing report to roll the dataset card forward.
    */
  def curationFunnelIncremental(batch: DataFrame, standingFps: DataFrame,
                                benchmark: DataFrame,
                                minTokens: Int = 20, w: Int = 3,
                                textCol: String = "text", idCol: String = "doc_id",
                                srcCol: String = "source",
                                fingerprint: Column = null): DataFrame = {
    val fp = Option(fingerprint).getOrElse(md5(col(textCol)))
    val flagged = batch.select(col(idCol), col(srcCol),
        size(split(col(textCol), "\\s+")).as("ntok"),
        fp.as("fp"))
      .withColumn("pass2", col("ntok") >= minTokens)
    val novel = flagged.filter(col("pass2"))
      .join(standingFps.select(col("fp")), Seq("fp"), "left_anti")
    val canon = novel.groupBy(col("fp")).agg(min(col(idCol)).as("__canon"))
    val clean = decontaminate(batch.select(col(idCol), col(textCol)),
        benchmark, w, textCol, idCol)
      .select(col(idCol)).withColumn("__clean", lit(true))
    flagged
      .join(canon, Seq("fp"), "left")
      .join(clean, Seq(idCol), "left")
      .withColumn("pass3", col("pass2") && col(idCol) === col("__canon"))
      .withColumn("pass4", col("pass3") && col("__clean").isNotNull)
      .selectExpr(srcCol, "ntok",
        "stack(4, '1_raw', true, '2_minlen', pass2, " +
          "'3_exact_dedup', pass3, '4_decontaminated', pass4) as (stage, pass)")
      .filter(col("pass"))
      .groupBy(col("stage"), col(srcCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ntok").cast("long")).as("n_tokens"))
      .orderBy(col("stage"), col(srcCol))
  }

  /** One micro-batch step of the STREAMING curation funnel: flag the
    * batch against the standing fingerprint store
    * ([[curationFunnelIncremental]]), then append only THIS batch's
    * length-passing fingerprints under `__batch = batchId` — the store
    * holds one `fp` column, never text (the index a 100 TB deployment
    * keeps). Exactly-once matches [[incrementalStreamStep]]: standing
    * read excludes the current batch id, the append dynamically
    * overwrites this batch's partition, counts are deterministic — a
    * redelivered batch returns the identical count frame. Returns the
    * batch's (stage, source, n_docs, n_tokens) increments; summing them
    * across batches IS the running dataset card.
    */
  def funnelStreamStep(batch: DataFrame, batchId: Long, standingPath: String,
                       benchmark: DataFrame,
                       minTokens: Int = 20, w: Int = 3,
                       textCol: String = "text", idCol: String = "doc_id",
                       srcCol: String = "source",
                       fingerprint: Column = null): DataFrame = {
    val spark = batch.sparkSession
    val fp = Option(fingerprint).getOrElse(md5(col(textCol)))
    val standingFps = graft.ops.StandingStore
      .read(spark, standingPath, excludeBatch = batchId, Seq("fp"))
      .getOrElse(batch.select(fp.as("fp")).limit(0))
    val counts = curationFunnelIncremental(batch, standingFps, benchmark,
      minTokens, w, textCol, idCol, srcCol, fingerprint).localCheckpoint()
    batch.filter(size(split(col(textCol), "\\s+")) >= minTokens)
      .select(fp.as("fp"))
      .withColumn("__batch", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("__batch").parquet(standingPath)
    counts
  }

  /** Streaming dataset-card funnel — [[funnelStreamStep]] per micro-batch
    * through the shared [[incrementalPairStream]] lift (checkpointing,
    * sink, `compactEvery` store maintenance). `sink` receives the batch's
    * stage increments; their running sum is the live dataset card.
    */
  def funnelStream(stream: DataFrame, standingPath: String,
                   checkpointDir: String, benchmark: DataFrame,
                   minTokens: Int = 20, w: Int = 3,
                   textCol: String = "text", idCol: String = "doc_id",
                   srcCol: String = "source",
                   fingerprint: Column = null, compactEvery: Int = 0)
                  (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    incrementalPairStream(stream, standingPath, checkpointDir, compactEvery)(
      funnelStreamStep(_, _, standingPath, benchmark, minTokens, w,
        textCol, idCol, srcCol, fingerprint))(sink)
}
