package graft.sim

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.VectorExpressions

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`). Kernels are higher-order array expressions (codegen'd,
  * no UDFs). Two paths:
  *
  *  - brute force: every (query, candidate) pair — exact, O(|Q|·|N|); right
  *    when |Q| is small (queries broadcast) or as the rerank stage; the
  *    exact kNN join and hard-negative mining score every pair in one
  *    packed-array kernel instead of as rows ([[knnJoinExact]]);
  *  - random-hyperplane LSH: sign-bit signatures bucketed by chunk, exact
  *    rerank inside buckets — the scale path: candidate generation is a
  *    bucket join, never a cross product.
  */
object Similarity {

  // SQL-function forms of the bit shifts (the Scala DSL overloads only
  // accept Int bit counts, not Columns).
  private def shr(c: Column, bits: Column): Column = call_function("shiftright", c, bits)
  private def shl(c: Column, bits: Column): Column = call_function("shiftleft", c, bits)

  /** Explode a packed signature into one (chunk, ch) bucket row per
    * `chunkBits`-wide chunk, carrying only `keep` columns — the shared
    * candidate-generation step of every LSH surface here (one definition,
    * so chunking semantics can't silently diverge between them).
    */
  private def chunkBuckets(df: DataFrame, sigCol: String, nChunks: Int,
                           chunkBits: Int, keep: Seq[String]): DataFrame = {
    val mask = (1L << chunkBits) - 1
    df.select(keep.map(col) :+
        explode(transform(sequence(lit(0), lit(nChunks - 1)), c =>
          struct(c.as("chunk"),
            shr(col(sigCol), c * chunkBits).bitwiseAND(mask).as("ch")))).as("ck"): _*)
      .select(keep.map(col) :+ col("ck.chunk") :+ col("ck.ch"): _*)
  }

  /** Round-robin repartition of a frame that is about to STREAM through a
    * per-row-expensive stage (the probe side of a broadcast nested-loop
    * join): without it the stage's parallelism is whatever the upstream
    * scan produced, and a compute-heavy stage over a byte-small input is
    * exactly where scan-proportional splitting is wrong (5 MB of vectors
    * is one 128 MB-target split but minutes of quadratic scoring). Never
    * applied to scan→filter→agg paths, where splitting by bytes is right
    * and an extra shuffle would be pure cost.
    */
  private def spreadForCompute(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions)

  /** dot(a, b) in double precision (floats promote exactly) — native
    * codegen'd kernel, not a higher-order function (HOFs are interpreted
    * per-element).
    */
  def dot(a: Column, b: Column): Column = VectorExpressions.vecDot(a, b)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Exact top-k cosine neighbors for each query vector. `queries` is
    * expected to be small (it is broadcast); ranking is deterministic
    * (score desc, then neighbor id).
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int = 10,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // Norms are computed once per vector (O(n)), never per pair (O(n·q)).
    // The corpus side streams through the broadcast join, so the O(n·q)
    // scoring runs at the SCAN's parallelism — a small/compact file maps
    // to one task and serializes the whole cross score. spreadForCompute
    // makes the per-pair stage's parallelism independent of file layout.
    val c = spreadForCompute(corpus).select(col(idCol).as("n_id"), col(vecCol).as("n_vec"),
      l2Norm(col(vecCol)).as("n_norm"))
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"),
      l2Norm(col(vecCol)).as("q_norm"))
    val scored = c.join(broadcast(q), col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        (dot(col("q_vec"), col("n_vec")) / (col("q_norm") * col("n_norm"))).as("cos"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
      .select(col("q_id"), col("n_id"), col("cos"), col("rnk"))
  }

  /** The ranking order of the exact top-k family: score descending, then
    * id ascending. Scores compare with `java.lang.Double.compare` on the
    * negated score, a total order in which NaN ranks last. [[TopKByScore]]
    * and the [[knnJoinExact]] / [[hardNegatives]] kernel both rank with
    * it, so the two cannot order a tie differently.
    */
  object ScoreOrder {
    /** Negative when (s1, id1) ranks before (s2, id2), zero when equal. */
    def compare(s1: Double, id1: Long, s2: Double, id2: Long): Int = {
      val c = java.lang.Double.compare(-s1, -s2)
      if (c != 0) c else java.lang.Long.compare(id1, id2)
    }
  }

  /** Bounded top-k accumulator for (score, id) pairs, ordered by
    * [[ScoreOrder]] — map-side combinable, so a ranking over candidate
    * rows shuffles at most k entries per key. Exact doubles + a total
    * order → identical output under any partitioning.
    */
  final class TopKByScore(k: Int)
      extends org.apache.spark.sql.expressions.Aggregator[
        (Double, Long), Seq[(Double, Long)], Seq[(Double, Long)]] {
    require(k >= 1)
    // distinct first: identical (score, id) observations are idempotent,
    // so callers may feed pre-dedup streams (containmentTopK's
    // exact-mask path emits a pair once per surviving shared token) and
    // duplicates can never occupy two of the k slots
    private def trim(s: Seq[(Double, Long)]): Seq[(Double, Long)] =
      s.distinct.sortWith((a, b) => ScoreOrder.compare(a._1, a._2, b._1, b._2) < 0).take(k)
    override def zero: Seq[(Double, Long)] = Seq.empty
    override def reduce(b: Seq[(Double, Long)], x: (Double, Long)): Seq[(Double, Long)] =
      if (b.size == k && {
        val (ls, li) = b.last // k-th best; skip x unless it ranks before it
        ScoreOrder.compare(x._1, x._2, ls, li) >= 0
      }) b else trim(b :+ x)
    override def merge(a: Seq[(Double, Long)], b: Seq[(Double, Long)]): Seq[(Double, Long)] =
      trim(a ++ b)
    override def finish(r: Seq[(Double, Long)]): Seq[(Double, Long)] = r
    override def bufferEncoder: org.apache.spark.sql.Encoder[Seq[(Double, Long)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Double, Long)]]()
    override def outputEncoder: org.apache.spark.sql.Encoder[Seq[(Double, Long)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Double, Long)]]()
  }

  /** Exact k-nearest-neighbor JOIN: top-k cosine neighbors for EVERY
    * corpus vector — the kNN-graph construction under semantic dedup,
    * cluster audits and label propagation, distinct from the query-SET
    * search ([[bruteForceTopK]]): here the "query side" is the corpus
    * itself. Quadratic compute by definition (this is the exact
    * baseline; the bucketed scale path is `Ivf.search(corpus, corpus)`),
    * but no pair is ever a row: the corpus is packed once and broadcast,
    * and each task of the spread corpus scores its vectors against all
    * of it in one loop ([[exactTopK]]). The plan holds one round-robin
    * exchange, no join and no aggregation.
    *
    * `vecCol` is `array<float>` or `array<double>`; ids are integral and
    * unique (a repeated id is refused). Output `(q_id, n_id, cos, rnk)`.
    */
  def knnJoinExact(corpus: DataFrame, k: Int = 5,
                   idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    exactTopK(corpus, corpus, k, idCol, vecCol, labelCol = None)

  /** Hard-negative mining for contrastive training: for each query
    * vector, the top-k most COSINE-SIMILAR corpus vectors carrying a
    * DIFFERENT label — the negatives that sit closest to the decision
    * boundary, which is exactly what contrastive / metric-learning
    * losses want (random negatives are trivially separable and
    * contribute no gradient). Same kernel as [[knnJoinExact]]: the
    * corpus is packed once and broadcast, the queries are spread, and
    * the label-mismatch test sits in the scoring loop, so same-label
    * pairs are never scored. A NULL label matches nothing, as in SQL.
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int = 5,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    labelCol: String = "label"): DataFrame =
    exactTopK(corpus, queries, k, idCol, vecCol, Some(labelCol))

  /** The corpus of [[exactTopK]], packed once per call: vector j is
    * `block(off(j) until off(j + 1))`, widened to double (exact for
    * floats), `norm(j) = sqrt(Σ v²)` summed in index order, `valid(j)`
    * false when the vector or one of its elements is NULL, `label(j)` a
    * dense code of its label (-1 for NULL, or every vector when
    * unlabelled) and `labelCodes` the code of each label value.
    */
  private final case class PackedCorpus(ids: Array[Long], block: Array[Double],
      off: Array[Int], norm: Array[Double], valid: Array[Boolean],
      label: Array[Int], labelCodes: Map[Any, Int])

  /** A row's float or double array as doubles; null when the array or
    * one of its elements is NULL (its dot products are NULL then).
    */
  private def widen(v: scala.collection.Seq[Any]): Array[Double] =
    if (v == null || v.contains(null)) null
    else v.iterator.map(_.asInstanceOf[Number].doubleValue).toArray

  private def norm(v: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    math.sqrt(s)
  }

  /** The exact top-k kernel of [[knnJoinExact]] and [[hardNegatives]].
    * The corpus is collected and packed once per call and broadcast;
    * each task of the spread queries scores its queries against all of
    * it ([[scoreTask]]), so the n² pairs never become rows and nothing is
    * aggregated or shuffled.
    *
    * Each score is bit-identical to `dot(q, n) / (q_norm * n_norm)` as
    * Spark SQL evaluates it (the window-rank formulation of
    * [[bruteForceTopK]] and the DuckDB oracles): the dot product sums
    * doubles in index order, as `VectorExpressions.DotProduct` does.
    * Pairs with equal ids, or (with labels) equal or NULL labels, are
    * skipped before scoring. A zero divisor fails the query with
    * Spark's DIVIDE_BY_ZERO error under ANSI mode; a NULL cosine (a
    * NULL vector or element, a divisor of zero without ANSI, or a
    * dimension mismatch) ranks as 0.0, which is how [[TopKByScore]]
    * read it. Ranking is [[ScoreOrder]].
    */
  private def exactTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                        idCol: String, vecCol: String,
                        labelCol: Option[String]): DataFrame = {
    require(k >= 1)
    def checkedIdType(df: DataFrame): DataType = {
      df.schema(vecCol).dataType match {
        case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        case other => throw new IllegalArgumentException(
          s"$vecCol must be array<float> or array<double>, not ${other.simpleString}")
      }
      val t = df.schema(idCol).dataType
      require(Seq(ByteType, ShortType, IntegerType, LongType).contains(t),
        s"$idCol must be an integral type, not ${t.simpleString}")
      t
    }
    checkedIdType(corpus)
    val out = StructType(Seq(StructField("q_id", checkedIdType(queries), nullable = false),
      StructField("n_id", LongType, nullable = false),
      StructField("cos", DoubleType, nullable = false),
      StructField("rnk", IntegerType, nullable = false)))
    val rows = corpus.where(col(idCol).isNotNull)
      .select(Seq(col(idCol).cast("long"), col(vecCol)) ++ labelCol.map(col): _*)
      .collect()
    val ids = rows.map(_.getLong(0))
    val sorted = ids.sorted
    (1 until sorted.length).find(i => sorted(i) == sorted(i - 1)).foreach { i =>
      throw new IllegalArgumentException(s"$idCol ${sorted(i)} is not unique in the corpus")
    }
    val vecs = rows.map(r => widen(r.getSeq[Any](1)))
    val labelCodes: Map[Any, Int] =
      if (labelCol.isEmpty) Map.empty
      else rows.iterator.map(_.get(2)).filter(_ != null).distinct.zipWithIndex.toMap
    val packed = PackedCorpus(ids,
      vecs.iterator.filter(_ != null).flatten.toArray,
      vecs.scanLeft(0)((o, v) => o + (if (v == null) 0 else v.length)),
      vecs.map(v => if (v == null) 0.0 else norm(v)),
      vecs.map(_ != null),
      if (labelCol.isEmpty) Array.fill(rows.length)(-1)
      else rows.map(r => if (r.isNullAt(2)) -1 else labelCodes(r.get(2))),
      labelCodes)
    val spark = corpus.sparkSession
    val bc = spark.sparkContext.broadcast(packed)
    val ansi = spark.sessionState.conf.ansiEnabled
    val labelled = labelCol.isDefined
    spreadForCompute(queries.select(Seq(col(idCol), col(vecCol)) ++
        labelCol.map(l => col(l).cast(corpus.schema(l).dataType)): _*))
      // a NULL id or label matches no corpus vector: no pairs, no rows
      .mapPartitions(part => scoreTask(bc.value, k, ansi, labelled,
        part.filter(r => !r.isNullAt(0) && !(labelled && r.isNullAt(2))).toArray))(
        Encoders.row(out))
  }

  /** `x(o until o + d)` dotted with each of `a0`..`a3`, each sum in index
    * order, into `out(0..3)`.
    */
  private def dot4(x: Array[Double], o: Int, d: Int, a0: Array[Double], a1: Array[Double],
                   a2: Array[Double], a3: Array[Double], out: Array[Double]): Unit = {
    var s0 = 0.0; var s1 = 0.0; var s2 = 0.0; var s3 = 0.0
    var t = 0
    while (t < d) {
      val v = x(o + t)
      s0 += a0(t) * v; s1 += a1(t) * v; s2 += a2(t) * v; s3 += a3(t) * v
      t += 1
    }
    out(0) = s0; out(1) = s1; out(2) = s2; out(3) = s3
  }

  /** One task of [[exactTopK]]: queries `qs` as `(id, vector[, label])`
    * rows, each query's top-k kept in a bounded insertion buffer while
    * the whole corpus is scored. Emits `(q_id, n_id, cos, rnk)`.
    */
  private def scoreTask(c: PackedCorpus, k: Int, ansi: Boolean, labelled: Boolean,
                        qs: Array[Row]): Iterator[Row] = {
    val nq = qs.length
    val qId = qs.map(_.getAs[Number](0).longValue)
    val qVec = qs.map(r => widen(r.getSeq[Any](1)))
    val qNorm = qVec.map(v => if (v == null) 0.0 else norm(v))
    // -2: a label no corpus vector carries, so every labelled one differs
    val qLabel = qs.map(r => if (labelled) c.labelCodes.getOrElse(r.get(2), -2) else -1)
    val n = c.ids.length
    val kk = math.min(k, n)
    val topS = new Array[Double](nq * kk)
    val topI = new Array[Long](nq * kk)
    val size = new Array[Int](nq)

    def offer(qi: Int, j: Int, dot: Double): Unit = {
      if (c.ids(j) == qId(qi) || labelled && (c.label(j) < 0 || c.label(j) == qLabel(qi)))
        return
      val s =
        if (qVec(qi) == null || !c.valid(j)) 0.0
        else {
          val div = qNorm(qi) * c.norm(j)
          if (div == 0.0) {
            if (ansi) throw org.apache.spark.sql.graft.SqlErrors.divideByZero()
            0.0
          } else if (qVec(qi).length != c.off(j + 1) - c.off(j)) 0.0
          else dot / div
        }
      val id = c.ids(j)
      val base = qi * kk
      val sz = size(qi)
      if (sz < kk || ScoreOrder.compare(s, id, topS(base + sz - 1), topI(base + sz - 1)) < 0) {
        var p = math.min(sz, kk - 1)
        while (p > 0 && ScoreOrder.compare(s, id, topS(base + p - 1), topI(base + p - 1)) < 0) {
          topS(base + p) = topS(base + p - 1); topI(base + p) = topI(base + p - 1); p -= 1
        }
        topS(base + p) = s; topI(base + p) = id
        if (sz < kk) size(qi) = sz + 1
      }
    }
    def dot(a: Array[Double], j: Int): Double = {
      val o = c.off(j)
      if (a == null || !c.valid(j) || a.length != c.off(j + 1) - o) return 0.0
      var s = 0.0
      var t = 0
      while (t < a.length) { s += a(t) * c.block(o + t); t += 1 }
      s
    }

    // four queries per pass over the corpus: four independent in-order
    // sums hide the add latency a single sum would stall on; `blockDim`
    // is the dimension a whole block of four shares, or -1 (scored one
    // by one)
    val blockDim = Array.tabulate((nq + 3) / 4) { b =>
      val vs = qVec.slice(4 * b, 4 * b + 4)
      if (vs.length == 4 && vs.forall(v => v != null && v.length == vs(0).length)) vs(0).length
      else -1
    }
    val sums = new Array[Double](4)
    var b = 0
    while (b < blockDim.length) {
      val q0 = 4 * b
      val d = blockDim(b)
      var j = 0
      while (j < n) {
        if (d >= 0 && c.valid(j) && c.off(j + 1) - c.off(j) == d) {
          dot4(c.block, c.off(j), d, qVec(q0), qVec(q0 + 1), qVec(q0 + 2), qVec(q0 + 3), sums)
          offer(q0, j, sums(0)); offer(q0 + 1, j, sums(1))
          offer(q0 + 2, j, sums(2)); offer(q0 + 3, j, sums(3))
        } else {
          var qi = q0
          while (qi < math.min(nq, q0 + 4)) { offer(qi, j, dot(qVec(qi), j)); qi += 1 }
        }
        j += 1
      }
      b += 1
    }
    Iterator.range(0, nq).flatMap { qi =>
      Iterator.range(0, size(qi)).map { r =>
        Row(qs(qi).get(0), topI(qi * kk + r), topS(qi * kk + r), r + 1)
      }
    }
  }

  /** Embedding-space decontamination — the semantic counterpart of the
    * trigram-overlap benchmark decontamination in [[graft.text.Dedup]]:
    * for every EVAL vector, its maximum cosine against the TRAIN corpus
    * and the train vector achieving it (ties to the lower train id).
    * A max_cos above `tau` means a paraphrase/near-copy of the eval item
    * sits in the training set — the leak n-gram matching misses when the
    * wording changed but the embedding didn't.
    *
    * Scale shape: the eval set (a benchmark — thousands of rows) is the
    * broadcast side; the train corpus SCANS ONCE with the per-pair cosine
    * fused scan-side, and both aggregates (max, max_by) combine map-side,
    * so the one shuffle carries ≤ |eval| rows per map task no matter how
    * large train is. Train-side spread ([[spreadForCompute]]) keeps a
    * few-file corpus from serializing the scan.
    */
  def testContamination(train: DataFrame, test: DataFrame, tau: Double,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame = {
    val t = spreadForCompute(train).select(col(idCol).as("train_id"),
      col(vecCol).as("t_vec"), l2Norm(col(vecCol)).as("t_norm"))
    val q = test.select(col(idCol).as("test_id"), col(vecCol).as("q_vec"),
      l2Norm(col(vecCol)).as("q_norm"))
    t.join(broadcast(q), col("train_id") =!= col("test_id"))
      .select(col("test_id"), col("train_id"),
        (dot(col("q_vec"), col("t_vec")) / (col("q_norm") * col("t_norm"))).as("cos"))
      .groupBy(col("test_id"))
      .agg(max(col("cos")).as("max_cos"),
        max_by(col("train_id"), struct(col("cos"), -col("train_id")))
          .as("nearest_train_id"))
      .select(col("test_id"), col("nearest_train_id"), col("max_cos"),
        (col("max_cos") >= tau).as("contaminated"))
  }

  /** Deterministic pseudo-random unit-ish hyperplanes (seeded). */
  private def planes(nPlanes: Int, dim: Int, seed: Long): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(nPlanes)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Deterministic Rademacher (±1) projection matrix, row-major
    * [plane][dim]. Used where the signature must be reproducible OUTSIDE
    * the engine (e.g. a SQL oracle): ±1 entries keep every product an
    * exact double (a sign flip), so any engine that promotes floats to
    * double and sums in index order computes the identical projection.
    */
  def signPlanes(nPlanes: Int, dim: Int, seed: Long): Array[Double] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(nPlanes * dim)(if (rnd.nextBoolean()) 1.0 else -1.0)
  }

  /** Sign-bit LSH signature: bit i = sign(dot(v, plane_i)). Returned as a
    * Long (nPlanes <= 63). One fused native kernel over the constant plane
    * matrix (see graft.functions.VectorExpressions.LshSignBits).
    */
  def lshSignature(vec: Column, nPlanes: Int, dim: Int, seed: Long = 42L): Column =
    VectorExpressions.lshSignBits(vec,
      planes(nPlanes, dim, seed).flatten.toArray, nPlanes, dim)

  /** LSH-bucketed ANN: signature chunks → bucket join → exact cosine rerank
    * within buckets → top-k. Recall < 1 by construction; `nChunks` trades
    * recall for candidate volume (a pair is compared if it collides on at
    * least one chunk of `chunkBits` sign bits).
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int = 10,
              nPlanes: Int = 32, chunkBits: Int = 8, dim: Int = 64,
              idCol: String = "vec_id", vecCol: String = "embedding",
              seed: Long = 42L): DataFrame = {
    val nChunks = nPlanes / chunkBits
    // Candidate generation and dedup carry IDs ONLY — shuffling the
    // vectors through the bucket join would multiply payload bytes by the
    // collision count. Vectors are joined back once per surviving pair.
    def chunked(df: DataFrame, role: String): DataFrame =
      chunkBuckets(
        df.select(col(idCol).as(s"${role}_id"),
          lshSignature(col(vecCol), nPlanes, dim, seed).as("sig")),
        "sig", nChunks, chunkBits, Seq(s"${role}_id"))
    val cand = chunked(corpus, "n")
      .join(chunked(queries, "q"), Seq("chunk", "ch"))
      .filter(col("q_id") =!= col("n_id"))
      .dropDuplicates("q_id", "n_id")
    exactRerankTopK(cand, corpus, queries, k, idCol, vecCol)
  }

  /** md5-derived INTEGER plane matrix, row-major [plane][dim] — the
    * oracle-REPLAYABLE projection family (the `minhashPairsMd5`
    * pattern): plane(i,j) = (first-8-hex-of-md5("i,j") mod 17) − 8
    * ∈ [−8, 8], computable by any engine with md5. Integer
    * coefficients keep each product float·int exact in double, and
    * both engines fold the products in index order (the kernel's j
    * loop ≡ the oracle's ordered list_reduce), so the SIGN of every
    * projection — hence the signature, buckets and candidate set — is
    * engine-independent. `signPlanes`' seeded Rademacher family is
    * reproducible only inside the JVM.
    */
  def lshPlanesMd5(nPlanes: Int, dim: Int): Array[Double] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(nPlanes * dim) { p =>
      val (i, j) = (p / dim, p % dim)
      val hex = md.digest(s"$i,$j".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      ((java.lang.Long.parseLong(hex, 16) % 17) - 8).toDouble
    }
  }

  /** [[lshTopK]] with the md5-derived plane family — the oracle-checked
    * twin (`ann_lsh_topk_md5`): same fused signature kernel, same chunk
    * bucket join, same IDs-only candidates and exact rerank; only the
    * plane constants change, to ones a SQL oracle can recompute.
    */
  def lshTopKMd5(corpus: DataFrame, queries: DataFrame, k: Int = 10,
                 nPlanes: Int = 16, chunkBits: Int = 8, dim: Int = 64,
                 idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val nChunks = nPlanes / chunkBits
    val pl = lshPlanesMd5(nPlanes, dim)
    def chunked(df: DataFrame, role: String): DataFrame =
      chunkBuckets(
        df.select(col(idCol).as(s"${role}_id"),
          VectorExpressions.lshSignBits(col(vecCol), pl, nPlanes, dim).as("sig")),
        "sig", nChunks, chunkBits, Seq(s"${role}_id"))
    val cand = chunked(corpus, "n")
      .join(chunked(queries, "q"), Seq("chunk", "ch"))
      .filter(col("q_id") =!= col("n_id"))
      .dropDuplicates("q_id", "n_id")
    exactRerankTopK(cand, corpus, queries, k, idCol, vecCol)
  }

  /** Exact-cosine rerank of an IDs-only (q_id, n_id) candidate set to the
    * per-query top-k — the shared tail of the LSH surfaces. queries is
    * |Q|-bounded (broadcast is right); the CORPUS payload is not —
    * shuffle-join it back by id (see spreadForCompute's sibling concern:
    * byte-small vector files mislead the size estimate).
    */
  private def exactRerankTopK(cand: DataFrame, corpus: DataFrame, queries: DataFrame,
                              k: Int, idCol: String, vecCol: String): DataFrame = {
    def sides(df: DataFrame, role: String): DataFrame =
      df.select(col(idCol).as(s"${role}_id"), col(vecCol).as(s"${role}_vec"),
        l2Norm(col(vecCol)).as(s"${role}_norm"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    cand
      .join(sides(queries, "q"), "q_id")
      .join(sides(corpus, "n").hint("SHUFFLE_HASH"), "n_id")
      .select(col("q_id"), col("n_id"),
        (dot(col("q_vec"), col("n_vec")) / (col("q_norm") * col("n_norm"))).as("cos"))
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
      .select(col("q_id"), col("n_id"), col("cos"), col("rnk"))
  }

  /** Multi-probe LSH top-k (Lv et al.'s idea on the sign-bit chunk
    * index): each QUERY chunk probes its own bucket plus the
    * `chunkBits` Hamming-1 neighbor buckets — near misses where one
    * plane voted the other way land one bit away, so probing them buys
    * most of the recall extra hash tables would, at the cost of
    * (chunkBits + 1)× probe rows on the query side ONLY. The corpus
    * index is unchanged (no extra tables, no extra corpus scan), probe
    * rows carry (q_id, chunk, ch) — never vectors — and candidates
    * dedup before the same IDs-only exact rerank as [[lshTopK]].
    * Single-probe candidates are a subset by construction (the 0-flip
    * probe is included), so per-query rank-r cosine dominates
    * single-probe's — spec-pinned along with the recall gain.
    */
  def lshTopKMultiProbe(corpus: DataFrame, queries: DataFrame, k: Int = 10,
                        nPlanes: Int = 32, chunkBits: Int = 8, dim: Int = 64,
                        idCol: String = "vec_id", vecCol: String = "embedding",
                        seed: Long = 42L): DataFrame = {
    val nChunks = nPlanes / chunkBits
    def chunked(df: DataFrame, role: String): DataFrame =
      chunkBuckets(
        df.select(col(idCol).as(s"${role}_id"),
          lshSignature(col(vecCol), nPlanes, dim, seed).as("sig")),
        "sig", nChunks, chunkBits, Seq(s"${role}_id"))
    val probeSet = array((Seq(col("ch")) ++
      (0 until chunkBits).map(b => col("ch").bitwiseXOR(lit(1L << b)))): _*)
    val probes = chunked(queries, "q")
      .select(col("q_id"), col("chunk"), explode(probeSet).as("ch"))
    val cand = chunked(corpus, "n")
      .join(probes, Seq("chunk", "ch"))
      .filter(col("q_id") =!= col("n_id"))
      .dropDuplicates("q_id", "n_id")
    exactRerankTopK(cand, corpus, queries, k, idCol, vecCol)
  }

  /** [[lshTopKMultiProbe]] with the md5-derived plane family — the
    * oracle-checked twin of the MULTI-PROBE path (the `lshTopKMd5`
    * move): same fused signature kernel, same chunk index, same
    * query-side Hamming-1 probe expansion, same IDs-only candidates and
    * exact rerank; only the plane constants change to ones a SQL oracle
    * can recompute. The oracle's candidate join admits chunk pairs
    * whose XOR is zero or a power of two — exactly the probe set.
    */
  def lshTopKMultiProbeMd5(corpus: DataFrame, queries: DataFrame, k: Int = 10,
                           nPlanes: Int = 16, chunkBits: Int = 8, dim: Int = 64,
                           idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val nChunks = nPlanes / chunkBits
    val pl = lshPlanesMd5(nPlanes, dim)
    def chunked(df: DataFrame, role: String): DataFrame =
      chunkBuckets(
        df.select(col(idCol).as(s"${role}_id"),
          VectorExpressions.lshSignBits(col(vecCol), pl, nPlanes, dim).as("sig")),
        "sig", nChunks, chunkBits, Seq(s"${role}_id"))
    val probeSet = array((Seq(col("ch")) ++
      (0 until chunkBits).map(b => col("ch").bitwiseXOR(lit(1L << b)))): _*)
    val probes = chunked(queries, "q")
      .select(col("q_id"), col("chunk"), explode(probeSet).as("ch"))
    val cand = chunked(corpus, "n")
      .join(probes, Seq("chunk", "ch"))
      .filter(col("q_id") =!= col("n_id"))
      .dropDuplicates("q_id", "n_id")
    exactRerankTopK(cand, corpus, queries, k, idCol, vecCol)
  }

  /** Embedding-cosine near-duplicate pairs above a threshold, LSH-bucketed
    * (the embedding flavor of Dedup: same shape as minhashPairs).
    */
  def cosineDupPairs(corpus: DataFrame, threshold: Double = 0.95,
                     nPlanes: Int = 32, chunkBits: Int = 8, dim: Int = 64,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val nChunks = nPlanes / chunkBits
    // IDs-only buckets (see lshTopK): the payload never rides the
    // candidate shuffle; vectors are joined back once per surviving pair.
    val sigs = chunkBuckets(
      corpus.select(col(idCol).as("id"),
        lshSignature(col(vecCol), nPlanes, dim).as("sig")),
      "sig", nChunks, chunkBits, Seq("id"))
    val a = sigs.toDF("a_id", "chunk", "ch")
    val b = sigs.toDF("b_id", "chunk", "ch")
    // corpus-sized vector payload: shuffle-joined back by id, never
    // broadcast (corpus-proportional build ≠ scale-safe)
    def side(role: String): DataFrame =
      corpus.select(col(idCol).as(s"${role}_id"), col(vecCol).as(s"${role}_vec"),
        l2Norm(col(vecCol)).as(s"${role}_norm"))
        .hint("SHUFFLE_HASH")
    a.join(b, Seq("chunk", "ch")).filter(col("a_id") < col("b_id"))
      .dropDuplicates("a_id", "b_id")
      .join(side("a"), "a_id").join(side("b"), "b_id")
      .select(col("a_id"), col("b_id"),
        (dot(col("a_vec"), col("b_vec")) / (col("a_norm") * col("b_norm"))).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** EXACT embedding near-dup pairs by angular SimHash: all pairs whose
    * Rademacher sign signatures differ in ≤ `maxHamming` of `nPlanes` bits,
    * with the exact cosine reported per pair.
    *
    * Unlike [[cosineDupPairs]] (recall < 1 on a raw cosine threshold), the
    * result set here is *deterministically complete* for its definition:
    * signatures are bucketed into `nChunks = nPlanes/chunkBits` chunks, and
    * any pair within Hamming distance `maxHamming < nChunks` must agree on
    * at least one whole chunk (pigeonhole), so the chunk join loses
    * nothing. That makes the query SQL-oracle-checkable end to end — the
    * ±1 planes reproduce bit-identically in any double-arithmetic engine.
    *
    * Scale shape: candidates carry (id, sig) only — 8 bytes of payload
    * through the bucket join; vectors are joined back once per surviving
    * pair for the cosine audit column.
    */
  def simhashDupPairs(corpus: DataFrame, maxHamming: Int = 8,
                      nPlanes: Int = 36, chunkBits: Int = 4, dim: Int = 64,
                      idCol: String = "vec_id", vecCol: String = "embedding",
                      seed: Long = 7L): DataFrame = {
    val nChunks = nPlanes / chunkBits
    require(nChunks * chunkBits == nPlanes, "chunkBits must divide nPlanes")
    require(maxHamming < nChunks,
      s"pigeonhole guarantee needs maxHamming < nChunks ($maxHamming >= $nChunks)")
    // the nPlanes×dim sign-bit kernel is CPU-per-row: spread a
    // row-group-starved scan before it (ScanSpread kernel floor)
    val corpusIn = graft.ops.ScanSpread.spread(corpus.sparkSession, corpus,
      graft.ops.ScanSpread.KernelFloor)
    val chunked = chunkBuckets(
      corpusIn.select(col(idCol).as("id"),
        VectorExpressions.lshSignBits(col(vecCol),
          signPlanes(nPlanes, dim, seed), nPlanes, dim).as("sig")),
      "sig", nChunks, chunkBits, Seq("id", "sig"))
    val a = chunked.toDF("a_id", "a_sig", "chunk", "ch")
    val b = chunked.toDF("b_id", "b_sig", "chunk", "ch")
    // corpus-sized vector payload: shuffle-joined back by id, never
    // broadcast (corpus-proportional build ≠ scale-safe)
    def side(role: String): DataFrame =
      corpusIn.select(col(idCol).as(s"${role}_id"), col(vecCol).as(s"${role}_vec"),
        l2Norm(col(vecCol)).as(s"${role}_norm"))
        .hint("SHUFFLE_HASH")
    a.join(b, Seq("chunk", "ch")).filter(col("a_id") < col("b_id"))
      // Hamming-filter BEFORE dedup and payload join: it needs only the
      // signatures already riding the candidate rows.
      .withColumn("hamming", bit_count(col("a_sig").bitwiseXOR(col("b_sig"))))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("a_id", "b_id")
      .join(side("a"), "a_id").join(side("b"), "b_id")
      .select(col("a_id"), col("b_id"), col("hamming"),
        (dot(col("a_vec"), col("b_vec")) / (col("a_norm") * col("b_norm"))).as("cos"))
  }

  /** Int8 affine quantization audit — the storage-compression decision an
    * embedding pipeline makes before writing vectors at corpus scale
    * (4 bytes/dim float → 1 byte/dim + two scalars, 4× on what is often
    * the largest table in the lake). Per vector: the affine map
    * code = ⌊(x − min)/scale + ½⌋ with scale = (max − min)/255, plus the
    * audit numbers a consumer needs to accept the compression — the
    * integer code checksum and the worst-case reconstruction error
    * max|x − (min + code·scale)| (bounded by scale/2 by construction —
    * spec-pinned, and the registered query hash-checks every float
    * against DuckDB replaying the identical IEEE expression tree).
    * Purely narrow per-row HOF work: runs scan-side, no shuffle; floats
    * promote to double exactly, ⌊·+½⌋ avoids the engines' differing
    * round() tie conventions, and max/sum over array order are
    * order-free. Degenerate constant vectors (scale = 0) code to 0 with
    * exact reconstruction.
    */
  def int8QuantStats(embs: DataFrame, idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    val code = (x: Column) => when(col("scale") === 0.0, 0L)
      .otherwise(least(lit(255L),
        floor((x.cast("double") - col("qmin")) / col("scale") + lit(0.5))))
    val err = (x: Column) => when(col("scale") === 0.0, lit(0.0))
      .otherwise(abs(x.cast("double") -
        (col("qmin") + code(x).cast("double") * col("scale"))))
    embs.select(col(idCol), col(vecCol).as("v"),
        array_min(col(vecCol)).cast("double").as("qmin"),
        array_max(col(vecCol)).cast("double").as("qmax"))
      .withColumn("scale", (col("qmax") - col("qmin")) / lit(255.0))
      .select(col(idCol), col("qmin"), col("qmax"), col("scale"),
        aggregate(transform(col("v"), code), lit(0L), (a, c) => a + c).as("code_sum"),
        array_max(transform(col("v"), err)).as("max_err"))
  }
}
