package graft.sim

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.source.Tables

class SimilaritySpec extends SparkSpec {

  test("vecDot / cosine match independent computation on known vectors") {
    import spark.implicits._
    val df = Seq(
      (1L, Array(1.0f, 0.0f, 2.0f), Array(3.0f, 4.0f, 0.5f)),
      (2L, Array(0.0f, 0.0f, 0.0f), Array(1.0f, 1.0f, 1.0f))
    ).toDF("id", "a", "b")
    val got = df.select(col("id"), Similarity.dot(col("a"), col("b")).as("d"))
      .orderBy("id").collect()
    assert(got(0).getDouble(1) == 1.0 * 3.0 + 0.0 * 4.0 + 2.0 * 0.5)
    assert(got(1).getDouble(1) == 0.0)
  }

  test("bruteForceTopK matches an exact in-memory ranking") {
    val emb = Tables(spark, sfDir, "embeddings")
    val got = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 3), k = 5)
      .collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.sortBy(_.getInt(3)).map(_.getLong(1)).toSeq).toMap

    // independent computation straight from the parquet rows
    val rows = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    for (q <- 0L until 3L) {
      val qv = rows.find(_._1 == q).get._2
      val expect = rows.filter(_._1 != q)
        .map { case (id, v) => (id, cos(qv, v)) }
        .sortBy { case (id, c) => (-c, id) }.take(5).map(_._1).toSeq
      assert(got(q) == expect, s"query $q: ${got(q)} vs $expect")
    }
  }

  test("knnJoinExact ≡ the window-rank formulation, under any partitioning") {
    val emb = Tables(spark, sfDir, "embeddings").limit(120)
    // the proven path: bruteForceTopK with queries = corpus (window rank)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))
    val want = Similarity.bruteForceTopK(emb, emb, k = 5)
      .collect().map(key).toSet
    for (parts <- Seq(1, 13)) {
      val got = Similarity.knnJoinExact(emb.repartition(parts), k = 5)
        .collect().map(key).toSet
      assert(got == want, s"parts=$parts: sets differ (${got.size} vs ${want.size})")
    }
  }

  test("hardNegatives: closest different-label vectors, no same-label leakage") {
    val emb = Tables(spark, sfDir, "embeddings").limit(150)
    val queries = emb.filter(col("vec_id") < 10)
    val got = Similarity.hardNegatives(emb, queries, k = 5)
    val labels = emb.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = got.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(rows.nonEmpty)
    // no mined negative shares its query's label
    rows.foreach { case (q, n, _, _) =>
      assert(labels(q) != labels(n), s"same-label pair leaked: $q -> $n")
    }
    // ≡ the window-rank formulation with the label predicate, and
    // partition-invariant
    def key(t: (Long, Long, Double, Int)) = t
    val want = {
      val scored = Similarity.bruteForceTopK(emb, queries, k = 150)
      scored.join(emb.select(col("vec_id").as("q_id"), col("label").as("ql")), "q_id")
        .join(emb.select(col("vec_id").as("n_id"), col("label").as("nl")), "n_id")
        .where(col("ql") =!= col("nl"))
        .withColumn("rnk", org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
            .orderBy(col("cos").desc, col("n_id"))).cast("int"))
        .where(col("rnk") <= 5)
        .select(col("q_id"), col("n_id"), col("cos"), col("rnk"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .toSet
    }
    assert(rows.map(key).toSet == want)
    val reparted = Similarity.hardNegatives(emb.repartition(13), queries, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(reparted == want)
  }

  private def topk(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double, Int)] =
    df.collect().map(r => (r.getAs[Number](0).longValue, r.getLong(1), r.getDouble(2),
      r.getInt(3))).toSet

  test("kernel edge cases: ties by id, k past the corpus, float and double, 1 and 13 parts") {
    import spark.implicits._
    val rnd = new scala.util.Random(99)
    val dim = 8
    val fresh = (0 until 30).map(i => (i.toLong, Array.fill(dim)(rnd.nextFloat() - 0.5f)))
    // ids 40, 33 and 47 carry the SAME vector as id 3: against any other
    // query their cosines are equal, so they rank by ascending id
    val dups = Seq(40L, 33L, 47L).map(id => (id, fresh(3)._2.clone()))
    val vecs = fresh ++ dups
    val labels = vecs.map { case (id, _) => id -> (id % 3).toInt }.toMap
    val floats = vecs.map { case (id, v) => (id, v, labels(id)) }
      .toDF("vec_id", "embedding", "label")
    val doubles = vecs.map { case (id, v) => (id, v.map(_.toDouble), labels(id)) }
      .toDF("vec_id", "embedding", "label")
    val got = topk(Similarity.knnJoinExact(floats, k = 5))
    assert(got == topk(Similarity.bruteForceTopK(floats, floats, k = 5)))
    // every query but 3 and its copies sees the four copies tie
    val tieSizes = for (q <- 0L until 30L if q != 3L) yield {
      val tied = got.filter(r => r._1 == q && Set(3L, 33L, 40L, 47L)(r._2)).toSeq.sortBy(_._4)
      assert(tied.map(_._3).distinct.size <= 1, s"q=$q: $tied")
      assert(tied.map(_._2) == Seq(3L, 33L, 40L, 47L).take(tied.size),
        s"q=$q: ties out of id order: $tied")
      tied.size
    }
    assert(tieSizes.max >= 2, "no query saw the tie")
    val q3 = got.filter(_._1 == 3L).toSeq.sortBy(_._4)
    assert(q3.take(3).map(_._2) == Seq(33L, 40L, 47L), s"copies of 3 rank by id: $q3")
    // array<double> widened from the same floats scores bit-identically
    assert(topk(Similarity.knnJoinExact(doubles, k = 5)) == got)
    // k at and past corpus size - 1: every other vector, ranked once
    val n = vecs.size
    for (k <- Seq(n - 1, n, 10 * n)) {
      val all = topk(Similarity.knnJoinExact(floats, k = k))
      assert(all.size == n * (n - 1), s"k=$k")
      assert(all == topk(Similarity.bruteForceTopK(floats, floats, k = k)), s"k=$k")
    }
    // partition-invariant, labelled or not
    val queries = doubles.filter(col("vec_id") % 4 === 0)
    val hn = topk(Similarity.hardNegatives(doubles, queries, k = 4))
    assert(hn.nonEmpty && hn.forall(r => labels(r._1) != labels(r._2)))
    for (parts <- Seq(1, 13)) {
      assert(topk(Similarity.knnJoinExact(floats.repartition(parts), k = 5)) == got,
        s"parts=$parts")
      assert(topk(Similarity.hardNegatives(doubles.repartition(parts),
        queries.repartition(parts), k = 4)) == hn, s"parts=$parts")
    }
  }

  test("kernel keeps the results pinned for a zero vector, a NULL element, a dimension mismatch") {
    import spark.implicits._
    // pinned on the pair-join formulation this kernel replaced: a NULL
    // cosine ranked as 0.0, and a zero-norm pair failed under ANSI
    def corpus(v4: Option[Float]*) = Seq(
        (1L, Seq(Some(1.0f), Some(0.0f), Some(0.0f)), 0),
        (2L, Seq(Some(0.0f), Some(1.0f), Some(0.0f)), 1),
        (3L, Seq(Some(1.0f), Some(1.0f), Some(0.0f)), 1),
        (4L, v4, 0))
      .toDF("vec_id", "embedding", "label")
    val c = 0.7071067811865475
    val knn = Set((1L, 2L, 0.0, 2), (1L, 3L, c, 1), (1L, 4L, 0.0, 3),
      (2L, 1L, 0.0, 2), (2L, 3L, c, 1), (2L, 4L, 0.0, 3),
      (3L, 1L, c, 1), (3L, 2L, c, 2), (3L, 4L, 0.0, 3),
      (4L, 1L, 0.0, 1), (4L, 2L, 0.0, 2), (4L, 3L, 0.0, 3))
    val hn = Set((1L, 2L, 0.0, 2), (1L, 3L, c, 1), (2L, 1L, 0.0, 1), (2L, 4L, 0.0, 2),
      (3L, 1L, c, 1), (3L, 4L, 0.0, 2), (4L, 2L, 0.0, 1), (4L, 3L, 0.0, 2))
    for (v4 <- Seq(Seq(Some(1.0f), None, Some(0.0f)), Seq(Some(1.0f), Some(0.5f)))) {
      val df = corpus(v4: _*)
      assert(topk(Similarity.knnJoinExact(df, k = 5)) == knn, v4)
      assert(topk(Similarity.hardNegatives(df, df, k = 5)) == hn, v4)
    }
    val zero = corpus(Some(0.0f), Some(0.0f), Some(0.0f))
    def divideByZero(f: => Any): Unit = {
      val e = intercept[Exception](f)
      val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      assert(chain.exists(t => String.valueOf(t.getMessage).contains("DIVIDE_BY_ZERO")), e)
    }
    divideByZero(Similarity.knnJoinExact(zero, k = 5).collect())
    divideByZero(Similarity.hardNegatives(zero, zero, k = 5).collect())
    // a zero vector sharing the query's label is never scored
    assert(topk(Similarity.hardNegatives(zero, zero.filter(col("vec_id") === 1), k = 5)) ==
      Set((1L, 2L, 0.0, 2), (1L, 3L, c, 1)))
  }

  test("a repeated corpus id is refused") {
    import spark.implicits._
    val df = Seq((1L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)), (2L, Array(1.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException](Similarity.knnJoinExact(df, k = 2))
    assert(e.getMessage.contains("vec_id 1 is not unique"), e.getMessage)
  }

  test("TopKByScore: bounded buffer, deterministic ties, merge associativity") {
    val agg = new Similarity.TopKByScore(3)
    // (0.9, 2L) is observed TWICE: identical (score, id) observations
    // are idempotent — a duplicate is the same neighbor seen again and
    // must never occupy two of the k slots (containmentTopK feeds the
    // pre-dedup exact-mask candidate stream on this contract)
    val xs = Seq((0.5, 7L), (0.9, 2L), (0.5, 1L), (0.9, 9L), (0.1, 4L), (0.9, 2L))
    val whole = xs.foldLeft(agg.zero)(agg.reduce)
    assert(whole == Seq((0.9, 2L), (0.9, 9L), (0.5, 1L)))
    // any split point merges to the same top-k
    for (cut <- 0 to xs.size) {
      val (l, r) = xs.splitAt(cut)
      val m = agg.merge(l.foldLeft(agg.zero)(agg.reduce), r.foldLeft(agg.zero)(agg.reduce))
      assert(m == whole, s"cut=$cut")
    }
    // saturation + late duplicate of the k-th entry: still idempotent
    val sat = (xs ++ Seq((0.5, 1L), (0.5, 1L))).foldLeft(agg.zero)(agg.reduce)
    assert(sat == whole)
  }

  test("lshTopK achieves useful recall against brute force") {
    val emb = Tables(spark, sfDir, "embeddings")
    val queries = emb.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(emb, queries, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // fixture vectors are i.i.d. random (top-10 cosine ≈ 0.3): sign-bit
    // collision prob per 4-bit chunk is (1-θ/π)^4 ≈ 0.13, so 8 chunks give
    // ~2/3 recall; production near-dups (cos ≥ 0.9) bucket far better.
    val approx = Similarity.lshTopK(emb, queries, k = 10, chunkBits = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall > 0.4, s"recall $recall")
    // every LSH hit must carry the exact cosine (rerank is exact)
    assert(approx.subsetOf(
      Similarity.bruteForceTopK(emb, queries, k = 500).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet))
  }

  test("lshTopKMd5: md5 planes are in range and deterministic; hits carry exact cosines") {
    // plane formula stability: any drift here silently flips the
    // oracle-replayable signature family
    val pl = Similarity.lshPlanesMd5(16, 64)
    assert(pl.length == 16 * 64)
    assert(pl.forall(c => c >= -8.0 && c <= 8.0 && c == c.floor))
    assert(java.util.Arrays.equals(pl, Similarity.lshPlanesMd5(16, 64)))
    val emb = Tables(spark, sfDir, "embeddings")
    val queries = emb.filter(col("vec_id") < 20)
    val approx = Similarity.lshTopKMd5(emb, queries, k = 10).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(approx.nonEmpty)
    // rerank exactness: every surfaced cosine equals the brute-force one
    val exact = Similarity.bruteForceTopK(emb, queries, k = 500).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    approx.foreach { case (pair, cos) =>
      exact.get(pair).foreach(e => assert(e == cos, s"$pair: $cos vs $e"))
    }
  }

  test("lshTopKMultiProbe dominates single-probe per rank and lifts recall") {
    val emb = Tables(spark, sfDir, "embeddings")
    val queries = emb.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(emb, queries, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val single = Similarity.lshTopK(emb, queries, k = 10, chunkBits = 4).collect()
    val multi = Similarity.lshTopKMultiProbe(emb, queries, k = 10, chunkBits = 4).collect()
    // candidate superset (the 0-flip probe is included) ⇒ at every
    // (query, rank) the multi-probe cosine is ≥ the single-probe one
    val sMap = single.map(r => (r.getLong(0), r.getInt(3)) -> r.getDouble(2)).toMap
    multi.foreach { r =>
      sMap.get((r.getLong(0), r.getInt(3))).foreach { sc =>
        assert(r.getDouble(2) >= sc,
          s"q=${r.getLong(0)} rnk=${r.getInt(3)}: multi ${r.getDouble(2)} < single $sc")
      }
    }
    val rs = exact.intersect(single.map(r => (r.getLong(0), r.getLong(1))).toSet)
      .size.toDouble / exact.size
    val rm = exact.intersect(multi.map(r => (r.getLong(0), r.getLong(1))).toSet)
      .size.toDouble / exact.size
    assert(rm >= rs, s"multi-probe recall $rm below single-probe $rs")
    assert(rm > 0.6, s"multi-probe recall $rm") // single-probe gate is 0.4
  }

  test("cosineDupPairs returns only pairs above threshold, exact scores") {
    import spark.implicits._
    val v1 = Array.fill(8)(1.0f)
    val v2 = v1.clone(); v2(0) = 0.9f // nearly identical
    val v3 = Array.tabulate(8)(i => if (i % 2 == 0) 1.0f else -1.0f)
    val df = Seq((1L, v1), (2L, v2), (3L, v3)).toDF("vec_id", "embedding")
    val out = Similarity.cosineDupPairs(df, threshold = 0.9, nPlanes = 32,
        chunkBits = 4, dim = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((1L, 2L)))
  }

  test("simhashDupPairs bucket join is pigeonhole-complete (property)") {
    // completeness of the chunked candidate join, independently verified:
    // compute every pair's Hamming distance from the collected signatures
    // and assert the bucket-joined result contains EXACTLY the pairs at
    // hamming <= maxHamming, across seeded random corpora
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(4242)
    val dim = 16
    val vecs = (0 until 120).map { id =>
      (id.toLong, Array.fill(dim)((rnd.nextDouble() * 2 - 1).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val maxHamming = 8
    val got = Similarity.simhashDupPairs(df, maxHamming = maxHamming,
        nPlanes = 36, chunkBits = 4, dim = dim)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sigs = df.select(col("vec_id"),
        graft.functions.VectorExpressions.lshSignBits(col("embedding"),
          Similarity.signPlanes(36, dim, 7L), 36, dim).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expect = (for {
      a <- sigs.keys; b <- sigs.keys if a < b
      if java.lang.Long.bitCount(sigs(a) ^ sigs(b)) <= maxHamming
    } yield (a, b)).toSet
    assert(got == expect,
      s"missing=${(expect -- got).take(3)} extra=${(got -- expect).take(3)}")
    assert(expect.nonEmpty, "property run found no pairs - weaken threshold")
  }

  test("emb_dup_groups: every planted duplicate lands in its source's group") {
    // the registered semantic-dedup grouping query, run on fixture data:
    // a planted vector (vec·0.5 under id+1e6) is angularly identical to
    // its source, so CC must put both under one label — and that label is
    // the source id whenever the source has no lower-id near-dup of its own
    val out = graft.SparkEntry.queries("emb_dup_groups")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val planted = out.keys.filter(_ >= 1000000L)
    assert(planted.size == 50)
    planted.foreach { p =>
      assert(out(p) == out(p - 1000000L),
        s"planted $p labeled ${out(p)} but source has ${out(p - 1000000L)}")
    }
    // labels are canonical: every group_id is itself a member mapping to itself
    out.values.toSet.foreach { g: Long => assert(out(g) == g) }
  }

  test("int8QuantStats: error ≤ scale/2, exact on range endpoints and constant vectors") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(-1.5f, 0.0f, 2.5f, 0.7f)),       // generic range
      (2L, Array(3.25f, 3.25f, 3.25f)),           // constant → scale 0 branch
      (3L, Array(0.0f, 255.0f)),                  // endpoints must code 0 / 255
      (4L, (0 until 64).map(i => (i * 0.37f) - 11.1f).toArray))
    val out = Similarity.int8QuantStats(vecs.toDF("vec_id", "embedding"))
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getLong(4), r.getDouble(5))).toMap
    // worst reconstruction error is half a quantization step (+1 ulp slack)
    out.foreach { case (id, (mn, mx, scale, _, maxErr)) =>
      assert(maxErr <= scale / 2 + 1e-12, s"vec $id: err $maxErr > ${scale / 2}")
      assert(mx >= mn)
    }
    // constant vector: scale 0, codes 0, exact reconstruction
    assert(out(2L)._3 == 0.0 && out(2L)._4 == 0L && out(2L)._5 == 0.0)
    // endpoints: min codes to 0, max to 255 → checksum 255, both exact
    assert(out(3L)._4 == 255L && out(3L)._5 == 0.0)
    // reference check: replay the affine map on the driver for vec 4
    val v = vecs.find(_._1 == 4L).get._2.map(_.toDouble)
    val (mn, mx) = (v.min, v.max)
    val scale = (mx - mn) / 255.0
    val codes = v.map(x => math.min(255L, math.floor((x - mn) / scale + 0.5).toLong))
    val errs = v.zip(codes).map { case (x, c) => math.abs(x - (mn + c * scale)) }
    assert(out(4L)._4 == codes.sum && out(4L)._5 == errs.max)
  }

  test("testContamination: ≡ window argmax; planted paraphrase flagged; partition-invariant") {
    import spark.implicits._
    val rnd = new scala.util.Random(321)
    val dim = 16
    val train = (0 until 80)
      .map(i => (i.toLong, Array.fill(dim)((rnd.nextDouble() * 2 - 1).toFloat)))
    // eval items: 5 near-copies of train vectors (leaks) + 10 fresh
    val leaks = (0 until 5).map { j =>
      (100L + j, train(j * 7)._2.map(x => x + (rnd.nextFloat() - 0.5f) * 1e-3f))
    }
    val fresh = (0 until 10)
      .map(j => (200L + j, Array.fill(dim)((rnd.nextDouble() * 2 - 1).toFloat)))
    val trainDf = train.toDF("vec_id", "embedding")
    val testDf = (leaks ++ fresh).toDF("vec_id", "embedding")
    val out = Similarity.testContamination(trainDf, testDf, tau = 0.95)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getBoolean(3)))
      .toMap
    assert(out.size == 15)
    (0 until 5).foreach { j =>
      assert(out(100L + j)._3, s"planted leak ${100 + j} not flagged")
      assert(out(100L + j)._1 == (j * 7).toLong, "nearest is not the source")
    }
    assert(fresh.forall { case (id, _) => !out(id)._3 },
      "fresh eval item falsely flagged at tau=0.95")

    // ≡ window-rank formulation
    val t = trainDf.select(col("vec_id").as("train_id"), col("embedding").as("tv"),
      Similarity.l2Norm(col("embedding")).as("tn"))
    val q = testDf.select(col("vec_id").as("test_id"), col("embedding").as("qv"),
      Similarity.l2Norm(col("embedding")).as("qn"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("test_id")).orderBy(col("cos").desc, col("train_id"))
    val naive = t.join(q, col("train_id") =!= col("test_id"))
      .select(col("test_id"), col("train_id"),
        (Similarity.dot(col("qv"), col("tv")) / (col("qn") * col("tn"))).as("cos"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(2) >= 0.95))
      .toMap
    assert(out == naive, "diverged from window-argmax formulation")

    val repart = Similarity.testContamination(
        trainDf.repartition(7), testDf.repartition(3), tau = 0.95)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getBoolean(3)))
      .toMap
    assert(repart == out, "partition-invariant")
  }
}
