package graft.text

import org.apache.spark.sql.functions._

import graft.SparkSpec

class DedupSpec extends SparkSpec {

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private val base = "the quick brown fox jumps over the lazy dog and runs far away home"
  private val nearDup = base.replace("runs", "walks")
  private val other = "completely different content about spark catalyst optimizer rules engine"

  test("exact dedup groups identical texts under one fingerprint") {
    val d = docs((1L, base), (2L, base), (3L, other))
    val out = Dedup.exact(d).orderBy("canonical_id").collect()
    assert(out.length == 2)
    assert(out(0).getAs[Long]("canonical_id") == 1L && out(0).getAs[Long]("n_dups") == 2L)
  }

  test("minhash finds near-duplicates and skips unrelated docs") {
    val d = docs((1L, base), (2L, nearDup), (3L, other), (4L, base))
    val pairs = Dedup.minhashPairs(d, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)) || pairs.contains((1L, 4L)), s"got $pairs")
    assert(pairs.contains((1L, 4L))) // identical docs always collide
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("minhash candidate jaccard matches exact shingle jaccard") {
    val d = docs((1L, base), (2L, nearDup))
    val got = Dedup.minhashPairs(d, threshold = 0.0, bands = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.length == 1)
    // exact 3-shingle jaccard computed independently
    def sh(s: String) = s.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val (a, b) = (sh(base), sh(nearDup))
    val expect = a.intersect(b).size.toDouble / a.union(b).size
    assert(math.abs(got(0)._3 - expect) < 1e-12, s"${got(0)._3} vs $expect")
  }

  test("minhashPairsMd5: finds near-dups, skips unrelated, exact jaccard values") {
    val d = docs((1L, base), (2L, nearDup), (3L, other), (4L, base))
    val got = Dedup.minhashPairsMd5(d, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val pairs = got.map(p => (p._1, p._2)).toSet
    assert(pairs.contains((1L, 4L)), s"identical docs always collide; got $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    // every surfaced jaccard equals the exact 3-shingle jaccard (the
    // md5 hash family is injective on the fixture's shingle sets)
    val texts = Map(1L -> base, 2L -> nearDup, 3L -> other, 4L -> base)
    def sh(s: String) = s.split(" ").sliding(3).map(_.mkString(" ")).toSet
    got.foreach { case (a, b, j) =>
      val (sa, sb) = (sh(texts(a)), sh(texts(b)))
      val expect = sa.intersect(sb).size.toDouble / sa.union(sb).size
      assert(math.abs(j - expect) < 1e-12, s"($a,$b): $j vs $expect")
    }
  }

  test("minhashPairsMd5Incremental ≡ full run restricted to pairs touching the batch") {
    // the day-over-day contract: probing the standing index + the
    // intra-batch self-join yields exactly the full pair relation's
    // rows with ≥ 1 batch member — never an old×old pair, never a miss
    val all = docs((1L, base), (2L, nearDup), (3L, other), (4L, base),
      (5L, nearDup), (6L, base))
    val split = 4L // existing: 1-3, batch: 4-6
    val inc = Dedup.minhashPairsMd5Incremental(
        batch = all.filter(org.apache.spark.sql.functions.col("doc_id") >= split),
        existing = all.filter(org.apache.spark.sql.functions.col("doc_id") < split),
        threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val full = Dedup.minhashPairsMd5(all, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val want = full.filter { case (a, b, _) => a >= split || b >= split }
    assert(inc == want, s"inc=$inc want=$want")
    assert(want.nonEmpty, "degenerate fixture: no pair crosses the split")
    assert(inc.forall { case (a, b, _) => a < b }, "canonical order violated")
  }

  test("simhashPairsMd5: identical docs at hamming 0, unrelated docs out") {
    val d = docs((1L, base), (2L, nearDup), (3L, other), (4L, base))
    val out = Dedup.simhashPairsMd5(d, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(out.exists(p => p._1 == 1L && p._2 == 4L && p._3 == 0),
      s"identical docs must pair at hamming 0; got $out")
    assert(!out.exists(p => p._1 == 3L || p._2 == 3L), s"unrelated doc paired: $out")
  }

  test("simhash: identical docs at hamming 0, near-dups within threshold, unrelated out") {
    val d = docs((1L, base), (2L, nearDup), (3L, other), (4L, base))
    val out = Dedup.simhashPairs(d, maxHamming = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(out.exists(p => p._1 == 1L && p._2 == 4L && p._3 == 0))
    assert(out.exists(p => p._1 == 1L && p._2 == 2L && p._3 <= 16))
    assert(!out.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("simhash hot-bucket grid path equals the plain bucket join") {
    import spark.implicits._
    // near-identical docs → concentrated signatures → dense 16-bit
    // buckets; hotBucketCap=5 forces (some) buckets onto the grid path.
    val rows = (1L to 40L).map(i => (i, if (i % 2 == 0) base else nearDup))
    val d = rows.toDF("doc_id", "text")
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val grid = key(Dedup.simhashPairs(d, maxHamming = 16, hotBucketCap = 5))
    val plain = key(Dedup.simhashPairs(d, maxHamming = 16))
    assert(grid == plain,
      s"missing=${(plain -- grid).take(3)} extra=${(grid -- plain).take(3)}")
    assert(plain.nonEmpty)
  }

  test("SortedIntersectSize equals size(array_intersect) on randomized arrays") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    def arr() = Seq.fill(rnd.nextInt(20))(s"t${rnd.nextInt(12)}")
    val rows = Seq.fill(300)((arr(), arr()))
    val d = rows.toDF("a", "b")
      .select(array_sort(array_distinct(col("a"))).as("a"),
        array_sort(array_distinct(col("b"))).as("b"))
    val out = d.select(
      graft.functions.HashExpressions.sortedIntersectSize(col("a"), col("b")).as("k"),
      size(array_intersect(col("a"), col("b"))).as("ref")).collect()
    out.foreach(r => assert(r.getInt(0) == r.getInt(1), r.toString))
  }

  test("WordNgrams kernel equals the composed gram form on randomized texts") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    def text() = Seq.fill(rnd.nextInt(9) + 1)(s"w${rnd.nextInt(6)}")
      .mkString(if (rnd.nextBoolean()) " " else "  ") // multi-space too
    val d = Seq.fill(200)(text()).toDF("text")
    Seq(2, 3, 5).foreach { w =>
      val out = d.select(
        Dedup.gramStrings(col("text"), w).as("k"),
        Dedup.gramStringsComposed(col("text"), w).as("c")).collect()
      out.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1),
        s"w=$w: ${r.getSeq[String](0)} vs ${r.getSeq[String](1)}"))
    }
  }

  test("gramStrings kernel equals the composed HOF formulation incl. short texts") {
    import spark.implicits._
    val d = Seq("a b c d e", "x y", "solo", "t1  t2\tt3").toDF("text")
    val both = d.select(
      Dedup.gramStrings(col("text"), 3).as("k"),
      Dedup.gramStringsComposed(col("text"), 3).as("c")).collect()
    both.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1),
      s"${r.getSeq[String](0)} vs ${r.getSeq[String](1)}"))
  }

  test("jaccardPairs blocks and scores exactly") {
    import spark.implicits._
    val d = Seq((1L, "g1", base), (2L, "g1", base), (3L, "g2", base))
      .toDF("doc_id", "blk", "text")
    val out = Dedup.jaccardPairs(d, Seq("blk"), threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((1L, 2L))) // cross-block pair 1-3 never compared
  }

  test("prefixJaccardPairs equals the quadratic kernel on the fixture corpus") {
    // the lossless-candidates claim, checked end to end: prefix-filtered
    // candidate generation must reproduce the blocked inequality join's
    // result set EXACTLY (ids and scores) on real data
    val d = graft.source.Tables(spark, sfDir, "documents")
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2))
    val fast = Dedup.prefixJaccardPairs(d, Seq("lang", "source"), threshold = 0.8)
      .collect().map(key).toSet
    val slow = Dedup.jaccardPairs(d, Seq("lang", "source"), threshold = 0.8)
      .collect().map(key).toSet
    assert(fast == slow, s"missing=${(slow -- fast).take(3)} extra=${(fast -- slow).take(3)}")
    assert(fast.nonEmpty)
  }

  test("spill-aware exchange sizing is result-invariant (forced sizeParts)") {
    // the sf10 gates never fire at fixture scale — force the sized
    // layout directly and pin candidate-set equality: repartitioning
    // the join inputs on their own join keys must never change rows
    val docs = graft.source.Tables(spark, sfDir, "documents")
    val d = docs.select(
        col("doc_id").as("id"), col("lang"),
        array_sort(array_distinct(split(col("text"), "\\s+"))).as("w"))
      .withColumn("nw", size(col("w")))
    def pairs(parts: Int) = Dedup.prefixCandidates(d, Seq("lang"), 0.8,
        commonVocab = 10000, hotBucketCap = 100000, sizeParts = parts)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val base = pairs(0)
    assert(base.nonEmpty && pairs(7) == base)
    // and through the hot-grid path (tiny cap sends every bucket hot)
    def hotPairs(parts: Int) = Dedup.prefixCandidates(d, Seq("lang"), 0.8,
        commonVocab = 10000, hotBucketCap = 50, sizeParts = parts)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hotPairs(5) == hotPairs(0) && hotPairs(0) == base)
  }

  test("bounded-dictionary fast path ≡ general verify path (ids AND scores)") {
    // the fixture corpus speaks ≤ 64 tokens, so the default call takes the
    // exact-mask fast path (no verify join-back); truncating the rank
    // dictionary below the vocabulary disables the mask gate and forces
    // the general SortedIntersectSize path — any consistent token order
    // is lossless, so both must emit identical (a_id, b_id, jaccard)
    // rows, doubles exact (both divide the same ints)
    val d = graft.source.Tables(spark, sfDir, "documents")
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2))
    val masked = Dedup.prefixJaccardPairs(d, Seq("lang"), threshold = 0.8)
      .collect().map(key).toSet
    val general = Dedup.prefixJaccardPairs(d, Seq("lang"), threshold = 0.8,
        commonVocab = 4)
      .collect().map(key).toSet
    assert(masked == general,
      s"missing=${(general -- masked).take(3)} extra=${(masked -- general).take(3)}")
    assert(masked.nonEmpty)
    // and the incremental family agrees with its own general path
    val batch = d.filter(col("doc_id") % 5 === 0)
    val standing = d.filter(col("doc_id") % 5 =!= 0)
    val incMasked = Dedup.prefixJaccardPairsIncremental(batch, standing,
        Seq("lang"), threshold = 0.8)
      .collect().map(key).toSet
    val incGeneral = Dedup.prefixJaccardPairsIncremental(batch, standing,
        Seq("lang"), threshold = 0.8, commonVocab = 4)
      .collect().map(key).toSet
    assert(incMasked == incGeneral,
      s"missing=${(incGeneral -- incMasked).take(3)} extra=${(incMasked -- incGeneral).take(3)}")
  }

  test("containmentPairs finds the directed subset relation Jaccard misses") {
    import spark.implicits._
    // doc 1's 8 tokens all appear in 24-token doc 2: containment(1→2)=1.0
    // while Jaccard = 8/24 ≈ 0.33 — the symmetric join's length filter
    // (|A| ≥ t·|B|) prunes the pair before a candidate even forms.
    val small = (1 to 8).map(i => s"s$i").mkString(" ")
    val big = ((1 to 8).map(i => s"s$i") ++ (1 to 16).map(i => s"b$i")).mkString(" ")
    val d = docs((1L, small), (2L, big), (3L, other)).withColumn("blk", lit("g"))
    val got = Dedup.containmentPairs(d, Seq("blk"), threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set((1L, 2L, 1.0)), s"got=$got") // directed: (2,1) is 1/3
    assert(Dedup.prefixJaccardPairs(d, Seq("blk"), threshold = 0.9).count() == 0)
  }

  test("containmentPairs equals the quadratic kernel on the fixture corpus") {
    val d = graft.source.Tables(spark, sfDir, "documents")
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2))
    val fast = Dedup.containmentPairs(d, Seq("lang", "source"), threshold = 0.9)
      .collect().map(key).toSet
    val slow = Dedup.containmentPairsQuadratic(d, Seq("lang", "source"), threshold = 0.9)
      .collect().map(key).toSet
    assert(fast == slow, s"missing=${(slow -- fast).take(3)} extra=${(fast -- slow).take(3)}")
    assert(fast.nonEmpty)
  }

  test("containment losslessness holds on randomized corpora incl. grid path (property)") {
    // sweeps seeded duplicate-heavy small-vocab corpora across thresholds,
    // and re-runs each with a tiny hotBucketCap so the product-metered
    // grid-salted path is exercised — all three must agree exactly
    import spark.implicits._
    val rnd = new scala.util.Random(54321)
    (1 to 3).foreach { round =>
      val vocab = (1 to 25).map(i => s"w$i")
      val rows = (1 to 70).map { id =>
        val n = 3 + rnd.nextInt(16)
        (id.toLong, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      val d = rows.toDF("doc_id", "text").withColumn("blk", lit("b"))
      Seq(0.6, 0.9).foreach { t =>
        def key(df: org.apache.spark.sql.DataFrame) = df.collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        val fast = key(Dedup.containmentPairs(d, Seq("blk"), t))
        val slow = key(Dedup.containmentPairsQuadratic(d, Seq("blk"), t))
        val grid = key(Dedup.containmentPairs(d, Seq("blk"), t, hotBucketCap = 20))
        assert(fast == slow,
          s"round=$round t=$t missing=${(slow -- fast).take(3)} extra=${(fast -- slow).take(3)}")
        assert(grid == slow, s"round=$round t=$t grid≠plain")
      }
    }
  }

  test("leakProofSplit: no near-dup pair crosses a split; groups are coherent") {
    val d = graft.source.Tables(spark, sfDir, "documents")
    val pairs = Dedup.prefixJaccardPairs(d, Seq("lang", "source"), 0.8)
    val split = Dedup.leakProofSplit(d, pairs)
    val byDoc = split.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(byDoc.size == d.count())
    // every qualifying pair shares a group AND a split — the guarantee
    val pairRows = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairRows.nonEmpty)
    pairRows.foreach { case (a, b) =>
      assert(byDoc(a)._1 == byDoc(b)._1, s"pair ($a,$b) in different groups")
      assert(byDoc(a)._2 == byDoc(b)._2, s"LEAK: pair ($a,$b) crosses splits")
    }
    // deterministic bucket arithmetic ≡ the hashModBucket idiom
    val splits = byDoc.values.map(_._2).toSeq
    assert(Set("train", "val", "test").subsetOf(splits.toSet) ||
      splits.toSet.subsetOf(Set("train", "val", "test")))
    val trainFrac = splits.count(_ == "train").toDouble / splits.size
    assert(trainFrac > 0.6 && trainFrac < 0.95, s"train fraction $trainFrac")
  }

  test("incremental Jaccard ≡ full pass restricted to batch-touching pairs") {
    import spark.implicits._
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // fixture corpus
    val d = graft.source.Tables(spark, sfDir, "documents")
    val incFix = key(Dedup.prefixJaccardPairsIncremental(
      d.filter(col("doc_id") % 5 === 2), d.filter(col("doc_id") % 5 =!= 2),
      Seq("lang", "source"), threshold = 0.8))
    val fullFix = key(Dedup.prefixJaccardPairs(d, Seq("lang", "source"), 0.8))
      .filter { case (a, b, _) => a % 5 == 2 || b % 5 == 2 }
    assert(incFix == fullFix && incFix.nonEmpty,
      s"missing=${(fullFix -- incFix).take(3)} extra=${(incFix -- fullFix).take(3)}")
    // randomized duplicate-heavy corpus, plus the tiny-cap grid path
    val rnd = new scala.util.Random(13579)
    val vocab = (1 to 20).map(i => s"w$i")
    val rows = (1 to 70).map { id =>
      val n = 4 + rnd.nextInt(12)
      (id.toLong, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val dr = rows.toDF("doc_id", "text").withColumn("blk", lit("b"))
    for (cap <- Seq(100000, 15)) {
      val inc = key(Dedup.prefixJaccardPairsIncremental(
        dr.filter(col("doc_id") % 3 === 0), dr.filter(col("doc_id") % 3 =!= 0),
        Seq("blk"), threshold = 0.6, hotBucketCap = cap))
      val full = key(Dedup.prefixJaccardPairs(dr, Seq("blk"), 0.6))
        .filter { case (a, b, _) => a % 3 == 0 || b % 3 == 0 }
      assert(inc == full && inc.nonEmpty, s"cap=$cap " +
        s"missing=${(full -- inc).take(3)} extra=${(inc -- full).take(3)}")
    }
  }

  test("incremental md5 simhash ≡ full pass restricted to batch-touching pairs") {
    val docs = graft.source.Tables(spark, sfDir, "documents")
      .filter(col("doc_id") < 400)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val inc = key(Dedup.simhashPairsMd5Incremental(
      batch = docs.filter(col("doc_id") % 3 === 0),
      existing = docs.filter(col("doc_id") % 3 =!= 0), maxHamming = 3))
    val full = key(Dedup.simhashPairsMd5(docs, maxHamming = 3))
      .filter { case (a, b, _) => a % 3 == 0 || b % 3 == 0 }
    assert(inc == full,
      s"missing=${(full -- inc).take(3)} extra=${(inc -- full).take(3)}")
    // the fixture's boilerplate corpus must actually produce pairs here
    assert(inc.nonEmpty)
    // hot-bucket grid on the probe join: tiny cap, identical pair set
    val grid = key(Dedup.simhashPairsMd5Incremental(
      batch = docs.filter(col("doc_id") % 3 === 0),
      existing = docs.filter(col("doc_id") % 3 =!= 0), maxHamming = 3,
      hotBucketCap = 10))
    assert(grid == full, s"grid≠plain: ${(grid -- full).take(3)}")
  }

  test("incremental containment ≡ full pass restricted to batch-touching pairs") {
    import spark.implicits._
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // randomized duplicate-heavy corpora, both vocab regimes (the ≤64
    // bounded-dictionary exact-mask path AND the general array-verify
    // path), plus a tiny hotBucketCap round to force the grid
    val rnd = new scala.util.Random(97531)
    // general-path (vocab > 64) corpora are sparse, so every third doc
    // is PLANTED as a strict token-subset of its predecessor
    // (containment 1.0) — batch membership (id % 4) cuts across the
    // planting (id % 3), so planted pairs land in both probe relations
    for ((vocabSize, maxLen, cap) <- Seq((25, 16, 100000), (25, 16, 20),
                                         (70, 8, 100000))) {
      val vocab = (1 to vocabSize).map(i => s"w$i")
      val base = (1 to 80).map { id =>
        val n = 3 + rnd.nextInt(maxLen)
        id.toLong -> Seq.fill(n)(vocab(rnd.nextInt(vocab.size)))
      }.toMap
      val rows = (1 to 80).map { id =>
        val toks =
          if (id % 3 == 0) base(id.toLong - 1).distinct.dropRight(1) match {
            case Nil => base(id.toLong)
            case kept => kept
          }
          else base(id.toLong)
        (id.toLong, toks.mkString(" "))
      }
      val d = rows.toDF("doc_id", "text").withColumn("blk", lit("b"))
      val batch = d.filter(col("doc_id") % 4 === 0)
      val standing = d.filter(col("doc_id") % 4 =!= 0)
      val inc = key(Dedup.containmentPairsIncremental(batch, standing,
        Seq("blk"), threshold = 0.8, hotBucketCap = cap))
      val full = key(Dedup.containmentPairsQuadratic(d, Seq("blk"), 0.8))
        .filter { case (a, b, _) => a % 4 == 0 || b % 4 == 0 }
      assert(inc == full, s"vocab=$vocabSize cap=$cap " +
        s"missing=${(full -- inc).take(3)} extra=${(inc -- full).take(3)}")
      assert(inc.nonEmpty, s"vocab=$vocabSize cap=$cap produced no pairs")
    }
    // bootstrap: empty standing corpus ≡ plain batch self-containment
    val d0 = (1 to 12).map(i => (i.toLong,
        (1 to (3 + i % 5)).map(j => s"t$j").mkString(" ")))
      .toDF("doc_id", "text").withColumn("blk", lit("b"))
    val selfOnly = key(Dedup.containmentPairsIncremental(
      d0, d0.limit(0), Seq("blk"), threshold = 0.8))
    assert(selfOnly == key(Dedup.containmentPairsQuadratic(d0, Seq("blk"), 0.8)))
  }

  test("prefix filter handles token-disjoint corpora (empty candidate set)") {
    // 60 docs with fully disjoint vocabularies: zero shared prefix tokens
    // → zero candidates → empty result, where the quadratic form would
    // have compared all C(60,2) pairs
    val many = docs((1L to 60L).map(i =>
      i -> (0 until 8).map(j => s"tok_${i}_$j").mkString(" ")): _*)
      .withColumn("blk", lit("b"))
    val out = Dedup.prefixJaccardPairs(many, Seq("blk"), threshold = 0.8).count()
    assert(out == 0)
  }

  test("dupGroups closes over non-transitive pair chains (A≈B≈C, A≉C)") {
    import spark.implicits._
    // 16-token base; one substitution keeps J = 15/17 ≈ 0.88 ≥ 0.8, two
    // substitutions drop to 14/18 ≈ 0.78 < 0.8 — so (1,2) and (2,3) are
    // pairs but (1,3) is not; only the transitive closure groups all three
    val b = "t01 t02 t03 t04 t05 t06 t07 t08 t09 t10 t11 t12 t13 t14 t15 t16"
    val d2 = b.replace("t16", "x16")
    val d3 = d2.replace("t15", "x15")
    val lone = "completely unrelated content here with other words entirely now"
    val docs = Seq((1L, b), (2L, d2), (3L, d3), (4L, lone), (5L, b))
      .toDF("doc_id", "text").withColumn("blk", lit("g"))
    val pairs = Dedup.jaccardPairs(docs, Seq("blk"), threshold = 0.8)
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got((1L, 2L)) && got((2L, 3L)) && !got((1L, 3L)), s"pairs=$got")
    val groups = Dedup.dupGroups(docs, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(groups == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 1L))
  }

  /** (id, group_id) rows of [[Dedup.dupGroups]] over long-id frames. */
  private def groupsOf(ids: Seq[Long], pairs: Seq[(Long, Long)]) = {
    import spark.implicits._
    Dedup.dupGroups(ids.toDF("doc_id"), pairs.toDF("a_id", "b_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("dupGroups labels a 30-document edit chain as one min-id group") {
    import spark.implicits._
    // doc k is the 16-token window t_k..t_{k+15}: neighbours share 15 of 17
    // tokens (J ≈ 0.88), docs two edits apart 14 of 18 (J ≈ 0.78 < 0.8), so
    // only the closure over 29 links joins the ends. The minimum id heads
    // the chain, 29 links from its far end; the other ids are shuffled.
    val ids = 1L :: new scala.util.Random(7).shuffle((2L to 30L).toList)
    val docs = ids.zipWithIndex.map { case (id, k) =>
      id -> (k until k + 16).map(t => f"t$t%02d").mkString(" ")
    }.toDF("doc_id", "text").withColumn("blk", lit("g"))
    val pairs = Dedup.jaccardPairs(docs, Seq("blk"), threshold = 0.8)
    assert(pairs.count() == 29)
    val groups = Dedup.dupGroups(docs, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(groups == ids.map(_ -> 1L).toMap)
  }

  test("dupGroups keeps Int ids Int in group_id") {
    import spark.implicits._
    val out = Dedup.dupGroups(Seq(1, 2, 3, 4).toDF("doc_id"),
      Seq((4, 2)).toDF("a_id", "b_id"))
    assert(out.schema("group_id").dataType == org.apache.spark.sql.types.IntegerType)
    assert(out.collect().map(r => r.getInt(0) -> r.getInt(1)).toMap ==
      Map(1 -> 1, 2 -> 2, 3 -> 3, 4 -> 2))
  }

  test("dupGroups: NULL ids, self-pairs, repeated and reversed pairs") {
    import spark.implicits._
    val docs = Seq(Some(1L), Some(2L), Some(3L), Some(4L), Some(5L), Some(6L),
      Some(7L), None).toDF("doc_id")
    val pairs = Seq[(Option[Long], Option[Long])](
      (Some(1L), None), (None, Some(2L)), (None, None), (Some(3L), Some(3L)),
      (Some(5L), Some(4L)), (Some(4L), Some(5L)), (Some(5L), Some(4L)),
      (Some(6L), Some(5L))).toDF("a_id", "b_id")
    val got = Dedup.dupGroups(docs, pairs).collect()
      .map(r => Option(r.get(0)) -> Option(r.get(1))).toSet
    assert(got == Set[(Option[Any], Option[Any])](
      Some(1L) -> Some(1L), Some(2L) -> Some(2L), Some(3L) -> Some(3L),
      Some(4L) -> Some(4L), Some(5L) -> Some(4L), Some(6L) -> Some(4L),
      Some(7L) -> Some(7L), None -> None))
  }

  test("dupGroups over an empty pair frame leaves every document alone") {
    assert(groupsOf(Seq(3L, 1L, 2L), Nil) == Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
  }

  test("dupGroups rows do not depend on the pairs' partitioning") {
    import spark.implicits._
    val rnd = new scala.util.Random(20261020)
    val ids = (1L to 200L)
    val pairs = Seq.fill(150)((1L + rnd.nextInt(200), 1L + rnd.nextInt(200)))
    // reference closure: relabel every vertex with its component's min
    val adj = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (v, es) => v -> es.map(_._2) }
    def component(v: Long): Set[Long] = Iterator.iterate((Set(v), Set(v))) {
      case (seen, frontier) =>
        val next = frontier.flatMap(adj.getOrElse(_, Nil)) -- seen
        (seen ++ next, next)
    }.dropWhile(_._2.nonEmpty).next()._1
    val expected = ids.map(v => v -> component(v).min).toMap
    Seq(1, 13).foreach { parts =>
      val got = Dedup.dupGroups(ids.toDF("doc_id"),
          pairs.toDF("a_id", "b_id").repartition(parts))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"$parts partitions")
    }
  }

  test("dupGroups runs the same few Spark jobs whatever the chain length") {
    def jobsFor(n: Long): Int = {
      val chain = (1L until n).map(i => (i, i + 1))
      val sc = spark.sparkContext
      val group = s"dupGroups-jobs-$n"
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val done = new java.util.concurrent.CountDownLatch(1)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          val p = e.properties
          if (p != null && p.getProperty("spark.jobGroup.id") == group) {
            if (p.getProperty("spark.job.description") == "end") done.countDown()
            else jobs.incrementAndGet()
          }
        }
      }
      sc.addSparkListener(listener)
      try {
        sc.setJobGroup(group, null)
        assert(groupsOf(1L to n, chain) == (1L to n).map(_ -> 1L).toMap)
        // listener events arrive in order: once this job is seen, every
        // job dupGroups started has been counted
        sc.setJobDescription("end")
        sc.parallelize(Seq(1), 1).count()
        assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS))
      } finally {
        sc.clearJobGroup()
        sc.removeSparkListener(listener)
      }
      jobs.get
    }
    val short = jobsFor(3)
    val long = jobsFor(30)
    assert(short == long && long >= 1 && long <= 3,
      s"3-chain: $short jobs, 30-chain: $long")
  }

  test("prefix-filter losslessness holds on randomized corpora (property)") {
    // the fixture-equality test pins one dataset; this sweeps seeded random
    // corpora with duplicate-heavy small vocabularies (the hardest case for
    // prefix pruning) across thresholds — fast and slow must agree exactly
    import spark.implicits._
    val rnd = new scala.util.Random(12345)
    (1 to 3).foreach { round =>
      val vocab = (1 to 25).map(i => s"w$i")
      val rows = (1 to 70).map { id =>
        val n = 5 + rnd.nextInt(14)
        (id.toLong, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      val d = rows.toDF("doc_id", "text").withColumn("blk", lit("b"))
      Seq(0.5, 0.8).foreach { t =>
        def key(df: org.apache.spark.sql.DataFrame) = df.collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        val fast = key(Dedup.prefixJaccardPairs(d, Seq("blk"), t))
        val slow = key(Dedup.jaccardPairs(d, Seq("blk"), t))
        assert(fast == slow,
          s"round=$round t=$t missing=${(slow -- fast).take(3)} extra=${(fast -- slow).take(3)}")
      }
    }
  }

  test("hot-bucket grid join is lossless (degenerate shared token)") {
    import spark.implicits._
    // every document shares token "hot" and it lands in every prefix
    // (threshold 0.5 → prefixes cover half the tokens; "hot" is the most
    // frequent token so it sorts LAST, but tiny docs still include it —
    // force it by making docs 2 tokens wide). hotBucketCap=10 forces the
    // grid-salted path; the result must equal the quadratic kernel's.
    val rows = (1L to 50L).map(i => (i, s"hot t$i"))
    val d = rows.toDF("doc_id", "text").withColumn("blk", lit("b"))
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val grid = key(Dedup.prefixJaccardPairs(d, Seq("blk"), threshold = 0.3,
      hotBucketCap = 10))
    val plain = key(Dedup.prefixJaccardPairs(d, Seq("blk"), threshold = 0.3))
    val slow = key(Dedup.jaccardPairs(d, Seq("blk"), threshold = 0.3))
    assert(grid == slow, s"missing=${(slow -- grid).take(3)} extra=${(grid -- slow).take(3)}")
    assert(plain == slow)
    assert(slow.nonEmpty) // J("hot tX", "hot tY") = 1/3 ≥ 0.3: all pairs
  }

  test("hot-bucket grid join is lossless on randomized skewed corpora (property)") {
    import spark.implicits._
    // seeded random corpora with a few super-hot tokens mixed into a small
    // vocabulary — sweeps thresholds and caps; the grid path must always
    // reproduce the quadratic kernel exactly
    val rnd = new scala.util.Random(777)
    (1 to 2).foreach { round =>
      val vocab = (1 to 20).map(i => s"w$i")
      val rows = (1 to 60).map { id =>
        val n = 4 + rnd.nextInt(10)
        val toks = Seq.fill(n)(vocab(rnd.nextInt(vocab.size))) ++
          (if (id % 2 == 0) Seq("hotA") else Seq.empty) ++
          (if (id % 3 == 0) Seq("hotB") else Seq.empty)
        (id.toLong, rnd.shuffle(toks).mkString(" "))
      }
      val d = rows.toDF("doc_id", "text").withColumn("blk", lit("b"))
      Seq(0.4, 0.7).foreach { t =>
        def key(df: org.apache.spark.sql.DataFrame) = df.collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        val grid = key(Dedup.prefixJaccardPairs(d, Seq("blk"), t, hotBucketCap = 5))
        val slow = key(Dedup.jaccardPairs(d, Seq("blk"), t))
        assert(grid == slow,
          s"round=$round t=$t missing=${(slow -- grid).take(3)} extra=${(grid -- slow).take(3)}")
      }
    }
  }

  test("Zipfian vocabulary collapses candidate volume (realistic-corpus evidence)") {
    import spark.implicits._
    // The fixture corpus's 31-token vocabulary is the adversarial case for
    // token-bucket candidates (dense buckets). Real text is Zipfian: a long
    // rare tail fills the (rare-first) prefixes, so buckets are sparse.
    // Evidence: on a Zipf(1.0) corpus over a 2000-token vocabulary, the
    // candidate count collapses to a small multiple of the result count
    // and a tiny fraction of C(n,2).
    val rnd = new scala.util.Random(4242)
    val v = 2000
    // inverse-CDF Zipf sampler (s=1): P(k) ∝ 1/k
    val cdf = {
      val h = (1 to v).map(1.0 / _)
      val total = h.sum
      h.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
    }
    def draw(): String = {
      val u = rnd.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      s"z${if (i >= 0) i + 1 else -i}"
    }
    val n = 400
    val rows = (1 to n).map { id =>
      (id.toLong, Seq.fill(12 + rnd.nextInt(8))(draw()).mkString(" "))
    }
    val d = rows.toDF("doc_id", "text").withColumn("blk", lit("b"))
      .select(col("doc_id").as("id"), col("blk"),
        array_distinct(split(col("text"), "\\s+")).as("w"))
      .withColumn("nw", size(col("w")))
    val candidates = Dedup.prefixCandidates(d, Seq("blk"), threshold = 0.8,
      commonVocab = 10000, hotBucketCap = 100000).count()
    val allPairs = n.toLong * (n - 1) / 2 // 79,800
    // fixture corpus measured ~78k candidates for 401 results (dense worst
    // case); Zipfian text must prune to well under 5% of the pair space
    assert(candidates < allPairs / 20,
      s"candidates=$candidates of $allPairs pairs — prefix filter failed to prune")
  }

  test("minhash hot-bucket grid path equals the plain band join (boilerplate corpus)") {
    import spark.implicits._
    // boilerplate: near-identical docs that would survive exact dedup but
    // collide in EVERY band — the corpus shape that pins an N² cell on one
    // task without salting. hotBucketCap=5 forces the grid path.
    val rows = (1L to 40L).map(i => (i, if (i % 2 == 0) base else nearDup))
    val d = rows.toDF("doc_id", "text")
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val grid = key(Dedup.minhashPairs(d, threshold = 0.5, hotBucketCap = 5))
    val plain = key(Dedup.minhashPairs(d, threshold = 0.5))
    assert(grid == plain,
      s"missing=${(plain -- grid).take(3)} extra=${(grid -- plain).take(3)}")
    // every identical pair is present: 20 even-id docs alone give C(20,2)
    assert(plain.size >= 190, s"got ${plain.size}")
  }

  test("minhash scales candidates via banding, not n²") {
    // sanity: with one band of all rows (bands=1), only near-identical
    // signatures collide; candidate count stays far below C(n,2)
    val many = docs((1L to 60L).map(i => i -> s"$other variant $i unique tokens ${i * 7}"): _*)
    val cand = Dedup.minhashPairs(many, threshold = 0.0, bands = 1).count()
    assert(cand < 60, s"banding should prune candidates, got $cand")
  }

  test("incremental: drops cross-batch dups against the index and keeps min-id within batch") {
    val existing = docs(
      (1L, "alpha beta gamma"),
      (2L, "delta epsilon zeta"))
    val batch = docs(
      (10L, "alpha beta gamma"),   // dup of existing 1 → dropped
      (11L, "eta theta iota"),     // fresh → kept
      (13L, "eta theta iota"),     // within-batch dup of 11 → dropped
      (12L, "kappa lambda mu"),    // fresh → kept
      (14L, "delta epsilon zeta")) // dup of existing 2 → dropped
    val kept = Dedup.incremental(batch, existing)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(11L, 12L), s"kept=$kept")
    // survivors keep their payload columns untouched
    val texts = Dedup.incremental(batch, existing)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(texts(11L) == "eta theta iota" && texts(12L) == "kappa lambda mu")
    // empty batch and empty index both behave
    assert(Dedup.incremental(docs(), existing).isEmpty)
    // empty index → within-batch dedup only: just the 13→11 dup drops
    assert(Dedup.incremental(batch, docs()).count() == 4)
  }

  test("decontaminate drops exactly the docs sharing a benchmark n-gram") {
    val bench = docs((100L, "alpha beta gamma delta"))
    val corpus = docs(
      (1L, "zzz alpha beta gamma yyy"),      // shares trigram "alpha beta gamma"
      (2L, "alpha beta xxx gamma delta"),    // bigram overlaps only — survives w=3
      (3L, "totally unrelated text here"))
    val kept = Dedup.decontaminate(corpus, bench, w = 3)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 3L), s"kept=$kept")
  }

  // ---- sub-document span dedup (C4/RefinedWeb pass) ----

  /** Sequential reference: blocks in (doc_id, block_idx) order, first
    * occurrence of each block string wins globally.
    */
  private def naiveSpanDedup(rows: Seq[(Long, String)], k: Int): Map[Long, (String, Int, Int)] = {
    val seen = scala.collection.mutable.Set[String]()
    rows.sortBy(_._1).map { case (id, t) =>
      val toks = t.split(" ", -1)
      val nb = math.max((toks.length + k - 1) / k, 1)
      val blocks = (0 until nb).map(i => toks.slice(i * k, i * k + k).mkString(" "))
      val keptB = blocks.filter(b => if (seen(b)) false else { seen += b; true })
      id -> (keptB.mkString(" "), nb, keptB.length)
    }.toMap
  }

  private def collectSpan(d: org.apache.spark.sql.DataFrame, k: Int): Map[Long, (String, Int, Int)] =
    Dedup.spanDedup(d, k).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2), r.getInt(3)))).toMap

  test("spanDedup removes within-doc repeats and keeps the first occurrence") {
    // two docs, k=2: doc 1 repeats its own first block; doc 2 reuses it again
    val d = docs(
      (1L, "a b c d a b"),   // blocks: "a b" | "c d" | "a b" (self-repeat)
      (2L, "a b x y"))       // "a b" already claimed by doc 1
    val out = collectSpan(d, 2)
    assert(out(1L) == (("a b c d", 3, 2)), s"got ${out(1L)}")
    assert(out(2L) == (("x y", 2, 1)), s"got ${out(2L)}")
  }

  test("spanDedup: fully-swallowed doc keeps its row with empty text") {
    val d = docs((1L, "p q r s"), (2L, "p q r s"))
    val out = collectSpan(d, 2)
    assert(out(1L) == (("p q r s", 2, 2)))
    assert(out(2L) == (("", 2, 0)))
  }

  test("spanDedup: short tail block dedups like any other and keeps spacing") {
    val d = docs(
      (1L, "a b c d e"),  // k=2 → "a b" | "c d" | "e"
      (2L, "e f g"))      // "e f" | "g" — tail "e" of doc 1 ≠ "e f"
    val out = collectSpan(d, 2)
    assert(out(1L) == (("a b c d e", 3, 3)))
    assert(out(2L) == (("e f g", 2, 2)))
  }

  test("incremental span dedup: sequential batches ≡ one-shot pass over the whole corpus") {
    val rnd = new scala.util.Random(9)
    val vocab = Array("w0", "w1", "w2", "w3", "w4")
    val rows = (0L until 80L).map { id =>
      val n = 1 + rnd.nextInt(16)
      id -> Array.fill(n)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
    }
    val k = 3
    val oneShot = collectSpan(docs(rows: _*), k)
    // ingest in three id-ordered batches (first-occurrence order preserved)
    val batches = Seq(rows.filter(_._1 < 30), rows.filter(r => r._1 >= 30 && r._1 < 55),
      rows.filter(_._1 >= 55))
    var index = Dedup.spanBlockIndex(docs(), k)
    val got = scala.collection.mutable.Map[Long, (String, Int, Int)]()
    batches.foreach { b =>
      val d = docs(b: _*)
      got ++= Dedup.spanDedupIncremental(d, index, k).collect()
        .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2), r.getInt(3))))
      index = index.union(Dedup.spanBlockIndex(d, k)).distinct()
    }
    assert(got.toMap == oneShot)
    // empty index degenerates to the one-shot form
    assert(Dedup.spanDedupIncremental(docs(rows: _*), Dedup.spanBlockIndex(docs(), k), k)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2), r.getInt(3))))
      .toMap == oneShot)
  }

  test("spanDedup matches the sequential reference on a randomized collision-heavy corpus") {
    val rnd = new scala.util.Random(42)
    val vocab = Array("w0", "w1", "w2", "w3") // 4 words → dense block collisions
    val rows = (0L until 60L).map { id =>
      val n = 1 + rnd.nextInt(20)
      id -> Array.fill(n)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
    }
    for (k <- Seq(1, 3, 8)) {
      val got = collectSpan(docs(rows: _*).repartition(7), k)
      val want = naiveSpanDedup(rows, k)
      assert(got == want, s"k=$k mismatch")
    }
  }

  test("duplicatedSpans: planted cross-doc repeat found at unaligned offset, span maximal") {
    // a 20-token phrase shared by docs 1 and 2 but at OFFSETS 3 and 7 —
    // invisible to disjoint 8-blocks (different alignments), found by
    // the sliding window at any alignment
    val phrase = (0 until 20).map(i => s"p$i").mkString(" ")
    def filler(tag: String, n: Int) = (0 until n).map(i => s"$tag$i").mkString(" ")
    val d = docs(
      (1L, s"${filler("a", 3)} $phrase ${filler("b", 5)}"),
      (2L, s"${filler("c", 7)} $phrase ${filler("d", 2)}"),
      (3L, other))
    val got = Dedup.duplicatedSpans(d, k = 8, minLen = 16)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3))).toSet
    // positions p with duplicated 8-window: exactly the phrase's 13
    // window starts (20 − 8 + 1) ⇒ one maximal span of 20 tokens per doc
    assert(got == Set((1L, 3, 20, phrase), (2L, 7, 20, phrase)), got.toString)
  }

  test("duplicatedSpans matches the sequential reference on a randomized collision-heavy corpus") {
    val rnd = new scala.util.Random(4242)
    val vocab = Array("w0", "w1", "w2") // 3 words → dense window collisions
    val rows = (0L until 50L).map { id =>
      val n = 1 + rnd.nextInt(30)
      id -> Array.fill(n)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
    }
    def naive(k: Int, minLen: Int): Set[(Long, Int, Int, String)] = {
      val toks = rows.map { case (id, t) => id -> t.split(" ") }
      val counts = toks.flatMap { case (_, w) =>
        w.sliding(k).filter(_.length == k).map(_.mkString(" ")) }
        .groupBy(identity).map { case (g, o) => g -> o.size }
      toks.flatMap { case (id, w) =>
        val dupPos = w.sliding(k).zipWithIndex
          .filter { case (g, _) => g.length == k && counts(g.mkString(" ")) > 1 }
          .map(_._2).toList
        // merge: new island iff pos − prev > k
        val islands = dupPos.foldLeft(List.empty[List[Int]]) {
          case (acc, p) if acc.nonEmpty && p - acc.head.head <= k =>
            (p :: acc.head) :: acc.tail
          case (acc, p) => List(p) :: acc
        }
        islands.map(is => (is.min, is.max + k)).filter(s => s._2 - s._1 >= minLen)
          .map { case (s0, s1) =>
            (id, s0, s1 - s0, w.slice(s0, s1).mkString(" ")) }
      }.toSet
    }
    for ((k, minLen) <- Seq((2, 4), (3, 3), (8, 16))) {
      val got = Dedup.duplicatedSpans(docs(rows: _*).repartition(7), k, minLen)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3))).toSet
      assert(got == naive(k, minLen),
        s"k=$k minLen=$minLen: missing=${(naive(k, minLen) -- got).take(3)} extra=${(got -- naive(k, minLen)).take(3)}")
    }
  }

  test("contaminationScore: benchmark self-overlap 1.0, disjoint docs 0.0, filter ≡ zero-score") {
    val d = docs((1L, base), (2L, base + " extra tail tokens here"), (3L, other))
    val bench = docs((1L, base))
    val sc = Dedup.contaminationScore(d, bench)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(sc(1L)._3 == 1.0)
    assert(sc(2L)._2 > 0 && sc(2L)._3 < 1.0) // shares base's grams, has its own
    assert(sc(3L) == ((sc(3L)._1, 0L, 0.0)))
    // the binary filter is exactly the zero-tolerance cut of the report
    val kept = Dedup.decontaminate(d, bench).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == sc.filter(_._2._2 == 0L).keySet)
  }

  test("qualitySurvivors: argmax score per group, ties to the smaller id, singletons self-survive") {
    import spark.implicits._
    // groups: {1,2,3} labeled 1, {5,6} labeled 5, singleton 9
    val groups = Seq((1L, 1L), (2L, 1L), (3L, 1L), (5L, 5L), (6L, 5L), (9L, 9L))
      .toDF("doc_id", "group_id")
    // doc 2 has the best score in group 1; 5 and 6 tie → 5 survives
    val scores = Seq((1L, 10), (2L, 40), (3L, 20), (5L, 7), (6L, 7), (9L, 1))
      .toDF("doc_id", "score")
    val got = Dedup.qualitySurvivors(groups, scores)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 1L, 2L), (2L, 1L, 2L), (3L, 1L, 2L),
      (5L, 5L, 5L), (6L, 5L, 5L), (9L, 9L, 9L)), got.toString)
  }

  test("snapshotDiff classifies added/removed/changed/unchanged exactly") {
    import spark.implicits._
    val old = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma"), (4L, "delta"))
      .toDF("doc_id", "text")
    val cur = Seq((1L, "alpha"),        // unchanged
                  (2L, "beta prime"),   // changed
                  (5L, "epsilon"))      // added; 3, 4 removed
      .toDF("doc_id", "text")
    val got = Dedup.snapshotDiff(old.repartition(3), cur.repartition(2))
      .select(col("doc_id"), col("status"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "unchanged", 2L -> "changed",
      3L -> "removed", 4L -> "removed", 5L -> "added"), got.toString)
    // every id from either snapshot appears exactly once
    assert(got.size == 5)
  }

  test("curationFunnel: stages nest (each ⊆ the previous), raw totals match the corpus") {
    val docs = graft.source.Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("source"), col("text"))
    val bench = docs.filter(col("doc_id") < 3)
    // normalized fingerprint (strip the fixture's planted-copy marker
    // token) — the registered query's config, biting at every scale
    val rows = Dedup.curationFunnel(docs, bench,
        fingerprint = md5(concat_ws(" ",
          org.apache.spark.sql.functions.filter(
            split(col("text"), "\\s+"), t => t =!= "dup"))))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val byStage = rows.groupBy(_._1).view
      .mapValues(g => (g.map(_._3).sum, g.map(_._4).sum)).toMap
    val stages = Seq("1_raw", "2_minlen", "3_exact_dedup", "4_decontaminated")
    assert(stages.forall(byStage.contains), byStage.keySet.toString)
    // cumulative: every stage keeps a subset of the previous one
    stages.sliding(2).foreach { case Seq(a, b) =>
      assert(byStage(b)._1 <= byStage(a)._1 && byStage(b)._2 <= byStage(a)._2,
        s"$b exceeds $a: $byStage")
    }
    // raw row equals the corpus; every stage really filters on this fixture
    assert(byStage("1_raw")._1 == docs.count())
    stages.sliding(2).foreach { case Seq(a, b) =>
      assert(byStage(b)._1 < byStage(a)._1, s"stage $b filtered nothing")
    }
  }

  test("curationFunnelIncremental: batch counts add; standing twins drop at the dedup stage") {
    import spark.implicits._
    val mk = (rows: Seq[(Long, String, String)]) => rows.toDF("doc_id", "source", "text")
    val long = (s: String) => (s + " filler") * 1 + (1 to 19).map(i => s"w$i").mkString(" ", " ", "")
    // day 1: two docs; day 2 batch: one standing twin (drops at dedup),
    // one within-batch dup pair (first-seen survives), one short doc
    val standing = mk(Seq((1L, "a", long("alpha")), (2L, "b", long("beta"))))
    val batch = mk(Seq(
      (10L, "a", long("alpha")),      // twin of standing 1 → fails stage 3
      (11L, "a", long("gamma")),      // novel, first in batch → survives
      (12L, "a", long("gamma")),      // within-batch dup of 11 → fails stage 3
      (13L, "b", "short")))           // fails stage 2
    val bench = mk(Seq((99L, "x", "no grams shared with anything here at all")))
    val standingFps = standing
      .filter(size(split(col("text"), "\\s+")) >= 20)
      .select(md5(col("text")).as("fp"))
    val inc = Dedup.curationFunnelIncremental(batch, standingFps, bench)
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    // raw: all 4 batch docs; minlen: 3; dedup: 11 only (10 standing-known,
    // 12 second-seen); decontaminated: same (bench disjoint)
    assert(inc(("1_raw", "a"))._1 == 3 && inc(("1_raw", "b"))._1 == 1)
    assert(inc(("2_minlen", "a"))._1 == 3 && !inc.contains(("2_minlen", "b")))
    assert(inc(("3_exact_dedup", "a"))._1 == 1 && !inc.contains(("3_exact_dedup", "b")))
    assert(inc(("4_decontaminated", "a"))._1 == 1)
    // additivity in the no-cross-batch-dup case: standing funnel + batch
    // increments ≡ the from-scratch funnel over the union (arrival order
    // = id order here, so first-seen and min-id agree)
    val cleanBatch = mk(Seq((20L, "a", long("delta")), (21L, "b", long("epsilon"))))
    val full = Dedup.curationFunnel(standing.unionByName(cleanBatch), bench)
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    val day1 = Dedup.curationFunnel(standing, bench)
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    val day2 = Dedup.curationFunnelIncremental(cleanBatch, standingFps, bench)
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    val added = (day1.keySet ++ day2.keySet).map { k =>
      val a = day1.getOrElse(k, (0L, 0L)); val b = day2.getOrElse(k, (0L, 0L))
      k -> (a._1 + b._1, a._2 + b._2)
    }.toMap
    assert(added == full, s"additive roll-forward diverged:\n$added\nvs\n$full")
  }
}
