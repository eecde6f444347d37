package graft.ops

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

class AnomalySpec extends SparkSpec {

  private def series(rows: (String, Long, Long)*): DataFrame = {
    import spark.implicits._
    rows.map { case (k, m, v) => (k, new Timestamp(m * 60000L), v) }
      .toDF("key", "t", "cnt")
  }

  private def flagged(df: DataFrame, lookback: Int = 30, minBaseline: Int = 10,
                      k: Int = 3): Set[(String, Long)] =
    Anomaly.zScoreFlags(df, "key", "t", "cnt", lookback, minBaseline, k)
      .collect().map(r => (r.getString(0), r.getTimestamp(1).getTime / 60000L)).toSet

  test("a spike against a noisy baseline is flagged; in-band noise is not") {
    // baseline alternates 9/11 (mean 10, popVar 1); 14 is 4σ out, 12 is 2σ
    val vals = (0L until 20L).map(m => ("a", m, if (m % 2 == 0) 9L else 11L))
    val withSpike = vals ++ Seq(("a", 20L, 14L), ("a", 21L, 12L))
    assert(flagged(series(withSpike: _*)) == Set(("a", 20L)))
  }

  test("nothing is flagged before minBaseline observations exist") {
    // 9 normal points then an extreme one: baseline has only 9 rows → silent
    val vals = (0L until 9L).map(m => ("a", m, 10L)) :+ (("a", 9L, 1000L))
    assert(flagged(series(vals: _*), minBaseline = 10).isEmpty)
    // with minBaseline 5 the same spike fires
    assert(flagged(series(vals: _*), minBaseline = 5) == Set(("a", 9L)))
  }

  test("a zero-variance baseline flags any deviation, and keys are independent") {
    val flat = (0L until 15L).flatMap(m => Seq(("a", m, 10L), ("b", m, 10L)))
    val d = flat ++ Seq(("a", 15L, 11L), ("b", 15L, 10L))
    assert(flagged(series(d: _*)) == Set(("a", 15L)))
  }

  test("integer flag decision matches the floating-point z-score on random series") {
    // mixture: tight 8..12 noise with occasional 10x spikes, so the test
    // exercises BOTH flagged and unflagged outcomes (a distribution whose
    // deviations never cross kσ would pass vacuously)
    val rnd = new scala.util.Random(7)
    val rows = (0L until 200L).map { m =>
      val v = if (rnd.nextInt(12) == 0) 80L + rnd.nextInt(40) else 8L + rnd.nextInt(5)
      ("k", m, v)
    }
    val got = flagged(series(rows: _*), lookback = 30, minBaseline = 10, k = 3)
    val vals = rows.map(_._3)
    val want = rows.indices.flatMap { i =>
      val base = vals.slice(math.max(0, i - 30), i)
      val n = base.length
      if (n < 10) None
      else {
        val mean = base.sum.toDouble / n
        val varPop = base.map(v => (v - mean) * (v - mean)).sum / n
        if (math.abs(vals(i) - mean) > 3 * math.sqrt(varPop) + 1e-9)
          Some(("k", i.toLong))
        else None
      }
    }.toSet
    assert(want.nonEmpty && (want.size < rows.size / 2), s"degenerate reference: ${want.size}")
    assert(got == want, s"extra=${got -- want} missing=${want -- got}")
  }

  test("streaming detector ≡ batch detector across micro-batch boundaries") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // same spike-bearing mixture as the batch cross-check, two keys
    val rnd = new scala.util.Random(11)
    val rows = (0L until 120L).flatMap { m =>
      Seq("a", "b").map { key =>
        val v = if (rnd.nextInt(10) == 0) 60L + rnd.nextInt(30) else 8L + rnd.nextInt(5)
        (key, m, v)
      }
    }
    val batchFlags = flagged(series(rows: _*), lookback = 20, minBaseline = 5)
    assert(batchFlags.nonEmpty, "degenerate fixture: batch flags nothing")

    val stream = MemoryStream[Anomaly.Bucket]
    val q = Anomaly.zScoreFlagsStream(stream.toDS(), lookback = 20, minBaseline = 5)
      .writeStream.outputMode("append").format("memory")
      .queryName("anomaly_stream").start()
    try {
      // feed in event-time order, split into uneven micro-batches so the
      // equality also proves batch-boundary independence
      rows.sortBy(_._2).grouped(37).foreach { chunk =>
        stream.addData(chunk.map { case (k, m, v) =>
          Anomaly.Bucket(k, new Timestamp(m * 60000L), v)
        }: _*)
        q.processAllAvailable()
      }
      val streamFlags = spark.table("anomaly_stream").as[Anomaly.Flag]
        .collect().map(f => (f.key, f.t.getTime / 60000L)).toSet
      assert(streamFlags == batchFlags,
        s"extra=${streamFlags -- batchFlags} missing=${batchFlags -- streamFlags}")
      // evidence columns agree too, not just identities
      val sEv = spark.table("anomaly_stream").as[Anomaly.Flag]
        .collect().map(f => (f.key, f.t.getTime / 60000L) -> ((f.cnt, f.n_base, f.s_base))).toMap
      val bEv = Anomaly.zScoreFlags(series(rows: _*), "key", "t", "cnt", 20, 5, 3)
        .collect().map(r => (r.getString(0), r.getTimestamp(1).getTime / 60000L) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
      assert(sEv == bEv)
    } finally q.stop()
  }

  test("an input column named like one zScoreFlags adds is refused, not overwritten") {
    import org.apache.spark.sql.functions.lit
    val base = series((0L until 12L).map(m => ("a", m, 10L)): _*)
    for (name <- Seq("__v2", "N_BASE", "ss_base")) {
      val e = intercept[IllegalArgumentException] {
        Anomaly.zScoreFlags(base.withColumn(name, lit(1)), "key", "t", "cnt")
      }
      assert(e.getMessage.contains(name), e.getMessage)
    }
  }
}
