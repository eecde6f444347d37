package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.source.Tables

/** The scale patterns that don't show up in correctness results: salted
  * skew aggregation and bucketed (shuffle-free) co-located joins.
  */
class ScalePatternsSpec extends SparkSpec {

  test("salted aggregation: identical results to the direct groupBy") {
    import spark.implicits._
    // heavy hitter: one key holds 90% of rows
    val rows = (1 to 9000).map(_ => ("hot", 1.0)) ++
      (1 to 1000).map(i => (s"k${i % 50}", 2.0))
    val df = rows.toDF("key", "value")
    val direct = df.groupBy("key")
      .agg(count(lit(1)).as("n")).orderBy("key").collect().map(_.toSeq)
    val salted = Skew.saltedCount(df, Seq("key"))
      .orderBy("key").collect().map(_.toSeq)
    assert(salted.toSeq == direct.toSeq)

    val directSum = df.groupBy("key")
      .agg(sum(col("value").cast("decimal(18,2)")).cast("double").as("total"))
      .orderBy("key").collect().map(_.toSeq)
    val saltedSum = Skew.saltedSum(df, Seq("key"), "value")
      .orderBy("key").collect().map(_.toSeq)
    assert(saltedSum.toSeq == directSum.toSeq)
  }

  test("salted aggregation balances the first shuffle") {
    import spark.implicits._
    val df = (1 to 5000).map(_ => ("hot", 1)).toDF("key", "v").repartition(8)
    val partial = df.withColumn("__salt",
        pmod(spark_partition_id() + monotonically_increasing_id(), lit(16)))
      .groupBy("key", "__salt").agg(count(lit(1)).as("n"))
    // the single hot key fans out across 16 salt buckets
    assert(partial.count() == 16)
  }

  // grid join fixtures: rows (id, k, payload) with key "hot" planted on
  // 60 rows, the rest spread thin, and one id repeated so the plain
  // join emits duplicate rows the grid must keep
  private def gridSides(hotRows: Int) = {
    import spark.implicits._
    val rows = (1 to hotRows).map(i => (i.toLong, "hot", i % 3)) ++
      (1 to 40).map(i => (100L + i, s"k${i % 10}", i % 3)) :+ ((7L, "hot", 1))
    val df = rows.toDF("id", "k", "p")
    (df.toDF("a_id", "k", "a_p"), df.toDF("b_id", "k", "b_p"))
  }
  private def multiset(df: org.apache.spark.sql.DataFrame) =
    df.select("k", "a_id", "a_p", "b_id", "b_p").collect().map(_.toSeq)
      .groupBy(identity).map { case (r, rs) => r -> rs.length }

  test("gridJoin: a planted hot key yields the plain join's row multiset under both meters") {
    val (a, b) = gridSides(60)
    val plain = multiset(a.join(b, Seq("k")))
    for (meter <- Seq(Skew.Occurrences, Skew.PairProduct)) {
      // cap 20: the 61-row key is hot under both meters, the 4-row keys
      // (product 16) stay on the cold join
      val grid = Skew.gridJoin(a, b, Seq("k"), col("k"), 20, meter)
      val plan = grid.queryExecution.optimizedPlan.toString
      assert(plan.contains("Union") && plan.contains("Generate"),
        s"$meter must take the grid path")
      assert(multiset(grid) == plain, s"$meter changed the row multiset")
    }
    // the grid rule: Occurrences grows with rows, PairProduct with the
    // product's square root; both stop at 32
    assert(Skew.gridSide(Skew.Occurrences, 61, 10) == 7)
    assert(Skew.gridSide(Skew.PairProduct, 61L * 61, 10) == 20)
    assert(Skew.gridSide(Skew.Occurrences, 1L << 40, 10) == 32)
  }

  test("gridJoin: a hot key derived from the join columns routes rows, the join keeps them") {
    val (a, b) = gridSides(60)
    val plain = multiset(a.join(b, Seq("k")))
    // route on a hash of the key (Entity's block fingerprint shape)
    val grid = Skew.gridJoin(a, b, Seq("k"), xxhash64(col("k")), 20,
      Skew.Occurrences)
    assert(grid.queryExecution.optimizedPlan.toString.contains("Generate"))
    assert(multiset(grid) == plain)
  }

  test("gridJoin: with no hot key the plan is the plain join") {
    val (a, b) = gridSides(5)
    for (meter <- Seq(Skew.Occurrences, Skew.PairProduct)) {
      val grid = Skew.gridJoin(a, b, Seq("k"), col("k"), 1000, meter)
      val plan = grid.queryExecution.executedPlan.toString
      assert(!plan.contains("Union") && !plan.contains("Generate"), plan)
      assert(multiset(grid) == multiset(a.join(b, Seq("k"))))
    }
  }

  test("date-partitioned layout prunes partitions at the scan") {
    val dir = Files.createTempDirectory("graft-part").toString
    val ev = Tables.events(spark, sfDir)
      .withColumn("event_date", to_date(col("ts")))
    ev.write.partitionBy("event_date").mode("overwrite").parquet(dir)
    val filtered = spark.read.parquet(dir)
      .filter(col("event_date") === "2024-01-02")
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan.take(500))
    // pruned read touches only the one partition's rows
    val expected = ev.filter(col("event_date") === "2024-01-02").count()
    assert(filtered.count() == expected && expected > 0)
    // DIRECTORY-level proof, not just plan text: the scan selected exactly
    // 1 of the ~30 date directories on disk
    val scan = filtered.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      .getOrElse(fail("no FileSourceScanExec leaf"))
    val totalDays = new java.io.File(dir).listFiles()
      .count(_.getName.startsWith("event_date="))
    assert(totalDays > 20, s"fixture spans ~30 days, saw $totalDays")
    assert(scan.selectedPartitions.partitionCount == 1,
      s"expected 1 of $totalDays partitions, scanned ${scan.selectedPartitions.partitionCount}")
  }

  test("dynamic partition pruning fires for dim-filtered joins on the partition key") {
    // THE 100 TB star-join pattern: the fact table is date-partitioned and
    // the date filter lives on a DIMENSION — static pruning can't see it,
    // DPP injects the dim's qualifying keys into the fact scan's partition
    // filters at runtime, so the fact side still reads only the matching
    // directories.
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-dpp").toString
    val ev = Tables.events(spark, sfDir)
      .withColumn("event_date", to_date(col("ts")))
    ev.write.partitionBy("event_date").mode("overwrite").parquet(dir)
    val dim = ev.select(col("event_date").as("d")).distinct()
      .withColumn("tag", when(dayofmonth(col("d")) === 2, "keep").otherwise("skip"))
    val fact = spark.read.parquet(dir)
    val joined = fact.join(broadcast(dim),
        fact("event_date") === dim("d") && dim("tag") === "keep")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"expected a dynamic pruning subquery on the fact scan:\n${plan.take(800)}")
    val expected = ev.filter(dayofmonth(col("event_date")) === 2).count()
    assert(joined.count() == expected && expected > 0)
  }

  test("bucketed tables join without a shuffle exchange") {
    val warehouse = Files.createTempDirectory("graft-warehouse").toString
    // bucketed writes land in the session warehouse; use unique names
    val li = Tables(spark, sfDir, "lineitem")
    val ord = Tables(spark, sfDir, "orders")
    li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .option("path", s"$warehouse/li_b").mode("overwrite").saveAsTable("li_b")
    ord.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .option("path", s"$warehouse/ord_b").mode("overwrite").saveAsTable("ord_b")
    try {
      val joined = spark.table("li_b").join(spark.table("ord_b"),
        col("l_orderkey") === col("o_orderkey"))
      // disable broadcast so the join strategy question is real
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle:\n$plan")
      assert(joined.count() == li.count())
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS li_b")
      spark.sql("DROP TABLE IF EXISTS ord_b")
    }
  }

  test("HLL sketches are mergeable: daily sketches union to the global estimate") {
    // THE 100 TB distinct-count architecture: per-partition (here per-day)
    // sketch aggregation materialized once, unioned at query time — the
    // estimate from unioned daily sketches must equal the estimate from
    // one global sketch over the same rows (mergeability, not just
    // approximation), so pre-aggregation loses nothing.
    import org.apache.spark.sql.functions._
    val ev = graft.source.Tables.events(spark, sfDir)
    val daily = ev.groupBy(to_date(col("ts")).as("day"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
    val fromDaily = daily
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("n"))
      .collect()(0).getLong(0)
    val global = ev
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("n"))
      .collect()(0).getLong(0)
    assert(fromDaily == global, s"$fromDaily vs $global")
    val exact = ev.select(col("user_id")).distinct().count()
    assert(math.abs(fromDaily - exact).toDouble / exact < 0.05,
      s"estimate $fromDaily vs exact $exact")
  }

  test("runtime bloom filter prunes the fact side of a selective dim shuffle join") {
    // THE other 100 TB star-join lever next to DPP: when the dim filter is
    // NOT on the partition key, directory pruning can't help — Spark
    // instead builds a bloom filter from the filtered dim's join keys and
    // applies it to the fact scan, so non-matching fact rows die BEFORE
    // the shuffle instead of after the join. Local fixtures are far below
    // the production thresholds, so the test lowers them to prove the
    // rewrite fires for our join shape; at real scale the defaults
    // (10 MB creation / 10 GB application side) gate it to exactly the
    // joins that need it.
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val fact = spark.read.parquet(s"$sfDir/lineitem.parquet")
      val dim = spark.read.parquet(s"$sfDir/orders.parquet")
        .filter(col("o_totalprice") > 350000.0)
      val joined = fact.join(dim, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.toLowerCase.contains("bloom"),
        s"runtime bloom filter not injected:\n${plan.take(1500)}")
      // and it is a pure pruning optimization: results identical without it
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
      val expect = fact.join(dim, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
        .orderBy("o_orderstatus").collect().map(_.toSeq).toSeq
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      assert(joined.orderBy("o_orderstatus").collect().map(_.toSeq).toSeq == expect)
      assert(expect.nonEmpty)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("round-4 operators keep the scale-clean plan shapes") {
    val docs = Tables(spark, sfDir, "documents")

    // packBins: the window is PARTITIONED (per-stratum sort), never the
    // single-task unpartitioned window (whose spec would have no
    // partition column before the ordering)
    val packLogical = graft.text.Text.packBins(docs, 512)
      .queryExecution.optimizedPlan.toString
    assert(packLogical.contains("windowspecdefinition(lang"), packLogical)

    // tokenRarity: partial aggregation before the shuffle (two-level agg)
    val rarityPlan = graft.text.Text.tokenRarity(docs)
      .queryExecution.executedPlan.toString
    assert(rarityPlan.contains("partial_count") || rarityPlan.contains("partial"),
      rarityPlan)

    // mixtureSample: pure narrow pipeline — no Exchange at all
    val mixPlan = graft.text.Text.mixtureSample(docs, Map("en" -> 5))
      .queryExecution.executedPlan.toString
    assert(!mixPlan.contains("Exchange"), mixPlan)

    // rolling revenue: the range self-join broadcasts the daily aggregate
    val roll = graft.SparkEntry.queries("ev_rolling_7d_revenue")(spark, sfDir)
    val rollPlan = roll.queryExecution.executedPlan.toString
    assert(rollPlan.contains("BroadcastNestedLoopJoin"), rollPlan)
  }
}
