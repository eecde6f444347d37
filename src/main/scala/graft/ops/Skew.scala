package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Skew mitigation utilities.
  *
  * A hash aggregation over a key set with heavy hitters sends every row of
  * the hot key to one reduce task. Salting splits each hot key across
  * `saltBuckets` sub-keys for a partial aggregate, then re-aggregates the
  * (tiny) salted partials — two shuffles, but the big one is balanced.
  * AQE's skew-join handling covers joins; this covers aggregations, where
  * AQE does not rebalance — and pair-generating self/two-sided joins,
  * where one hot key's output is quadratic and no partition split can
  * shrink it ([[gridJoin]]).
  */
object Skew {

  /** Salted two-stage aggregation.
    *
    * @param aggs   (partialAgg, finalAgg) column pairs — e.g.
    *               `(sum(col("x")).as("s"), sum(col("s")).as("s"))` — the
    *               final agg must re-aggregate the partial's output column.
    */
  def saltedAgg(df: DataFrame, keys: Seq[String], saltBuckets: Int)(
      partial: Seq[Column], fin: Seq[Column]): DataFrame = {
    // The salt must be DETERMINISTIC per row: order-dependent salts
    // (monotonically_increasing_id, rand, spark_partition_id) re-salt rows
    // differently when a map task is recomputed after a fetch failure,
    // silently corrupting the re-aggregation (SPARK-23207-class bug).
    // Hashing the full row content is stable under recompute; rows that
    // are bytewise identical share a bucket, which only matters if a hot
    // key's rows are literally indistinguishable.
    val salted = df.withColumn("__salt",
      pmod(xxhash64(df.columns.map(col): _*), lit(saltBuckets)))
    salted
      .groupBy((keys.map(col) :+ col("__salt")): _*)
      .agg(partial.head, partial.tail: _*)
      .groupBy(keys.map(col): _*)
      .agg(fin.head, fin.tail: _*)
  }

  /** Convenience: salted count per key. */
  def saltedCount(df: DataFrame, keys: Seq[String], saltBuckets: Int = 32): DataFrame =
    saltedAgg(df, keys, saltBuckets)(
      Seq(count(lit(1)).as("partial_n")),
      Seq(sum(col("partial_n")).as("n")))

  /** Convenience: salted exact sum of a 2-dp measure (decimal path). */
  def saltedSum(df: DataFrame, keys: Seq[String], measure: String,
                saltBuckets: Int = 32): DataFrame =
    saltedAgg(df, keys, saltBuckets)(
      Seq(sum(col(measure).cast("decimal(18,2)")).as("partial_s")),
      Seq(sum(col("partial_s")).cast("double").as("total")))

  /** How [[gridJoin]]'s census prices a join key. */
  sealed trait HotMeter
  /** Self-joins (`a` and `b` are the same rows): a key is hot when it
    * holds more than `cap` rows, and its grid grows linearly with the
    * row count.
    */
  case object Occurrences extends HotMeter
  /** Two-sided joins: a key is hot when its a-rows × b-rows product — the
    * join's real cost for asymmetric sides — exceeds `cap`; G² cells
    * shrink a product-P bucket to ~P/G² per cell.
    */
  case object PairProduct extends HotMeter

  /** Most hot keys one census sends to the grid; keys beyond it stay on
    * the plain join — correct, just unspread.
    */
  private val MaxHotKeys = 64
  /** Largest grid side: G² cells per hot key. */
  private val MaxGrid = 32L

  /** Grid side for the hottest key's census weight (rows or product). */
  private[graft] def gridSide(meter: HotMeter, maxWeight: Long, cap: Long): Int =
    math.min(MaxGrid, meter match {
      case Occurrences => (maxWeight + cap - 1) / cap
      case PairProduct => math.ceil(math.sqrt(maxWeight.toDouble / cap)).toLong
    }).toInt

  /** Equi-join of `a` and `b` on `on` whose hot keys go through the
    * lossless grid-salted join (the PPJoin/AllPairs skew treatment):
    * a-row x with group g = hash(a_id) mod G replicates to cells (g, ·),
    * b-row y with g = hash(b_id) mod G to cells (·, g), so pair (x, y)
    * meets in exactly ONE cell (g_x, g_y) — the plain join's row
    * multiset, spread over G² tasks. The sides carry their row ids as
    * `a_id` / `b_id`; `g1` / `g2` are reserved.
    *
    * `hotKey` routes rows to the hot or cold path — a join column or an
    * expression over them (a packed or hashed key); the joins always use
    * `on`, so a routing collision only salts an extra key. The census is
    * one map-side-combined aggregate and at most 64 rows reach the
    * driver. With no hot key the result is the plain join alone.
    *
    * Exchange sizing (shuffled-hash builds do not spill): `coldParts` > 0
    * pre-partitions both inputs on `on`; the hot path replicates its rows
    * `grid`× by construction, so its exchange is sized from the census
    * ([[hotGridParts]]). Hints on `a` / `b` ride through to both joins.
    */
  def gridJoin(a: DataFrame, b: DataFrame, on: Seq[String], hotKey: Column,
               cap: Long, meter: HotMeter, coldParts: Int = 0): DataFrame = {
    require(cap > 0, s"hot-key cap must be positive: $cap")
    def sized(df: DataFrame, parts: Int, keys: Seq[String]): DataFrame =
      if (parts > 0) df.repartition(parts, keys.map(col): _*) else df
    val aS = sized(a, coldParts, on)
    val bS = sized(b, coldParts, on)
    // (key, census weight, hot rows each grid replica carries)
    val hotRows: Seq[(Any, Long, Long)] = meter match {
      case Occurrences =>
        b.groupBy(hotKey.as("hk")).agg(count(lit(1)).as("n"))
          .filter(col("n") > cap)
          .orderBy(col("n").desc, col("hk")).limit(MaxHotKeys).collect()
          .map(r => (r.get(0), r.getLong(1), r.getLong(1))).toSeq
      case PairProduct =>
        def counts(df: DataFrame, n: String) =
          df.groupBy(hotKey.as("hk")).agg(count(lit(1)).as(n))
        counts(a, "na").join(counts(b, "nb"), "hk")
          .withColumn("w", col("na") * col("nb")).filter(col("w") > cap)
          .orderBy(col("w").desc, col("hk")).limit(MaxHotKeys).collect()
          .map(r => (r.get(0), r.getLong(3), math.max(r.getLong(1), r.getLong(2))))
          .toSeq
    }
    if (hotRows.isEmpty) return aS.join(bS, on)
    val hot = hotRows.map(_._1)
    val grid = gridSide(meter, hotRows.map(_._2).max, cap)
    val hotParts = hotGridParts(a.sparkSession, hotRows.map(_._3).sum * grid)
    val cellKeys = on ++ Seq("g1", "g2")
    def cells(df: DataFrame, own: String, ownId: String, other: String) =
      sized(df.filter(hotKey.isin(hot: _*))
        .withColumn(own, pmod(xxhash64(col(ownId)), lit(grid.toLong)))
        .withColumn(other, explode(sequence(lit(0L), lit(grid - 1L)))),
        hotParts, cellKeys)
    aS.filter(!hotKey.isin(hot: _*)).join(bS.filter(!hotKey.isin(hot: _*)), on)
      .unionByName(cells(aS, "g1", "a_id", "g2").join(cells(bS, "g2", "b_id", "g1"),
        cellKeys).drop("g1", "g2"))
  }

  /** Hot-grid exchange sizing: the grid path replicates its inputs
    * `grid`× by construction, so its build volume is exactly census rows
    * × grid — measured, not estimated. A 30-token degenerate corpus
    * sends nearly every bucket hot, and at the sf10 ladder point the
    * replicated build (≈ 32 M rows over 32 partitions) OOM'd the
    * non-spilling shuffled-hash maps while the INPUT volume sat below
    * every gate. Row shape: ids + key + two grid keys + payload refs
    * ≈ 300 B ([[ExchangeSizing]] derives the rows-per-map); 0 = keep the
    * default layout.
    */
  private def hotGridParts(spark: SparkSession, replicatedRows: Long): Int =
    ExchangeSizing.shjBuildParts(spark, replicatedRows, bytesPerRow = 300)
}
