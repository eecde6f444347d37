package graft.ops

import graft.SparkSpec

class ExchangeSizingSpec extends SparkSpec {

  test("per-task budget arithmetic reproduces the round-12 constants at deployment parameters") {
    // 8 g heap, 32 slots, fraction 0.6 — the bench/driver environment
    val budget = ExchangeSizing.perTaskBudgetBytes(8L << 30, 32, 0.6)
    assert(budget > 70L * 1024 * 1024 && budget < 85L * 1024 * 1024,
      s"per-task budget drifted: $budget")
    // the three hand-picked round-12 rows-per-map constants must fall
    // out of the row shapes alone (±15%): 150 B → ~500 k token-index
    // rows, 300 B → ~250 k replicated grid rows, 74 B → ~1 M variants
    def rpm(bytes: Int) = budget / bytes
    assert(math.abs(rpm(150) - 500000L) < 75000L, s"150B: ${rpm(150)}")
    assert(math.abs(rpm(300) - 250000L) < 40000L, s"300B: ${rpm(300)}")
    assert(math.abs(rpm(74) - 1000000L) < 150000L, s"74B: ${rpm(74)}")
  }

  test("gate: zero and sf-scale volumes keep the default layout; overflow volumes engage sized") {
    assert(ExchangeSizing.shjBuildParts(spark, 0L, 150) == 0)
    // every sf ≤ 1 volume in the repo sits well under the gate — the
    // plan-identity contract the round-12 measurements rest on — judged
    // at the deployment parameters (8 g heap, 32 slots, fraction 0.6,
    // 32 shuffle partitions), not at the test JVM's heap
    val deployed = ExchangeSizing.perTaskBudgetBytes(8L << 30, 32, 0.6)
    assert(ExchangeSizing.shjBuildParts(deployed, 32, 2746947L, 150, 2.0) == 0,
      "sf1 token volume must not engage")
    assert(ExchangeSizing.shjBuildParts(deployed, 32, 25800000L, 74, 1.0) == 0,
      "sf1 variant volume must not engage")
    val rpm = ExchangeSizing.rowsPerMap(spark, 300)
    val layout = spark.sessionState.conf.numShufflePartitions
    val over = layout * rpm * 3
    val parts = ExchangeSizing.shjBuildParts(spark, over, 300)
    assert(parts > 0, "3x-over-budget volume must engage")
    // engaged layout holds ~rowsPerMap per partition
    assert(math.abs(parts - (over / rpm + 1)) <= 1)
    // backstop: absurd volumes cap at 16384
    assert(ExchangeSizing.shjBuildParts(spark, Long.MaxValue / 4, 300) == 16384)
  }

  test("hash-relation pricing carries the 2-4x narrow-row overhead and keeps measured decisions") {
    // ~80 B for an (id, label) pair of longs — inside the 2–4×-payload
    // overhead band ADVICE r13 cites for UnsafeHashedRelation
    val perRow = ExchangeSizing.hashedRelationBytes(1L, 16)
    assert(perRow >= 2 * 16 && perRow <= 8 * 16, s"per-row estimate: $perRow")
    // monotone in both arguments, zero-safe
    assert(ExchangeSizing.hashedRelationBytes(0L, 16) == 0L)
    assert(ExchangeSizing.hashedRelationBytes(10L, 8) <
      ExchangeSizing.hashedRelationBytes(10L, 16))
    // the decisions the sf10 ladder measured must not flip under the new
    // pricing: the sf10 dupGroups frontier (~500 k labels) still
    // broadcasts, the kCore survivor set (~500 k ids) still broadcasts,
    // under the deployment broadcast budget (8 g heap / 5)
    val budget = (8L << 30) / 5
    assert(ExchangeSizing.hashedRelationBytes(500000L, 16) < budget)
    assert(ExchangeSizing.hashedRelationBytes(500000L, 8) < budget)
    // and a genuinely planetary frontier (10^9 rows) must NOT broadcast
    assert(ExchangeSizing.hashedRelationBytes(1000000000L, 16) > budget)
  }

  test("gateSlack deflates an over-counted estimate before gating, never the engaged size") {
    val rpm = ExchangeSizing.rowsPerMap(spark, 150)
    val layout = spark.sessionState.conf.numShufflePartitions
    val vol = (layout * rpm * 1.5).toLong // 1.5x the default layout's hold
    assert(ExchangeSizing.shjBuildParts(spark, vol, 150) > 0,
      "raw gate must engage at 1.5x")
    assert(ExchangeSizing.shjBuildParts(spark, vol, 150, gateSlack = 2.0) == 0,
      "a declared 2x over-count must not engage at 1.5x")
    // above the slacked gate, partitions are sized for the FULL estimate
    val big = (layout * rpm * 4).toLong
    assert(ExchangeSizing.shjBuildParts(spark, big, 150, gateSlack = 2.0) ==
      ExchangeSizing.shjBuildParts(spark, big, 150))
  }
}
