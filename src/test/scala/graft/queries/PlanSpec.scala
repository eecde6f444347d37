package graft.queries

import graft.SparkSpec

/** Executable versions of SCALE.md's plan claims: the physical plans the
  * registered queries produce must keep their scan pushdown, column
  * pruning, and broadcast properties — a regression here is a silent
  * scale bug long before it is a wall-clock bug.
  */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String = {
    val df = graft.SparkEntry.queries(name)(spark, sfDir)
    df.queryExecution.executedPlan.toString
  }

  test("q6: every predicate reaches the parquet scan, schema pruned") {
    val p = plan("q6_revenue_forecast")
    // the rendered plan truncates long filter lists, so assert on the
    // leading entries rather than the full predicate set
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), p.take(400))
    // projection pruning: the scan must not read all 16 lineitem columns
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("l_shipdate") && !read.contains("l_orderkey"), read)
  }

  test("q5: dimension chain joins are broadcast, not shuffled") {
    val p = plan("q5_region_revenue")
    assert(p.contains("BroadcastHashJoin"), p.take(400))
  }

  test("doc_hash_sample: 2-column scan with the sample filter above it") {
    val p = plan("doc_hash_sample")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("doc_id") && read.contains("lang") &&
      !read.contains("text"), read)
  }

  test("ev_salted_type_stats: two aggregation levels (salted partial + merge)") {
    val p = plan("ev_salted_type_stats")
    // four HashAggregate operators = two two-phase aggregations: the
    // salted (event_type, salt) partial and the final event_type merge
    assert("HashAggregate".r.findAllIn(p).size >= 4, p.take(600))
  }

  test("ev_minutely_views: filter pushes into the events scan") {
    val p = plan("ev_minutely_views")
    assert(p.contains("PushedFilters:") && p.contains("event_type"), p.take(600))
  }

  /** KEYED exchanges (hash/range shuffle or broadcast) whose input still
    * contains the raw text column — the payload-never-rides-the-shuffle
    * claim, checkable. The pre-kernel scan spread is exempt ONLY when
    * its input is the raw scan (every input column is a source-table
    * column): that is the ScanSpread parallelism fix (each row crosses
    * exactly once, linear and bounded, BEFORE any kernel or candidate
    * generation). The spread is an explicit REPARTITION_BY_NUM exchange
    * — round-robin historically, content-hash since round 15 (skips
    * SPARK-23207's local sort) — and ENSURE_REQUIREMENTS join/agg
    * exchanges never match it. A repartition added after candidate
    * generation would carry DERIVED columns and is an offender like any
    * keyed exchange (ADVICE r7: the blanket exemption let that
    * regression through).
    */
  private def textCarryingExchanges(name: String): (Seq[String], Seq[String]) = {
    val df = graft.SparkEntry.queries(name)(spark, sfDir)
    val lines = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      .linesIterator.toSeq
    // source-table columns across all fixture tables: a round-robin
    // whose Input holds only these is the pre-kernel scan spread
    val baseCols: Set[String] = graft.source.Tables.names.flatMap { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").schema.fieldNames.toSeq
      catch { case _: Throwable => Seq.empty }
    }.toSet
    def scanSpreadExempt(i: Int): Boolean =
      lines.slice(i, i + 3).exists(l => l.contains("roundrobinpartitioning") ||
        (l.contains("REPARTITION_BY_NUM") && l.contains("hashpartitioning"))) && {
        lines.slice(i + 1, i + 4).find(_.startsWith("Input")) match {
          case Some(in) =>
            val names = """([A-Za-z0-9_]+)#\d+""".r
              .findAllMatchIn(in).map(_.group(1)).toSeq
            names.nonEmpty && names.forall(baseCols.contains)
          case None => false
        }
      }
    val offenders = lines.zipWithIndex.collect {
      case (l, i) if l.matches("""\(\d+\) (Exchange|BroadcastExchange).*""") &&
          !scanSpreadExempt(i) =>
        // the node's Input [...] line follows within the next few lines
        (l, lines.slice(i + 1, i + 4).find(_.startsWith("Input")))
    }.collect { case (node, Some(in)) if in.contains("text#") => s"$node :: $in" }
    (offenders, lines)
  }

  test("doc_e2e_curated: no exchange in the pipeline ever carries the text column") {
    // the e2e chain's scale claim: text is consumed scan-side into
    // (quality, fingerprint); every shuffle moves slim columns only
    val (offenders, lines) = textCarryingExchanges("doc_e2e_curated")
    assert(offenders.isEmpty, offenders.mkString("\n"))
    assert(lines.exists(_.contains("BroadcastHashJoin LeftAnti")), "anti join not broadcast")
  }

  test("doc_exact_dedup: text reduced to its fingerprint before the aggregation shuffle") {
    val (offenders, _) = textCarryingExchanges("doc_exact_dedup")
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("doc_decontaminated: gram join broadcast, no text on any exchange") {
    val (offenders, lines) = textCarryingExchanges("doc_decontaminated")
    assert(offenders.isEmpty, offenders.mkString("\n"))
    assert(lines.exists(_.contains("BroadcastHashJoin")), "gram join not broadcast")
  }

  test("doc_incremental_dedup: only fingerprints shuffle, text pruned from every exchange") {
    val (offenders, _) = textCarryingExchanges("doc_incremental_dedup")
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("doc_span_dedup: block shuffles carry hashes and IDs only, drop-list join broadcasts") {
    val (offenders, lines) = textCarryingExchanges("doc_span_dedup")
    assert(offenders.isEmpty, offenders.mkString("\n"))
    // the token array (the text, post-split) must not ride a shuffle either:
    // blocks reduce to md5 hashes scan-side, reassembly re-derives tokens
    // from the scan on the streamed side of a broadcast join
    val tokOffenders = lines.zipWithIndex.collect {
      case (l, i) if l.matches("""\(\d+\) Exchange.*""") =>
        lines.slice(i + 1, i + 4).find(_.startsWith("Input"))
    }.flatten.filter(_.contains("toks#"))
    assert(tokOffenders.isEmpty, tokOffenders.mkString("\n"))
    assert(lines.exists(_.contains("BroadcastHashJoin")), "drop-list join not broadcast")
  }

  test("doc_containment_topk: exact-mask path has no verify join-back or pair-dedup exchange") {
    // the round-10 claim: in the ≤64-vocab regime containment is
    // computed ON the candidate join output (the 8-byte signature IS
    // the exact token bitset), so the plan must contain exactly the
    // candidate join — no second join to recover masks/token arrays,
    // and for topk no HashAggregate keyed (a_id, b_id) (the old global
    // pair dedup) before the TopKByScore aggregation
    val p = plan("doc_containment_topk")
    val joinLines = p.linesIterator.filter(_.contains("Join [")).toSeq
    // every join must be a token-keyed candidate join (the cold and
    // grid-salted hot branches both qualify); an id-keyed join is the
    // old mask/array join-back
    val idKeyed = joinLines.filter(l =>
      l.contains("Join [a_id") || l.contains("Join [b_id"))
    assert(idKeyed.isEmpty, idKeyed.mkString("\n"))
    assert(joinLines.forall(_.contains("token")),
      joinLines.mkString("\n"))
    // no (a_id, b_id)-keyed HashAggregate = no global pair-dedup shuffle
    // (match b_id inside keys=[...] only — the topk aggregate is keyed
    // a_id alone and carries b_id as a function ARGUMENT, which is fine)
    val dedupAgg = p.linesIterator.filter { l =>
      val k = l.indexOf("keys=[")
      l.contains("HashAggregate") && k >= 0 && {
        val keys = l.substring(k, l.indexOf(']', k).max(k))
        keys.contains("a_id") && keys.contains("b_id")
      }
    }
    assert(dedupAgg.isEmpty, dedupAgg.mkString("\n"))
  }

  test("ev_anomalies: one full-data shuffle (the minute pre-aggregation), then key-partitioned window") {
    val p = plan("ev_anomalies")
    // partial+final HashAggregate for the per-minute counts, a Window over
    // event_type, and no extra repartition beyond agg/window/sort exchanges
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(600))
    assert(p.contains("Window") || p.contains("RunningWindowFunction"), p.take(600))
    assert("Exchange".r.findAllIn(p).size <= 3, p.take(800))
  }

  test("emb_label_quality: per-doc measures projected before the join — no exchange carries text") {
    val (offenders, _) = textCarryingExchanges("emb_label_quality")
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("ev_profile: six distinct-counts plan as one scan (no per-column re-read)") {
    val p = plan("ev_profile")
    // one Expand-based multi-distinct aggregation over a single parquet
    // scan; a naive UNION of per-column aggregates would show 6 scans
    assert("Scan parquet".r.findAllIn(p).size == 1, p.take(800))
    assert(p.contains("Expand"), p.take(800))
  }

  test("doc_pii_redacted: scrub is a narrow scan-side project, no shuffle before the sort") {
    val p = plan("doc_pii_redacted")
    // exactly the one Exchange the final global ORDER BY requires — the
    // regex passes themselves must not repartition anything
    assert("Exchange".r.findAllIn(p).size == 1, p.take(800))
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("doc_id") && read.contains("text") &&
      !read.contains("lang"), read)
  }

  test("emb_knn_join, emb_hard_negatives: kernel pass, no join, no aggregate") {
    // the exact kNN kernel scores every pair inside one task pass over
    // the broadcast corpus: no (query, neighbour) pair becomes a row, so
    // neither plan holds a join or an aggregation, and the only
    // exchanges are the round-robin spread of the queries and the final
    // ORDER BY
    for (name <- Seq("emb_knn_join", "emb_hard_negatives")) {
      val p = plan(name)
      assert(p.contains("MapPartitions"), s"$name:\n$p")
      assert(!p.contains("Join"), s"$name: a pair join is back:\n$p")
      assert(!p.contains("Aggregate"), s"$name: an aggregate is back:\n$p")
      val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
      assert(exchanges.size == 2 &&
        exchanges.count(_.contains("RoundRobinPartitioning")) == 1 &&
        exchanges.count(_.contains("rangepartitioning")) == 1, s"$name:\n$p")
    }
  }

  test("doc_inverted_index: text never shuffles; both rollups combine map-side") {
    val (offenders, lines) = textCarryingExchanges("doc_inverted_index")
    assert(offenders.isEmpty, offenders.mkString("\n"))
    // (token, doc_id) tf rollup + per-token df/tf/postings rollup, each
    // partial+final
    assert(lines.count(_.contains("HashAggregate")) +
      lines.count(_.contains("ObjectHashAggregate")) >= 4, lines.take(40).mkString("\n"))
  }

  test("doc_temperature_sample: stats broadcast back, corpus itself never shuffles") {
    val p = plan("doc_temperature_sample")
    assert(p.contains("BroadcastHashJoin"), p.take(600))
    // one Exchange for the stratum-count agg (tiny), one for the final
    // ORDER BY — the documents scan itself must not repartition
    val dataExchanges = p.linesIterator.count(l =>
      l.trim.matches("""\(\d+\) Exchange.*""") || l.trim.startsWith("Exchange"))
    assert(dataExchanges <= 3, s"$dataExchanges exchanges:\n" + p.take(800))
  }

  /** The cell-local semDeDup plan contract (round 12): vectors cross
    * exactly ONE exchange — the cluster groupBy that collects each
    * cell's members — and no candidate pair ever rides an exchange, so
    * the plan contains NO join at all. (The previous salted-join
    * formulation shuffled every candidate pair with a vector payload:
    * >76 GB of spill at the sf10 ladder point for a 51 MB corpus.)
    * Returns (join operators found, vector-carrying exchange count).
    */
  private def cellLocalShape(name: String): (Seq[String], String) = {
    val df = graft.SparkEntry.queries(name)(spark, sfDir)
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    (p.linesIterator.filter(_.matches("""\(\d+\) .*Join.*""")).toSeq, p)
  }

  test("doc_curation_funnel: text consumed scan-side — no keyed exchange carries it") {
    val (offenders, lines) = textCarryingExchanges("doc_curation_funnel")
    assert(offenders.isEmpty, offenders.mkString("\n"))
    // the benchmark-gram contamination join must broadcast, not shuffle
    assert(lines.exists(_.contains("BroadcastHashJoin")), "gram join not broadcast")
  }

  test("doc_e2e_mixture: the full chain keeps text off every keyed exchange") {
    val (offenders, lines) = textCarryingExchanges("doc_e2e_mixture")
    assert(offenders.isEmpty, offenders.mkString("\n"))
    // the allocation table is source-cardinality: the final keep join
    // must broadcast it, never shuffle the survivor frame against it
    assert(lines.exists(_.contains("BroadcastHashJoin")),
      "allocation join not broadcast")
  }

  test("emb_semdedup: cell-local — no join at all, dominance inside the cell task") {
    val (joins, p) = cellLocalShape("emb_semdedup")
    assert(joins.isEmpty, joins.mkString("\n"))
    assert(p.contains("cell_dominance") && p.contains("collect_list"),
      "cell-local kernel missing from the plan")
    // collect_list partials combine map-side: the one exchange carries
    // per-cell buffers, never candidate-pair rows
    assert(p.contains("partial_collect_list") || p.contains("ObjectHashAggregate"),
      "per-cell collection does not combine map-side")
    assert(!p.contains("a_vec#") && !p.contains("salt#"),
      "the retired salted candidate join resurfaced")
  }

  test("emb_semdedup_incremental: cell-local — only the standing-kept id join remains") {
    val (joins, p) = cellLocalShape("emb_semdedup_incremental")
    // the QUERY joins standing verdicts back to their vectors by id
    // (the state a warehouse store keeps materialized); the OPERATOR
    // itself must contribute no join and no salted candidate stream
    assert(p.contains("cell_dominance"), "cell-local kernel missing")
    assert(!p.contains("a_vec#") && !p.contains("salt#"),
      "the retired salted candidate join resurfaced")
    assert(joins.size <= 1, s"unexpected joins:\n${joins.mkString("\n")}")
  }
}
