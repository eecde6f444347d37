package graft.queries

import org.apache.spark.sql.functions._

import graft.gen.ZipfCorpus
import graft.mm.Multimodal
import graft.sim.Similarity
import graft.source.Tables
import graft.text.{Dedup, Entity, Text}

/** Driver-checkable queries over the corpus tables (`documents`,
  * `embeddings`): dedup, text analysis, similarity search, multimodal
  * plumbing — the training-data-pipeline surface (SURVEY.md §7.2 M5).
  */
object CorpusQueries {

  /** Train-once IVF model per (fixture dir, config): the registered IVF
    * queries share one persisted centroid set instead of each re-scanning
    * the corpus `iters` times — the shape a real pipeline has (train
    * once, query for days). The path fingerprints the fixture file's
    * (size, mtime) so a regenerated corpus retrains instead of serving a
    * stale model; the store lives under java.io.tmpdir (fixture dirs are
    * read-only).
    */
  private def ivfModel(s: org.apache.spark.sql.SparkSession, dir: String,
                       nCentroids: Int, dim: Int, iters: Int): graft.sim.Ivf.IvfModel = {
    val (fLen, fMtime) = graft.ops.Materialize.inputStamp(s, s"$dir/embeddings.parquet")
    val tag = s"$dir|$fLen|$fMtime|$nCentroids|$dim|$iters"
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(tag.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val path = new java.io.File(
      new java.io.File(sys.props("java.io.tmpdir"), "graft_ivf_models"),
      key).getAbsolutePath
    graft.sim.Ivf.trainOrLoad(Tables(s, dir, "embeddings"),
      nCentroids, dim, iters, path)
  }

  /** Built-then-SPLIT cell store behind `ann_cell_split`: a PRIVATE cell
    * layout of the embeddings table under the seed-16 model (the shared
    * [[graft.sim.IvfStore.cellPartitioned]] store must never be mutated
    * — other queries read it), with the fullest cell split by the real
    * [[graft.sim.IvfStore.splitCell]] physical operator during the
    * build. Memoized per (fixture, code version) like every derived
    * store; returns (store path, the split cell id). The cell census is
    * one fused assignment scan collecting k rows — the bounded class.
    */
  private def splitCellStore(s: org.apache.spark.sql.SparkSession, dir: String,
                             model: graft.sim.Ivf.IvfModel): (String, Int) = {
    val emb = Tables(s, dir, "embeddings")
    val cell = graft.sim.Ivf.assign(emb, model)
      .groupBy(col("cluster")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getInt(0), r.getLong(1)))
      .sortBy { case (c, n) => (-n, c) }.head._1
    val (len, mtime) = graft.ops.Materialize.inputStamp(s, s"$dir/embeddings.parquet")
    val tag = s"$dir|ivf_cells_split|seed16|$cell|$len|$mtime"
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(tag.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    val path = new java.io.File(
      new java.io.File(sys.props("java.io.tmpdir"), "graft_partitioned"),
      s"ivf_split_${key}_${graft.ops.Materialize.codeFingerprint.take(8)}")
    if (!path.exists()) {
      val staging = new java.io.File(path.getPath + ".staging." +
        java.lang.ProcessHandle.current().pid())
      graft.sim.IvfStore.writeCells(emb, model, staging.getAbsolutePath,
        "overwrite")
      graft.sim.IvfStore.splitCell(s, staging.getAbsolutePath, model, cell)
      try java.nio.file.Files.move(staging.toPath, path.toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch { case _: java.nio.file.FileAlreadyExistsException |
                   _: java.nio.file.FileSystemException =>
        org.apache.commons.io.FileUtils.deleteQuietly(staging)
        require(path.exists(), s"split-store publish failed: $path")
      }
    }
    (path.getAbsolutePath, cell)
  }

  /** Persisted-PQ-model counterpart of [[ivfModel]]: one train per
    * (fixture, config), reused by every consumer in the session. */
  private def pqModel(s: org.apache.spark.sql.SparkSession, dir: String,
                      m: Int, ksub: Int, dim: Int, iters: Int): graft.sim.Pq.PqModel = {
    val (fLen, fMtime) = graft.ops.Materialize.inputStamp(s, s"$dir/embeddings.parquet")
    val tag = s"pq|$dir|$fLen|$fMtime|$m|$ksub|$dim|$iters"
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(tag.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val path = new java.io.File(
      new java.io.File(sys.props("java.io.tmpdir"), "graft_pq_models"),
      key).getAbsolutePath
    graft.sim.Pq.trainOrLoad(Tables(s, dir, "embeddings"),
      m, ksub, dim, iters, path)
  }

  /** DuckDB oracle for `doc_bpe_merges`: the pure one-merge-per-round
    * BPE recurrence (Sennrich et al. 2016), unrolled into one CTE block
    * per learned merge — the same recurrence-unroll idiom that oracles
    * the iterative graph queries (`pageRankOracle`). Per round k:
    * adjacent-pair counts over the round-(k−1) word-symbol table, the
    * argmax under the engine's exact tie order (count desc, a, b), and
    * the leftmost-non-overlapping merge application as a list_reduce
    * fold (accumulator starts as the first symbol's singleton list —
    * identical to the engine's empty-init fold after its first append).
    * The engine's disjoint-BATCH acceptance is provably equal to this
    * sequential fixpoint (see `Text.bpeMerges`; TextSpec pins the
    * equality against a reference implementation), so the oracle checks
    * the production path, not a twin.
    */
  private def bpeMergesOracle(nMerges: Int): String = {
    val out = (1 to nMerges).map(k =>
      s"""SELECT CAST($k AS INT) AS rank, a AS "left", b AS "right",
          n AS pair_count FROM m$k""").mkString("\n         UNION ALL ")
    s"""WITH ${bpeCtes(nMerges)}
       SELECT * FROM ($out) ORDER BY rank"""
  }

  /** The shared CTE chain of the BPE oracles: w0 = the distinct-word
    * symbol table (carrying the word string, so the ENCODE oracle can
    * join documents back to their encoded form), then per round k the
    * pair counts (p_k), the argmax merge (m_k), and the merged word
    * table (w_k). `w<nMerges>` is therefore each distinct word encoded
    * under the full learned table — rank-order application IS the
    * training recurrence.
    */
  private def bpeCtes(nMerges: Int): String = {
    val steps = (1 to nMerges).map { k =>
      s"""p$k AS MATERIALIZED (SELECT s.syms[i] AS a, s.syms[i + 1] AS b,
             CAST(SUM(s.cnt) AS BIGINT) AS n
           FROM (SELECT syms, cnt, unnest(range(1, len(syms))) AS i
                 FROM w${k - 1}) s
           GROUP BY 1, 2),
         m$k AS MATERIALIZED (SELECT a, b, n FROM p$k ORDER BY n DESC, a, b LIMIT 1),
         w$k AS MATERIALIZED (SELECT w, CASE WHEN len(syms) < 2 THEN syms ELSE
             list_reduce(list_transform(syms, s -> [s]),
               (acc, x) -> CASE WHEN acc[-1] = m.a AND x[1] = m.b
                 THEN list_append(acc[1:len(acc) - 1], m.a || m.b)
                 ELSE list_concat(acc, x) END)
           END AS syms, cnt FROM w${k - 1}, m$k m)"""
    }.mkString(",\n       ")
    s"""w0 AS MATERIALIZED (
         SELECT w, list_transform(range(length(w)), i -> substr(w, i + 1, 1)) AS syms,
           CAST(COUNT(*) AS BIGINT) AS cnt
         FROM (SELECT unnest(regexp_split_to_array(text, '\\s+')) AS w
               FROM documents)
         WHERE length(w) > 0 GROUP BY w),
       $steps"""
  }

  /** DuckDB oracle for `doc_bpe_encoded`: re-learn the merge table via
    * the [[bpeCtes]] recurrence, whose LAST word table (`w<n>`) is each
    * distinct word already encoded under rank-order merge application —
    * the operator's defined semantics. Documents join their words back
    * positionally (two parallel unnests zip in DuckDB), and the per-doc
    * token count + md5 of the space-joined token sequence replays the
    * engine's exact output, so the full encoding of every document is
    * hash-checked without materializing token instances.
    */
  private def bpeEncodeOracle(nMerges: Int): String =
    s"""WITH ${bpeCtes(nMerges)},
       dw AS (SELECT doc_id, unnest(range(len(ws))) AS pos, unnest(ws) AS w
              FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS ws
                    FROM documents)),
       enc AS (SELECT dw.doc_id, dw.pos, wn.syms
               FROM dw JOIN w$nMerges wn ON dw.w = wn.w
               WHERE length(dw.w) > 0)
       SELECT doc_id, CAST(SUM(len(syms)) AS BIGINT) AS n_tokens,
         md5(string_agg(array_to_string(syms, ' '), ' ' ORDER BY pos)) AS tokens_md5
       FROM enc GROUP BY doc_id ORDER BY doc_id"""

  /** Materialized near-dup pair graph per fixture dir (the registered
    * 0.8-Jaccard / (lang, source)-blocked configuration): FOUR registered
    * queries consume this exact relation (`doc_jaccard_pairs` emits it,
    * `doc_dup_groups` / `doc_dup_survivors` run connected components over
    * it, `doc_dup_triangles` audits it), and the candidate-generation join
    * is the most expensive stage of each. A real pipeline materializes the
    * pair graph once per corpus snapshot; [[graft.ops.Materialize]] gives
    * Bench/Verify the same once-per-fixture cost. The pair pipeline is
    * deterministic and partition-invariant (DedupSpec), so the stored
    * relation is row-identical to a fresh derivation; the store key folds
    * in the library's code fingerprint, so a kernel change rebuilds and
    * Verify can never validate the previous kernel's output.
    */
  private def jaccardPairGraph(s: org.apache.spark.sql.SparkSession,
                               dir: String): org.apache.spark.sql.DataFrame =
    graft.ops.Materialize.cached(s, "jaccard_pairs|lang,source|0.8",
        Seq(s"$dir/documents.parquet")) {
      Dedup.prefixJaccardPairs(Tables(s, dir, "documents"),
        blockCols = Seq("lang", "source"), threshold = 0.8)
    }

  /** Materialized CROSS-SOURCE near-dup pair graph: lang-only blocking,
    * so pairs REACH ACROSS sources — the relation source-attribution
    * reporting needs (the within-source graph above can only ever see
    * the diagonal). Same determinism/fingerprint contract as
    * [[jaccardPairGraph]]; bigger blocks (|lang| instead of
    * |lang × source|), same lossless PPJoin prefix filter.
    */
  private def crossSourcePairGraph(s: org.apache.spark.sql.SparkSession,
                                   dir: String): org.apache.spark.sql.DataFrame =
    graft.ops.Materialize.cached(s, "jaccard_pairs|lang|0.8",
        Seq(s"$dir/documents.parquet")) {
      Dedup.prefixJaccardPairs(Tables(s, dir, "documents"),
        blockCols = Seq("lang"), threshold = 0.8)
    }

  /** Materialized Zipf-corpus near-dup pair graph — shared by
    * `doc_jaccard_pairs_zipf` (emits it) and `doc_dup_triangles_zipf`
    * (audits it), the realistic-corpus twins of the pair above. Same
    * determinism/fingerprint contract as [[jaccardPairGraph]]; the
    * corpus itself is already memoized by `ZipfCorpus.materialized`.
    */
  private def zipfPairGraph(s: org.apache.spark.sql.SparkSession,
                            dir: String): org.apache.spark.sql.DataFrame =
    graft.ops.Materialize.cached(s, "jaccard_pairs|zipf|0.8",
        Seq(s"$dir/documents.parquet")) {
      Dedup.prefixJaccardPairs(graft.gen.ZipfCorpus.materialized(s, dir),
        blockCols = Seq.empty, threshold = 0.8)
    }

  /** The documents table behind a kernel-floor scan spread
    * ([[graft.ops.ScanSpread]]): nearly every doc query runs
    * per-row-expensive string kernels (tokenize, n-grams, regex,
    * signatures) scan-side, and a row-group-starved fixture pins that
    * stage to ONE task while everything after the first exchange runs
    * wide. Used by every kernel-consuming entry, including the
    * plan-spec-guarded pipelines — their no-text-on-KEYED-exchange
    * asserts exempt the round-robin spread, which moves each row
    * exactly once before any kernel or candidate generation. The
    * id-hash samplers (no text kernel) read the raw table. The guard
    * no-ops under 1 MB and on multi-row-group warehouse layouts.
    */
  private def docsKernel(s: org.apache.spark.sql.SparkSession,
                         dir: String,
                         floor: Long = graft.ops.ScanSpread.KernelFloor)
      : org.apache.spark.sql.DataFrame =
    graft.ops.ScanSpread.spread(s, Tables(s, dir, "documents"), floor)

  /** DuckDB oracle for `doc_dup_kcore`: the identical synchronous peel
    * recurrence over the Jaccard pair graph, one keep-set + edge-restrict
    * CTE pair per round — the same unrolling idiom as the PageRank/LPA
    * oracles (standard SQL forbids aggregation in a recursive CTE's
    * recursive term, and the fixed round count is what keeps the
    * iterative engine result exactly replayable).
    */
  private def kCoreOracleSql(k: Int, rounds: Int): String = {
    val steps = (1 to rounds).map { r =>
      s"""kp$r AS (SELECT x FROM (
           SELECT x, COUNT(*) AS d FROM s${r - 1} GROUP BY x) WHERE d >= $k),
         s$r AS (SELECT s.x, s.y FROM s${r - 1} s
           JOIN kp$r a ON s.x = a.x JOIN kp$r b ON s.y = b.x)"""
    }.mkString(",\n         ")
    s"""WITH d AS (SELECT doc_id, lang, source,
         list_distinct(regexp_split_to_array(text, '\\s+')) AS w FROM documents),
       e AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
         FROM d a JOIN d b ON a.lang = b.lang AND a.source = b.source
           AND a.doc_id < b.doc_id
         WHERE len(list_intersect(a.w, b.w)) /
             (len(a.w) + len(b.w) - len(list_intersect(a.w, b.w))) >= 0.8),
       s0 AS (SELECT a_id AS x, b_id AS y FROM e
              UNION ALL SELECT b_id, a_id FROM e),
       $steps
       SELECT x AS v_id, CAST(COUNT(*) AS BIGINT) AS core_deg
       FROM s$rounds GROUP BY x ORDER BY x"""
  }

  /** Materialized transitive dup-group labels over [[jaccardPairGraph]] —
    * shared by `doc_dup_groups` (emits it) and `doc_dup_survivors` (window
    * argmax over it). The union-find CC is deterministic (component min
    * id), so the store is row-identical to a fresh run.
    */
  private def dupGroupLabels(s: org.apache.spark.sql.SparkSession,
                             dir: String): org.apache.spark.sql.DataFrame =
    graft.ops.Materialize.cached(s, "dup_groups|jaccard|lang,source|0.8",
        Seq(s"$dir/documents.parquet")) {
      Dedup.dupGroups(Tables(s, dir, "documents"), jaccardPairGraph(s, dir))
    }

  /** Force-build (or warm-load) every one-time shared store the
    * registered queries consume, returning (store, seconds) rows —
    * `graft.Bench`'s separate BUILD meter. A real pipeline pays these
    * once per corpus snapshot (that is the point of the stores); letting
    * the first consumer query absorb a 40 s pair-graph build made bench
    * query rows measure store state instead of queries (round-7
    * verdict). Times are build-or-load: cold runs show the true build
    * cost, warm runs the (small) load cost — both honest, both
    * separated from query timings.
    */
  def prebuildStores(s: org.apache.spark.sql.SparkSession,
                     dir: String): Seq[(String, Double)] = {
    def t(name: String)(f: => Any): (String, Double) = {
      val t0 = System.nanoTime()
      f
      (name, (System.nanoTime() - t0) / 1e9)
    }
    val nVec = Tables(s, dir, "embeddings").count()
    val nCent = math.max(16, math.min(256, (nVec / 250).toInt))
    // distinct: the scale-adaptive knnGraph config collapses onto 16×2
    // at small fixtures — don't time (and report) the same store twice
    val ivfConfigs = Seq((16, 1), (16, 2), (nCent, 2)).distinct
    Seq(
      t("zipf_corpus") { graft.gen.ZipfCorpus.materialized(s, dir).count() },
      t("jaccard_pair_graph") { jaccardPairGraph(s, dir).count() },
      t("xsource_pair_graph") { crossSourcePairGraph(s, dir).count() },
      t("zipf_pair_graph") { zipfPairGraph(s, dir).count() },
      t("dup_group_labels") { dupGroupLabels(s, dir).count() }) ++
    ivfConfigs.map { case (k, it) =>
      t(s"ivf_model_${k}x$it") { ivfModel(s, dir, nCentroids = k, dim = 64, iters = it) }
    } ++ Seq(
      t("pq_model_8x16") { pqModel(s, dir, m = 8, ksub = 16, dim = 64, iters = 2) },
      t("compacted_events") { graft.ops.Compact.compactedEvents(s, dir) })
  }

  /** Exact top-10 cosine neighbors of the first 20 vectors — the oracle for
    * both `ann_brute_topk` and `ann_ivf_topk` (IVF probing every inverted
    * list is exhaustive search, so its result set is identical by
    * construction). Bit-exactness holds because both engines promote floats
    * to double and accumulate the dot product in index order (see the
    * `emb_norms` precedent), and ranking ties break on `n_id`.
    */
  /** Shared SemDeDup oracle (`emb_semdedup` / `emb_semdedup_hotcell`):
    * seeded-cell assignment (||c||²−2v·c, ties to the lower cell) then
    * within-cell min-id dominance at cosine ≥ 0.4. The SAME statement
    * backs both the default one-task-per-cell plan and the census-guard's
    * grid-salted fallback — the guard is lossless, and sharing the SQL
    * makes the driver gate itself prove plan-equivalence every round.
    */
  private def semDeDupOracleSql(
      corpusSql: String = "SELECT vec_id, embedding FROM embeddings"): String =
    s"""WITH corpus AS ($corpusSql),
         c AS (SELECT vec_id AS cluster, embedding,
             list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x)) AS n2
           FROM embeddings WHERE vec_id < 16),
         sc AS (SELECT e.vec_id, c.cluster,
             c.n2 - 2.0 * list_sum(list_transform(range(len(e.embedding)),
               i -> CAST(e.embedding[i+1] AS DOUBLE) * CAST(c.embedding[i+1] AS DOUBLE)))
               AS score
           FROM corpus e CROSS JOIN c),
         asg AS (SELECT vec_id, cluster FROM (
             SELECT vec_id, cluster,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score, cluster) AS rn
             FROM sc) WHERE rn = 1),
         v AS (SELECT vec_id, embedding,
             sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x))) AS nrm
           FROM corpus),
         dom AS (SELECT DISTINCT b.vec_id
           FROM asg a JOIN asg b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
           JOIN v va ON va.vec_id = a.vec_id JOIN v vb ON vb.vec_id = b.vec_id
           WHERE list_sum(list_transform(range(len(va.embedding)),
               i -> CAST(va.embedding[i+1] AS DOUBLE) * CAST(vb.embedding[i+1] AS DOUBLE)))
             / (va.nrm * vb.nrm) >= 0.4)
         SELECT vec_id, CAST(cluster AS INT) AS cluster,
           vec_id NOT IN (SELECT vec_id FROM dom) AS kept
         FROM asg ORDER BY vec_id"""

  // ---- md5-rank subset twins (round-14 verdict ask #1) ----------------
  // The heavy pair families' production oracles are quadratic in the
  // corpus, so the sf10 sweep could not replay them — their third-decade
  // correctness evidence was indirect (sf0.01/sf0.1 gate + the md5 hash
  // twins). These helpers bound BOTH sides to a deterministic md5-rank
  // subset of the sf10 fixture: rank rows by md5(CAST(id AS VARCHAR))
  // (identical hex in both engines — the doc_stratified_sample idiom),
  // keep the first N. Unlike an id-range cap the subset SAMPLES the
  // whole table (every row group of the 500 k-doc file can contribute),
  // and unlike an md5-PREFIX predicate the subset has a FIXED size at
  // every sf, so the oracle replay stays O(N²) = constant while the
  // engine still scans, hashes and ranks the full fixture. The twins
  // run the UNMODIFIED production kernels (same joins, prefix filters,
  // grid salting) on the subset frame.

  private val SubsetDocs = 4000
  private val SubsetCust = 6000
  private val SubsetVecs = 2000
  private val SubsetDups = 1000

  private def md5Subset(df: org.apache.spark.sql.DataFrame, idCol: String,
                        n: Int): org.apache.spark.sql.DataFrame = {
    // the first n ids under the (md5, id) total order — ids are unique,
    // so `orderBy.limit(n)` ≡ `row_number ≤ n` over the same order, and
    // it plans as TakeOrderedAndProject (each partition keeps n, no
    // single-partition WindowExec — the old global rank window moved
    // every id through one task and logged the "No Partition Defined"
    // warning wall); the slim id set then semi-joins back, so the
    // text/vector payload never rides the ordering
    val ids = df.select(col(idCol))
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
      .limit(n)
    df.join(broadcast(ids), Seq(idCol), "left_semi")
  }

  private def md5SubsetSql(table: String, idCol: String, n: Int): String =
    s"""SELECT t.* FROM $table t JOIN (
          SELECT $idCol FROM (
            SELECT $idCol, ROW_NUMBER() OVER (
              ORDER BY md5(CAST($idCol AS VARCHAR)), $idCol) AS __r
            FROM $table) WHERE __r <= $n) s USING ($idCol)"""

  // ---- dup-closed slice (round-15 verdict ask #1) --------------------
  // The md5-rank subset samples ids UNIFORMLY, which is exactly wrong
  // for the MinHash twin: the fixture's planted near-dups copy a
  // uniformly-chosen SOURCE doc, so the probability that a bounded
  // uniform slice contains BOTH halves of any pair falls as 1/corpus —
  // at sf10 the id-capped twin swept 0-vs-0 rows, an empty-set
  // equality. This slice is CLOSED under the planted-dup relation by
  // construction: the first `n` docs (by id) carrying the generator's
  // marker token 'dup' (gen_sf_fixtures.py:148-153 — the marker is not
  // in the 30-word vocabulary, so it identifies planted dups exactly),
  // UNIONED with every doc whose text equals a slice dup's text with
  // the marker tokens removed (its source — 95% of dups append the
  // marker at the end, the rest insert it one before; either way
  // token-filtering recovers the source text verbatim). Slice size is
  // ≤ 2n at every sf, so the oracle replay stays O(n²)-bounded while
  // the slice PROVABLY carries near-dup pairs the moment the fixture
  // has ≥ 1 planted dup whose source is not itself a dup.
  //
  // Scale shape: the dup filter is one scan; the rank window rides ids
  // only (≤ 5% of the corpus — the md5Subset one-task discipline); the
  // stripped-text side is ≤ n short strings, broadcast into a semi-join
  // against the corpus scan; the final id set (≤ 2n) broadcasts back.

  private def dupClosedSlice(docs: org.apache.spark.sql.DataFrame,
                             n: Int): org.apache.spark.sql.DataFrame = {
    // One SPREAD + CHECKPOINTED corpus pass feeds the whole slice: the
    // marker filter, the stripped-text probe, the source semi-join and
    // the final id semi-join are four sequential passes, and on the
    // single-row-group fixture each re-decoded the parquet and re-split
    // the text serially (measured ~1 s of the twin's 3.7 s at sf0.1).
    // The downstream consumer is the md5-shingle kernel, so the spread
    // uses its window-hash floor.
    val base = graft.ops.ScanSpread.spread(docs.sparkSession, docs,
      graft.ops.ScanSpread.WindowHashFloor).localCheckpoint()
    val isDup = array_contains(split(col("text"), " "), "dup")
    // first n dup-marked ids: doc_id is unique, so orderBy.limit(n) ≡
    // the old row_number ≤ n global window, planned as
    // TakeOrderedAndProject instead of a single-partition WindowExec
    // (the md5Subset treatment — VERDICT r15 #6)
    val dupIds = base.filter(isDup).select(col("doc_id"))
      .orderBy(col("doc_id")).limit(n)
    val dups = base.join(broadcast(dupIds), Seq("doc_id"), "left_semi")
    val stripped = dups.select(
        array_join(filter(split(col("text"), " "),
          t => t =!= lit("dup")), " ").as("__base"))
      .distinct()
    val srcIds = base
      .join(broadcast(stripped), col("text") === col("__base"), "left_semi")
      .select(col("doc_id"))
    val ids = dupIds.unionByName(srcIds).distinct()
    base.join(broadcast(ids), Seq("doc_id"), "left_semi")
  }

  private def dupClosedSliceSql(n: Int): String =
    s"""SELECT t.* FROM documents t JOIN (
          SELECT doc_id FROM (
            SELECT doc_id, ROW_NUMBER() OVER (ORDER BY doc_id) AS __r
            FROM documents
            WHERE list_contains(string_split(text, ' '), 'dup'))
          WHERE __r <= $n
          UNION
          SELECT s.doc_id FROM documents s JOIN (
            SELECT DISTINCT array_to_string(
                list_filter(string_split(d.text, ' '), x -> x <> 'dup'),
                ' ') AS base
            FROM documents d
            WHERE list_contains(string_split(d.text, ' '), 'dup')
              AND d.doc_id IN (
                SELECT doc_id FROM (
                  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY doc_id) AS __r
                  FROM documents
                  WHERE list_contains(string_split(text, ' '), 'dup'))
                WHERE __r <= $n)) b ON s.text = b.base
        ) ids USING (doc_id)"""

  /** Shared md5-MinHash oracle (`doc_minhash_pairs_md5` /
    * `doc_minhash_incremental_md5`): recompute md5 60-bit shingle
    * hashes, formula permutations and literal band keys over the capped
    * 2,000-doc slice, generate banded candidates under the optional
    * extra predicate (the incremental row keeps pairs whose greater id
    * is in the batch), and verify exact Jaccard.
    */
  private def minhashMd5Sql(candExtra: String,
      docsSql: String = "SELECT * FROM documents WHERE doc_id < 2000")
      : String = {
    val h60 = (s: String) =>
      s"""list_reduce(list_transform(range(15), j ->
           CAST(strpos('0123456789abcdef',
             substr(md5($s), j + 1, 1)) - 1 AS BIGINT)),
           (x, y) -> x * 16 + y)"""
    s"""WITH perms AS (
         SELECT i, (1103515245 * (i + 1) + 12345) % 2147483646 + 1 AS a,
                (69069 * (i + 1) + 362437) % 2147483647 AS b
         FROM (SELECT unnest(range(64)) AS i)),
       toks AS (SELECT doc_id, string_split(text, ' ') AS t
         FROM ($docsSql) docs_src),
       sh AS (SELECT DISTINCT doc_id,
           ${h60("array_to_string(list_slice(t, i, i + 2), ' ')")} AS h
         FROM (SELECT doc_id, t,
           unnest(range(1, len(t) - 1)) AS i FROM toks)),
       m AS (SELECT doc_id, i,
           MIN((a * (h % 2147483647) + b) % 2147483647) AS v
         FROM sh CROSS JOIN perms GROUP BY doc_id, i),
       bk AS (SELECT doc_id, i // 4 AS band,
           string_agg(CAST(v AS VARCHAR), ',' ORDER BY i) AS key
         FROM m GROUP BY doc_id, i // 4),
       cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
         FROM bk x JOIN bk y
           ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id
           $candExtra),
       cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
       inter AS (SELECT c.a_id, c.b_id, COUNT(*) AS ni
         FROM cand c
         JOIN sh sa ON sa.doc_id = c.a_id
         JOIN sh sb ON sb.doc_id = c.b_id AND sb.h = sa.h
         GROUP BY c.a_id, c.b_id)
       SELECT i.a_id, i.b_id,
         CAST(i.ni AS DOUBLE) / (na.n + nb.n - i.ni) AS jaccard
       FROM inter i
       JOIN cnt na ON na.doc_id = i.a_id
       JOIN cnt nb ON nb.doc_id = i.b_id
       WHERE CAST(i.ni AS DOUBLE) / (na.n + nb.n - i.ni) >= 0.5
       ORDER BY a_id, b_id"""
  }

  /** Oracle for both the exact kNN join and its full-probe IVF-graph
    * twin (`emb_knn_join` / `emb_knn_graph_exact`): exhaustive IVF is
    * exact search, so one brute-force SQL serves both rows. `where`
    * bounds the corpus slice for the verification twin (the md5-twin
    * cap rationale: equality is proven just as well on a fixed slice,
    * and an uncapped full-probe graph is deliberately the n² workload).
    */
  private def knnJoinExactSql(where: String = ""): String =
    s"""WITH v AS (SELECT vec_id, embedding,
       sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x))) AS norm
       FROM embeddings $where),
     s AS (SELECT q.vec_id AS q_id, n.vec_id AS n_id,
       list_sum(list_transform(range(len(q.embedding)),
         i -> CAST(q.embedding[i+1] AS DOUBLE) * CAST(n.embedding[i+1] AS DOUBLE)))
         / (q.norm * n.norm) AS cos
       FROM v q JOIN v n ON n.vec_id <> q.vec_id)
     SELECT q_id, n_id, cos, rnk FROM (
       SELECT q_id, n_id, cos,
         CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS INT) AS rnk
       FROM s) WHERE rnk <= 5 ORDER BY q_id, rnk"""

  /** Shared md5-plane LSH oracle (`ann_lsh_topk_md5` /
    * `ann_lsh_multiprobe_md5`): recompute the integer plane matrix from
    * md5, fold index-ordered float·int projections (exact in double),
    * chunk the sign bits, and generate candidates under `candCond` —
    * `q.ch = n.ch` for single-probe, XOR-is-zero-or-power-of-two for
    * the Hamming-1 multi-probe set — then exact-cosine rerank.
    */
  private def lshMd5TopkSql(candCond: String): String = {
    val h8 = """(list_reduce(list_transform(range(8), k ->
         CAST(strpos('0123456789abcdef',
           substr(md5(CAST(i AS VARCHAR) || ',' || CAST(j AS VARCHAR)),
             k + 1, 1)) - 1 AS BIGINT)),
         (x, y) -> x * 16 + y) % 17) - 8"""
    s"""WITH pl AS (SELECT i, j, $h8 AS c
         FROM range(16) t(i) CROSS JOIN range(64) u(j)),
       prods AS (SELECT e.vec_id, p.i, p.j,
           CAST(e.embedding[p.j + 1] AS DOUBLE) * p.c AS prod
         FROM embeddings e CROSS JOIN pl p),
       dots AS (SELECT vec_id, i,
           list_reduce(list(prod ORDER BY j), (x, y) -> x + y) AS s
         FROM prods GROUP BY vec_id, i),
       sig AS (SELECT vec_id,
           CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << i)
             ELSE 0 END) AS BIGINT) AS sig
         FROM dots GROUP BY vec_id),
       ck AS (SELECT vec_id, cn, (sig >> (cn * 8)) & 255 AS ch
         FROM sig CROSS JOIN range(2) r(cn)),
       cand AS (SELECT DISTINCT q.vec_id AS q_id, n.vec_id AS n_id
         FROM ck q JOIN ck n ON q.cn = n.cn AND ($candCond)
         WHERE q.vec_id < 20 AND q.vec_id <> n.vec_id),
       v AS (SELECT vec_id, embedding,
           sqrt(list_sum(list_transform(embedding,
             x -> CAST(x AS DOUBLE) * x))) AS norm
         FROM embeddings),
       sc AS (SELECT c.q_id, c.n_id,
           list_sum(list_transform(range(len(q.embedding)),
             jj -> CAST(q.embedding[jj + 1] AS DOUBLE)
               * CAST(n.embedding[jj + 1] AS DOUBLE)))
             / (q.norm * n.norm) AS cos
         FROM cand c
         JOIN v q ON q.vec_id = c.q_id
         JOIN v n ON n.vec_id = c.n_id)
       SELECT q_id, n_id, cos, rnk FROM (
         SELECT q_id, n_id, cos,
           CAST(ROW_NUMBER() OVER (PARTITION BY q_id
             ORDER BY cos DESC, n_id) AS INT) AS rnk
         FROM sc)
       WHERE rnk <= 10 ORDER BY q_id, rnk"""
  }

  /** Shared md5-SimHash oracle (`doc_simhash_pairs_md5` /
    * `doc_simhash_incremental_md5`): recompute 60-bit signatures over
    * md5 token hashes, chunk-pigeonhole candidates under the optional
    * extra predicate (the incremental row keeps pairs whose greater id
    * is in the batch), and verify Hamming ≤ 3.
    */
  private def simhashMd5Sql(candExtra: String): String = {
    val h60 =
      """list_reduce(list_transform(range(15), k ->
           CAST(strpos('0123456789abcdef',
             substr(md5(tok), k + 1, 1)) - 1 AS BIGINT)),
           (x, y) -> x * 16 + y)"""
    s"""WITH toks AS (SELECT doc_id,
           unnest(regexp_split_to_array(text, '\\s+')) AS tok
         FROM documents WHERE doc_id < 5000),
       h AS (SELECT doc_id, $h60 AS h FROM toks),
       v AS (SELECT doc_id, j,
           SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS v
         FROM h CROSS JOIN (SELECT unnest(range(60)) AS j)
         GROUP BY doc_id, j),
       sig AS (SELECT doc_id,
           CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << j)
             ELSE 0 END) AS BIGINT) AS sig
         FROM v GROUP BY doc_id),
       ck AS (SELECT doc_id, sig, c, (sig >> (c * 15)) & 32767 AS ch
         FROM sig CROSS JOIN (SELECT unnest(range(4)) AS c)),
       cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id,
           x.sig AS a_sig, y.sig AS b_sig
         FROM ck x JOIN ck y
           ON x.c = y.c AND x.ch = y.ch AND x.doc_id < y.doc_id $candExtra)
       SELECT a_id, b_id,
         CAST(bit_count(xor(a_sig, b_sig)) AS INT) AS hamming
       FROM cand WHERE bit_count(xor(a_sig, b_sig)) <= 3
       ORDER BY a_id, b_id"""
  }

  private val annExactTopkSql =
    """WITH v AS (SELECT vec_id, embedding,
       sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x))) AS norm
       FROM embeddings),
     s AS (SELECT q.vec_id AS q_id, n.vec_id AS n_id,
       list_sum(list_transform(range(len(q.embedding)),
         i -> CAST(q.embedding[i+1] AS DOUBLE) * CAST(n.embedding[i+1] AS DOUBLE)))
         / (q.norm * n.norm) AS cos
       FROM v q JOIN v n ON n.vec_id <> q.vec_id WHERE q.vec_id < 20)
     SELECT q_id, n_id, cos, rnk FROM (
       SELECT q_id, n_id, cos,
         CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS INT) AS rnk
       FROM s) WHERE rnk <= 10 ORDER BY q_id, rnk"""

  /** Oracle for `emb_dup_pairs`: recomputes the Rademacher sign signatures
    * from the SAME ±1 matrix the Spark kernel uses (inlined as literal
    * rows), pairs on Hamming distance, and audits with the exact cosine.
    * ±1 entries make every projection term an exact double sign flip, so
    * the signature — and therefore the result SET — is engine-independent.
    */
  private def embSigCtes(nPlanes: Int, dim: Int, maxHamming: Int, seed: Long,
                         corpusSql: String): String = {
    val m = Similarity.signPlanes(nPlanes, dim, seed)
    val planeRows = (0 until nPlanes).map { p =>
      val vals = (0 until dim)
        .map(j => if (m(p * dim + j) > 0) "1.0" else "-1.0").mkString(",")
      s"($p, [$vals])"
    }.mkString(", ")
    s"""planes(p, s) AS (VALUES $planeRows),
       corpus AS ($corpusSql),
       e AS (SELECT vec_id, embedding,
         sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x))) AS norm
         FROM corpus),
       sig AS (SELECT e.vec_id,
         CAST(SUM(CASE WHEN list_sum(list_transform(range(len(e.embedding)),
             i -> CAST(e.embedding[i+1] AS DOUBLE) * p.s[i+1])) > 0
           THEN CAST(1 AS BIGINT) << p.p ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS sig
         FROM e, planes p GROUP BY e.vec_id),
       pairs AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
         FROM sig a JOIN sig b ON a.vec_id < b.vec_id
         WHERE bit_count(xor(a.sig, b.sig)) <= $maxHamming)"""
  }

  /** The composite quality score as DuckDB SQL — the exact arithmetic of
    * `Text.qualityScore` (int-ratio inputs, fixed combination order →
    * identical doubles; POSIX `[[:punct:]]` equals Java `\p{Punct}` on
    * ASCII). Shared by `doc_quality_topk` and `doc_e2e_curated` so the
    * fragment cannot drift between oracles.
    */
  private val qualitySql =
    """greatest(0.0, least(1.0,
             least(len(regexp_split_to_array(text, '\s+')) / 64.0, 1.0) * 0.4 +
             least((len(list_distinct(regexp_split_to_array(text, '\s+'))) /
                    len(regexp_split_to_array(text, '\s+'))) * 2.0, 1.0) * 0.4 +
             (1.0 - ((length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g'))) /
                       greatest(length(text), 1) +
                     (length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) /
                       greatest(length(text), 1))) * 0.2))"""

  /** The planted-duplicate corpus for the tight-threshold embedding dedup
    * evidence: fixture embeddings are i.i.d. (no Hamming-≤2 pairs), so 50
    * angular duplicates are planted as vec·0.5 under fresh ids — halving is
    * IEEE-exact (exponent decrement), so sign bits and the pigeonhole
    * guarantee are preserved bit-identically in both engines.
    */
  private val plantedCorpusSql =
    """SELECT vec_id, embedding FROM embeddings
          UNION ALL
          SELECT vec_id + 1000000,
            list_transform(embedding, x -> CAST(x * CAST(0.5 AS REAL) AS REAL))
          FROM embeddings WHERE vec_id < 50"""

  private def plantedCorpus(s: org.apache.spark.sql.SparkSession,
                            dir: String): org.apache.spark.sql.DataFrame = {
    val emb = Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val planted = emb.filter(col("vec_id") < 50)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"),
          x => (x * lit(0.5f)).cast("float")).as("embedding"))
    emb.unionAll(planted)
  }

  private def embSimhashDupSql(nPlanes: Int, dim: Int, maxHamming: Int,
                               seed: Long,
                               corpusSql: String =
                                 "SELECT vec_id, embedding FROM embeddings"): String =
    s"""WITH ${embSigCtes(nPlanes, dim, maxHamming, seed, corpusSql)}
     SELECT pr.a_id, pr.b_id, pr.hamming,
       list_sum(list_transform(range(len(ea.embedding)),
         i -> CAST(ea.embedding[i+1] AS DOUBLE) * CAST(eb.embedding[i+1] AS DOUBLE)))
         / (ea.norm * eb.norm) AS cos
     FROM pairs pr JOIN e ea ON ea.vec_id = pr.a_id JOIN e eb ON eb.vec_id = pr.b_id
     ORDER BY a_id, b_id"""

  /** Oracle for `emb_dup_groups`: the recursive-CTE transitive closure over
    * the identical signature-pair set (the `doc_dup_groups` oracle shape,
    * applied to the embedding near-dup graph).
    */
  private def embSimhashGroupsSql(nPlanes: Int, dim: Int, maxHamming: Int,
                                  seed: Long, corpusSql: String): String =
    s"""WITH RECURSIVE ${embSigCtes(nPlanes, dim, maxHamming, seed, corpusSql)},
       ed AS (SELECT a_id AS s, b_id AS t FROM pairs
              UNION SELECT b_id, a_id FROM pairs),
       reach(s, t) AS (SELECT s, t FROM ed
         UNION SELECT r.s, ed.t FROM reach r JOIN ed ON r.t = ed.s)
     SELECT vec_id, CAST(LEAST(vec_id, coalesce(m.mn, vec_id)) AS BIGINT) AS group_id
     FROM corpus LEFT JOIN
       (SELECT s, min(t) AS mn FROM reach GROUP BY s) m ON m.s = vec_id
     ORDER BY vec_id"""

  /** Oracle for `doc_langid`: the stopword/bigram scoring is deterministic
    * integer arithmetic over literal profiles, so DuckDB can replay it —
    * stop hits via `list_filter` over `\s+` tokens, bigram occurrence
    * counts via the non-overlapping `replace` counter (equal to the
    * kernel's sliding count for the overlap-free profiles), the argmax
    * tie-break (lexicographically largest language), the CJK
    * short-circuit, and the `und` fallback. The profile literals are
    * generated from the SAME maps the engine reads
    * (`Text.langProfiles`/`Text.bigramProfiles`), so oracle and engine
    * cannot silently diverge.
    */
  private def langIdSql: String = {
    def inList(ws: Seq[String]) = ws.map(w => s"'$w'").mkString(",")
    val langs = Text.langProfiles.keys.toSeq.sorted // de, en, es, fr
    val stopCols = langs.map { l =>
      s"len(list_filter(ltoks, w -> w IN (${inList(Text.langProfiles(l))}))) AS s_$l"
    }.mkString(",\n         ")
    val gramCols = langs.map { l =>
      val terms = Text.bigramProfiles(l)
        .map(bg => s"(length(lt) - length(replace(lt, '$bg', ''))) // 2")
        .mkString(" + ")
      s"$terms AS g_$l"
    }.mkString(",\n         ")
    // kernel argmax scans langs ascending keeping `hits >= best` → the
    // lexicographically LARGEST language wins ties; 0 hits → 'und'
    def argmax(p: String): String = {
      val all = langs.map(l => s"${p}_$l").mkString(", ")
      val desc = langs.reverse
      val cases = desc.init
        .map(l => s"WHEN ${p}_$l = greatest($all) THEN '$l'").mkString(" ")
      s"""CASE WHEN cjk THEN 'zh' WHEN greatest($all) = 0 THEN 'und'
         $cases ELSE '${desc.last}' END"""
    }
    s"""WITH b AS (SELECT doc_id, lang, text, lower(text) AS lt,
         regexp_split_to_array(text, '\\s+') AS toks,
         regexp_split_to_array(lower(text), '\\s+') AS ltoks,
         length(text) AS nc FROM documents),
       h AS (SELECT doc_id, lang, text, nc,
         len(toks) AS n_tokens,
         len(list_distinct(toks)) AS distinct_tokens,
         length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS punct_chars,
         length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS digit_chars,
         regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') AS cjk,
         $stopCols,
         $gramCols
         FROM b)
       SELECT doc_id, lang AS labeled_lang,
         ${argmax("s")} AS predicted_lang,
         ${argmax("g")} AS predicted_lang_ngram,
         greatest(0.0, least(1.0,
           least(n_tokens / 64.0, 1.0) * 0.4 +
           least((distinct_tokens / n_tokens) * 2.0, 1.0) * 0.4 +
           (1.0 - (punct_chars / greatest(nc, 1) + digit_chars / greatest(nc, 1))) * 0.2)) AS quality,
         CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS INT) AS bpe_tokens,
         CASE WHEN nc = 0 THEN CAST(0 AS BIGINT) ELSE
           list_reduce(list_transform(range(nc), i -> CAST(ascii(text[i+1]) AS BIGINT)),
             (a, b) -> (a * 1000003 + b) % 2147483647) END AS rolling_fp
       FROM h ORDER BY doc_id"""
  }

  val all: Seq[Q] = Seq(

    // Exact dedup via content fingerprint (hash-groupBy; text never shuffles).
    Q("doc_exact_dedup",
      """SELECT md5(text) AS fingerprint, MIN(doc_id) AS canonical_id,
         COUNT(*) AS n_dups
         FROM documents GROUP BY 1 ORDER BY 1""") { (s, dir) =>
      Dedup.exact(docsKernel(s, dir)).orderBy(col("fingerprint"))
    },

    // Sub-document span dedup (C4/RefinedWeb): 8-token tumbling blocks,
    // global first-occurrence keep ordered by (doc_id, block_idx),
    // survivors reassembled in place. The oracle replays the identical
    // partition — both engines split on single spaces and agree on the
    // block strings byte-for-byte, so the rebuilt text hash-matches.
    // Spark side groups by md5(block) (map-side combinable, ID-only
    // shuffles); the oracle groups by the block string itself — same
    // equivalence classes.
    Q("doc_span_dedup",
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         s AS (SELECT doc_id, toks,
           unnest(range(0, greatest(len(toks), 1), 8)) AS start FROM d),
         b AS (SELECT doc_id, CAST(start // 8 AS INT) AS block_idx,
           array_to_string(list_slice(toks, start + 1, start + 8), ' ') AS block
           FROM s),
         f AS (SELECT doc_id, block_idx, block,
           ROW_NUMBER() OVER (PARTITION BY block ORDER BY doc_id, block_idx) AS rn
           FROM b)
         SELECT doc_id,
           COALESCE(string_agg(block, ' ' ORDER BY block_idx)
             FILTER (WHERE rn = 1), '') AS text_dedup,
           CAST(COUNT(*) AS INT) AS n_blocks,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS INT) AS n_kept
         FROM f GROUP BY doc_id ORDER BY doc_id""") { (s, dir) =>
      Dedup.spanDedup(docsKernel(s, dir, graft.ops.ScanSpread.WindowHashFloor), k = 8).orderBy(col("doc_id"))
    },

    // Incremental span dedup — C4 at ingest: docs ≥ 250 arrive as a new
    // batch against the standing block index of docs < 250. A batch block
    // dies if its hash is already claimed by the index OR it repeats
    // within the batch; the oracle replays both conditions.
    Q("doc_span_dedup_incremental",
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         s AS (SELECT doc_id, toks,
           unnest(range(0, greatest(len(toks), 1), 8)) AS start FROM d),
         b AS (SELECT doc_id, CAST(start // 8 AS INT) AS block_idx,
           array_to_string(list_slice(toks, start + 1, start + 8), ' ') AS block
           FROM s),
         f AS (SELECT doc_id, block_idx, block,
           ROW_NUMBER() OVER (PARTITION BY block ORDER BY doc_id, block_idx) AS rn,
           block IN (SELECT DISTINCT block FROM b WHERE doc_id < 250) AS seen
           FROM b WHERE doc_id >= 250)
         SELECT doc_id,
           COALESCE(string_agg(block, ' ' ORDER BY block_idx)
             FILTER (WHERE rn = 1 AND NOT seen), '') AS text_dedup,
           CAST(COUNT(*) AS INT) AS n_blocks,
           CAST(SUM(CASE WHEN rn = 1 AND NOT seen THEN 1 ELSE 0 END) AS INT) AS n_kept
         FROM f GROUP BY doc_id ORDER BY doc_id""") { (s, dir) =>
      val docs = docsKernel(s, dir, graft.ops.ScanSpread.WindowHashFloor)
      Dedup.spanDedupIncremental(
          docs.filter(col("doc_id") >= 250),
          Dedup.spanBlockIndex(docs.filter(col("doc_id") < 250), k = 8),
          k = 8)
        .orderBy(col("doc_id"))
    },

    // Maximal duplicated-span detection (the Lee et al. 2021 shape:
    // variable-length repeated substrings ≥ a token threshold, at ANY
    // alignment — the disjoint-block form above only sees k-aligned
    // repeats). Sliding 8-token windows, duplicated anywhere in the
    // corpus, merged into maximal spans ≥ 16 tokens. The engine marks
    // positions by md5 window hash; the oracle by the window string —
    // same equivalence classes (the doc_span_dedup idiom), and both
    // sides merge islands with the identical pos − prev > k rule.
    Q("doc_dup_spans",
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks,
             len(string_split(text, ' ')) AS n FROM documents),
         g AS (SELECT doc_id, toks, unnest(range(0, n - 8 + 1)) AS pos
           FROM d WHERE n >= 8),
         g2 AS (SELECT doc_id, pos,
           array_to_string(list_slice(toks, pos + 1, pos + 8), ' ') AS gram
           FROM g),
         dup AS (SELECT gram FROM g2 GROUP BY gram HAVING COUNT(*) > 1),
         p AS (SELECT g2.doc_id, g2.pos FROM g2 JOIN dup USING (gram)),
         i AS (SELECT doc_id, pos,
           CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 8
             THEN 1 ELSE 0 END AS ni FROM p),
         isl AS (SELECT doc_id, pos,
           SUM(ni) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM i),
         s AS (SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 8 AS span_end
           FROM isl GROUP BY doc_id, island)
         SELECT s.doc_id, CAST(span_start AS INT) AS span_start,
           CAST(span_end - span_start AS INT) AS span_len,
           array_to_string(list_slice(d.toks, span_start + 1, span_end), ' ')
             AS span_text
         FROM s JOIN d USING (doc_id)
         WHERE span_end - span_start >= 16
         ORDER BY doc_id, span_start""") { (s, dir) =>
      Dedup.duplicatedSpans(docsKernel(s, dir,
          graft.ops.ScanSpread.WindowHashFloor), k = 8, minLen = 16)
        .orderBy(col("doc_id"), col("span_start"))
    },

    // Deterministic hash-mod sampling — THE reproducible sampling method
    // for training-data pipelines (rerun-stable, join-free, no RNG state;
    // `df.sample` is seed+partitioning dependent). Bucket = first 8 hex
    // chars of md5(doc_id) as an integer, mod 10; keep buckets 0-2 for a
    // 30% sample. Both engines compute the identical md5 hex, so the
    // sample IS the oracle's sample.
    Q("doc_hash_sample",
      """SELECT doc_id, lang FROM (SELECT doc_id, lang,
           list_reduce(list_transform(range(8),
               i -> CAST(strpos('0123456789abcdef',
                 substr(md5(CAST(doc_id AS VARCHAR)), i + 1, 1)) - 1 AS BIGINT)),
             (a, b) -> a * 16 + b) % 10 AS bucket
           FROM documents)
         WHERE bucket < 3 ORDER BY doc_id""") { (s, dir) =>
      Tables(s, dir, "documents")
        .withColumn("bucket", Text.hashModBucket(col("doc_id")))
        .filter(col("bucket") < 3)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    },

    // Fill-in-the-middle (FIM) splitting — the infilling-model data
    // transform: each document cut at two md5-derived points into
    // (prefix, middle, suffix). Both engines compute the identical
    // md5-hex cut points (the doc_hash_sample idiom) and the identical
    // slices, so every split is hash-checked byte-for-byte.
    Q("doc_fim_split",
      """WITH d AS (SELECT doc_id, regexp_split_to_array(text, ' ') AS t,
             len(regexp_split_to_array(text, ' ')) AS n FROM documents),
         c AS (SELECT doc_id, t, CAST(n AS BIGINT) AS n_tokens,
             list_reduce(list_transform(range(8),
                 i -> CAST(strpos('0123456789abcdef',
                   substr(md5(CAST(doc_id AS VARCHAR) || 'fim1'), i + 1, 1)) - 1
                   AS BIGINT)),
               (a, b) -> a * 16 + b) % (n + 1) AS c1,
             list_reduce(list_transform(range(8),
                 i -> CAST(strpos('0123456789abcdef',
                   substr(md5(CAST(doc_id AS VARCHAR) || 'fim2'), i + 1, 1)) - 1
                   AS BIGINT)),
               (a, b) -> a * 16 + b) % (n + 1) AS c2
           FROM d)
         SELECT doc_id, n_tokens,
           least(c1, c2) AS lo, greatest(c1, c2) AS hi,
           COALESCE(array_to_string(list_slice(t, 1, least(c1, c2)), ' '), '')
             AS prefix,
           COALESCE(array_to_string(
             list_slice(t, least(c1, c2) + 1, greatest(c1, c2)), ' '), '')
             AS middle,
           COALESCE(array_to_string(
             list_slice(t, greatest(c1, c2) + 1, n_tokens), ' '), '')
             AS suffix
         FROM c ORDER BY doc_id""") { (s, dir) =>
      Text.fimSplit(docsKernel(s, dir)).orderBy(col("doc_id"))
    },

    // PII redaction — the pre-training scrub pass (emails, then IPv4s),
    // plus per-document match counts. The fixture text carries no PII, so
    // each row is salted with a synthetic email + IP derived from its
    // doc_id: every document exercises both patterns non-vacuously, and
    // the oracle replays the identical salt. The patterns live in the
    // Java∩RE2 regex subset (Text.emailPattern Scaladoc), so both engines
    // produce byte-identical redactions.
    Q("doc_pii_redacted",
      s"""WITH s AS (SELECT doc_id,
           'user' || CAST(doc_id AS VARCHAR) || '@example.com 10.0.' ||
             CAST(doc_id % 250 AS VARCHAR) || '.7 ' || text AS t
           FROM documents)
         SELECT doc_id,
           regexp_replace(regexp_replace(t, '${Text.emailPattern}', '<EMAIL>', 'g'),
             '${Text.ipv4Pattern}', '<IP>', 'g') AS redacted,
           CAST(len(regexp_extract_all(t, '${Text.emailPattern}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(t, '${Text.ipv4Pattern}')) AS BIGINT) AS n_ips
         FROM s ORDER BY doc_id""") { (s, dir) =>
      val salted = concat(lit("user"), col("doc_id").cast("string"),
        lit("@example.com 10.0."), (col("doc_id") % 250).cast("string"),
        lit(".7 "), col("text"))
      docsKernel(s, dir)
        .select(col("doc_id"), salted.as("t"))
        .select(col("doc_id"),
          Text.redactPii(col("t")).as("redacted"),
          regexp_count(col("t"), lit(Text.emailPattern)).cast("long").as("n_emails"),
          regexp_count(col("t"), lit(Text.ipv4Pattern)).cast("long").as("n_ips"))
        .orderBy(col("doc_id"))
    },

    // Text canonicalization — the normalization pass that precedes
    // fingerprinting (un-normalized md5 fractures dup groups on case and
    // whitespace noise). The fixture text is already clean, so each row
    // is salted with case flips, tabs/newlines, double spaces and a C0
    // control byte derived from its own content; the oracle replays the
    // identical salt and must reproduce the canonical form
    // byte-identically (patterns in the Java∩RE2 subset, ASCII lower).
    Q("doc_normalized",
      """WITH s AS (SELECT doc_id,
           upper(substr(text, 1, 40)) || chr(9) || chr(10) || '  ' ||
             text || '  ' || chr(1) || 'TaIL' AS t
           FROM documents)
         SELECT doc_id,
           lower(trim(regexp_replace(regexp_replace(t, '[\x00-\x1f]', ' ', 'g'),
             ' {2,}', ' ', 'g'))) AS normalized,
           CAST(len(t) AS BIGINT) AS n_before,
           CAST(len(lower(trim(regexp_replace(regexp_replace(t,
             '[\x00-\x1f]', ' ', 'g'), ' {2,}', ' ', 'g')))) AS BIGINT) AS n_after
         FROM s ORDER BY doc_id""") { (s, dir) =>
      val salted = concat(upper(substring(col("text"), 1, 40)),
        lit("\t\n  "), col("text"), lit("  \u0001TaIL"))
      val norm = Text.normalizeText(col("t"))
      docsKernel(s, dir)
        .select(col("doc_id"), salted.as("t"))
        .select(col("doc_id"), norm.as("normalized"),
          length(col("t")).cast("long").as("n_before"),
          length(norm).cast("long").as("n_after"))
        .orderBy(col("doc_id"))
    },

    // Corpus drift audit — per-token two-proportion z between the even-
    // and odd-numbered source cohorts (the shape of "new crawl snapshot
    // vs old": did any token's rate move beyond noise?). Counts are exact
    // BIGINTs shuffled as (token, count) only; totals broadcast from a
    // 1-row aggregate; every float in z is one IEEE op over exact
    // integers (the ev_ab_test determinism idiom), so z hash-matches.
    Q("doc_source_drift",
      """WITH toks AS (
           SELECT CAST(substr(source, 4) AS INT) % 2 AS cohort,
             unnest(string_split(text, ' ')) AS token
           FROM documents),
         counts AS (
           SELECT token,
             CAST(SUM(CASE WHEN cohort = 0 THEN 1 ELSE 0 END) AS BIGINT) AS o_a,
             CAST(SUM(CASE WHEN cohort <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS o_b
           FROM toks GROUP BY token),
         tot AS (SELECT CAST(SUM(o_a) AS BIGINT) AS n_a,
                        CAST(SUM(o_b) AS BIGINT) AS n_b FROM counts)
         SELECT token, o_a, o_b,
           CAST(o_a AS DOUBLE) / n_a AS rate_a,
           CAST(o_b AS DOUBLE) / n_b AS rate_b,
           ((CAST(o_a AS DOUBLE) / n_a) - (CAST(o_b AS DOUBLE) / n_b)) /
             sqrt(((CAST(o_a + o_b AS DOUBLE) / (n_a + n_b)) *
                   (1.0 - (CAST(o_a + o_b AS DOUBLE) / (n_a + n_b)))) *
                  ((1.0 / n_a) + (1.0 / n_b))) AS z
         FROM counts CROSS JOIN tot
         WHERE o_a + o_b >= 20
         ORDER BY token""") { (s, dir) =>
      Text.tokenDrift(docsKernel(s, dir),
          substring(col("source"), 4, 10).cast("int") % 2, minSupport = 20)
        .orderBy(col("token"))
    },

    // Corpus-trained bigram-LM predictability (the CCNet-shaped signal):
    // score = mean of the scaled-integer conditionals ⌊10⁶·c(a,b)/c(a,·)⌋
    // under the corpus's own bigram model. Integer division keeps the
    // per-doc sum an order-free BIGINT (a float log-perplexity would be
    // partition-order noise); the model is a re-aggregation of the
    // per-doc partials and every join carries counts only.
    Q("doc_bigram_lm",
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
           FROM documents),
         grams AS (
           SELECT doc_id, unnest(list_transform(range(1, len(t)),
             i -> t[i] || ' ' || t[i + 1])) AS gram
           FROM toks WHERE len(t) >= 2),
         per_doc AS (SELECT doc_id, gram, CAST(COUNT(*) AS BIGINT) AS k
           FROM grams GROUP BY 1, 2),
         corpus AS (SELECT gram, CAST(SUM(k) AS BIGINT) AS cb,
           string_split(gram, ' ')[1] AS head FROM per_doc GROUP BY gram),
         heads AS (SELECT head, CAST(SUM(cb) AS BIGINT) AS ca FROM corpus GROUP BY head),
         p AS (SELECT gram, (1000000 * cb) // ca AS p_scaled
           FROM corpus JOIN heads USING (head))
         SELECT d.doc_id, CAST(SUM(d.k) AS BIGINT) AS n_bigrams,
           CAST(SUM(d.k * p.p_scaled) AS BIGINT) AS sum_p_scaled,
           CAST(SUM(d.k * p.p_scaled) AS DOUBLE) / SUM(d.k) AS mean_p_scaled
         FROM per_doc d JOIN p USING (gram)
         GROUP BY d.doc_id ORDER BY d.doc_id""") { (s, dir) =>
      Text.bigramLmScore(docsKernel(s, dir))
        .orderBy(col("doc_id"))
    },

    // Token statistics per (lang, source) stratum.
    Q("doc_token_stats",
      """SELECT lang, source, COUNT(*) AS n_docs,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
         CAST(SUM(n_chars) AS BIGINT) AS total_chars,
         CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars
         FROM documents GROUP BY lang, source ORDER BY lang, source""") { (s, dir) =>
      docsKernel(s, dir)
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " "))).as("total_tokens"),
          sum(col("n_chars")).as("total_chars"),
          (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"))
        .orderBy(col("lang"), col("source"))
    },

    // Per-document quality features (ratios are int/int → exact doubles).
    Q("doc_quality",
      """SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
         len(list_distinct(string_split(text, ' '))) AS distinct_tokens,
         len(list_distinct(string_split(text, ' '))) / len(string_split(text, ' ')) AS distinct_ratio,
         len(list_filter(string_split(text, ' '), w -> w IN ('the', 'a'))) / len(string_split(text, ' ')) AS stopword_ratio
         FROM documents ORDER BY doc_id""") { (s, dir) =>
      val toks = split(col("text"), " ")
      val stops = array(lit("the"), lit("a"))
      docsKernel(s, dir).select(
          col("doc_id"),
          size(toks).as("n_tokens"),
          size(array_distinct(toks)).as("distinct_tokens"),
          (size(array_distinct(toks)) / size(toks)).as("distinct_ratio"),
          (size(filter(toks, w => array_contains(stops, w))) / size(toks))
            .as("stopword_ratio"))
        .orderBy(col("doc_id"))
    },

    // Quality-based curation: the top-5 documents per language stratum by
    // composite quality score — the "keep the best k per bucket" selection
    // step of a curation pipeline. The oracle replicates the exact score
    // arithmetic (int-ratio inputs, fixed combination order → identical
    // doubles); DuckDB's POSIX [[:punct:]] equals Java regex \p{Punct}
    // (the ASCII punctuation set) for the punctuation ratio.
    // (tokenization: regexp_split_to_array on \s+, matching the engine's
    // Text.tokens exactly — a literal-space split would agree only on
    // single-spaced fixtures)
    Q("doc_quality_topk",
      s"""WITH q AS (SELECT doc_id, lang, $qualitySql AS quality
           FROM documents)
         SELECT lang, doc_id, quality, rnk FROM (
           SELECT lang, doc_id, quality,
             CAST(ROW_NUMBER() OVER (PARTITION BY lang
               ORDER BY quality DESC, doc_id) AS INT) AS rnk FROM q)
         WHERE rnk <= 5 ORDER BY lang, rnk""") { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).orderBy(col("quality").desc, col("doc_id"))
      docsKernel(s, dir)
        .select(col("doc_id"), col("lang"),
          Text.qualityScore(col("text")).as("quality"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 5)
        .select(col("lang"), col("doc_id"), col("quality"), col("rnk"))
        .orderBy(col("lang"), col("rnk"))
    },

    // Cross-source quality calibration: per-source percentile (ppm) of
    // the composite quality score — the quantile-normalization step of
    // multi-source curation (raw scores from heterogeneous sources are
    // not comparable; percentiles are). The engine computes ranks
    // through ONE GlobalRank total order over (source, quality, id) —
    // no per-source hot window — with per-source offsets from a
    // #sources-row broadcast; the oracle windows per source directly.
    // Quality doubles are bit-identical in both engines (the
    // doc_quality_topk precedent), ranks integer, pct arithmetic pure
    // BIGINT — hash-exact.
    Q("doc_quality_calibrated",
      s"""WITH q AS (SELECT doc_id, source, $qualitySql AS quality FROM documents),
         r AS (SELECT doc_id, source, quality,
           ROW_NUMBER() OVER (PARTITION BY source ORDER BY quality, doc_id) AS rn,
           COUNT(*) OVER (PARTITION BY source) AS n FROM q)
         SELECT doc_id, source, quality,
           CAST((rn - 1) * 1000000 // GREATEST(n - 1, 1) AS BIGINT) AS pct_ppm
         FROM r ORDER BY doc_id""") { (s, dir) =>
      Text.qualityCalibrated(docsKernel(s, dir)).orderBy(col("doc_id"))
    },

    // Systematic PPS sampling: keep every document in which the running
    // corpus token total (id order) crosses a multiple of 2,000 — one
    // document per ~2k tokens, selection probability proportional to
    // length. The token-budget subsample a training mixture needs when
    // uniform-by-document sampling would over-weight short documents.
    // Engine: range-partitioned two-pass weighted prefix sum
    // (GlobalRank.withGlobalPrefixSum — never a partitionless window);
    // oracle: the same running sum as one window. Integer crossing test
    // (`div` ≡ DuckDB `//` on non-negatives) — hash-exact.
    Q("doc_pps_sample",
      """WITH t AS (SELECT doc_id,
           CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT) AS n_tokens
           FROM documents),
         c AS (SELECT doc_id, n_tokens,
           CAST(SUM(n_tokens) OVER (ORDER BY doc_id
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens FROM t)
         SELECT doc_id, n_tokens, cum_tokens FROM c
         WHERE cum_tokens // 2000 > (cum_tokens - n_tokens) // 2000
         ORDER BY doc_id""") { (s, dir) =>
      Text.ppsSample(docsKernel(s, dir), step = 2000L)
        .orderBy(col("doc_id"))
    },

    // Snapshot diff: the corpus-version delta report of an incremental
    // ingest. The previous snapshot is rebuilt deterministically from
    // the current table — every id ≡ 3 (mod 10) is absent from it
    // (those are the ADDS), ids ≡ 0 (mod 7) carried a ' v1' text
    // suffix (the CHANGES), and a shifted-id copy of the ≡3 rows
    // existed only in it (the REMOVES) — so both engines derive the
    // identical pair of snapshots and the md5-fingerprint FULL OUTER
    // join (the one join type nothing else in the registry exercises)
    // must classify every id the same way. Text never rides the join:
    // (id, fp) only.
    Q("doc_snapshot_diff",
      """WITH old AS (
           SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN text || ' v1'
             ELSE text END AS text
           FROM documents WHERE doc_id % 10 <> 3
           UNION ALL
           SELECT doc_id + 10000000, text FROM documents WHERE doc_id % 10 = 3),
         o AS (SELECT doc_id, md5(text) AS old_fp FROM old),
         n AS (SELECT doc_id, md5(text) AS new_fp FROM documents),
         j AS (SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id, old_fp, new_fp
           FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
         SELECT CASE WHEN old_fp IS NULL THEN 'added'
             WHEN new_fp IS NULL THEN 'removed'
             WHEN old_fp <> new_fp THEN 'changed'
             ELSE 'unchanged' END AS status,
           COUNT(*) AS n, CAST(MIN(doc_id) AS BIGINT) AS min_id,
           CAST(MAX(doc_id) AS BIGINT) AS max_id
         FROM j GROUP BY 1 ORDER BY 1""") { (s, dir) =>
      val docs = docsKernel(s, dir)
      val old = docs.filter(col("doc_id") % 10 =!= 3)
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v1")))
            .otherwise(col("text")).as("text"))
        .unionAll(docs.filter(col("doc_id") % 10 === 3)
          .select((col("doc_id") + 10000000L).as("doc_id"), col("text")))
      Dedup.snapshotDiff(old, docs)
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_id"),
          max(col("doc_id")).as("max_id"))
        .orderBy(col("status"))
    },

    // Within-document repetition metrics (Gopher-style repetition filter
    // signals): adjacent-bigram totals and the top-bigram fraction. All
    // counts are exact BIGINTs; top_ratio is one IEEE division of exact
    // integers — bit-identical in both engines. DuckDB's toks[i] is
    // 1-based like Spark's element_at, and range(1, n) is 1..n-1.
    Q("doc_repetition",
      """WITH t AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS toks
           FROM documents),
         g AS (SELECT doc_id,
             unnest(list_transform(range(1, len(toks)),
               i -> toks[i] || ' ' || toks[i + 1])) AS gram
           FROM t WHERE len(toks) >= 2),
         c AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM g GROUP BY doc_id, gram)
         SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
           CAST(COUNT(*) AS BIGINT) AS distinct_bigrams,
           CAST(MAX(cnt) AS BIGINT) AS top_count,
           CAST(MAX(cnt) AS DOUBLE) / CAST(SUM(cnt) AS BIGINT) AS top_ratio
         FROM c GROUP BY doc_id ORDER BY doc_id""") { (s, dir) =>
      Text.repetitionStats(docsKernel(s, dir)).orderBy(col("doc_id"))
    },

    // Gopher duplicated-n-gram mass (n=3): the fraction of a document's
    // 3-gram occurrences whose gram repeats within the document — the
    // spread-out-repetition signal the single top-gram ratio above
    // misses. ZERO shuffle on the engine side: grams sort per-row and
    // duplication is sorted-neighbor equality, so the operator rides the
    // scan like langid. The oracle takes the relational route (unnest +
    // per-doc GROUP BY) — Σ_{cnt≥2} cnt is the same number as the
    // neighbor-equality count, so hash-equality proves the scan-side
    // reformulation exact. dup_fraction = one IEEE division of BIGINTs.
    Q("doc_dup_ngram_stats",
      """WITH t AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS toks
           FROM documents),
         g AS (SELECT doc_id,
             unnest(list_transform(range(1, len(toks) - 1),
               i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])) AS gram
           FROM t WHERE len(toks) >= 3),
         c AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM g GROUP BY doc_id, gram),
         agg AS (SELECT doc_id, SUM(cnt) AS total,
             COALESCE(SUM(cnt) FILTER (cnt >= 2), 0) AS dup
           FROM c GROUP BY doc_id)
         SELECT t.doc_id,
           CAST(COALESCE(agg.total, 0) AS BIGINT) AS total_grams,
           CAST(COALESCE(agg.dup, 0) AS BIGINT) AS dup_occurrences,
           CASE WHEN COALESCE(agg.total, 0) = 0 THEN NULL
             ELSE CAST(agg.dup AS DOUBLE) / CAST(agg.total AS BIGINT) END
             AS dup_fraction
         FROM t LEFT JOIN agg ON t.doc_id = agg.doc_id
         ORDER BY t.doc_id""") { (s, dir) =>
      Text.dupNgramStats(docsKernel(s, dir), n = 3).orderBy(col("doc_id"))
    },

    // Corpus-frequency rarity: mean corpus-wide occurrence count of each
    // document's tokens. The frequency table is re-aggregated from the
    // per-doc partials and joined back on the token key — counts shuffle,
    // text doesn't. Exact integer sums; one final IEEE division.
    Q("doc_token_rarity",
      """WITH dt AS (SELECT doc_id, tok, COUNT(*) AS c
           FROM (SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS tok
                 FROM documents)
           GROUP BY doc_id, tok),
         f AS (SELECT tok, CAST(SUM(c) AS BIGINT) AS freq FROM dt GROUP BY tok)
         SELECT doc_id, CAST(SUM(c * freq) AS BIGINT) AS sum_freq,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(SUM(c * freq) AS DOUBLE) / CAST(SUM(c) AS BIGINT) AS mean_token_freq
         FROM dt JOIN f USING (tok) GROUP BY doc_id ORDER BY doc_id""") { (s, dir) =>
      Text.tokenRarity(docsKernel(s, dir)).orderBy(col("doc_id"))
    },

    // Budget-capped stratified sampling: exactly 20 docs per language by
    // md5(doc_id) rank — the reproducible "take k per stratum" curation
    // step. Both engines compute the identical md5 hex, so the sample and
    // its order are engine-independent.
    Q("doc_stratified_sample",
      """SELECT lang, doc_id, rnk FROM (
           SELECT lang, doc_id,
             CAST(ROW_NUMBER() OVER (PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INT) AS rnk
           FROM documents)
         WHERE rnk <= 20 ORDER BY lang, rnk""") { (s, dir) =>
      Text.stratifiedSample(Tables(s, dir, "documents"), k = 20)
        .select(col("lang"), col("doc_id"), col("rnk"))
        .orderBy(col("lang"), col("rnk"))
    },

    // Per-document top-3 TF-IDF terms (keyword extraction). IDF stays the
    // exact ratio N/df (ln would differ in the last ULP across libm
    // implementations and is a monotone transform anyway), so the score
    // is one IEEE division of exact BIGINTs in both engines and the
    // ranking ties break on the token string.
    Q("doc_tfidf_terms",
      """WITH dt AS (SELECT doc_id, tok, COUNT(*) AS c
           FROM (SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS tok
                 FROM documents)
           GROUP BY doc_id, tok),
         dfq AS (SELECT tok, COUNT(*) AS df FROM dt GROUP BY tok),
         nq AS (SELECT COUNT(*) AS n FROM documents)
         SELECT doc_id, tok, score, rnk FROM (
           SELECT doc_id, tok, CAST(c * n AS DOUBLE) / df AS score,
             CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
               ORDER BY CAST(c * n AS DOUBLE) / df DESC, tok) AS INT) AS rnk
           FROM dt JOIN dfq USING (tok) CROSS JOIN nq)
         WHERE rnk <= 3 ORDER BY doc_id, rnk""") { (s, dir) =>
      Text.tfidfTopTerms(docsKernel(s, dir), k = 3)
        .orderBy(col("doc_id"), col("rnk"))
    },

    // Sequence packing: greedy doc_id-order concatenation into ~512-token
    // bins WITHIN each language stratum (global cumsum would be a
    // single-partition window; per-stratum windows sort in parallel).
    // All arithmetic is integer (SUM window, integer div), so bins are
    // engine-independent. DuckDB's // is floor division ≡ Spark's `div`
    // on the non-negative prefix sums.
    Q("doc_pack_bins",
      """WITH t AS (SELECT lang, doc_id,
           len(regexp_split_to_array(text, '\s+')) AS n_tokens FROM documents),
         c AS (SELECT lang, doc_id, n_tokens,
           SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id) AS cum FROM t)
         SELECT lang, CAST((cum - n_tokens) // 512 AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens,
           MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
         FROM c GROUP BY lang, bin ORDER BY lang, bin""") { (s, dir) =>
      Text.packBins(docsKernel(s, dir), targetTokens = 512)
        .orderBy(col("lang"), col("bin"))
    },

    // Balanced shard export: token-count-balanced deterministic shard
    // per document — size-desc global rank dealt out snake-wise (LPT
    // greedy). Engine: two-pass range-partitioned global row numbering
    // (ops.GlobalRank — a partitionless rank window would serialize the
    // corpus through one task); oracle: the single-node ROW_NUMBER()
    // with identical integer snake arithmetic. Integer-exact throughout.
    Q("doc_shard_assign",
      """WITH t AS (SELECT doc_id,
           CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT) AS n_tokens
           FROM documents),
         r AS (SELECT doc_id, n_tokens,
           ROW_NUMBER() OVER (ORDER BY n_tokens DESC, doc_id) AS rank FROM t)
         SELECT doc_id, n_tokens, rank,
           CAST(CASE WHEN ((rank - 1) // 8) % 2 = 0 THEN (rank - 1) % 8
             ELSE 7 - (rank - 1) % 8 END AS BIGINT) AS shard
         FROM r ORDER BY doc_id""") { (s, dir) =>
      Text.shardAssign(docsKernel(s, dir), nShards = 8)
        .orderBy(col("doc_id"))
    },

    // Deterministic epoch shuffle: the per-epoch global permutation of a
    // training export — position = exact global rank under
    // md5(epoch:doc_id), so any worker/rerun reproduces the epoch order
    // with no shared RNG. Engine ranks through GlobalRank's range-
    // partitioned two-pass numbering (no partitionless window); the
    // oracle is the single-window formulation of the same total order —
    // hash-equality proves the distributed numbering exact, md5 keys and
    // all. Epoch 2 pinned so the row is a fixed permutation.
    Q("doc_epoch_shuffle",
      """SELECT doc_id, md5(concat(2, ':', doc_id)) AS shuffle_key,
           ROW_NUMBER() OVER (ORDER BY md5(concat(2, ':', doc_id)), doc_id)
             AS position
         FROM documents ORDER BY doc_id""") { (s, dir) =>
      Text.epochShuffle(docsKernel(s, dir), epoch = 2).orderBy(col("doc_id"))
    },

    // Sequence packing (concat-and-split): documents concatenate in
    // doc_id order and the token stream is cut every 2048 tokens — the
    // canonical step between tokenization and training (each training
    // sequence is a fixed token budget; documents may straddle cuts).
    // Per doc the assignment is arithmetic on the exclusive prefix sum
    // of token counts. Engine: ops.GlobalRank.withGlobalPrefixSum
    // (range-partitioned two-pass — never a partitionless window);
    // oracle: the single-node window prefix sum. Integer-exact.
    Q("doc_packed_sequences",
      """WITH d AS (SELECT doc_id,
           CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT) AS n
           FROM documents),
         r AS (SELECT doc_id, n,
           SUM(n) OVER (ORDER BY doc_id) - n AS excl FROM d)
         SELECT doc_id, n AS n_tokens,
           CAST(excl // 2048 AS BIGINT) AS first_seq,
           CAST(excl % 2048 AS BIGINT) AS offset_in_seq,
           CAST(GREATEST(1, (excl + n - 1) // 2048 - excl // 2048 + 1)
             AS BIGINT) AS n_seqs_spanned
         FROM r ORDER BY doc_id""") { (s, dir) =>
      Text.packSequences(docsKernel(s, dir), budget = 2048)
        .orderBy(col("doc_id"))
    },

    // Weighted mixture sampling: per-language keep rates through the
    // deterministic md5 bucket (en 50%, de 30%, es 20%, fr 10%, zh 100%)
    // — the mixture-composition step of a training-data pipeline. The
    // oracle replays the identical bucket arithmetic and CASE rates.
    Q("doc_mixture_sample",
      """SELECT doc_id, lang FROM (SELECT doc_id, lang,
           list_reduce(list_transform(range(8),
               i -> CAST(strpos('0123456789abcdef',
                 substr(md5(CAST(doc_id AS VARCHAR)), i + 1, 1)) - 1 AS BIGINT)),
             (a, b) -> a * 16 + b) % 10 AS bucket
           FROM documents)
         WHERE bucket < CASE lang WHEN 'en' THEN 5 WHEN 'de' THEN 3
           WHEN 'es' THEN 2 WHEN 'fr' THEN 1 WHEN 'zh' THEN 10 ELSE 0 END
         ORDER BY doc_id""") { (s, dir) =>
      Text.mixtureSample(Tables(s, dir, "documents"),
          Map("en" -> 5, "de" -> 3, "es" -> 2, "fr" -> 1, "zh" -> 10))
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    },

    // Temperature-weighted mixture sampling (τ = 2): the multilingual
    // rebalancing pass — English (218 docs) is down-sampled toward the
    // √-profile while the 64-doc French tail keeps nearly everything,
    // with rates computed FROM the corpus, not hand-tuned. Integer ⌊√n⌋
    // weights + an all-integer cross-multiplied keep decision: no float
    // ever enters, both engines pick the identical sample.
    Q("doc_temperature_sample",
      """WITH s AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n
           FROM documents GROUP BY lang),
         w AS (SELECT lang, n, CAST(floor(sqrt(n)) AS BIGINT) AS w FROM s),
         tot AS (SELECT CAST(SUM(n) AS BIGINT) AS big_n,
           CAST(SUM(w) AS BIGINT) AS big_w FROM w)
         SELECT doc_id, d.lang
         FROM documents d JOIN w ON w.lang = d.lang CROSS JOIN tot
         WHERE (list_reduce(list_transform(range(8),
             i -> CAST(strpos('0123456789abcdef',
               substr(md5(CAST(doc_id AS VARCHAR)), i + 1, 1)) - 1 AS BIGINT)),
             (a, b) -> a * 16 + b) % 1000000) * (big_w * n)
           < (big_n // 4) * w * 1000000
         ORDER BY doc_id""") { (s, dir) =>
      Text.temperatureMixture(Tables(s, dir, "documents"), stratumCol = "lang")
        .orderBy(col("doc_id"))
    },

    // Asymmetric containment pairs (|A∩B|/|A| ≥ 0.9, directed): the
    // quote/subset-document relation Jaccard misses — a short doc
    // swallowed by a long one scores low Jaccard (length filter prunes
    // it) but containment 1.0. Engine: probe-prefix × inverted-index
    // AllPairs with the asymmetric bound α = ⌈t·|A|⌉ and product-metered
    // grid-salted hot buckets; oracle: the quadratic inequality join.
    Q("doc_containment_pairs",
      """WITH d AS (SELECT doc_id, lang, source,
           list_distinct(regexp_split_to_array(text, '\s+')) AS w FROM documents)
         SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           len(list_intersect(a.w, b.w)) / len(a.w) AS containment
         FROM d a JOIN d b ON a.lang = b.lang AND a.source = b.source
           AND a.doc_id <> b.doc_id
         WHERE len(list_intersect(a.w, b.w)) / len(a.w) >= 0.9
         ORDER BY a_id, b_id""") { (s, dir) =>
      Dedup.containmentPairs(Tables(s, dir, "documents"),
          blockCols = Seq("lang", "source"), threshold = 0.9)
        .orderBy(col("a_id"), col("b_id"))
    },

    // The containment audit on the REALISTIC corpus — completing the
    // Zipf twin pattern (jaccard and triangles have theirs) and
    // measuring the OPPOSITE regime: the fixture run is output-bound
    // (PairStats at sf1: 19.7M candidates → 10.8M true results, 1.8
    // per result) where the Zipf run was CANDIDATE-bound — the probe
    // prefix is only the (1−t)·|A|+1 ≈ 4–8 rarest tokens of each
    // document, and "rarest within a 30–70-token doc" drawn from a
    // Zipf vocabulary is still a mid-tail token indexing hundreds of
    // documents (measured 23.0M candidates → 65k results, 354 per
    // result). Round 8's per-row 64-bit token bloom (missing-token
    // witness bound, lossless) plus positional container-index
    // truncation cut that to 1.06M candidates (16.3 per result,
    // 21.7× fewer; 25.8 → 12.4 s at sf1) — see
    // Dedup.containmentCandidatesAB. The twin keeps the regime measured
    // honestly under an oracle every round. Unblocked (the Zipf
    // corpus carries no lang/source).
    Q("doc_containment_pairs_zipf",
      s"""WITH z AS (${graft.gen.ZipfCorpus.sql}),
         d AS (SELECT doc_id,
           list_distinct(regexp_split_to_array(text, '\\s+')) AS w FROM z)
         SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           len(list_intersect(a.w, b.w)) / len(a.w) AS containment
         FROM d a JOIN d b ON a.doc_id <> b.doc_id
         WHERE len(list_intersect(a.w, b.w)) / len(a.w) >= 0.9
         ORDER BY a_id, b_id""") { (s, dir) =>
      Dedup.containmentPairs(graft.gen.ZipfCorpus.materialized(s, dir),
          blockCols = Seq.empty, threshold = 0.9)
        .orderBy(col("a_id"), col("b_id"))
    },

    // Bounded-output containment twin (VERDICT r8 #6): per contained
    // doc, the top-3 containers by containment — the provenance
    // question ("which document swallowed this one") with output n·k,
    // so the measured cost is the containment MACHINERY, not the
    // fixture's 10.8M-row output tax (the emb_dup_pairs_tight move).
    // Engine consumes the ranking map-side through the bounded
    // TopKByScore accumulator (ties → ascending b_id, a total order);
    // oracle replays it as a window rank.
    Q("doc_containment_topk",
      """WITH d AS (SELECT doc_id, lang, source,
           list_distinct(regexp_split_to_array(text, '\s+')) AS w FROM documents),
         p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           len(list_intersect(a.w, b.w)) / len(a.w) AS containment
           FROM d a JOIN d b ON a.lang = b.lang AND a.source = b.source
             AND a.doc_id <> b.doc_id
           WHERE len(list_intersect(a.w, b.w)) / len(a.w) >= 0.9),
         r AS (SELECT a_id, b_id, containment,
           CAST(ROW_NUMBER() OVER (PARTITION BY a_id
             ORDER BY containment DESC, b_id) AS INT) AS rnk FROM p)
         SELECT a_id, b_id, containment, rnk FROM r
         WHERE rnk <= 3 ORDER BY a_id, rnk""") { (s, dir) =>
      Dedup.containmentTopK(Tables(s, dir, "documents"),
          blockCols = Seq("lang", "source"), threshold = 0.9, k = 3)
        .orderBy(col("a_id"), col("rnk"))
    },

    // INCREMENTAL containment — the day-over-day probe shape under the
    // oracle (the doc_minhash_incremental_md5 idiom for the asymmetric
    // join): every 11th document arrives as the new batch; the engine
    // probes batch prefixes against the (standing ∪ batch) token index
    // and standing prefixes against the batch index — old×old pairs,
    // already resolved by previous runs, are never regenerated. The
    // oracle recomputes the full directed pair relation and keeps
    // pairs with ≥ 1 batch member: an identical set, since such a pair
    // has its contained side in the batch (relation 1) or its
    // container in the batch (relation 2).
    Q("doc_containment_incremental",
      """WITH d AS (SELECT doc_id, lang, source,
           list_distinct(regexp_split_to_array(text, '\s+')) AS w FROM documents)
         SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           len(list_intersect(a.w, b.w)) / len(a.w) AS containment
         FROM d a JOIN d b ON a.lang = b.lang AND a.source = b.source
           AND a.doc_id <> b.doc_id
         WHERE (a.doc_id % 11 = 0 OR b.doc_id % 11 = 0)
           AND len(list_intersect(a.w, b.w)) / len(a.w) >= 0.9
         ORDER BY a_id, b_id""") { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      Dedup.containmentPairsIncremental(
          docs.filter(col("doc_id") % 11 === 0),
          docs.filter(col("doc_id") % 11 =!= 0),
          blockCols = Seq("lang", "source"), threshold = 0.9)
        .orderBy(col("a_id"), col("b_id"))
    },

    // INCREMENTAL Jaccard near-dup pairs — the day-over-day PPJoin
    // shape: every 11th document is the new batch; batch prefixes probe
    // the (standing ∪ batch) prefix index — ONE relation reaches every
    // batch-touching pair because the symmetric prefix lemma puts a
    // shared token inside BOTH prefixes — and old×old candidates never
    // regenerate. Oracle = the full quadratic pair relation restricted
    // to batch-touching pairs.
    Q("doc_jaccard_incremental",
      """WITH d AS (SELECT doc_id, lang, source,
           list_distinct(regexp_split_to_array(text, '\s+')) AS w FROM documents)
         SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           len(list_intersect(a.w, b.w)) /
             (len(a.w) + len(b.w) - len(list_intersect(a.w, b.w))) AS jaccard
         FROM d a JOIN d b ON a.lang = b.lang AND a.source = b.source
           AND a.doc_id < b.doc_id
         WHERE (a.doc_id % 11 = 2 OR b.doc_id % 11 = 2)
           AND len(list_intersect(a.w, b.w)) /
             (len(a.w) + len(b.w) - len(list_intersect(a.w, b.w))) >= 0.8
         ORDER BY a_id, b_id""") { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      Dedup.prefixJaccardPairsIncremental(
          docs.filter(col("doc_id") % 11 === 2),
          docs.filter(col("doc_id") % 11 =!= 2),
          blockCols = Seq("lang", "source"), threshold = 0.8)
        .orderBy(col("a_id"), col("b_id"))
    },

    // Exact word-set Jaccard near-dup pairs, blocked on (lang, source).
    Q("doc_jaccard_pairs",
      """WITH d AS (SELECT doc_id, lang, source,
           list_distinct(regexp_split_to_array(text, '\s+')) AS w FROM documents)
         SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           len(list_intersect(a.w, b.w)) /
             (len(a.w) + len(b.w) - len(list_intersect(a.w, b.w))) AS jaccard
         FROM d a JOIN d b ON a.lang = b.lang AND a.source = b.source
           AND a.doc_id < b.doc_id
         WHERE len(list_intersect(a.w, b.w)) /
             (len(a.w) + len(b.w) - len(list_intersect(a.w, b.w))) >= 0.8
         ORDER BY a_id, b_id""") { (s, dir) =>
      // Prefix-filtered (lossless) candidates + exact verify — identical
      // result set to the oracle's inequality join, but the candidate
      // stage is a token bucket join, never O(n²/blocks). The quadratic
      // blocked form survives only as DedupSpec's verification kernel.
      // Served from the materialized pair graph shared with the groups/
      // survivors/triangles consumers below.
      jaccardPairGraph(s, dir).orderBy(col("a_id"), col("b_id"))
    },

    // The same lossless PPJoin plan over a REALISTIC corpus: the fixture
    // documents' 31-token vocabulary is the adversarial dense case for
    // token buckets, so this twin runs on the deterministic Zipf(1)
    // ~2047-word corpus (ZipfCorpus — generated bit-identically in both
    // engines from doc_id alone, with planted near-dups every 50 docs) and
    // re-proves the non-degenerate candidate volume under the driver's
    // oracle check every round. Unblocked: the candidate stage is a token
    // bucket join either way.
    Q("doc_jaccard_pairs_zipf",
      s"""WITH z AS (${ZipfCorpus.sql}),
         d AS (SELECT doc_id,
           list_distinct(regexp_split_to_array(text, '\\s+')) AS w FROM z)
         SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           len(list_intersect(a.w, b.w)) /
             (len(a.w) + len(b.w) - len(list_intersect(a.w, b.w))) AS jaccard
         FROM d a JOIN d b ON a.doc_id < b.doc_id
         WHERE len(list_intersect(a.w, b.w)) /
             (len(a.w) + len(b.w) - len(list_intersect(a.w, b.w))) >= 0.8
         ORDER BY a_id, b_id""") { (s, dir) =>
      zipfPairGraph(s, dir).orderBy(col("a_id"), col("b_id"))
    },

    // Transitive duplicate GROUPS: connected components over the exact
    // near-dup pair graph, labels = min doc_id per component (the
    // canonical-survivor step a real dedup pipeline runs after pair
    // generation — near-dup is not transitive). Spark side: one union-find
    // pass ([[Dedup.dupGroups]]); oracle: recursive-CTE transitive closure
    // over the identical pair set.
    Q("doc_dup_groups",
      """WITH RECURSIVE d AS (SELECT doc_id, lang, source,
           list_distinct(regexp_split_to_array(text, '\s+')) AS w FROM documents),
         p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
           FROM d a JOIN d b ON a.lang = b.lang AND a.source = b.source
             AND a.doc_id < b.doc_id
           WHERE len(list_intersect(a.w, b.w)) /
               (len(a.w) + len(b.w) - len(list_intersect(a.w, b.w))) >= 0.8),
         e AS (SELECT a_id AS s, b_id AS t FROM p
               UNION SELECT b_id, a_id FROM p),
         reach(s, t) AS (SELECT s, t FROM e
           UNION SELECT r.s, e.t FROM reach r JOIN e ON r.t = e.s)
         SELECT doc_id, CAST(LEAST(doc_id, coalesce(m.mn, doc_id)) AS BIGINT) AS group_id
         FROM documents LEFT JOIN
           (SELECT s, min(t) AS mn FROM reach GROUP BY s) m ON m.s = doc_id
         ORDER BY doc_id""") { (s, dir) =>
      dupGroupLabels(s, dir).orderBy(col("doc_id"))
    },

    // LEAKAGE-PROOF train/val/test split — eval integrity as a
    // first-class operator: the whole transitive near-dup group draws
    // ONE md5 bucket from its group id (80/10/10), so a near-duplicate
    // of a training document can never land in the test split — the
    // failure mode a naive per-doc hash split ships silently. Oracle =
    // the doc_dup_groups recursive closure extended with the identical
    // bucket arithmetic; the spec additionally asserts no qualifying
    // pair crosses a split.
    Q("doc_leakproof_split",
      """WITH RECURSIVE d AS (SELECT doc_id, lang, source,
           list_distinct(regexp_split_to_array(text, '\s+')) AS w FROM documents),
         p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
           FROM d a JOIN d b ON a.lang = b.lang AND a.source = b.source
             AND a.doc_id < b.doc_id
           WHERE len(list_intersect(a.w, b.w)) /
               (len(a.w) + len(b.w) - len(list_intersect(a.w, b.w))) >= 0.8),
         e AS (SELECT a_id AS s, b_id AS t FROM p
               UNION SELECT b_id, a_id FROM p),
         reach(s, t) AS (SELECT s, t FROM e
           UNION SELECT r.s, e.t FROM reach r JOIN e ON r.t = e.s),
         g AS (SELECT doc_id,
             CAST(LEAST(doc_id, coalesce(m.mn, doc_id)) AS BIGINT) AS group_id
           FROM documents LEFT JOIN
             (SELECT s, min(t) AS mn FROM reach GROUP BY s) m ON m.s = doc_id),
         gb AS (SELECT doc_id, group_id,
             list_reduce(list_transform(range(8),
                 i -> CAST(strpos('0123456789abcdef',
                   substr(md5(CAST(group_id AS VARCHAR)), i + 1, 1)) - 1
                   AS BIGINT)),
               (a, b) -> a * 16 + b) % 10 AS bucket
           FROM g)
         SELECT doc_id, group_id,
           CASE WHEN bucket < 8 THEN 'train'
                WHEN bucket < 9 THEN 'val'
                ELSE 'test' END AS split
         FROM gb ORDER BY doc_id""") { (s, dir) =>
      dupGroupLabels(s, dir)
        .withColumn("bucket", Text.hashModBucket(col("group_id"), 10))
        .withColumn("split",
          when(col("bucket") < 8, "train")
            .when(col("bucket") < 9, "val").otherwise("test"))
        .select(col("doc_id"), col("group_id"), col("split"))
        .orderBy(col("doc_id"))
    },

    // Quality-aware survivor selection: what a production dedup actually
    // keeps is not min-id but the best group member. Per transitive
    // near-dup group, the survivor is the member with the most distinct
    // tokens (integer score — no float compare), ties to the smaller id;
    // output is the full provenance map doc_id → (group, survivor) that a
    // downstream pipeline joins to re-point references at canonical docs.
    // Spark side: dupGroups' CC labels + one window argmax per group
    // (groups are near-dup clusters — bounded fan-in, no skew hazard);
    // oracle: the doc_dup_groups closure extended with the same window.
    Q("doc_dup_survivors",
      """WITH RECURSIVE d AS (SELECT doc_id, lang, source,
           list_distinct(regexp_split_to_array(text, '\s+')) AS w FROM documents),
         p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
           FROM d a JOIN d b ON a.lang = b.lang AND a.source = b.source
             AND a.doc_id < b.doc_id
           WHERE len(list_intersect(a.w, b.w)) /
               (len(a.w) + len(b.w) - len(list_intersect(a.w, b.w))) >= 0.8),
         e AS (SELECT a_id AS s, b_id AS t FROM p
               UNION SELECT b_id, a_id FROM p),
         reach(s, t) AS (SELECT s, t FROM e
           UNION SELECT r.s, e.t FROM reach r JOIN e ON r.t = e.s),
         g AS (SELECT doc_id, CAST(LEAST(doc_id, coalesce(m.mn, doc_id)) AS BIGINT) AS group_id
           FROM documents LEFT JOIN
             (SELECT s, min(t) AS mn FROM reach GROUP BY s) m ON m.s = doc_id)
         SELECT doc_id, group_id, survivor_id FROM (
           SELECT g.doc_id, g.group_id,
             first_value(g.doc_id) OVER (PARTITION BY g.group_id
               ORDER BY len(d2.w) DESC, g.doc_id) AS survivor_id
           FROM g JOIN d d2 ON d2.doc_id = g.doc_id)
         ORDER BY doc_id""") { (s, dir) =>
      val scored = docsKernel(s, dir).select(col("doc_id"),
        size(array_distinct(split(col("text"), "\\s+"))).as("score"))
      Dedup.qualitySurvivors(dupGroupLabels(s, dir), scored)
        .orderBy(col("doc_id"))
    },

    // Benchmark decontamination: documents sharing NO word trigram with
    // the "benchmark" set (stand-in: the first three documents) survive.
    // Exact n-gram overlap — the standard test-set-leak removal.
    Q("doc_decontaminated",
      """WITH g AS (SELECT doc_id,
           unnest(list_transform(range(0, greatest(len(regexp_split_to_array(text, '\s+')) - 3, 0) + 1),
             i -> array_to_string(list_slice(regexp_split_to_array(text, '\s+'), i + 1, i + 3), ' '))) AS g
           FROM documents),
         bench AS (SELECT DISTINCT g FROM g WHERE doc_id < 3),
         bad AS (SELECT DISTINCT g.doc_id FROM g JOIN bench USING (g))
         SELECT doc_id, lang FROM documents
         WHERE doc_id NOT IN (SELECT doc_id FROM bad)
         ORDER BY doc_id""") { (s, dir) =>
      val docs = docsKernel(s, dir)
      Dedup.decontaminate(docs, docs.filter(col("doc_id") < 3), w = 3)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    },

    // Dataset-card curation funnel: per-source doc/token counts surviving
    // each CUMULATIVE stage (raw → ≥20 tokens → exact-dedup survivor
    // among length-passers → trigram-decontaminated vs the doc_id<3
    // benchmark) — the audit table a curation run publishes next to its
    // output. One corpus scan computes ntok/fingerprint (text never on a
    // keyed exchange, plan-spec'd), the canonical map joins back by
    // fingerprint, the stage expansion is a narrow stack before one
    // (stage, source) aggregation. The oracle recomputes all four stages
    // relationally — hash-equality pins the stage COMPOSITION (dedup
    // after length filter, decontamination after dedup), not just each
    // filter alone.
    Q("doc_curation_funnel",
      """WITH d AS (SELECT doc_id, source,
           len(regexp_split_to_array(text, '\s+')) AS ntok,
           md5(array_to_string(list_filter(regexp_split_to_array(text, '\s+'),
             t -> t <> 'dup'), ' ')) AS fp FROM documents),
         f AS (SELECT *, ntok >= 20 AS pass2 FROM d),
         canon AS (SELECT fp, MIN(doc_id) AS canon_id FROM f
           WHERE pass2 GROUP BY fp),
         g AS (SELECT doc_id,
           unnest(list_transform(range(0, greatest(len(regexp_split_to_array(text, '\s+')) - 3, 0) + 1),
             i -> array_to_string(list_slice(regexp_split_to_array(text, '\s+'), i + 1, i + 3), ' '))) AS g
           FROM documents),
         bench AS (SELECT DISTINCT g FROM g WHERE doc_id < 3),
         bad AS (SELECT DISTINCT g.doc_id FROM g JOIN bench USING (g)),
         flags AS (SELECT f.doc_id, f.source, f.ntok, f.pass2,
             f.pass2 AND f.doc_id = canon.canon_id AS pass3,
             f.pass2 AND f.doc_id = canon.canon_id
               AND f.doc_id NOT IN (SELECT doc_id FROM bad) AS pass4
           FROM f LEFT JOIN canon ON canon.fp = f.fp),
         stages AS (
           SELECT '1_raw' AS stage, source, ntok FROM flags
           UNION ALL SELECT '2_minlen', source, ntok FROM flags WHERE pass2
           UNION ALL SELECT '3_exact_dedup', source, ntok FROM flags WHERE pass3
           UNION ALL SELECT '4_decontaminated', source, ntok FROM flags WHERE pass4)
         SELECT stage, source, COUNT(*) AS n_docs,
           CAST(SUM(ntok) AS BIGINT) AS n_tokens
         FROM stages GROUP BY stage, source ORDER BY stage, source""") { (s, dir) =>
      val docs = docsKernel(s, dir)
      // normalize-before-dedup: the fixture's planted copies append the
      // marker token 'dup' (TESTDATA/FIXTURES) — stripping it is the
      // boilerplate-normalization step a real pipeline runs, and makes
      // the dedup stage bite at EVERY gate scale (raw-text md5 has zero
      // exact twins below sf0.1)
      Dedup.curationFunnel(docs, docs.filter(col("doc_id") < 3),
        minTokens = 20, w = 3,
        fingerprint = md5(concat_ws(" ",
          filter(split(col("text"), "\\s+"), t => t =!= "dup"))))
    },

    // Day-2 curation funnel: the dataset card rolls FORWARD — a batch
    // (every 3rd doc) is flagged against the STANDING fingerprint index
    // (fps of prior length-passers; text never re-read, hash-only anti
    // probe) and its per-(stage, source) counts ADD onto yesterday's
    // report. Dedup survivorship follows the incremental first-seen
    // rule: fingerprint unseen among prior passers AND min-id within
    // the batch. The oracle recomputes the batch flags relationally
    // from the same split, so hash-equality pins the additive
    // decomposition — batch counts are exactly what a from-scratch
    // funnel would attribute to these docs under arrival order.
    Q("doc_curation_funnel_incremental",
      """WITH d AS (SELECT doc_id, source,
           len(regexp_split_to_array(text, '\s+')) AS ntok,
           md5(array_to_string(list_filter(regexp_split_to_array(text, '\s+'),
             t -> t <> 'dup'), ' ')) AS fp FROM documents),
         f AS (SELECT *, ntok >= 20 AS pass2 FROM d),
         standingfp AS (SELECT DISTINCT fp FROM f
           WHERE doc_id % 3 <> 0 AND pass2),
         b AS (SELECT * FROM f WHERE doc_id % 3 = 0),
         canon AS (SELECT fp, MIN(doc_id) AS canon_id FROM b
           WHERE pass2 AND fp NOT IN (SELECT fp FROM standingfp)
           GROUP BY fp),
         g AS (SELECT doc_id,
           unnest(list_transform(range(0, greatest(len(regexp_split_to_array(text, '\s+')) - 3, 0) + 1),
             i -> array_to_string(list_slice(regexp_split_to_array(text, '\s+'), i + 1, i + 3), ' '))) AS g
           FROM documents WHERE doc_id % 3 = 0),
         bench AS (SELECT DISTINCT
           unnest(list_transform(range(0, greatest(len(regexp_split_to_array(text, '\s+')) - 3, 0) + 1),
             i -> array_to_string(list_slice(regexp_split_to_array(text, '\s+'), i + 1, i + 3), ' '))) AS g
           FROM documents WHERE doc_id < 3),
         bad AS (SELECT DISTINCT g.doc_id FROM g JOIN bench USING (g)),
         flags AS (SELECT b.doc_id, b.source, b.ntok, b.pass2,
             b.pass2 AND b.doc_id = canon.canon_id AS pass3,
             b.pass2 AND b.doc_id = canon.canon_id
               AND b.doc_id NOT IN (SELECT doc_id FROM bad) AS pass4
           FROM b LEFT JOIN canon ON canon.fp = b.fp),
         stages AS (
           SELECT '1_raw' AS stage, source, ntok FROM flags
           UNION ALL SELECT '2_minlen', source, ntok FROM flags WHERE pass2
           UNION ALL SELECT '3_exact_dedup', source, ntok FROM flags WHERE pass3
           UNION ALL SELECT '4_decontaminated', source, ntok FROM flags WHERE pass4)
         SELECT stage, source, COUNT(*) AS n_docs,
           CAST(SUM(ntok) AS BIGINT) AS n_tokens
         FROM stages GROUP BY stage, source ORDER BY stage, source""") { (s, dir) =>
      val docs = docsKernel(s, dir)
      val norm = md5(concat_ws(" ",
        filter(split(col("text"), "\\s+"), t => t =!= "dup")))
      val standingFps = docs.filter(col("doc_id") % 3 =!= 0)
        .filter(size(split(col("text"), "\\s+")) >= 20)
        .select(norm.as("fp"))
      Dedup.curationFunnelIncremental(docs.filter(col("doc_id") % 3 === 0),
        standingFps, docs.filter(col("doc_id") < 3),
        minTokens = 20, w = 3, fingerprint = norm)
    },

    // Cross-source duplication ATTRIBUTION — which sources copy which:
    // near-dup pairs under lang-only blocking (so pairs reach ACROSS
    // sources, which the within-source graph can't see by construction)
    // grouped into a (source_lo, source_hi) matrix. The report a
    // curation run uses to decide which feed to dedup against which.
    // Pairs come from the materialized cross-source PPJoin graph (built
    // once, reused by every consumer — the Materialize economics); the
    // source join-backs carry (id, source) only, and the matrix
    // aggregation is map-side-combined over ≤ |sources|² keys.
    Q("doc_dup_source_matrix",
      """WITH d AS (SELECT doc_id, lang, source,
           list_distinct(regexp_split_to_array(text, '\s+')) AS w FROM documents),
         p AS (SELECT a.source AS sa, b.source AS sb
           FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
           WHERE len(list_intersect(a.w, b.w)) /
               (len(a.w) + len(b.w) - len(list_intersect(a.w, b.w))) >= 0.8)
         SELECT LEAST(sa, sb) AS source_a, GREATEST(sa, sb) AS source_b,
           COUNT(*) AS n_pairs
         FROM p GROUP BY 1, 2 ORDER BY 1, 2""") { (s, dir) =>
      val src = Tables(s, dir, "documents").select(col("doc_id"), col("source"))
      crossSourcePairGraph(s, dir).select(col("a_id"), col("b_id"))
        .join(src.select(col("doc_id").as("a_id"), col("source").as("sa")), "a_id")
        .join(src.select(col("doc_id").as("b_id"), col("source").as("sb")), "b_id")
        .select(least(col("sa"), col("sb")).as("source_a"),
          greatest(col("sa"), col("sb")).as("source_b"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("source_a"), col("source_b"))
    },

    // Mixture WATERFILLING: turn the dataset card's per-source token
    // availability into a budgeted allocation — alloc_i = min(avail_i,
    // λ·w_i) with the water level λ set so the allocations exhaust a
    // budget of ⌊3/5 of the corpus⌋. Every saturation DECISION is an
    // integer comparison (avail_i·W_{≥i} < (B−A_{<i})·w_i over exact
    // longs — no float in any branch), so the saturated set and the
    // hash agree across engines; the reported allocation of unsaturated
    // sources is one IEEE division of exact longs. Weights 1..20 derive
    // from the source name, so the fill genuinely tiers: low-weight
    // sources saturate, high-weight ones share the remainder.
    Q("doc_mixture_waterfill",
      """WITH s AS (SELECT source,
           CAST(SUM(len(regexp_split_to_array(text, '\s+'))) AS BIGINT) AS avail,
           CAST(regexp_extract(source, '(\d+)', 1) AS BIGINT) + 1 AS w
           FROM documents GROUP BY source),
         t AS (SELECT CAST(SUM(avail) AS BIGINT) AS tot_avail,
             CAST(SUM(w) AS BIGINT) AS tot_w FROM s),
         o AS (SELECT s.*, t.tot_w, t.tot_avail * 3 // 5 AS budget,
             SUM(avail) OVER (ORDER BY CAST(avail AS DOUBLE) / w, source
               ROWS UNBOUNDED PRECEDING) - avail AS a_prev,
             SUM(w) OVER (ORDER BY CAST(avail AS DOUBLE) / w, source
               ROWS UNBOUNDED PRECEDING) AS w_thru
           FROM s CROSS JOIN t),
         f AS (SELECT *, avail * (tot_w - w_thru + w)
             < (budget - a_prev) * w AS saturated FROM o),
         k AS (SELECT COALESCE(CAST(SUM(avail) FILTER (WHERE saturated) AS BIGINT), 0) AS a_sat,
             COALESCE(CAST(SUM(w) FILTER (WHERE saturated) AS BIGINT), 0) AS w_sat
           FROM f)
         SELECT source, avail AS avail_tokens, w AS weight, saturated,
           CASE WHEN saturated THEN CAST(avail AS DOUBLE)
                ELSE CAST((budget - a_sat) * w AS DOUBLE)
                  / CAST(tot_w - w_sat AS DOUBLE) END AS allocated
         FROM f CROSS JOIN k ORDER BY source""") { (s, dir) =>
      val docs = docsKernel(s, dir)
      val perSource = docs.groupBy(col("source"))
        .agg(sum(size(split(col("text"), "\\s+")).cast("long")).as("avail_tokens"))
        .withColumn("weight",
          regexp_extract(col("source"), "(\\d+)", 1).cast("long") + 1L)
      // budget = ⌊3/5 · Σ avail⌋: one 1-row aggregate collect (the
      // bounded-collect class — same as the deciles' N, but the operator
      // takes a Long so the level is part of the call contract)
      val totAvail = perSource.agg(sum(col("avail_tokens"))).collect()(0).getLong(0)
      graft.text.Text.mixtureWaterfill(perSource, budget = totAvail * 3 / 5)
    },

    // The dataset-card chain CLOSED: funnel → waterfill → mixture sample
    // as ONE registered plan — the allocation drives an actual sample
    // instead of stopping at a report. Survivors (minlen → exact-dedup
    // under the 'dup'-stripping normalization → decontaminated) supply
    // per-source available tokens; the waterfill spreads a 3/5 budget
    // across name-derived weights; each survivor keeps with probability
    // allocated/avail through the md5 ppm bucket, decided by an
    // INTEGER-exact cross-multiplication (bucket·avail·(totW−wSat) <
    // (B−aSat)·w·10⁶ — no float picks a row, so both engines sample
    // identically). The oracle recomputes all three stages relationally;
    // hash-equality pins the COMPOSITION (allocation computed over the
    // survivor set, sample drawn from the survivor set at the
    // allocation's rates), not just each stage alone.
    Q("doc_e2e_mixture",
      """WITH d AS (SELECT doc_id, source,
           len(regexp_split_to_array(text, '\s+')) AS ntok,
           md5(array_to_string(list_filter(regexp_split_to_array(text, '\s+'),
             t -> t <> 'dup'), ' ')) AS fp FROM documents),
         f0 AS (SELECT *, ntok >= 20 AS pass2 FROM d),
         canon AS (SELECT fp, MIN(doc_id) AS canon_id FROM f0
           WHERE pass2 GROUP BY fp),
         g AS (SELECT doc_id,
           unnest(list_transform(range(0, greatest(len(regexp_split_to_array(text, '\s+')) - 3, 0) + 1),
             i -> array_to_string(list_slice(regexp_split_to_array(text, '\s+'), i + 1, i + 3), ' '))) AS g
           FROM documents),
         bench AS (SELECT DISTINCT g FROM g WHERE doc_id < 3),
         bad AS (SELECT DISTINCT g.doc_id FROM g JOIN bench USING (g)),
         surv AS (SELECT f0.doc_id, f0.source, f0.ntok
           FROM f0 LEFT JOIN canon ON canon.fp = f0.fp
           WHERE f0.pass2 AND f0.doc_id = canon.canon_id
             AND f0.doc_id NOT IN (SELECT doc_id FROM bad)),
         s AS (SELECT source, CAST(SUM(ntok) AS BIGINT) AS avail,
             CAST(regexp_extract(source, '(\d+)', 1) AS BIGINT) + 1 AS w
           FROM surv GROUP BY source),
         t AS (SELECT CAST(SUM(avail) AS BIGINT) AS tot_avail,
             CAST(SUM(w) AS BIGINT) AS tot_w FROM s),
         o AS (SELECT s.*, t.tot_w, t.tot_avail * 3 // 5 AS budget,
             SUM(avail) OVER (ORDER BY CAST(avail AS DOUBLE) / w, source
               ROWS UNBOUNDED PRECEDING) - avail AS a_prev,
             SUM(w) OVER (ORDER BY CAST(avail AS DOUBLE) / w, source
               ROWS UNBOUNDED PRECEDING) AS w_thru
           FROM s CROSS JOIN t),
         f AS (SELECT *, avail * (tot_w - w_thru + w)
             < (budget - a_prev) * w AS saturated FROM o),
         k AS (SELECT COALESCE(CAST(SUM(avail) FILTER (WHERE saturated) AS BIGINT), 0) AS a_sat,
             COALESCE(CAST(SUM(w) FILTER (WHERE saturated) AS BIGINT), 0) AS w_sat
           FROM f)
         SELECT sv.doc_id, sv.source, CAST(sv.ntok AS INT) AS ntok
         FROM surv sv JOIN f ON f.source = sv.source CROSS JOIN k
         WHERE f.saturated OR
           (list_reduce(list_transform(range(8),
               i -> CAST(strpos('0123456789abcdef',
                 substr(md5(CAST(sv.doc_id AS VARCHAR)), i + 1, 1)) - 1 AS BIGINT)),
             (a, b) -> a * 16 + b) % 1000000)
             * f.avail * (f.tot_w - k.w_sat)
           < (f.budget - k.a_sat) * f.w * 1000000
         ORDER BY sv.doc_id""") { (s, dir) =>
      val docs = docsKernel(s, dir)
      Dedup.curatedMixtureSample(docs, docs.filter(col("doc_id") < 3),
          weight = regexp_extract(col("source"), "(\\d+)", 1).cast("long") + 1L,
          budgetNum = 3L, budgetDen = 5L,
          minTokens = 20, w = 3,
          fingerprint = md5(concat_ws(" ",
            filter(split(col("text"), "\\s+"), t => t =!= "dup"))))
        .orderBy(col("doc_id"))
    },

    // Tokenizer-training vocabulary export: top tokens by corpus frequency
    // with cumulative coverage — frequency agg (map-side combined),
    // distributed top-N, then a running sum over only the ≤ topN winners.
    Q("doc_vocab_top",
      """WITH f AS (SELECT t AS token, COUNT(*) AS freq
           FROM (SELECT unnest(regexp_split_to_array(text, '\s+')) AS t
                 FROM documents) GROUP BY 1),
         tot AS (SELECT CAST(SUM(freq) AS BIGINT) AS total FROM f),
         top AS (SELECT token, freq FROM f ORDER BY freq DESC, token LIMIT 25)
         SELECT CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, token) AS INT) AS rank,
           token, freq,
           CAST(SUM(freq) OVER (ORDER BY freq DESC, token
             ROWS UNBOUNDED PRECEDING) AS DOUBLE) / total AS cum_coverage
         FROM top, tot ORDER BY rank""") { (s, dir) =>
      Text.vocabExport(docsKernel(s, dir), topN = 25)
        .orderBy(col("rank"))
    },

    // Graded contamination report — the auditable counterpart of the
    // binary decontamination filter: per document, distinct trigrams,
    // benchmark hits, and the overlap fraction (what a dataset card
    // reports, and what a threshold-tunable gate consumes). Broadcast
    // bench grams; only (id, hit) rides the aggregation; int/int ratio
    // divides exactly in both engines.
    Q("doc_contamination_score",
      """WITH toks AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS t
           FROM documents),
         g AS (SELECT doc_id, unnest(list_distinct(list_transform(range(0, len(t) - 2),
             i -> array_to_string(list_slice(t, i + 1, i + 3), ' ')))) AS g
           FROM toks WHERE len(t) >= 3),
         bench AS (SELECT DISTINCT g FROM g WHERE doc_id < 3)
         SELECT g.doc_id, COUNT(*) AS n_grams,
           CAST(SUM(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
           CAST(SUM(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             / COUNT(*) AS contamination
         FROM g LEFT JOIN bench b ON g.g = b.g
         GROUP BY g.doc_id ORDER BY g.doc_id""") { (s, dir) =>
      val docs = docsKernel(s, dir)
      Dedup.contaminationScore(docs, docs.filter(col("doc_id") < 3), w = 3)
        .orderBy(col("doc_id"))
    },

    // Distributed BPE tokenizer training: the first 20 learned merge
    // operations (rank, left, right, pair_count) from corpus word
    // frequencies — the artifact a tokenizer ships. Oracle-checked via
    // the recurrence-unroll idiom (`bpeMergesOracle`): one CTE block per
    // merge replays the sequential argmax fixpoint the engine's
    // disjoint-batch acceptance is provably equal to (TextSpec pins that
    // equality against a reference implementation; this row pins it
    // against a second ENGINE).
    Q("doc_bpe_merges", bpeMergesOracle(20)) { (s, dir) =>
      Text.bpeMerges(docsKernel(s, dir), nMerges = 20)
        .orderBy(col("rank"))
    },

    // Distributed BPE ENCODE — the inference half doc_bpe_merges was
    // missing: the learned 20-merge table applied to tokenize the whole
    // corpus (rank-order, leftmost-non-overlapping — the training
    // fold's own evolution). Output is n-docs-sized (token count + md5
    // of the space-joined token sequence), so every document's full
    // encoding is hash-checked WITHOUT the token-instance output tax;
    // trainers consume the kernel column directly. The oracle re-learns
    // the table via the shared recurrence and reads its final word
    // table — each distinct word already encoded — joined back to the
    // documents positionally.
    Q("doc_bpe_encoded", bpeEncodeOracle(20)) { (s, dir) =>
      val docs = docsKernel(s, dir)
      val merges = Text.bpeMerges(docs, nMerges = 20).orderBy(col("rank"))
        .select(col("left"), col("right")).collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
      Text.bpeEncoded(docs, merges).orderBy(col("doc_id"))
    },

    // Corpus trigram novelty (distinct/total gram instances — Lee et al.
    // 2022's dedup motivation statistic). Exact form oracle-checked; the
    // 100 TB form swaps count(distinct) for the HLL sketch.
    Q("doc_ngram_novelty",
      """WITH g AS (SELECT unnest(list_transform(
             range(0, greatest(len(regexp_split_to_array(text, '\s+')) - 3, 0) + 1),
             i -> array_to_string(list_slice(regexp_split_to_array(text, '\s+'),
               i + 1, i + 3), ' '))) AS g FROM documents)
         SELECT 3 AS w, CAST(COUNT(*) AS BIGINT) AS n_instances,
           CAST(COUNT(DISTINCT g) AS BIGINT) AS n_distinct,
           CAST(COUNT(DISTINCT g) AS DOUBLE) / COUNT(*) AS novelty FROM g""") { (s, dir) =>
      Text.ngramNovelty(docsKernel(s, dir), w = 3)
    },

    // Corpus skip-gram co-occurrence table (word2vec/GloVe training
    // input): directed token pairs at distance 1 and 2, corpus-wide
    // counts, kept when seen ≥ 3 times. The engine emits pairs with one
    // zip_with pass over each token array (no positional self-join); the
    // oracle rebuilds the same pairs from 1-based list indexing. Tokens
    // cannot contain whitespace, so the "a b" pair key is injective.
    Q("doc_skipgram_counts",
      """WITH t AS (SELECT regexp_split_to_array(text, '\s+') AS toks
           FROM documents),
         p AS (
           SELECT unnest(list_transform(range(1, len(toks)),
             i -> toks[i] || ' ' || toks[i + 1])) AS pair, 1 AS dist
           FROM t WHERE len(toks) >= 2
           UNION ALL
           SELECT unnest(list_transform(range(1, len(toks) - 1),
             i -> toks[i] || ' ' || toks[i + 2])) AS pair, 2 AS dist
           FROM t WHERE len(toks) >= 3)
         SELECT pair, dist, COUNT(*) AS n FROM p
         GROUP BY pair, dist HAVING COUNT(*) >= 3
         ORDER BY pair, dist""") { (s, dir) =>
      Text.skipgramCounts(docsKernel(s, dir), window = 2, minCount = 3L)
        .orderBy(col("pair"), col("dist"))
    },

    // Per-(lang, source) curation report — the corpus-audit "dashboard"
    // that composes every proven signal into one relation: doc counts,
    // exact-duplicate mass (n − distinct fingerprints), benchmark
    // contamination (same 3-gram fragment as doc_decontaminated /
    // doc_e2e_curated), quality-gate pass counts and exact token mass.
    // All measures are integer counts (the quality gate is a per-doc
    // deterministic double compared to a constant), so the report is
    // hash-exact in both engines.
    Q("doc_source_report",
      s"""WITH g AS (SELECT doc_id,
           unnest(list_transform(range(0, greatest(len(regexp_split_to_array(text, '\\s+')) - 3, 0) + 1),
             i -> array_to_string(list_slice(regexp_split_to_array(text, '\\s+'), i + 1, i + 3), ' '))) AS g
           FROM documents),
         bench AS (SELECT DISTINCT g FROM g WHERE doc_id < 3),
         bad AS (SELECT DISTINCT g.doc_id FROM g JOIN bench USING (g)),
         q AS (SELECT doc_id, lang, source, text, $qualitySql AS quality
           FROM documents)
         SELECT lang, source, COUNT(*) AS n_docs,
           CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT) AS n_exact_dups,
           CAST(SUM(CASE WHEN doc_id IN (SELECT doc_id FROM bad)
             THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
           CAST(SUM(CASE WHEN quality >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_pass,
           CAST(SUM(len(regexp_split_to_array(text, '\\s+'))) AS BIGINT) AS sum_tokens
         FROM q GROUP BY lang, source ORDER BY lang, source""") { (s, dir) =>
      val docs = docsKernel(s, dir)
      val bench = docs.filter(col("doc_id") < 3)
      val base = docs.groupBy(col("lang"), col("source")).agg(
        count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_uniq"),
        sum(when(Text.qualityScore(col("text")) >= 0.5, 1L).otherwise(0L))
          .as("n_quality_pass"),
        sum(size(split(col("text"), "\\s+")).cast("long")).as("sum_tokens"))
      val clean = Dedup.decontaminate(docs, bench)
        .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("n_clean"))
      base.join(clean, Seq("lang", "source"), "left")
        .select(col("lang"), col("source"), col("n_docs"),
          (col("n_docs") - col("n_uniq")).as("n_exact_dups"),
          (col("n_docs") - coalesce(col("n_clean"), lit(0L))).as("n_contaminated"),
          col("n_quality_pass"), col("sum_tokens"))
        .orderBy(col("lang"), col("source"))
    },

    // PMI-ranked collocations (the classic bigram-association extraction):
    // adjacent pairs scored by the exact rational n(a,b)·N / (n(a)·n(b))
    // — log omitted (monotone; libm would cost cross-engine bit equality,
    // the same trade doc_tfidf_terms makes). Counts-only joins; one IEEE
    // division of exact BIGINT products; distributed TakeOrdered top-50.
    Q("doc_collocations",
      """WITH t AS (SELECT regexp_split_to_array(text, '\s+') AS toks
           FROM documents),
         uc AS (SELECT tok, COUNT(*) AS c
           FROM (SELECT unnest(toks) AS tok FROM t) GROUP BY tok),
         nt AS (SELECT CAST(SUM(c) AS BIGINT) AS n_total FROM uc),
         pc AS (SELECT pair, COUNT(*) AS n_pair
           FROM (SELECT unnest(list_transform(range(1, len(toks)),
                   i -> toks[i] || ' ' || toks[i + 1])) AS pair
                 FROM t WHERE len(toks) >= 2)
           GROUP BY pair HAVING COUNT(*) >= 3)
         SELECT pair, n_pair, c_a, c_b, pmi_ratio FROM (
           SELECT pc.pair, pc.n_pair, a.c AS c_a, b.c AS c_b,
             CAST(pc.n_pair * nt.n_total AS DOUBLE) / (a.c * b.c) AS pmi_ratio
           FROM pc JOIN uc a ON a.tok = split_part(pc.pair, ' ', 1)
                JOIN uc b ON b.tok = split_part(pc.pair, ' ', 2)
                CROSS JOIN nt)
         ORDER BY pmi_ratio DESC, pair LIMIT 50""") { (s, dir) =>
      Text.collocations(docsKernel(s, dir), minCount = 3L, topK = 50)
    },

    // Corpus length profile: docs / exact token & char mass per (lang,
    // log₂ token bucket) — the one-scan shape every corpus audit starts
    // with. Bucket = bit-length of the token count (integer-exact in both
    // engines; float log2 ties at powers of two would not be).
    Q("doc_length_histogram",
      """WITH d AS (SELECT lang, n_chars,
           CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT) AS n_tokens
           FROM documents)
         SELECT lang, CAST(length(bin(n_tokens)) AS INT) AS bucket,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
           MIN(n_tokens) AS min_tokens, MAX(n_tokens) AS max_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
         FROM d GROUP BY lang, bucket ORDER BY lang, bucket""") { (s, dir) =>
      Text.lengthHistogram(docsKernel(s, dir))
        .select(col("lang"), col("bucket").cast("int").as("bucket"),
          col("n_docs"), col("sum_tokens"), col("min_tokens"),
          col("max_tokens"), col("sum_chars"))
        .orderBy(col("lang"), col("bucket"))
    },

    // The END-TO-END curation pipeline as ONE declarative plan: exact-dedup
    // survivor (keep min doc_id per content fingerprint) → quality gate →
    // benchmark decontamination → deterministic 80% hash sample. Every
    // stage is individually oracle-proven above; this registration proves
    // they COMPOSE — one Catalyst plan, no materialization barriers, and
    // TEXT NEVER SHUFFLES: decontamination is a broadcast gram join + an
    // ids-only anti join, then text is consumed scan-side into
    // (quality, fingerprint) and only those slim columns enter the
    // survivor window's exchange. Stage order is safe to rearrange because
    // equal text ⇒ equal fingerprint, quality and contamination status
    // (the predicates are fingerprint-uniform); only the hash-sample
    // filter keys on doc_id, so it stays AFTER survivor selection, exactly
    // as the oracle sequences it. The oracle chains the same four proven
    // fragments.
    Q("doc_e2e_curated",
      s"""WITH g AS (SELECT doc_id,
           unnest(list_transform(range(0, greatest(len(regexp_split_to_array(text, '\\s+')) - 3, 0) + 1),
             i -> array_to_string(list_slice(regexp_split_to_array(text, '\\s+'), i + 1, i + 3), ' '))) AS g
           FROM documents),
         bench AS (SELECT DISTINCT g FROM g WHERE doc_id < 3),
         bad AS (SELECT DISTINCT g.doc_id FROM g JOIN bench USING (g)),
         surv AS (SELECT doc_id, lang, text FROM documents
           WHERE doc_id IN (SELECT MIN(doc_id) FROM documents GROUP BY md5(text))),
         q AS (SELECT doc_id, lang, $qualitySql AS quality FROM surv)
         SELECT doc_id, lang, quality FROM q
         WHERE quality >= 0.5
           AND doc_id NOT IN (SELECT doc_id FROM bad)
           AND list_reduce(list_transform(range(8),
                 i -> CAST(strpos('0123456789abcdef',
                   substr(md5(CAST(doc_id AS VARCHAR)), i + 1, 1)) - 1 AS BIGINT)),
               (a, b) -> a * 16 + b) % 10 < 8
         ORDER BY doc_id""") { (s, dir) =>
      val docs = docsKernel(s, dir)
      val clean = Dedup.decontaminate(docs, docs.filter(col("doc_id") < 3), w = 3)
      val slim = clean.select(col("doc_id"), col("lang"),
        Text.qualityScore(col("text")).as("quality"),
        Text.fingerprint(col("text")).as("fingerprint"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("fingerprint"))
      slim.withColumn("min_id", min(col("doc_id")).over(w))
        .filter(col("doc_id") === col("min_id") && col("quality") >= 0.5 &&
          Text.hashModBucket(col("doc_id")) < 8)
        .select(col("doc_id"), col("lang"), col("quality"))
        .orderBy(col("doc_id"))
    },

    // INCREMENTAL dedup — the growing-corpus shape: a new batch (doc_id ≥
    // 250) dedups against the EXISTING corpus's fingerprint index
    // (fp-only anti join; at 100 TB the old side is the standing
    // fingerprint index, never the old text) and then within itself
    // (min-id survivor per fingerprint over slim columns). Text never
    // shuffles, and nothing of the old corpus is re-read beyond its
    // fingerprints. The fixture corpus has no exact duplicates, so the
    // drops here are vacuous by construction — DedupSpec plants
    // cross-batch and within-batch duplicates and pins both drop paths.
    Q("doc_incremental_dedup",
      """WITH old AS (SELECT DISTINCT md5(text) AS fp FROM documents WHERE doc_id < 250),
         newd AS (SELECT doc_id, lang, md5(text) AS fp FROM documents WHERE doc_id >= 250),
         surv AS (SELECT doc_id, lang, fp FROM newd
           WHERE fp NOT IN (SELECT fp FROM old))
         SELECT doc_id, lang FROM surv
         WHERE doc_id IN (SELECT MIN(doc_id) FROM surv GROUP BY fp)
         ORDER BY doc_id""") { (s, dir) =>
      val docs = docsKernel(s, dir)
      Dedup.incremental(docs.filter(col("doc_id") >= 250),
          docs.filter(col("doc_id") < 250))
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    },

    // MinHash+LSH near-dup pairs — banded bucket join, no SQL oracle
    // (minhash permutations are engine-side); DedupSpec checks candidates
    // against exact shingle Jaccard.
    Q.unchecked("doc_minhash_pairs") { (s, dir) =>
      Dedup.minhashPairs(Tables(s, dir, "documents"), threshold = 0.5)
        .orderBy(col("a_id"), col("b_id"))
    },

    // The SAME MinHash+LSH pipeline in its oracle-replayable config
    // (Dedup.minhashPairsMd5): md5-derived 60-bit shingle hashes,
    // formula-derived permutation constants, literal band-tuple keys —
    // DuckDB recomputes the identical signatures, bands, candidates and
    // Jaccard verify, so the banded-LSH machinery itself (including the
    // fused minhash kernel, which takes the same (a,b) arrays) is
    // hash-checked end-to-end, recall curve and all. The xxhash64-kernel
    // config above stays the production path (and rows-only: its hash
    // family is engine-side). Jaccard is one IEEE division of exact
    // integers — bit-identical across engines. CAPPED to a fixed
    // 2,000-document slice on BOTH sides: md5-per-shingle costs ~10×
    // the fused kernel by design, and a verification twin proves
    // equality just as well on a bounded slice as on the full corpus
    // (uncapped it was the suite's slowest sf1 query at 45 s).
    Q("doc_minhash_pairs_md5",
      minhashMd5Sql(candExtra = "")) { (s, dir) =>
      Dedup.minhashPairsMd5(
          Tables(s, dir, "documents").filter(col("doc_id") < 2000),
          threshold = 0.5)
        .orderBy(col("a_id"), col("b_id"))
    },

    // INCREMENTAL LSH dedup under the oracle — the day-over-day shape
    // production MinHash dedup actually runs: the standing corpus
    // (doc_id < 250, the doc_incremental_dedup split) keeps its banded
    // bucket index; the new batch computes ITS signatures only, probes the
    // standing index (old×new) and self-joins within itself (new×new) —
    // old×old candidates, resolved by previous runs, are never
    // regenerated. The oracle recomputes the full pair relation and
    // keeps pairs whose greater id is in the batch — the identical set,
    // since a pair with ≥ 1 batch member arises in old×new or new×new
    // and bucket equality is symmetric. Same md5-replayable config and
    // 2,000-doc cap as the twin above.
    Q("doc_minhash_incremental_md5",
      minhashMd5Sql(candExtra = "AND y.doc_id >= 250")) { (s, dir) =>
      val docs = Tables(s, dir, "documents").filter(col("doc_id") < 2000)
      Dedup.minhashPairsMd5Incremental(
          batch = docs.filter(col("doc_id") >= 250),
          existing = docs.filter(col("doc_id") < 250),
          threshold = 0.5)
        .orderBy(col("a_id"), col("b_id"))
    },

    // SimHash near-dup pairs (Hamming ≤ 3 on 64-bit signatures).
    Q.unchecked("doc_simhash_pairs") { (s, dir) =>
      Dedup.simhashPairs(Tables(s, dir, "documents"), maxHamming = 3)
        .orderBy(col("a_id"), col("b_id"))
    },

    // The SAME SimHash pipeline in its oracle-replayable config
    // (Dedup.simhashPairsMd5 — the doc_minhash_pairs_md5 pattern):
    // 60-bit signatures over md5-derived token hashes, multiset bit
    // votes, 4×15-bit chunk pigeonhole, Hamming ≤ 3 verify. DuckDB
    // recomputes identical signatures and buckets, so the
    // chunk-bucketed candidate machinery is hash-checked end-to-end;
    // the fused-kernel xxhash64 config above stays the production path.
    // Capped to a fixed 5,000-document slice on BOTH sides (the
    // doc_minhash_pairs_md5 rationale: verification twins prove
    // equality on a bounded slice; md5-per-token is deliberately not
    // the production kernel).
    Q("doc_simhash_pairs_md5", simhashMd5Sql(candExtra = "")) { (s, dir) =>
      Dedup.simhashPairsMd5(
          Tables(s, dir, "documents").filter(col("doc_id") < 5000),
          maxHamming = 3)
        .orderBy(col("a_id"), col("b_id"))
    },

    // INCREMENTAL SimHash dedup under the oracle — the
    // doc_minhash_incremental_md5 idiom for the chunk-pigeonhole
    // family: the standing corpus keeps its (chunk, value) bucket
    // index; the batch (every 4th doc — modulo, so the split is
    // non-vacuous at every scale factor) computes ITS signatures only,
    // probes the standing index (old×new through the two-sided
    // grid-salted probe join) and self-joins within itself — old×old
    // candidates are never regenerated. The oracle keeps pairs with
    // ≥ 1 batch member. Same md5-replayable config and 5,000-doc cap
    // as the twin above.
    Q("doc_simhash_incremental_md5",
      simhashMd5Sql(candExtra =
        "AND (x.doc_id % 4 = 1 OR y.doc_id % 4 = 1)")) { (s, dir) =>
      val docs = Tables(s, dir, "documents").filter(col("doc_id") < 5000)
      Dedup.simhashPairsMd5Incremental(
          batch = docs.filter(col("doc_id") % 4 === 1),
          existing = docs.filter(col("doc_id") % 4 =!= 1),
          maxHamming = 3)
        .orderBy(col("a_id"), col("b_id"))
    },

    // Language ID + quality score (heuristic models). Oracle-checked: the
    // scoring is deterministic integer arithmetic over literal profiles
    // (see langIdSql). The fixture file is a single parquet row group
    // (= one scan task), so this CPU-heavy per-doc stage repartitions
    // first: a few MB of shuffle buys full-cluster parallelism for the
    // expression evaluation — the standard move for compute-bound per-row
    // stages after a narrow scan.
    Q("doc_langid", langIdSql) { (s, dir) =>
      // one fused kernel pass per document (TextExpressions.TextFeatures)
      // instead of ~60 interpreted HOF/replace traversals; TextSpec pins
      // its outputs equal to the composed Text.* expressions
      docsKernel(s, dir)
        .select(col("doc_id"), col("lang").as("labeled_lang"),
          Text.featuresStruct(col("text")).as("f"),
          Text.rollingFingerprint(col("text")).as("rolling_fp"))
        .select(
          col("doc_id"), col("labeled_lang"),
          col("f.stop_lang").as("predicted_lang"),
          col("f.ngram_lang").as("predicted_lang_ngram"),
          Text.qualityFromFeatures(col("f")).as("quality"),
          col("f.bpe_tokens").as("bpe_tokens"),
          col("rolling_fp"))
        .orderBy(col("doc_id"))
    },

    // Token-window chunking: 16-token windows every 8 tokens (50% overlap)
    // — the training-data preprocessing step between curation and
    // tokenization. slice/list_slice are both 1-based; DuckDB's end bound
    // is inclusive where Spark takes a length.
    Q("doc_token_chunks",
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         s AS (SELECT doc_id, toks,
           unnest(range(0, greatest(len(toks), 1), 8)) AS start FROM d)
         SELECT doc_id, CAST(start // 8 AS INT) AS chunk_idx,
           array_to_string(list_slice(toks, start + 1, start + 16), ' ') AS chunk_text,
           CAST(len(list_slice(toks, start + 1, start + 16)) AS INT) AS n_tokens
         FROM s ORDER BY doc_id, chunk_idx""") { (s, dir) =>
      Text.chunkTokens(docsKernel(s, dir), chunkSize = 16, stride = 8)
        .orderBy(col("doc_id"), col("chunk_idx"))
    },

    // BPE-ish subword token counts (regex pre-tokenizer shape).
    Q("doc_bpe_tokens",
      """SELECT doc_id,
         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS bpe_tokens
         FROM documents ORDER BY doc_id""") { (s, dir) =>
      docsKernel(s, dir)
        .select(col("doc_id"), Text.bpeTokenCount(col("text")).as("bpe_tokens"))
        .orderBy(col("doc_id"))
    },

    // ---- similarity search over embeddings ----

    // L2 norms through the native DotProduct kernel — float→double
    // promotion + in-order double accumulation matches DuckDB's list_sum
    // over a double-transformed list bit-for-bit.
    Q("emb_norms",
      """SELECT vec_id,
         sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x))) AS norm
         FROM embeddings ORDER BY vec_id""") { (s, dir) =>
      Tables(s, dir, "embeddings")
        .select(col("vec_id"), Similarity.l2Norm(col("embedding")).as("norm"))
        .orderBy(col("vec_id"))
    },

    Q("emb_label_counts",
      """SELECT label, COUNT(*) AS n FROM embeddings
         GROUP BY label ORDER BY label""") { (s, dir) =>
      Tables(s, dir, "embeddings")
        .groupBy(col("label")).agg(count(lit(1)).as("n")).orderBy(col("label"))
    },

    // Int8 affine quantization audit — the 4× storage-compression
    // decision for the embedding table, with the acceptance numbers:
    // per-vector scale, integer code checksum, and worst reconstruction
    // error (≤ scale/2 by construction, spec-pinned). Narrow scan-side
    // HOF pass, no shuffle; every float is the same IEEE tree in both
    // engines (⌊·+½⌋ sidesteps their differing round-half conventions),
    // so all doubles hash-match bit-for-bit.
    Q("emb_int8_quant",
      """WITH q AS (
           SELECT vec_id, embedding,
             CAST(list_min(embedding) AS DOUBLE) AS qmin,
             CAST(list_max(embedding) AS DOUBLE) AS qmax
           FROM embeddings),
         s AS (SELECT vec_id, embedding, qmin, qmax,
             (qmax - qmin) / 255.0 AS scale FROM q)
         SELECT vec_id, qmin, qmax, scale,
           CAST(list_sum(list_transform(embedding, x ->
             CASE WHEN scale = 0 THEN CAST(0 AS BIGINT)
                  ELSE least(CAST(255 AS BIGINT),
                    CAST(floor((CAST(x AS DOUBLE) - qmin) / scale + 0.5) AS BIGINT))
             END)) AS BIGINT) AS code_sum,
           list_max(list_transform(embedding, x ->
             CASE WHEN scale = 0 THEN 0.0
                  ELSE abs(CAST(x AS DOUBLE) - (qmin +
                    CAST(least(CAST(255 AS BIGINT),
                      CAST(floor((CAST(x AS DOUBLE) - qmin) / scale + 0.5) AS BIGINT))
                      AS DOUBLE) * scale))
             END)) AS max_err
         FROM s ORDER BY vec_id""") { (s, dir) =>
      Similarity.int8QuantStats(Tables(s, dir, "embeddings"))
        .orderBy(col("vec_id"))
    },

    // Cluster-conditioned curation: the cross-modal join every
    // classifier-guided pipeline runs — documents joined to their
    // embedding's cluster label, then per-cluster doc counts, exact token
    // mass, quality-gate passes and language mix. Per-doc measures are
    // projected BEFORE the join, so the id-keyed exchange carries four
    // integers per row, never text (the 100 TB shape: co-partition both
    // tables by id and the join is exchange-free).
    Q("emb_label_quality",
      s"""SELECT label, COUNT(*) AS n_docs,
         CAST(SUM(len(regexp_split_to_array(text, '\\s+'))) AS BIGINT) AS sum_tokens,
         CAST(SUM(CASE WHEN $qualitySql >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_pass,
         CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en
         FROM documents JOIN embeddings ON doc_id = vec_id
         GROUP BY label ORDER BY label""") { (s, dir) =>
      val perDoc = docsKernel(s, dir).select(
        col("doc_id"),
        size(split(col("text"), "\\s+")).cast("long").as("n_tokens"),
        when(Text.qualityScore(col("text")) >= 0.5, 1L).otherwise(0L).as("qpass"),
        when(col("lang") === "en", 1L).otherwise(0L).as("is_en"))
      val labels = Tables(s, dir, "embeddings").select(col("vec_id"), col("label"))
      perDoc.join(labels, perDoc("doc_id") === labels("vec_id"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("sum_tokens"),
          sum(col("qpass")).as("n_quality_pass"),
          sum(col("is_en")).as("n_en"))
        .orderBy(col("label"))
    },

    // Exact kNN JOIN: top-5 cosine neighbors for EVERY vector — the
    // kNN-graph construction under semantic dedup / label propagation,
    // distinct from the query-set search below. Compute is quadratic by
    // definition (the exact baseline; the bucketed scale path is
    // Ivf.search with queries = corpus, recall-gated in IvfSpec), but
    // no pair is ever a row: the corpus is packed once and broadcast,
    // and each task of the spread corpus keeps a bounded top-k per
    // vector while it scores all of it (Similarity.knnJoinExact).
    Q("emb_knn_join", knnJoinExactSql()) { (s, dir) =>
      Similarity.knnJoinExact(Tables(s, dir, "embeddings"), k = 5)
        .orderBy(col("q_id"), col("rnk"))
    },

    // The bucketed kNN graph at FULL probe (nProbe = nCentroids) —
    // exhaustive IVF is exact (every pair is a candidate exactly once:
    // n sits in one inverted list, q probes all of them), so the same
    // brute-force SQL oracle applies while the plan exercises the WHOLE
    // graph machinery: centroid assignment kernel, grid-salted
    // cluster join, bounded TopKByScore consumption (the ann_ivf_topk
    // move, applied to the graph case). The production partial-probe
    // path stays rows-only (emb_knn_graph) with its measured recall
    // curve; IvfSpec additionally pins knnGraph ≡ search(corpus,
    // corpus) row-identically.
    // CAPPED to a fixed 2,000-vector slice on BOTH sides (the md5-twin
    // rationale): exhaustive probe is deliberately the n^2 workload the
    // partial-probe graph exists to avoid, and the equality proof is as
    // strong on a bounded slice; the production-scale graph cost is
    // measured by emb_knn_graph's recall sweep.
    Q("emb_knn_graph_exact", knnJoinExactSql("WHERE vec_id < 2000")) { (s, dir) =>
      val emb = Tables(s, dir, "embeddings").filter(col("vec_id") < 2000)
      val model = ivfModel(s, dir, nCentroids = 16, dim = 64, iters = 1)
      graft.sim.Ivf.knnGraph(emb, model, k = 5, nProbe = 16,
          censusKey = Some(s"$dir|knng16x1|p16|cap2000"))
        .orderBy(col("q_id"), col("rnk"))
    },

    // Hard-negative mining for contrastive training: top-5 most-similar
    // vectors with a DIFFERENT label per query — the near-boundary
    // negatives metric-learning losses need (random negatives are
    // trivially separable). Query set = every step-th vector (~512
    // queries, the ANN-benchmark sampling protocol) so the registered
    // cost is |Q|·n, not n²; the op itself takes any query frame. Same
    // bit-exact cosine determinism as emb_knn_join's oracle.
    Q("emb_hard_negatives",
      """WITH v AS (SELECT vec_id, label, embedding,
         sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x))) AS norm
         FROM embeddings),
       st AS (SELECT GREATEST(1, COUNT(*) // 512) AS step FROM embeddings),
       q AS (SELECT v.* FROM v CROSS JOIN st WHERE vec_id % step = 0),
       s AS (SELECT q.vec_id AS q_id, n.vec_id AS n_id,
         list_sum(list_transform(range(len(q.embedding)),
           i -> CAST(q.embedding[i+1] AS DOUBLE) * CAST(n.embedding[i+1] AS DOUBLE)))
           / (q.norm * n.norm) AS cos
         FROM q JOIN v n ON n.vec_id <> q.vec_id AND n.label <> q.label)
       SELECT q_id, n_id, cos, rnk FROM (
         SELECT q_id, n_id, cos,
           CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS INT) AS rnk
         FROM s) WHERE rnk <= 5 ORDER BY q_id, rnk""") { (s, dir) =>
      val emb = Tables(s, dir, "embeddings")
      val step = math.max(1L, emb.count() / 512)
      Similarity.hardNegatives(emb, emb.filter(col("vec_id") % step === 0), k = 5)
        .orderBy(col("q_id"), col("rnk"))
    },

    // Bucketed kNN graph with its recall measured IN-ENGINE each round
    // (the ann_ivf_recall shape, applied to the graph case): for
    // nProbe ∈ {1, 2, 4}, the fraction of the oracle-green exact top-5
    // edges (emb_knn_join) that Ivf.knnGraph recovers. Rows-only by
    // nature (recall < 1 by construction at partial probe); IvfSpec pins
    // knnGraph row-identical to Ivf.search(corpus, corpus) and gates
    // recall on a clustered corpus.
    Q.unchecked("emb_knn_graph") { (s, dir) =>
      val emb = Tables(s, dir, "embeddings")
      val nVec = emb.count()
      // nlist grows with the corpus so the mean bucket stays ~250
      // vectors: IVF candidate volume is n·bucket = n²/nlist, so a FIXED
      // nlist is quadratic in n (measured 44.7× wall for 10× vectors at
      // sf1 with nlist=16) while bucket-proportional nlist keeps the
      // graph build linear-in-n per probe. Training cost is iters·n·nlist
      // dot products — still linear at constant bucket size.
      val nCent = math.max(16, math.min(256, (nVec / 250).toInt))
      val model = ivfModel(s, dir, nCentroids = nCent, dim = 64, iters = 2)
      // Ground truth on a deterministic ~512-query sample (every step-th
      // id), the standard ANN-benchmark recall protocol: the exact
      // denominator costs |Q|·n instead of n², and recall@5 over ≥512
      // queries estimates the full-corpus figure to a few percent. The
      // GRAPH is still built over the full corpus at every probe depth —
      // that product is what this query exists to measure.
      // Probe depths stay fixed {1,2,4} — a constant CANDIDATE budget per
      // query, not a constant fraction of lists — so measured recall
      // declines as nlist grows on THIS fixture: i.i.d. gaussian vectors
      // have no cluster structure, making recall ∝ fraction-of-corpus
      // scored (the worst case for any IVF). Real embedding corpora
      // cluster, which is what keeps constant-probe recall flat at scale;
      // IvfSpec pins that on planted-cluster data. Reporting the honest
      // declining curve beats quadratic probe scaling.
      val step = math.max(1L, nVec / 512)
      // checkpoint the ground-truth edge sample: all three probe-depth
      // branches join against it and the denominator aggregates it — 4
      // consumers that each re-ran the |Q|·n brute-force scoring from
      // lineage (≤ 512·5 rows materialized)
      val exact = Similarity.bruteForceTopK(emb,
          emb.filter(pmod(col("vec_id"), lit(step)) === 0), k = 5)
        .select(col("q_id"), col("n_id"))
        .localCheckpoint()
      val denom = exact.agg(count(lit(1)).as("n_exact"))
      // Deliberately a per-depth knnGraph sweep, NOT searchMulti: the
      // shared-candidate trick is right when |Q| bounds the materialized
      // candidate set, but corpus×corpus at probes.max=4 means ~n²/4
      // checkpointed candidate rows (measured 2× SLOWER at sf1 than the
      // sweep, which pipelines every scoring into the bounded map-side
      // TopKByScore and materializes nothing).
      Seq(1, 2, 4).map { p =>
        // census key carries the probe depth: the union frame's counts
        // are members + n*p visitor rows, different per depth
        graft.sim.Ivf.knnGraph(emb, model, k = 5, nProbe = p,
            censusKey = Some(s"$dir|knng${nCent}x2|p$p"))
          .select(lit(p).as("n_probe"), col("q_id"), col("n_id"))
      }.reduce(_ unionByName _)
        .join(exact, Seq("q_id", "n_id")) // recovered sampled edges
        .groupBy(col("n_probe")).agg(count(lit(1)).as("hits"))
        .crossJoin(denom) // 3 × 1-row aggregate
        .select(col("n_probe"),
          (col("hits") / col("n_exact")).as("recall_at_5"))
        .orderBy(col("n_probe"))
    },

    // Brute-force exact top-10 cosine neighbors for the first 20 vectors.
    // Oracle-checked: the native DotProduct kernel accumulates float→double
    // products in index order, exactly like DuckDB's list_sum over the
    // double-transformed zip — doubles are bit-identical, so ranking is too.
    Q("ann_brute_topk", annExactTopkSql) { (s, dir) =>
      val emb = Tables(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 20), k = 10)
        .orderBy(col("q_id"), col("rnk"))
    },

    // LSH-bucketed ANN for the same queries (recall measured in the spec;
    // 4-bit chunks because the fixture vectors are random — see spec note).
    Q.unchecked("ann_lsh_topk") { (s, dir) =>
      val emb = Tables(s, dir, "embeddings")
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 20), k = 10, chunkBits = 4)
        .orderBy(col("q_id"), col("rnk"))
    },

    // The SAME sign-bit LSH pipeline in its oracle-replayable config
    // (Similarity.lshTopKMd5 — completing the md5-twin pattern for the
    // third and last production hash family): 16 planes of md5-derived
    // INTEGER coefficients in [−8, 8], so each projection is an
    // index-ordered fold of exact float·int products that DuckDB
    // replays bit-identically (the emb_norms precedent), signs → the
    // identical signature, 2×8-bit chunk buckets → the identical
    // candidate set, exact-cosine rerank → the identical top-k. The
    // engine runs the SAME fused LshSignBits kernel (it takes the plane
    // array), so this row oracle-checks the kernel arithmetic, the
    // bucket join, and the rerank end-to-end — recall curve included.
    Q("ann_lsh_topk_md5", lshMd5TopkSql("q.ch = n.ch")) { (s, dir) =>
      val emb = Tables(s, dir, "embeddings")
      Similarity.lshTopKMd5(emb, emb.filter(col("vec_id") < 20), k = 10)
        .orderBy(col("q_id"), col("rnk"))
    },

    // The MULTI-PROBE path under the oracle (completing the md5-twin
    // family: the production ann_lsh_multiprobe below stays rows-only
    // by LSH-randomness shape, but the probe-expansion machinery itself
    // — query chunks probing their Hamming-1 neighbor buckets — is now
    // hash-checked end-to-end). Same md5 plane family, signature
    // kernel, chunk index and exact rerank as ann_lsh_topk_md5; the
    // oracle's candidate join admits chunk pairs whose XOR is zero or
    // a single bit — exactly the engine's probe set {ch} ∪ {ch^2^b}.
    Q("ann_lsh_multiprobe_md5", lshMd5TopkSql(
      "(xor(q.ch, n.ch) & (xor(q.ch, n.ch) - 1)) = 0")) { (s, dir) =>
      val emb = Tables(s, dir, "embeddings")
      Similarity.lshTopKMultiProbeMd5(emb, emb.filter(col("vec_id") < 20), k = 10)
        .orderBy(col("q_id"), col("rnk"))
    },

    // Multi-probe LSH recall surface — the META query for the
    // query-side recall lever: each query chunk probes its own bucket
    // plus the chunkBits Hamming-1 neighbors (near misses where one
    // plane voted the other way), so recall rises without extra hash
    // tables or corpus scans. Reports recall@10 vs the oracle-exact
    // brute-force result for single- and multi-probe at the same
    // signature configuration; rows-only for the same reason as
    // ann_lsh_topk (LSH randomness shape), with SimilaritySpec pinning
    // the candidate-superset dominance property.
    Q.unchecked("ann_lsh_multiprobe") { (s, dir) =>
      val emb = Tables(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 20)
      // checkpoint the ground-truth edges (the emb_knn_graph treatment):
      // both method joins and the denominator each re-ran the
      // brute-force scoring from lineage (≤ 200 rows materialized)
      val exact = Similarity.bruteForceTopK(emb, queries, k = 10)
        .select(col("q_id"), col("n_id"))
        .localCheckpoint()
      val denom = exact.agg(count(lit(1)).as("n_exact"))
      val single = Similarity.lshTopK(emb, queries, k = 10, chunkBits = 4)
        .select(lit("probe_1").as("method"), col("q_id"), col("n_id"))
      val multi = Similarity.lshTopKMultiProbe(emb, queries, k = 10, chunkBits = 4)
        .select(lit("probe_1plus4flips").as("method"), col("q_id"), col("n_id"))
      single.unionAll(multi)
        .join(exact, Seq("q_id", "n_id")) // hits = LSH ∩ exact
        .groupBy(col("method")).agg(count(lit(1)).as("hits"))
        .crossJoin(denom) // 2 × 1-row aggregate
        .select(col("method"), (col("hits") / col("n_exact")).as("recall_at_10"))
        .orderBy(col("method"))
    },

    // IVF ANN: k-means-lite inverted lists + exact rerank. Registered at
    // FULL probe (nProbe = nCentroids): exhaustive IVF is exact search, so
    // the brute-force SQL oracle applies — the plan still exercises the
    // whole IVF machinery (training, assignment kernel, inverted-list
    // bucket join). The production partial-probe path (nProbe < k) is
    // approximate by design; IvfSpec measures its recall curve.
    Q("ann_ivf_topk", annExactTopkSql) { (s, dir) =>
      val emb = Tables(s, dir, "embeddings")
      // one Lloyd round: at FULL probe the result is exact regardless of
      // centroid quality (centroids only shape the inverted lists), so
      // extra training rounds buy nothing here; IvfSpec covers multi-round
      // training + partial-probe recall. trainOrLoad: first consumer per
      // fixture trains + persists, every later run loads the centroids.
      val model = ivfModel(s, dir, nCentroids = 16, dim = 64, iters = 1)
      graft.sim.Ivf.search(emb, emb.filter(col("vec_id") < 20), model,
          k = 10, nProbe = 16)
        .orderBy(col("q_id"), col("rnk"))
    },

    // IVF recall curve, measured IN-ENGINE each round (not only in a spec):
    // recall@10 of partial-probe IVF against the exact brute-force top-10,
    // for nProbe ∈ {1, 2, 4, 16}. The 16 row is the full-probe anchor
    // (= exhaustive search, recall exactly 1.0 — the same identity the
    // ann_ivf_topk oracle rests on); the partial rows are the production
    // recall/cost trade. Rows-only by nature (recall < 1 by construction);
    // IvfSpec gates the curve: monotone, 1.0 at full probe.
    Q.unchecked("ann_ivf_recall") { (s, dir) =>
      val emb = Tables(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 20)
      val model = ivfModel(s, dir, nCentroids = 16, dim = 64, iters = 2)
      // ground-truth checkpoint — the emb_knn_graph treatment (recall
      // join + denominator shared one brute-force pass)
      val exact = Similarity.bruteForceTopK(emb, queries, k = 10)
        .select(col("q_id"), col("n_id"))
        .localCheckpoint()
      val denom = exact.agg(count(lit(1)).as("n_exact"))
      // one shared assignment scan + candidate rerank serves all 4 depths
      graft.sim.Ivf.searchMulti(emb, queries, model, k = 10,
          probes = Seq(1, 2, 4, 16))
        .select(col("n_probe"), col("q_id"), col("n_id"))
        .join(exact, Seq("q_id", "n_id")) // hits = IVF ∩ exact
        .groupBy(col("n_probe")).agg(count(lit(1)).as("hits"))
        .crossJoin(denom) // 4 × 1-row aggregate
        .select(col("n_probe"), (col("hits") / col("n_exact")).as("recall_at_10"))
        .orderBy(col("n_probe"))
    },

    // Per-cell index HEALTH — the monitoring table a day-2 vector store
    // watches while appends grow it against frozen centroids: standing
    // population, batch arrivals, and the batch's min/max cosine to its
    // assigned centroid per cell (a sagging min-cosine = the cell is
    // drifting from its centroid — retrain/split before recall decays).
    // Every output is an order-independent aggregate (counts, MIN, MAX —
    // deliberately no float SUM), so the report hash-checks bit-for-bit;
    // the seeded-centroid model and the ‖v−c‖² assignment replay exactly
    // as in ann_ivf_incremental_assign.
    Q("ann_cell_health",
      """WITH c AS (SELECT vec_id AS cluster, embedding AS c_emb,
             list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x)) AS n2
           FROM embeddings WHERE vec_id < 16),
         asg AS (SELECT vec_id, cluster FROM (
             SELECT e.vec_id, c.cluster,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                 c.n2 - 2.0 * list_sum(list_transform(range(len(e.embedding)),
                   i -> CAST(e.embedding[i+1] AS DOUBLE) * CAST(c.c_emb[i+1] AS DOUBLE))),
                 c.cluster) AS rn
             FROM embeddings e CROSS JOIN c) WHERE rn = 1),
         s AS (SELECT cluster, COUNT(*) AS n_standing FROM asg
           WHERE vec_id % 17 <> 0 GROUP BY cluster),
         b AS (SELECT a.cluster, COUNT(*) AS n_batch,
             MIN(list_sum(list_transform(range(len(e.embedding)),
                 i -> CAST(e.embedding[i+1] AS DOUBLE) * CAST(c.c_emb[i+1] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * x)))
                  * sqrt(c.n2))) AS min_cos,
             MAX(list_sum(list_transform(range(len(e.embedding)),
                 i -> CAST(e.embedding[i+1] AS DOUBLE) * CAST(c.c_emb[i+1] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * x)))
                  * sqrt(c.n2))) AS max_cos
           FROM asg a JOIN embeddings e ON e.vec_id = a.vec_id
           JOIN c ON c.cluster = a.cluster
           WHERE a.vec_id % 17 = 0 GROUP BY a.cluster)
         SELECT CAST(COALESCE(s.cluster, b.cluster) AS INT) AS cluster,
           CAST(COALESCE(n_standing, 0) AS BIGINT) AS n_standing,
           CAST(COALESCE(n_batch, 0) AS BIGINT) AS n_batch,
           min_cos, max_cos
         FROM s FULL OUTER JOIN b ON s.cluster = b.cluster
         ORDER BY cluster""") { (s, dir) =>
      val emb = Tables(s, dir, "embeddings")
      val cents = emb.filter(col("vec_id") < 16).orderBy(col("vec_id"))
        .select(col("embedding")).collect()
        .map(_.getSeq[Float](0).toArray.map(_.toDouble))
      graft.sim.Ivf.cellHealth(
        standing = emb.filter(col("vec_id") % 17 =!= 0),
        batch = emb.filter(col("vec_id") % 17 === 0),
        model = graft.sim.Ivf.IvfModel(cents))
    },

    // IVF serving with PHYSICAL cell pruning — the layout half of ANN
    // that ann_ivf_topk's logical bucket join can't show: the corpus
    // lives cluster-PARTITIONED on disk (IvfStore.cellPartitioned, one
    // directory per inverted list), three online queries probe their
    // nProbe=2 nearest cells, and Spark's dynamic partition pruning
    // injects the broadcast probe frame's cluster set into the fact
    // scan — the query READS ≤ 6 of the 16 cell directories, never the
    // corpus (IvfSpec asserts the dynamicpruning partition filter and
    // row-identity with Ivf.search on the raw table). Partial probe
    // makes the PROBE SET part of the semantics, so the model must be
    // SQL-replayable: seeded centroids (the first 16 corpus vectors —
    // the ann_ivf_incremental_assign / emb_semdedup precedent), probe
    // ranks replayed through the same ||v−c||² expansion ordering, and
    // the exact-cosine rerank hash-checks end-to-end.
    Q("ann_ivf_pruned_topk",
      """WITH c AS (SELECT vec_id AS cluster, embedding AS c_emb,
             list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x)) AS n2
           FROM embeddings WHERE vec_id < 16),
         asg AS (SELECT vec_id, cluster FROM (
             SELECT e.vec_id, c.cluster,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                 c.n2 - 2.0 * list_sum(list_transform(range(len(e.embedding)),
                   i -> CAST(e.embedding[i+1] AS DOUBLE) * CAST(c.c_emb[i+1] AS DOUBLE))),
                 c.cluster) AS rn
             FROM embeddings e CROSS JOIN c) WHERE rn = 1),
         probe AS (SELECT q_id, cluster FROM (
             SELECT e.vec_id AS q_id, c.cluster,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                 c.n2 - 2.0 * list_sum(list_transform(range(len(e.embedding)),
                   i -> CAST(e.embedding[i+1] AS DOUBLE) * CAST(c.c_emb[i+1] AS DOUBLE))),
                 c.cluster) AS rn
             FROM embeddings e CROSS JOIN c
             WHERE e.vec_id IN (101, 211, 307)) WHERE rn <= 2),
         v AS (SELECT vec_id, embedding,
             sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x))) AS nrm
           FROM embeddings),
         cand AS (SELECT p.q_id, a.vec_id AS n_id
           FROM probe p JOIN asg a USING (cluster) WHERE a.vec_id <> p.q_id),
         scored AS (SELECT cand.q_id, cand.n_id,
             list_sum(list_transform(range(len(vq.embedding)),
               i -> CAST(vq.embedding[i+1] AS DOUBLE) * CAST(vn.embedding[i+1] AS DOUBLE)))
               / (vq.nrm * vn.nrm) AS cos
           FROM cand JOIN v vq ON vq.vec_id = cand.q_id
           JOIN v vn ON vn.vec_id = cand.n_id)
         SELECT q_id, n_id, cos, rnk FROM (
           SELECT q_id, n_id, cos,
             CAST(ROW_NUMBER() OVER (PARTITION BY q_id
               ORDER BY cos DESC, n_id) AS INT) AS rnk
           FROM scored) WHERE rnk <= 10 ORDER BY q_id, rnk""") { (s, dir) =>
      val emb = Tables(s, dir, "embeddings")
      val cents = emb.filter(col("vec_id") < 16).orderBy(col("vec_id"))
        .select(col("embedding")).collect()
        .map(_.getSeq[Float](0).toArray.map(_.toDouble))
      val model = graft.sim.Ivf.IvfModel(cents)
      val store = s.read.parquet(
        graft.sim.IvfStore.cellPartitioned(s, dir, model, "seed16"))
      graft.sim.Ivf.prunedSearch(store,
          emb.filter(col("vec_id").isin(101L, 211L, 307L)), model,
          k = 10, nProbe = 2)
        .orderBy(col("q_id"), col("rnk"))
    },

    // HEALTH-THEN-SPLIT — the repair loop closed: ann_cell_health
    // monitors drift, this row ACTS on it. The fullest cell under the
    // seed-16 model (ties to the lower id — the overfull-cell trigger)
    // is split by IvfStore.splitCell on a real cell-partitioned store:
    // pole A keeps the old centroid, pole B is the member with the
    // LOWEST cosine to it (the exact vector behind the health report's
    // sagging min_cos), members re-assign to the nearer pole through
    // the same fused ||c||²−2·v·c kernel as every other assignment
    // (ties to the old cell). Only the split cell's directory is
    // rewritten and all-probe serving over the split store stays exact
    // (IvfSpec pins both); the emitted relation is the post-split
    // membership of the two halves, read back FROM the store — so the
    // oracle hash-checks the physical operator's output, replaying
    // cell choice, pole choice, and every re-assignment bit-for-bit.
    Q("ann_cell_split",
      """WITH c AS (SELECT vec_id AS cluster, embedding AS c_emb,
             list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x)) AS n2
           FROM embeddings WHERE vec_id < 16),
         asg AS (SELECT vec_id, cluster FROM (
             SELECT e.vec_id, c.cluster,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                 c.n2 - 2.0 * list_sum(list_transform(range(len(e.embedding)),
                   i -> CAST(e.embedding[i+1] AS DOUBLE) * CAST(c.c_emb[i+1] AS DOUBLE))),
                 c.cluster) AS rn
             FROM embeddings e CROSS JOIN c) WHERE rn = 1),
         target AS (SELECT cluster FROM asg GROUP BY cluster
           ORDER BY COUNT(*) DESC, cluster LIMIT 1),
         members AS (SELECT a.vec_id, e.embedding FROM asg a
           JOIN embeddings e USING (vec_id)
           JOIN target t ON a.cluster = t.cluster),
         cent AS (SELECT c.c_emb, c.n2 FROM c JOIN target t ON c.cluster = t.cluster),
         pole AS (SELECT m.vec_id, m.embedding FROM members m, cent
           ORDER BY list_sum(list_transform(range(len(m.embedding)),
               i -> CAST(m.embedding[i+1] AS DOUBLE) * CAST(cent.c_emb[i+1] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(m.embedding, x -> CAST(x AS DOUBLE) * x)))
                * sqrt(cent.n2)),
             m.vec_id
           LIMIT 1),
         poles AS (SELECT 0 AS idx, c_emb AS p_emb, n2 FROM cent
           UNION ALL
           SELECT 1 AS idx, embedding AS p_emb,
             list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x)) AS n2
           FROM pole),
         re AS (SELECT m.vec_id, p.idx,
             p.n2 - 2.0 * list_sum(list_transform(range(len(m.embedding)),
               i -> CAST(m.embedding[i+1] AS DOUBLE) * CAST(p.p_emb[i+1] AS DOUBLE))) AS score
           FROM members m CROSS JOIN poles p)
         SELECT vec_id,
           CAST(CASE WHEN idx = 0 THEN (SELECT cluster FROM target)
                ELSE 16 END AS INT) AS cluster
         FROM (SELECT vec_id, idx,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score, idx) AS rn
           FROM re) WHERE rn = 1 ORDER BY vec_id""") { (s, dir) =>
      val emb = Tables(s, dir, "embeddings")
      val cents = emb.filter(col("vec_id") < 16).orderBy(col("vec_id"))
        .select(col("embedding")).collect()
        .map(_.getSeq[Float](0).toArray.map(_.toDouble))
      val model = graft.sim.Ivf.IvfModel(cents)
      val (path, cell) = splitCellStore(s, dir, model)
      s.read.parquet(path)
        .filter(col("cluster").isin(cell, model.k))
        .select(col("vec_id"), col("cluster").cast("int").as("cluster"))
        .orderBy(col("vec_id"))
    },

    // Incremental IVF index MAINTENANCE under the oracle: a "day-2"
    // batch of new vectors (every 17th id — deterministic and
    // scale-proportional) is assigned to a STANDING cell structure
    // without retraining (Ivf.assign: one fused nearest-centroid scan,
    // no shuffle — the pattern trainOrLoad + bucketed appends run at
    // warehouse scale). To make the assignment itself hash-checkable,
    // the standing centroids are the first 16 corpus vectors (a
    // SQL-derivable stand-in for the persisted k-means model, which is
    // engine-side — the md5-twin idiom applied to IVF): the oracle
    // replays the kernel's exact arithmetic — ||c||² accumulated in
    // index order, minus 2·(v·c) accumulated in index order, ties to
    // the lower cell — so engine and DuckDB agree bit-for-bit on every
    // cell assignment (the emb_norms double-determinism precedent).
    Q("ann_ivf_incremental_assign",
      """WITH c AS (SELECT vec_id AS cluster, embedding,
             list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x)) AS n2
           FROM embeddings WHERE vec_id < 16),
         b AS (SELECT vec_id, embedding FROM embeddings
           WHERE vec_id >= 16 AND vec_id % 17 = 3),
         s AS (SELECT b.vec_id, c.cluster,
             c.n2 - 2.0 * list_sum(list_transform(range(len(b.embedding)),
               i -> CAST(b.embedding[i+1] AS DOUBLE) * CAST(c.embedding[i+1] AS DOUBLE)))
               AS score
           FROM b CROSS JOIN c)
         SELECT vec_id, CAST(cluster AS INT) AS cluster FROM (
           SELECT vec_id, cluster,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score, cluster) AS rn
           FROM s) WHERE rn = 1 ORDER BY vec_id""") { (s, dir) =>
      val emb = Tables(s, dir, "embeddings")
      val cents = emb.filter(col("vec_id") < 16).orderBy(col("vec_id"))
        .select(col("embedding")).collect()
        .map(_.getSeq[Float](0).toArray.map(_.toDouble))
      val model = graft.sim.Ivf.IvfModel(cents)
      graft.sim.Ivf.assign(
          emb.filter(col("vec_id") >= 16 && col("vec_id") % 17 === 3), model)
        .orderBy(col("vec_id"))
    },

    // PQ ENCODE under the oracle — the compression half of IVF-PQ made
    // hash-checkable by the same seed-vector idiom as
    // ann_ivf_incremental_assign: codebooks are the per-sub-space slices
    // of the first 16 corpus vectors (a SQL-derivable stand-in for the
    // engine-side k-means codebooks), and every 11th vector is encoded
    // to its m=4 nearest-codeword indexes through the SAME fused
    // nearestCentroids kernel the production path uses. The oracle
    // replays ||cw||² − 2·(v·cw) per sub-space in index order, ties to
    // the lower code — bit-identical doubles, so every emitted code is
    // hash-checked. (The ADC scoring stage stays under ann_pq_recall /
    // PqSpec: its per-candidate Σⱼ pdot is a float SUM whose
    // accumulation order no SQL engine contracts.) Output is the
    // exploded relational form (n_id, sub, code) — the shape a code
    // table is stored in.
    Q("ann_pq_encode_seeded",
      """WITH subs AS (SELECT unnest(range(4)) AS sub),
         cw AS (SELECT s.sub, c.vec_id AS code,
             list_slice(c.embedding, s.sub * 16 + 1, s.sub * 16 + 16) AS cv
           FROM embeddings c CROSS JOIN subs s WHERE c.vec_id < 16),
         cn AS (SELECT sub, code, cv,
             list_sum(list_transform(cv, x -> CAST(x AS DOUBLE) * x)) AS n2
           FROM cw),
         b AS (SELECT e.vec_id AS n_id, s.sub,
             list_slice(e.embedding, s.sub * 16 + 1, s.sub * 16 + 16) AS bv
           FROM embeddings e CROSS JOIN subs s
           WHERE e.vec_id >= 16 AND e.vec_id % 11 = 7),
         sc AS (SELECT b.n_id, b.sub, cn.code,
             cn.n2 - 2.0 * list_sum(list_transform(range(16),
               i -> CAST(bv[i+1] AS DOUBLE) * CAST(cv[i+1] AS DOUBLE))) AS score
           FROM b JOIN cn ON b.sub = cn.sub)
         SELECT n_id, CAST(sub AS INT) AS sub, CAST(code AS INT) AS code FROM (
           SELECT n_id, sub, code, ROW_NUMBER() OVER (PARTITION BY n_id, sub
             ORDER BY score, code) AS rn
           FROM sc) WHERE rn = 1 ORDER BY n_id, sub""") { (s, dir) =>
      val emb = Tables(s, dir, "embeddings")
      val seeds = emb.filter(col("vec_id") < 16).orderBy(col("vec_id"))
        .select(col("embedding")).collect()
        .map(_.getSeq[Float](0).toArray.map(_.toDouble))
      val subDim = 16
      val cbs = Array.tabulate(4)(j =>
        seeds.map(v => v.slice(j * subDim, (j + 1) * subDim)))
      val model = graft.sim.Pq.PqModel(subDim, cbs)
      graft.sim.Pq.encode(
          emb.filter(col("vec_id") >= 16 && col("vec_id") % 11 === 7), model)
        .select(col("n_id"), posexplode(col("codes")))
        .select(col("n_id"), col("pos").cast("int").as("sub"),
          col("col").cast("int").as("code"))
        .orderBy(col("n_id"), col("sub"))
    },

    // Embedding-space decontamination: every 7th vector plays the eval
    // benchmark, the rest the training corpus; per eval vector the MAX
    // train cosine (+ the train vector achieving it, ties to the lower
    // id) and the >= tau contamination flag. The semantic counterpart of
    // doc_contamination_score — catches the paraphrase leak n-grams
    // miss. Scale shape: eval broadcast, train scans once, both
    // aggregates combine map-side (<= |eval| rows per map task on the one
    // shuffle). tau = 0.4 so the flag BITES on this i.i.d. fixture.
    Q("emb_test_contamination",
      """WITH v AS (SELECT vec_id, embedding,
             sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x))) AS nrm
           FROM embeddings),
         te AS (SELECT * FROM v WHERE vec_id % 7 = 3),
         tr AS (SELECT * FROM v WHERE vec_id % 7 <> 3),
         p AS (SELECT te.vec_id AS test_id, tr.vec_id AS train_id,
             list_sum(list_transform(range(len(te.embedding)),
               i -> CAST(te.embedding[i+1] AS DOUBLE) * CAST(tr.embedding[i+1] AS DOUBLE)))
               / (te.nrm * tr.nrm) AS cos
           FROM te CROSS JOIN tr),
         r AS (SELECT test_id, train_id, cos,
             ROW_NUMBER() OVER (PARTITION BY test_id
               ORDER BY cos DESC, train_id) AS rn
           FROM p)
         SELECT test_id, train_id AS nearest_train_id, cos AS max_cos,
           cos >= 0.4 AS contaminated
         FROM r WHERE rn = 1 ORDER BY test_id""") { (s, dir) =>
      val emb = Tables(s, dir, "embeddings")
      Similarity.testContamination(emb.filter(col("vec_id") % 7 =!= 3),
          emb.filter(col("vec_id") % 7 === 3), tau = 0.4)
        .orderBy(col("test_id"))
    },

    // SemDeDup under the oracle — semantic dedup over the SAME seeded cell
    // structure as ann_ivf_incremental_assign: every vector assigns to its
    // nearest seed centroid (the kernel's ||c||²−2v·c arithmetic, ties to
    // the lower cell), pairwise cosine runs ONLY within a cell, and a
    // vector is dropped when a smaller-id cell-mate clears tau (min-id
    // survivor — deterministic, so the whole kept set is hash-checkable).
    // DuckDB replays assignment + index-ordered cosine bit-exactly (the
    // ann_brute_topk precedent), so the threshold verdicts agree bit-for-
    // bit. tau = 0.4 because the fixture corpus is i.i.d. (max pairwise
    // cosine ≈ 0.49): the rule must BITE on real rows at both gate scales
    // rather than pass vacuously at a production-style 0.95.
    Q("emb_semdedup", semDeDupOracleSql()) { (s, dir) =>
      val emb = Tables(s, dir, "embeddings")
      val cents = emb.filter(col("vec_id") < 16).orderBy(col("vec_id"))
        .select(col("embedding")).collect()
        .map(_.getSeq[Float](0).toArray.map(_.toDouble))
      graft.sim.Ivf.semDeDup(emb, graft.sim.Ivf.IvfModel(cents), tau = 0.4,
          censusKey = Some(s"$dir|semdedup16|corpus"))
        .orderBy(col("vec_id"))
    },

    // The hot-cell guard path of the row above, ORACLE-CHECKED: the same
    // semDeDup with hotCellCap forced to 8 — at the sf0.01 gate the 16
    // seeded cells hold ~31 members each, so the census gate fires on ALL
    // of them and the whole corpus routes through the grid-salted
    // CellDominancePartial fallback (each pair meets in exactly one grid
    // row; bool_or folds the partial verdicts). The oracle is the SAME SQL
    // as emb_semdedup: the guard is lossless by construction, and this row
    // makes the driver gate prove it on real data every round rather than
    // leaving the fallback spec-only (round-13 verdict ask #1's "done"
    // bar, carried one step further).
    Q("emb_semdedup_hotcell", semDeDupOracleSql()) { (s, dir) =>
      val emb = Tables(s, dir, "embeddings")
      val cents = emb.filter(col("vec_id") < 16).orderBy(col("vec_id"))
        .select(col("embedding")).collect()
        .map(_.getSeq[Float](0).toArray.map(_.toDouble))
      // shares emb_semdedup's census memo: the census is
      // cap-independent (full counts collected, filtered by cap at the
      // gate), so the guard-forced twin re-prices the SAME counts at
      // cap=8 without a second aggregate job
      graft.sim.Ivf.semDeDup(emb, graft.sim.Ivf.IvfModel(cents), tau = 0.4,
          hotCellCap = 8, censusKey = Some(s"$dir|semdedup16|corpus"))
        .orderBy(col("vec_id"))
    },

    // Incremental SemDeDup — the day-2 row of the one above: every 5th
    // vector arrives as a batch and dedups against the STANDING KEPT set
    // plus itself; old×old cosine volume never regenerates. Standing
    // kept vectors dominate regardless of id (they are already in the
    // corpus); within the batch the same min-id rule applies; standing
    // DROPPED vectors never dominate (their survivor represents them).
    // The oracle replays the standing pass, the standing×batch probe and
    // the batch self-pass — all through the bit-exact assignment + cosine
    // arithmetic, so every batch verdict hash-checks.
    Q("emb_semdedup_incremental",
      """WITH c AS (SELECT vec_id AS cluster, embedding,
             list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x)) AS n2
           FROM embeddings WHERE vec_id < 16),
         asg AS (SELECT vec_id, cluster FROM (
             SELECT e.vec_id, c.cluster,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                 c.n2 - 2.0 * list_sum(list_transform(range(len(e.embedding)),
                   i -> CAST(e.embedding[i+1] AS DOUBLE) * CAST(c.embedding[i+1] AS DOUBLE))),
                 c.cluster) AS rn
             FROM embeddings e CROSS JOIN c) WHERE rn = 1),
         v AS (SELECT vec_id, embedding,
             sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x))) AS nrm
           FROM embeddings),
         sasg AS (SELECT * FROM asg WHERE vec_id % 5 <> 2),
         basg AS (SELECT * FROM asg WHERE vec_id % 5 = 2),
         sdom AS (SELECT DISTINCT b.vec_id
           FROM sasg a JOIN sasg b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
           JOIN v va ON va.vec_id = a.vec_id JOIN v vb ON vb.vec_id = b.vec_id
           WHERE list_sum(list_transform(range(len(va.embedding)),
               i -> CAST(va.embedding[i+1] AS DOUBLE) * CAST(vb.embedding[i+1] AS DOUBLE)))
             / (va.nrm * vb.nrm) >= 0.4),
         skept AS (SELECT vec_id, cluster FROM sasg
           WHERE vec_id NOT IN (SELECT vec_id FROM sdom)),
         bdom AS (SELECT DISTINCT b.vec_id
           FROM skept a JOIN basg b ON a.cluster = b.cluster
           JOIN v va ON va.vec_id = a.vec_id JOIN v vb ON vb.vec_id = b.vec_id
           WHERE list_sum(list_transform(range(len(va.embedding)),
               i -> CAST(va.embedding[i+1] AS DOUBLE) * CAST(vb.embedding[i+1] AS DOUBLE)))
             / (va.nrm * vb.nrm) >= 0.4
           UNION
           SELECT DISTINCT b.vec_id
           FROM basg a JOIN basg b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
           JOIN v va ON va.vec_id = a.vec_id JOIN v vb ON vb.vec_id = b.vec_id
           WHERE list_sum(list_transform(range(len(va.embedding)),
               i -> CAST(va.embedding[i+1] AS DOUBLE) * CAST(vb.embedding[i+1] AS DOUBLE)))
             / (va.nrm * vb.nrm) >= 0.4)
         SELECT vec_id, CAST(cluster AS INT) AS cluster,
           vec_id NOT IN (SELECT vec_id FROM bdom) AS kept
         FROM basg ORDER BY vec_id""") { (s, dir) =>
      val emb = Tables(s, dir, "embeddings")
      val cents = emb.filter(col("vec_id") < 16).orderBy(col("vec_id"))
        .select(col("embedding")).collect()
        .map(_.getSeq[Float](0).toArray.map(_.toDouble))
      val model = graft.sim.Ivf.IvfModel(cents)
      val standing = emb.filter(col("vec_id") % 5 =!= 2)
      val standingKept = graft.sim.Ivf.semDeDup(standing, model, tau = 0.4,
          censusKey = Some(s"$dir|semdedup16|standing5"))
        .filter(col("kept")).select(col("vec_id"))
        .join(emb, "vec_id")
      graft.sim.Ivf.semDeDupIncremental(standingKept,
          emb.filter(col("vec_id") % 5 === 2), model, tau = 0.4,
          censusKey = Some(s"$dir|semdedup16|kept5+batch5"))
        .orderBy(col("vec_id"))
    },

    // Distributed PCA (the dimensionality-reduction step semantic-dedup
    // runs before clustering): one corpus pass accumulates count/Σx/Σxxᵀ
    // through typed Aggregators (driver only holds the 64×64 covariance),
    // cyclic Jacobi diagonalizes it, and the per-component variance of
    // the SCAN-SIDE projection is re-measured distributedly — each row
    // proves projected_variance ≈ eigenvalue end-to-end. Float covariance
    // sums are partition-order dependent (like every float agg) →
    // rows-only; PcaSpec pins covariance vs an exact driver reference,
    // A·v = λ·v residuals, and decorrelation of projected coordinates.
    Q.unchecked("emb_pca_explained") { (s, dir) =>
      val emb = Tables(s, dir, "embeddings")
      val model = graft.sim.Pca.fit(emb, dim = 64)
      import s.implicits._
      val total = model.eigenvalues.sum
      val top = model.eigenvalues.take(8).zipWithIndex
        .map { case (ev, k) => (k + 1, ev, ev / total) }.toSeq
        .toDF("component", "eigenvalue", "explained_ratio")
      val n = emb.count().toDouble
      val projVar = graft.sim.Pca.project(emb, model, d = 8)
        .select(posexplode(col("pc")).as(Seq("pos", "v")))
        .groupBy((col("pos") + 1).as("component"))
        .agg(((sum(col("v") * col("v")) / n) -
          (sum(col("v")) / n) * (sum(col("v")) / n)).as("projected_variance"))
      top.join(projVar, "component")
        .select(col("component"), col("eigenvalue"), col("projected_variance"),
          col("explained_ratio"))
        .orderBy(col("component"))
    },

    // The PCA first pass's oracle-checkable face (VERDICT r8 #4): the
    // same one-scan covariance accumulation, run over INTEGER-quantized
    // coordinates (q = ⌊x·2^20⌋ — float→double exact, floor exact, so q
    // is a pure function of the parquet float in any engine) with all
    // sums in Long: order-invariant, hence hash-checkable, where the
    // float covariance is partition-order ulp-dependent. Emits the raw
    // counts (n, Σqᵢ, Σqⱼ, Σqᵢqⱼ) per upper-triangle entry — everything
    // the covariance/mean needs, before the one inexact division. The
    // oracle replays the quantization via UNNEST + self-join.
    Q("emb_pca_cov",
      """WITH u AS (SELECT vec_id, gs.i AS i,
           CAST(floor(CAST(embedding[gs.i + 1] AS DOUBLE) * 1048576)
             AS BIGINT) AS q
           FROM embeddings, generate_series(0, 63) AS gs(i))
         SELECT a.i AS i, b.i AS j,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(a.q) AS BIGINT) AS sum_i,
           CAST(SUM(b.q) AS BIGINT) AS sum_j,
           CAST(SUM(a.q * b.q) AS BIGINT) AS dot
         FROM u a JOIN u b ON a.vec_id = b.vec_id AND a.i <= b.i
         GROUP BY 1, 2 ORDER BY 1, 2""") { (s, dir) =>
      graft.sim.Pca.covarianceCounts(Tables(s, dir, "embeddings"), dim = 64)
        .select(col("i").cast("long").as("i"), col("j").cast("long").as("j"),
          col("n_vecs"), col("sum_i"), col("sum_j"), col("dot"))
        .orderBy(col("i"), col("j"))
    },

    // IVF-PQ recall: the memory-compressed ANN path (8×4-bit codes per
    // 64-dim vector ≈ 32× smaller than raw floats; ADC search touches
    // codes + a broadcast LUT, never corpus vectors) and its two-stage
    // production form (exact rerank of the ADC shortlist). recall@10 vs
    // the oracle-exact brute-force result, at partial and full probe —
    // full probe isolates pure quantization loss. Scores are approximate
    // by construction (like ann_lsh_topk/ann_ivf_recall) → rows-only;
    // PqSpec pins the ADC arithmetic against a driver-side reference.
    Q.unchecked("ann_pq_recall") { (s, dir) =>
      val emb = Tables(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 20)
      val ivf = ivfModel(s, dir, nCentroids = 16, dim = 64, iters = 2)
      val pq = pqModel(s, dir, m = 8, ksub = 16, dim = 64, iters = 2)
      val exact = Similarity.bruteForceTopK(emb, queries, k = 10)
        .select(col("q_id"), col("n_id"))
        .localCheckpoint() // |Q|·k rows, consumed by the join AND the denom
      val denom = exact.agg(count(lit(1)).as("n_exact"))
      val adc = Seq(4, 16).map { nProbe =>
        graft.sim.Pq.searchIvfPq(emb, queries, ivf, pq, k = 10, nProbe = nProbe)
          .select(lit("adc").as("mode"), lit(nProbe).as("n_probe"),
            col("q_id"), col("n_id"))
      }
      val reranked = graft.sim.Pq.searchIvfPqRerank(emb, queries, ivf, pq,
          k = 10, nProbe = 16, shortlist = 100)
        .select(lit("rerank").as("mode"), lit(16).as("n_probe"),
          col("q_id"), col("n_id"))
      (adc :+ reranked).reduce(_ unionByName _)
        .join(exact, Seq("q_id", "n_id")) // hits = IVF-PQ ∩ exact
        .groupBy(col("mode"), col("n_probe")).agg(count(lit(1)).as("hits"))
        .crossJoin(denom) // 3 × 1-row aggregate
        .select(col("mode"), col("n_probe"),
          (col("hits") / col("n_exact")).as("recall_at_10"))
        .orderBy(col("mode"), col("n_probe"))
    },

    // Embedding near-duplicate pairs by angular SimHash: ALL pairs whose
    // 36-bit Rademacher sign signatures differ in ≤ 8 bits, with the exact
    // cosine per pair. Deterministically complete (pigeonhole over 9
    // 4-bit chunks), so the oracle recomputes the identical signatures from
    // the same literal ±1 matrix. The cosine-threshold flavor
    // (Similarity.cosineDupPairs, recall < 1 by construction) stays
    // spec-verified. Fixture embeddings are i.i.d. random (max pairwise
    // cosine ≈ 0.48), so pairs here are signature-level near-collisions;
    // on a real near-dup corpus the same plan returns the true dup sets.
    Q("emb_dup_pairs", embSimhashDupSql(nPlanes = 36, dim = 64,
        maxHamming = 8, seed = 7L)) { (s, dir) =>
      Similarity.simhashDupPairs(Tables(s, dir, "embeddings"), maxHamming = 8,
          nPlanes = 36, chunkBits = 4, dim = 64, seed = 7L)
        .orderBy(col("a_id"), col("b_id"))
    },

    // The SCALE configuration of the same operator: Hamming ≤ 2 over three
    // 12-bit chunks — 4096 buckets/chunk, so candidate volume is
    // 3·n²/2^13 instead of 9·n²/2^5 (256× less; the loose ≤8-of-36 config
    // above fishes the binomial tail of an i.i.d. corpus, whose pair
    // density is a CONSTANT fraction of n² — output itself quadratic; see
    // SCALE.md "second decade"). An i.i.d. corpus has ~no Hamming-≤2 pairs,
    // so for non-vacuous evidence at every sf the corpus is augmented with
    // 50 PLANTED angular duplicates: vec·0.5 under a fresh id — a different
    // vector with the identical direction. Halving is exact in IEEE
    // arithmetic (exponent decrement), so sign bits — and the pigeonhole
    // guarantee — are preserved bit-exactly in both engines, and the
    // detector must recover exactly the 50 planted pairs (plus any natural
    // signature collisions). The oracle replays the same augmentation.
    Q("emb_dup_pairs_tight", embSimhashDupSql(nPlanes = 36, dim = 64,
        maxHamming = 2, seed = 7L, corpusSql = plantedCorpusSql)) { (s, dir) =>
      Similarity.simhashDupPairs(plantedCorpus(s, dir), maxHamming = 2,
          nPlanes = 36, chunkBits = 12, dim = 64, seed = 7L)
        .orderBy(col("a_id"), col("b_id"))
    },

    // Semantic-dedup survivor groups (the SemDeDup-shaped step): connected
    // components over the exact embedding near-dup graph, labels = min
    // vec_id per component — one row per corpus vector, group_id the
    // canonical survivor to keep. Same planted-duplicate corpus as
    // `emb_dup_pairs_tight` (each planted vector must land in its source's
    // group), same `dupGroups` CC engine as `doc_dup_groups`, recursive-CTE
    // closure oracle over the identical pair set.
    Q("emb_dup_groups", embSimhashGroupsSql(nPlanes = 36, dim = 64,
        maxHamming = 2, seed = 7L, corpusSql = plantedCorpusSql)) { (s, dir) =>
      val corpus = plantedCorpus(s, dir)
      val pairs = Similarity.simhashDupPairs(corpus, maxHamming = 2,
        nPlanes = 36, chunkBits = 12, dim = 64, seed = 7L)
      Dedup.dupGroups(corpus, pairs, idCol = "vec_id").orderBy(col("vec_id"))
    },

    // ---- multimodal plumbing (deterministic fake payloads) ----

    // Binary-column metadata: byte length and logical frame count.
    Q("mm_media_stats",
      """SELECT doc_id AS media_id, octet_length(encode(text)) AS n_bytes,
         CAST(ceil(octet_length(encode(text)) / 64.0) AS INT) AS n_frames
         FROM documents ORDER BY media_id""") { (s, dir) =>
      Multimodal.mediaFromDocuments(Tables(s, dir, "documents"))
        .select(col("media_id"), length(col("media")).as("n_bytes"),
          ceil(length(col("media")) / lit(64.0)).cast("int").as("n_frames"))
        .orderBy(col("media_id"))
    },

    // Decoded features via the batch-shaped mapPartitions codec. The codec
    // dispatches on magic bytes: document rows carry text bytes and take the
    // byte-statistics path — whose outputs (modular rolling checksum, mean
    // byte, metadata dims) the oracle replays in SQL (the fixture text is
    // pure ASCII, so DuckDB's per-character ascii() equals the byte value).
    // Three real PNG assets (Multimodal.PngFixtureAssets, build-time Base64
    // constants) are unioned in so the javax.imageio branch runs UNDER THE
    // DRIVER CHECK, not just in MultimodalSpec: their metadata dims are 0,
    // so the oracle's literal px_width/px_height/mean_byte rows — exact
    // arithmetic from the closed-form source bitmaps — can only match if
    // the engine genuinely decoded the pixels.
    Q("mm_decoded_features",
      """SELECT * FROM (
         SELECT doc_id AS media_id, octet_length(encode(text)) AS n_bytes,
         CAST(ceil(octet_length(encode(text)) / 64.0) AS INT) AS n_frames,
         CASE WHEN length(text) = 0 THEN CAST(0 AS BIGINT) ELSE
           list_reduce(list_transform(range(length(text)),
               i -> CAST(ascii(text[i+1]) AS BIGINT)),
             (a, b) -> (a * 31 + b) % 1000000007) END AS checksum,
         CASE WHEN length(text) = 0 THEN 0.0 ELSE
           CAST(list_sum(list_transform(range(length(text)), i -> ascii(text[i+1]))) AS DOUBLE)
             / octet_length(encode(text)) END AS mean_byte,
         64 AS px_width,
         CAST(octet_length(encode(text)) // 64 AS INT) AS px_height
         FROM documents
         UNION ALL
         SELECT 9000001, 218, 1, CAST(388385599 AS BIGINT),
                CAST(17264 AS DOUBLE) / 144, 8, 6
         UNION ALL
         SELECT 9000002, 212, 1, CAST(901232868 AS BIGINT),
                CAST(16820 AS DOUBLE) / 135, 5, 9
         UNION ALL
         SELECT 9000003, 215, 1, CAST(537020428 AS BIGINT),
                CAST(17816 AS DOUBLE) / 144, 16, 3
         ) ORDER BY media_id""") { (s, dir) =>
      import s.implicits._
      val media = Multimodal.mediaFromDocuments(Tables(s, dir, "documents"))
        .unionByName(Multimodal.pngFixtureMedia(s))
        .as[Multimodal.MediaRow]
      Multimodal.decodeFeatures(media).toDF().orderBy(col("media_id"))
    },

    // REAL audio decode under the driver check: six RIFF/WAV PCM16 assets
    // (closed-form integer sawtooth, Multimodal.Wav.synthesize) go through
    // the actual chunk-walking parser and per-window feature pass —
    // energy + zero-crossing rate per 160-sample window, integers until
    // one final IEEE division. The oracle replays the waveform
    // arithmetically and never sees the bytes, so a hash match proves the
    // container roundtrip (synthesize → RIFF → parse → window) is
    // faithful. WavSpec cross-validates the parser against the JDK's
    // javax.sound reader and pins chunk-order robustness.
    Q("mm_audio_features",
      """WITH assets AS (SELECT unnest(range(1, 7)) AS media_id),
         w AS (SELECT media_id, unnest(range(media_id * 3)) AS window_idx FROM assets),
         f AS (SELECT media_id, window_idx,
           list_sum(list_transform(range(160), j ->
             ((window_idx*160 + j + media_id) % 16 - 8)
               * ((window_idx*160 + j + media_id) % 16 - 8))) AS sumsq,
           list_sum(list_transform(range(159), j ->
             CASE WHEN (((window_idx*160 + j + media_id) % 16 - 8) < 0)
                  <> (((window_idx*160 + j + 1 + media_id) % 16 - 8) < 0)
             THEN 1 ELSE 0 END)) AS zc
           FROM w)
         SELECT media_id, window_idx, CAST(sumsq AS DOUBLE) / 160 AS rms2,
                CAST(zc AS BIGINT) AS zero_crossings
         FROM f ORDER BY media_id, window_idx""") { (s, dir) =>
      Multimodal.Wav.audioFeatures(Multimodal.Wav.audioFixtureMedia(s)).toDF()
        .select(col("media_id"), col("window_idx").cast("long").as("window_idx"),
          (col("sum_squares").cast("double") / lit(160)).as("rms2"),
          col("zero_crossings"))
        .orderBy(col("media_id"), col("window_idx"))
    },

    // Inverted index: token → (df, tf, capped posting list) — the
    // retrieval structure behind exact-term search and contamination
    // audits. Per-doc term counts combine map-side on (token, doc_id);
    // the per-token rollup caps posting lists at 20 ids through the
    // bounded BottomKIds aggregator BEFORE the shuffle, so stopwords
    // never funnel their full document list onto one reducer. df/tf are
    // exact; the posting sample is the smallest-20 ids, identical in
    // both engines.
    Q("doc_inverted_index",
      """WITH td AS (
           SELECT token, doc_id, COUNT(*) AS tf_doc FROM (
             SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS token
             FROM documents) WHERE token <> '' GROUP BY token, doc_id)
         SELECT token, CAST(COUNT(*) AS BIGINT) AS df,
           CAST(SUM(tf_doc) AS BIGINT) AS tf,
           array_to_string(list_slice(list_sort(list(doc_id)), 1, 20), ',')
             AS postings
         FROM td GROUP BY token ORDER BY token""") { (s, dir) =>
      Text.invertedIndex(docsKernel(s, dir), postingCap = 20)
        .orderBy(col("token"))
    },

    // Graph audit of the near-dup pair graph: per-vertex triangle counts
    // and local clustering coefficients. Dup clusters are cliques, so
    // clustering ≈ 1 is the healthy signature; a high-degree low-
    // clustering vertex is a hub stitching unrelated groups — the
    // classic near-dup false-positive smell. Engine side enumerates each
    // triangle once at its (degree, id)-minimal vertex over degree-
    // oriented edges (wedge volume O(m^1.5) regardless of hub degree);
    // the oracle 3-way-joins the same PPJoin-proven edge set directly.
    // Exact integers + one guarded division → bit-identical.
    Q("doc_dup_triangles",
      """WITH d AS (SELECT doc_id, lang, source,
           list_distinct(regexp_split_to_array(text, '\s+')) AS w FROM documents),
         e AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
           FROM d a JOIN d b ON a.lang = b.lang AND a.source = b.source
             AND a.doc_id < b.doc_id
           WHERE len(list_intersect(a.w, b.w)) /
               (len(a.w) + len(b.w) - len(list_intersect(a.w, b.w))) >= 0.8),
         sym AS (SELECT a_id AS u, b_id AS v FROM e
                 UNION ALL SELECT b_id, a_id FROM e),
         deg AS (SELECT u AS v_id, CAST(COUNT(*) AS BIGINT) AS deg
                 FROM sym GROUP BY 1),
         tri AS (SELECT e1.a_id AS x, e1.b_id AS y, e2.b_id AS z
           FROM e e1 JOIN e e2 ON e2.a_id = e1.b_id
                     JOIN e e3 ON e3.a_id = e1.a_id AND e3.b_id = e2.b_id),
         tc AS (SELECT v_id, CAST(COUNT(*) AS BIGINT) AS triangles FROM (
             SELECT x AS v_id FROM tri UNION ALL SELECT y FROM tri
             UNION ALL SELECT z FROM tri) GROUP BY 1)
         SELECT deg.v_id, deg.deg,
           COALESCE(tc.triangles, 0) AS triangles,
           CASE WHEN deg.deg >= 2 THEN
             CAST(2 * COALESCE(tc.triangles, 0) AS DOUBLE)
               / (deg.deg * (deg.deg - 1))
           ELSE 0.0 END AS clustering
         FROM deg LEFT JOIN tc USING (v_id) ORDER BY v_id""") { (s, dir) =>
      val edges = jaccardPairGraph(s, dir).select(col("a_id"), col("b_id"))
      // Direct edge-iterator triangleStats (SortedIntersectElems merge
      // walks over broadcast out-adjacency — 54 s → 9.5 s at sf1; the
      // old wedge join materialized 408M rows). The twin-contraction
      // alternative (Graph.triangleStatsContracted) was measured too:
      // this fixture's communities are near-cliques with DISTINCT token
      // sets (28,496 twin groups over 34,732 verts; H wedge mass 408M
      // of 409M), so contraction collapses nothing and its own overhead
      // loses to the direct path — it stays the library path for
      // clique-dominated graphs (exact-dup-heavy web corpora).
      graft.ops.Graph.triangleStats(edges).orderBy(col("v_id"))
    },

    // The SCALE PATH for the triangle audit: DOULION edge sparsification
    // at p = 1/4 — the registered configuration for graphs whose wedge
    // mass makes the exact audit the most expensive query in the suite
    // (sf1 dup graph: 407M wedges; measurements in SCALE.md). The
    // per-edge coin is md5(a|b) mod 4 — deterministic,
    // so the sparsified graph IS the oracle's sparsified graph and a
    // SAMPLING estimator sits under an exact hash-match: every triangle
    // survives with p³, est = kept · 4³, all BIGINT. Concentration on
    // triangle-dense graphs (the audit's target) is GraphSpec's job;
    // here DuckDB replays the identical coin, 3-way-joins the kept
    // edges, and must agree bit-for-bit.
    Q("doc_dup_triangles_sampled",
      """WITH d AS (SELECT doc_id, lang, source,
           list_distinct(regexp_split_to_array(text, '\s+')) AS w FROM documents),
         e AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
           FROM d a JOIN d b ON a.lang = b.lang AND a.source = b.source
             AND a.doc_id < b.doc_id
           WHERE len(list_intersect(a.w, b.w)) /
               (len(a.w) + len(b.w) - len(list_intersect(a.w, b.w))) >= 0.8),
         k AS (SELECT a_id, b_id FROM e
           WHERE list_reduce(list_transform(range(8),
               i -> CAST(strpos('0123456789abcdef',
                 substr(md5(CAST(a_id AS VARCHAR) || '|' ||
                   CAST(b_id AS VARCHAR)), i + 1, 1)) - 1 AS BIGINT)),
             (a, b) -> a * 16 + b) % 4 < 1),
         tri AS (SELECT e1.a_id AS x, e1.b_id AS y, e2.b_id AS z
           FROM k e1 JOIN k e2 ON e2.a_id = e1.b_id
                     JOIN k e3 ON e3.a_id = e1.a_id AND e3.b_id = e2.b_id)
         SELECT (SELECT COUNT(*) FROM e) AS total_edges,
           (SELECT COUNT(*) FROM k) AS kept_edges,
           (SELECT COUNT(*) FROM tri) AS kept_triangles,
           (SELECT COUNT(*) * 64 FROM tri) AS est_triangles""") { (s, dir) =>
      val edges = jaccardPairGraph(s, dir).select(col("a_id"), col("b_id"))
      graft.ops.Graph.triangleCountSampled(edges, keepNum = 1, keepDen = 4)
    },

    // k-core of the near-dup graph: the dense duplication BACKBONE.
    // Boilerplate/template clusters are near-cliques — every member
    // survives the k=3 peel — while thin accidental chains (the
    // false-positive shape) peel away; the survivors are the clusters
    // a SemDeDup-style keep-one/prune-the-cluster policy acts on.
    // Synchronous peeling for a FIXED 6 rounds (convergence-checked on
    // the fixtures: round 7 is a no-op), so DuckDB unrolls the
    // identical recurrence one CTE pair per round and the iterative
    // engine result sits under an exact hash-match.
    Q("doc_dup_kcore", kCoreOracleSql(k = 3, rounds = 6)) { (s, dir) =>
      graft.ops.Graph.kCore(
          jaccardPairGraph(s, dir).select(col("a_id"), col("b_id")),
          k = 3, rounds = 6)
        .orderBy(col("v_id"))
    },

    // The triangle audit on the REALISTIC corpus: the fixture vocabulary
    // makes the dup graph near-clique (407M wedges at sf1 — the audit is
    // output-mass-bound there by the graph itself), so this twin runs the
    // identical plan over the Zipf corpus' sparse dup graph and re-proves
    // every round that the wedge volume — and hence the cost — collapses
    // when the edge set is realistic (planted near-dup pairs only). Same
    // 3-way-join oracle shape as doc_dup_triangles, corpus generated
    // bit-identically in both engines.
    Q("doc_dup_triangles_zipf",
      s"""WITH z AS (${graft.gen.ZipfCorpus.sql}),
         d AS (SELECT doc_id,
           list_distinct(regexp_split_to_array(text, '\\s+')) AS w FROM z),
         e AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
           FROM d a JOIN d b ON a.doc_id < b.doc_id
           WHERE len(list_intersect(a.w, b.w)) /
               (len(a.w) + len(b.w) - len(list_intersect(a.w, b.w))) >= 0.8),
         sym AS (SELECT a_id AS u, b_id AS v FROM e
                 UNION ALL SELECT b_id, a_id FROM e),
         deg AS (SELECT u AS v_id, CAST(COUNT(*) AS BIGINT) AS deg
                 FROM sym GROUP BY 1),
         tri AS (SELECT e1.a_id AS x, e1.b_id AS y, e2.b_id AS z
           FROM e e1 JOIN e e2 ON e2.a_id = e1.b_id
                     JOIN e e3 ON e3.a_id = e1.a_id AND e3.b_id = e2.b_id),
         tc AS (SELECT v_id, CAST(COUNT(*) AS BIGINT) AS triangles FROM (
             SELECT x AS v_id FROM tri UNION ALL SELECT y FROM tri
             UNION ALL SELECT z FROM tri) GROUP BY 1)
         SELECT deg.v_id, deg.deg,
           COALESCE(tc.triangles, 0) AS triangles,
           CASE WHEN deg.deg >= 2 THEN
             CAST(2 * COALESCE(tc.triangles, 0) AS DOUBLE)
               / (deg.deg * (deg.deg - 1))
           ELSE 0.0 END AS clustering
         FROM deg LEFT JOIN tc USING (v_id) ORDER BY v_id""") { (s, dir) =>
      val edges = zipfPairGraph(s, dir).select(col("a_id"), col("b_id"))
      graft.ops.Graph.triangleStats(edges).orderBy(col("v_id"))
    },

    // BM25 retrieval over the corpus: top-10 documents for the query
    // {hash, join, stream} — the ranked-search surface the inverted
    // index indexes. Rational idf (N−df+½)/(df+½), no libm ln (the
    // tfidf determinism trick); per-term scores pivot to a FIXED column
    // order so the float sum is partition-invariant; k1=1.2, b=0.75
    // folded into literals both engines parse identically. Term filter
    // runs scan-side; df and corpus stats are 1-row/3-row broadcasts;
    // the top-k plans as TakeOrdered.
    Q("doc_bm25_topk",
      """WITH dl AS (SELECT doc_id,
           CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT) AS dl
           FROM documents),
         stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
         tf AS (SELECT doc_id, token, CAST(COUNT(*) AS DOUBLE) AS tf FROM (
             SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS token
             FROM documents)
           WHERE token IN ('hash', 'join', 'stream') GROUP BY doc_id, token),
         df AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY token),
         sc AS (SELECT tf.doc_id, tf.token,
           ((n - df + 0.5) / (df + 0.5)) *
             ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl / avgdl)))) AS s
           FROM tf JOIN df USING (token) JOIN dl USING (doc_id) CROSS JOIN stats),
         p AS (SELECT doc_id,
           COALESCE(MAX(CASE WHEN token = 'hash' THEN s END), 0) +
           COALESCE(MAX(CASE WHEN token = 'join' THEN s END), 0) +
           COALESCE(MAX(CASE WHEN token = 'stream' THEN s END), 0) AS score
           FROM sc GROUP BY doc_id)
         SELECT doc_id, score,
           CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS INT) AS rnk
         FROM p ORDER BY score DESC, doc_id LIMIT 10""") { (s, dir) =>
      Text.bm25TopK(docsKernel(s, dir),
          terms = Seq("hash", "join", "stream"), topK = 10)
        .orderBy(col("score").desc, col("doc_id"))
    },

    // Incremental index maintenance: the standing index over the first
    // half of the corpus absorbs the second half as a new batch — and
    // must equal the full rebuild, which is what the oracle computes
    // directly (cap prefix-closure: smallest-k of a union is the
    // smallest-k of the sides' smallest-k). The ingest-time shape: the
    // standing side's corpus is never re-read.
    Q("doc_inverted_index_incremental",
      """WITH td AS (
           SELECT token, doc_id, COUNT(*) AS tf_doc FROM (
             SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS token
             FROM documents) WHERE token <> '' GROUP BY token, doc_id)
         SELECT token, CAST(COUNT(*) AS BIGINT) AS df,
           CAST(SUM(tf_doc) AS BIGINT) AS tf,
           array_to_string(list_slice(list_sort(list(doc_id)), 1, 20), ',')
             AS postings
         FROM td GROUP BY token ORDER BY token""") { (s, dir) =>
      val docs = docsKernel(s, dir)
      val standing = Text.invertedIndex(docs.filter(col("doc_id") < 250),
        postingCap = 20)
      Text.invertedIndexMerge(standing,
          docs.filter(col("doc_id") >= 250), postingCap = 20)
        .orderBy(col("token"))
    },

    // Entity resolution: fuzzy customer pairs within nation blocks —
    // names within 2 Levenshtein edits, each unordered pair once. The
    // blocked self-join is the classic Fellegi–Sunter candidate shape:
    // quadratic only within a block, with the length pre-filter ahead of
    // the bounded-threshold DP and grid salting on oversized blocks
    // (EntitySpec). Both engines compute classic unit-cost edit distance,
    // so the integer distances hash-match exactly.
    Q("cust_fuzzy_pairs",
      """SELECT a.c_custkey AS a_id, b.c_custkey AS b_id,
         CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist
         FROM customer a JOIN customer b
           ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
         WHERE abs(length(a.c_name) - length(b.c_name)) <= 2
           AND levenshtein(a.c_name, b.c_name) <= 2
         ORDER BY a_id, b_id""") { (s, dir) =>
      Entity.editDistancePairs(Tables(s, dir, "customer"), maxDist = 2,
          idCol = "c_custkey", strCol = "c_name",
          blockCols = Seq("c_nationkey"),
          // customer is one parquet split at every fixture sf — without
          // spreading the probe, ONE task would run all block² DPs
          probePartitions = s.sessionState.conf.numShufflePartitions)
        .orderBy(col("a_id"), col("b_id"))
    },

    // INCREMENTAL entity resolution — the day-over-day fuzzy join:
    // every 9th customer arrives as the new batch; batch deletion
    // variants probe the (standing ∪ batch) variant index — one
    // relation reaches every batch-touching pair, since a qualifying
    // pair shares a variant — and old×old DP work never regenerates.
    // Oracle = the full pair relation restricted to batch-touching
    // pairs.
    Q("cust_fuzzy_incremental",
      """SELECT a.c_custkey AS a_id, b.c_custkey AS b_id,
         CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist
         FROM customer a JOIN customer b
           ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
         WHERE (a.c_custkey % 9 = 4 OR b.c_custkey % 9 = 4)
           AND abs(length(a.c_name) - length(b.c_name)) <= 2
           AND levenshtein(a.c_name, b.c_name) <= 2
         ORDER BY a_id, b_id""") { (s, dir) =>
      val cust = Tables(s, dir, "customer")
      Entity.editDistancePairsIncremental(
          cust.filter(col("c_custkey") % 9 === 4),
          cust.filter(col("c_custkey") % 9 =!= 4),
          maxDist = 2, idCol = "c_custkey", strCol = "c_name",
          blockCols = Seq("c_nationkey"),
          probePartitions = s.sessionState.conf.numShufflePartitions)
        .orderBy(col("a_id"), col("b_id"))
    },

    // ================= md5-rank subset twins ==========================
    // One sf10-SWEEPABLE oracle row per heavy pair family (round-14
    // verdict ask #1): the production rows' DuckDB oracles are quadratic
    // in the corpus and had to sit out the third-decade sweep, leaving
    // their sf10 correctness evidence indirect. Each twin below runs the
    // UNMODIFIED production kernel on the deterministic md5-rank subset
    // (md5Subset / md5SubsetSql: fixed N rows sampled across the whole
    // fixture), so the oracle replay is O(N²) = constant at every sf
    // while the engine-side subset step itself scans and ranks the full
    // table. At sf ≤ 0.01 the subset covers most or all of the table —
    // the twins bite at every gate scale, never vacuously.

    // Jaccard family: the PPJoin prefix-filter plan on the subset.
    Q("doc_jaccard_pairs_sub",
      s"""WITH sub AS (${md5SubsetSql("documents", "doc_id", SubsetDocs)}),
         d AS (SELECT doc_id, lang, source,
           list_distinct(regexp_split_to_array(text, '\\s+')) AS w FROM sub)
         SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           len(list_intersect(a.w, b.w)) /
             (len(a.w) + len(b.w) - len(list_intersect(a.w, b.w))) AS jaccard
         FROM d a JOIN d b ON a.lang = b.lang AND a.source = b.source
           AND a.doc_id < b.doc_id
         WHERE len(list_intersect(a.w, b.w)) /
             (len(a.w) + len(b.w) - len(list_intersect(a.w, b.w))) >= 0.8
         ORDER BY a_id, b_id""") { (s, dir) =>
      Dedup.prefixJaccardPairs(
          md5Subset(Tables(s, dir, "documents"), "doc_id", SubsetDocs),
          blockCols = Seq("lang", "source"), threshold = 0.8)
        .orderBy(col("a_id"), col("b_id"))
    },

    // Containment family: probe-prefix x inverted-index AllPairs on the
    // subset (same asymmetric alpha-bound, bloom witness, grid salting).
    Q("doc_containment_pairs_sub",
      s"""WITH sub AS (${md5SubsetSql("documents", "doc_id", SubsetDocs)}),
         d AS (SELECT doc_id, lang, source,
           list_distinct(regexp_split_to_array(text, '\\s+')) AS w FROM sub)
         SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           len(list_intersect(a.w, b.w)) / len(a.w) AS containment
         FROM d a JOIN d b ON a.lang = b.lang AND a.source = b.source
           AND a.doc_id <> b.doc_id
         WHERE len(list_intersect(a.w, b.w)) / len(a.w) >= 0.9
         ORDER BY a_id, b_id""") { (s, dir) =>
      Dedup.containmentPairs(
          md5Subset(Tables(s, dir, "documents"), "doc_id", SubsetDocs),
          blockCols = Seq("lang", "source"), threshold = 0.9)
        .orderBy(col("a_id"), col("b_id"))
    },

    // Dup-graph family: pair generation + union-find connected
    // components on the subset; oracle = recursive-CTE closure, one row
    // per subset document.
    Q("doc_dup_groups_sub",
      s"""WITH RECURSIVE sub AS (${md5SubsetSql("documents", "doc_id", SubsetDocs)}),
         d AS (SELECT doc_id, lang, source,
           list_distinct(regexp_split_to_array(text, '\\s+')) AS w FROM sub),
         p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
           FROM d a JOIN d b ON a.lang = b.lang AND a.source = b.source
             AND a.doc_id < b.doc_id
           WHERE len(list_intersect(a.w, b.w)) /
               (len(a.w) + len(b.w) - len(list_intersect(a.w, b.w))) >= 0.8),
         e AS (SELECT a_id AS s, b_id AS t FROM p
               UNION SELECT b_id, a_id FROM p),
         reach(s, t) AS (SELECT s, t FROM e
           UNION SELECT r.s, e.t FROM reach r JOIN e ON r.t = e.s)
         SELECT doc_id, CAST(LEAST(doc_id, coalesce(m.mn, doc_id)) AS BIGINT) AS group_id
         FROM sub LEFT JOIN
           (SELECT s, min(t) AS mn FROM reach GROUP BY s) m ON m.s = doc_id
         ORDER BY doc_id""") { (s, dir) =>
      val sub = md5Subset(Tables(s, dir, "documents"), "doc_id", SubsetDocs)
      val pairs = Dedup.prefixJaccardPairs(sub,
        blockCols = Seq("lang", "source"), threshold = 0.8)
      Dedup.dupGroups(sub, pairs).orderBy(col("doc_id"))
    },

    // Fuzzy (entity-resolution) family: nation-blocked Levenshtein
    // pairs through the native bounded-DP kernel on the subset.
    Q("cust_fuzzy_pairs_sub",
      s"""WITH sub AS (${md5SubsetSql("customer", "c_custkey", SubsetCust)})
         SELECT a.c_custkey AS a_id, b.c_custkey AS b_id,
           CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist
         FROM sub a JOIN sub b
           ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
         WHERE abs(length(a.c_name) - length(b.c_name)) <= 2
           AND levenshtein(a.c_name, b.c_name) <= 2
         ORDER BY a_id, b_id""") { (s, dir) =>
      Entity.editDistancePairs(
          md5Subset(Tables(s, dir, "customer"), "c_custkey", SubsetCust),
          maxDist = 2, idCol = "c_custkey", strCol = "c_name",
          blockCols = Seq("c_nationkey"),
          probePartitions = s.sessionState.conf.numShufflePartitions)
        .orderBy(col("a_id"), col("b_id"))
    },

    // SemDeDup family: seeded-cell dominance on the subset (centroids
    // stay the FULL table's seed vectors, as in emb_semdedup — the
    // subset bounds the pair volume, not the model).
    Q("emb_semdedup_sub",
      semDeDupOracleSql(md5SubsetSql("embeddings", "vec_id", SubsetVecs))) { (s, dir) =>
      val emb = Tables(s, dir, "embeddings")
      val cents = emb.filter(col("vec_id") < 16).orderBy(col("vec_id"))
        .select(col("embedding")).collect()
        .map(_.getSeq[Float](0).toArray.map(_.toDouble))
      graft.sim.Ivf.semDeDup(md5Subset(emb, "vec_id", SubsetVecs),
          graft.sim.Ivf.IvfModel(cents), tau = 0.4,
          censusKey = Some(s"$dir|semdedup16|md5sub"))
        .orderBy(col("vec_id"))
    },

    // Embedding-pair family: angular-SimHash near-dup pairs with exact
    // cosine, pigeonhole-complete on the subset.
    Q("emb_dup_pairs_sub", embSimhashDupSql(nPlanes = 36, dim = 64,
        maxHamming = 8, seed = 7L,
        corpusSql = md5SubsetSql("embeddings", "vec_id", SubsetVecs))) { (s, dir) =>
      Similarity.simhashDupPairs(
          md5Subset(Tables(s, dir, "embeddings"), "vec_id", SubsetVecs),
          maxHamming = 8, nPlanes = 36, chunkBits = 4, dim = 64, seed = 7L)
        .orderBy(col("a_id"), col("b_id"))
    },

    // Contamination family: max-train-cosine per eval vector over the
    // subset (eval/train split by the production modulus).
    Q("emb_contamination_sub",
      s"""WITH sub AS (${md5SubsetSql("embeddings", "vec_id", SubsetVecs)}),
         v AS (SELECT vec_id, embedding,
             sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x))) AS nrm
           FROM sub),
         te AS (SELECT * FROM v WHERE vec_id % 7 = 3),
         tr AS (SELECT * FROM v WHERE vec_id % 7 <> 3),
         p AS (SELECT te.vec_id AS test_id, tr.vec_id AS train_id,
             list_sum(list_transform(range(len(te.embedding)),
               i -> CAST(te.embedding[i+1] AS DOUBLE) * CAST(tr.embedding[i+1] AS DOUBLE)))
               / (te.nrm * tr.nrm) AS cos
           FROM te CROSS JOIN tr),
         r AS (SELECT test_id, train_id, cos,
             ROW_NUMBER() OVER (PARTITION BY test_id
               ORDER BY cos DESC, train_id) AS rn
           FROM p)
         SELECT test_id, train_id AS nearest_train_id, cos AS max_cos,
           cos >= 0.4 AS contaminated
         FROM r WHERE rn = 1 ORDER BY test_id""") { (s, dir) =>
      val sub = md5Subset(Tables(s, dir, "embeddings"), "vec_id", SubsetVecs)
      Similarity.testContamination(sub.filter(col("vec_id") % 7 =!= 3),
          sub.filter(col("vec_id") % 7 === 3), tau = 0.4)
        .orderBy(col("test_id"))
    },

    // MinHash family (round-15 verdict ask #1): the id-capped md5 twin
    // above is NON-vacuous only while the cap covers a planted pair —
    // at sf10 its 2,000-doc prefix holds dups whose sources live
    // anywhere in 500 k docs, and the row swept 0-vs-0 (an empty-set
    // equality). This twin runs the UNMODIFIED production kernel on
    // the DUP-CLOSED slice (dupClosedSlice: first SubsetDups planted
    // dups by id + their text-matched sources, ≤ 2·SubsetDups docs at
    // every sf), so the banded-LSH machinery is hash-checked at the
    // third decade on a slice that PROVABLY carries near-dup pairs.
    Q("doc_minhash_pairs_md5_sub",
      minhashMd5Sql(candExtra = "",
        docsSql = dupClosedSliceSql(SubsetDups))) { (s, dir) =>
      Dedup.minhashPairsMd5(
          dupClosedSlice(Tables(s, dir, "documents"), SubsetDups),
          threshold = 0.5)
        .orderBy(col("a_id"), col("b_id"))
    })
}
