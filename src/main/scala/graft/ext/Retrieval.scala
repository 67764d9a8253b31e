package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Pin._

/** Hybrid retrieval — fuse the engine's SPARSE keyword search
  * ([[TextAnalysis.searchDocs]], integer tf-idf) with its DENSE
  * embedding search ([[Similarity]] exact cosine top-k) by reciprocal-
  * rank fusion, the standard way modern retrieval stacks combine
  * lexical and semantic signals (e.g. for sourcing training data by
  * topic). RRF is rank-only, so the fusion is INTEGER-EXACT:
  * `rrf = Σ_systems 10⁶ div (rrfK + rank)` — no float score
  * calibration between systems, bit-reproducible in any engine.
  */
object Retrieval {

  /** Top-`k` documents per query under reciprocal-rank fusion of the
    * sparse and dense rankings. `queries` is the sparse relation
    * (`query_id`, `term`); the DENSE side uses each distinct query id
    * as a corpus vector id ([[Similarity.topKByIdsNative]]) — `docs`
    * and `emb` must share one id space (`doc_id` ↔ `vec_id`, the
    * TESTDATA contract). A document ranked by only one system scores
    * that system's term alone (the other contributes 0) — standard RRF.
    *
    * Output: (query_id, doc_id, rrf, sparse_rank, dense_rank, rank) —
    * the per-system ranks ride along (null = unranked by that system)
    * so a caller can audit why a document fused where it did.
    *
    * Scale shape: both arms are the engine's existing scale paths (the
    * broadcast-cut corpus scan and the broadcast-query cosine scan, each
    * ending in a bounded-heap TopKPerKey cut); the fusion itself joins
    * two ≤ |Q|·kArm relations — negligible — and the final per-query
    * top-k is one more TopKPerKey. Queries are collected to the driver
    * only to derive the dense id list — bounded by |Q| by definition.
    */
  def hybridSearch(docs: DataFrame, emb: DataFrame, queries: DataFrame,
                   k: Int = 10,
                   rrfK: Int = 60): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(rrfK >= 1, s"rrfK must be >= 1, got $rrfK")
    // null-safe: a null query_id (or a non-numeric id the cast nulls
    // out) is a contract violation surfaced loudly, not an NPE from
    // Row.getLong deep in the dense arm
    val queryIds = numericQueryIds(queries)
    val sparse = TextAnalysis
      .searchDocs(docs, queries, 20)
      .select(col("query_id"), col("doc_id").as("doc_id"),
        col("rank").as("sparse_rank"))
    val dense = Similarity
      .topKByIdsNative(emb, queryIds, 20)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rank").as("dense_rank"))
    rrfFuse(sparse, dense, k, rrfK)
  }

  /** PRODUCTION hybrid retrieval: BM25 lexical arm + a PERSISTED-INDEX
    * dense arm (multi-probe search over a pre-built LSH index —
    * [[Similarity.annTopKMultiProbeIndexed]]) fused by RRF. This is
    * the shape that holds at corpus scale: the lexical arm is one
    * broadcast-cut corpus scan, the dense arm touches only the probed
    * index buckets (zero training, zero sign-bucket computation at
    * query time), and fusion joins two ≤ |Q|·kArm relations. The
    * inline [[hybridSearch]] (exact brute-force dense arm) remains the
    * recall baseline this approximates — when the index covers the
    * corpus and the probe set finds the true neighbors, the two fuse
    * identically (spec-asserted).
    *
    * Output: (query_id, doc_id, rrf, bm25_rank, dense_rank, rank) —
    * same audit shape as [[hybridSearch]].
    */
  def hybridSearchIndexed(docs: DataFrame, queries: DataFrame,
                          indexName: String, k: Int = 10): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val queryIds = numericQueryIds(queries)
    val bm25 = TextAnalysis
      .searchDocsBm25(docs, queries, 20)
      .select(col("query_id"), col("doc_id").as("doc_id"),
        col("rank").as("bm25_rank"))
    val dense = Similarity
      .annTopKMultiProbeIndexed(docs.sparkSession, indexName, queryIds,
        20, 4, probeBits = 1)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rank").as("dense_rank"))
    rrfFuseAll(Seq(bm25, dense), k, 60)
  }

  /** Distinct numeric query ids for a dense arm — |Q|-bounded driver
    * collect, loud on the null/non-numeric contract violation.
    */
  private def numericQueryIds(queries: DataFrame): Seq[Long] = {
    val ids = queries.select(col("query_id").cast("long").as("qid"))
      .filter(col("qid").isNotNull)
      .distinct().collect().map(_.getLong(0)).sorted.toSeq
    require(ids.nonEmpty,
      "the queries relation has no non-null numeric query_id — dense-arm " +
        "ids must cast to long (the TESTDATA vec_id contract)")
    ids
  }

  /** The fusion primitive [[hybridSearch]] is built on, public so ANY
    * two ranked arms fuse — e.g. sparse + the persisted-index ANN
    * searches ([[Similarity.annTopKIndexed]], ivfPqTopKRerankedIndexed)
    * for the production dense arm, or two dense searches over different
    * embedding columns. Each arm is (query_id, doc_id, <rankCol>) with
    * rank 1 = best; arms may rank disjoint documents (full-outer
    * fusion, absent arm contributes 0).
    */
  def rrfFuse(a: DataFrame, b: DataFrame, k: Int, rrfK: Int = 60): DataFrame =
    rrfFuseAll(Seq(a, b), k, rrfK)

  /** N-ARY reciprocal-rank fusion — [[rrfFuse]] generalized to any
    * number of arms (e.g. tf-idf + BM25 + dense: lexical precision,
    * saturation-weighted lexical recall, and semantic match fused in
    * one ranking). Same per-arm contract ((query_id, doc_id, <rank>),
    * rank 1 = best, distinct rank names); a document absent from an
    * arm takes 0 from it. Fusion joins `arms.size − 1` query-bounded
    * (≤ |Q|·kArm-row) relations and cuts on the bounded-heap
    * TopKPerKey operator — arm count scales the tiny fusion join, not
    * any corpus-sized work.
    */
  def rrfFuseAll(arms: Seq[DataFrame], k: Int, rrfK: Int = 60): DataFrame = {
    require(arms.size >= 2, s"need at least 2 arms to fuse, got ${arms.size}")
    require(k > 0, s"k must be positive, got $k")
    require(rrfK >= 1, s"rrfK must be >= 1, got $rrfK")
    import org.apache.spark.sql.graft.Bridge
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending, SortOrder}
    import org.apache.spark.sql.expressions.Window
    val ranks = arms.map(df =>
      df.columns.filterNot(Set("query_id", "doc_id")) match {
        case Array(r) => r
        case other => throw new IllegalArgumentException(
          s"an RRF arm needs exactly (query_id, doc_id, <rank>), got " +
            s"extra columns ${other.mkString(",")}")
      })
    require(ranks.distinct.size == ranks.size,
      s"arms' rank columns must be named distinctly, got $ranks")
    ranks.foreach(r => require(r != "rrf" && r != "rank",
      s"an arm's rank column is named '$r', which collides with a fusion " +
        "output column — rename it (e.g. sparse_rank / dense_rank)"))
    // rank names are caller-supplied: backtick-quote them into the div
    // expression (and the final select) so dots, spaces, or reserved
    // words in a name can't break or re-target the generated SQL
    def bq(name: String): String = "`" + name.replace("`", "``") + "`"
    val joined = arms.reduce(
      (a, b) => a.join(b, Seq("query_id", "doc_id"), "full_outer"))
    val fused = joined.withColumn("rrf",
      ranks.map(r =>
        coalesce(expr(s"1000000 div ($rrfK + ${bq(r)})"), lit(0L)))
        .reduce(_ + _))
    val top = graft.plans.TopKPerKey(
      Seq(UnresolvedAttribute("query_id")),
      Seq(SortOrder(UnresolvedAttribute("rrf"), Descending),
        SortOrder(UnresolvedAttribute("doc_id"), Ascending)),
      k, Bridge.logicalPlan(fused))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf").desc, col("doc_id"))
    Bridge.ofRows(arms.head.sparkSession, top)
      .withColumn("rank", row_number().over(w).cast("long"))
      .select(Seq(col("query_id"), col("doc_id"), col("rrf")) ++
        ranks.map(n => col(bq(n))) :+ col("rank"): _*)
  }

  /** MAXIMAL-MARGINAL-RELEVANCE diversified re-ranking (Carbonell &
    * Goldstein 1998) over the dense arm — the standard fix for a
    * top-k full of near-identical passages when sourcing by topic:
    * greedily select `k` of the top-`kCand` cosine candidates, each
    * step taking the argmax of
    *
    *   mmr = λ·rel − (100 − λ)·maxSim(selected)     (λ = `lambdaX100`)
    *
    * with rel and sim BOTH on the engine's exact integer cosine grain
    * (`round(round(cos, 6)·10⁶)` — the 6-dp cosine every dense oracle
    * already gates, lifted to ×10⁶ integers, so the whole greedy
    * trajectory is integer arithmetic and a second engine replays
    * every selection bit-for-bit; the first pick's penalty term is 0).
    * Ties break (score DESC, id ASC) — a total order.
    *
    * Output: (query_id, neighbor_id, mmr_rank 1..k, mmr_score). A
    * query with fewer than k candidates yields fewer rows (disclosed
    * by shape, not padded).
    *
    * Scale shape: candidates come from the existing bounded-heap
    * top-k scan; everything after is QUERY-BOUNDED — the pairwise sim
    * relation is |Q|·kCand² rows (kCand ≤ 64 enforced), and each of
    * the k greedy rounds is one anti-join + one partial-agg argmax
    * over it, with the selected set pinned per round
    * (|Q|·t rows) so the plan does not re-derive the trajectory.
    */
  def mmrRerank(emb: DataFrame, queryIds: Seq[Long], kCand: Int = 20,
                k: Int = 5, lambdaX100: Int = 70): DataFrame = {
    require(kCand >= 1 && kCand <= 64,
      s"kCand must be in [1, 64], got $kCand")
    require(k >= 1 && k <= kCand, s"k must be in [1, kCand=$kCand], got $k")
    require(lambdaX100 >= 0 && lambdaX100 <= 100,
      s"lambdaX100 must be in [0, 100], got $lambdaX100")
    val lam = lambdaX100.toLong
    val cand = Similarity.topKByIdsNative(emb, queryIds, kCand)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cos") * 1e6, 0).cast("long").as("__mm_rel"))
      .pin()
    val cv = cand.join(
      emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("__mm_v")),
      "neighbor_id")
    val aSide = cv.select(col("query_id"), col("neighbor_id").as("__mm_ia"),
      col("__mm_v").as("__mm_va"))
    val bSide = cv.select(col("query_id"), col("neighbor_id").as("__mm_ib"),
      col("__mm_v").as("__mm_vb"))
    val sims = aSide.join(bSide, Seq("query_id"))
      .filter(col("__mm_ia") =!= col("__mm_ib"))
      .select(col("query_id"), col("__mm_ia"), col("__mm_ib"),
        round(round(Similarity.cosine(col("__mm_va"), col("__mm_vb")), 6)
          * 1e6, 0).cast("long").as("__mm_sim"))
      .pin()
    def pick(scored: DataFrame): DataFrame = scored
      .groupBy(col("query_id"))
      .agg(min(struct((-col("__mm_mmr")).as("nm"),
        col("neighbor_id").as("id"))).as("__mm_t"))
      .select(col("query_id"), col("__mm_t.id").as("neighbor_id"),
        (-col("__mm_t.nm")).as("mmr_score"))
    var selected = pick(cand
        .withColumn("__mm_mmr", lit(lam) * col("__mm_rel")))
      .withColumn("mmr_rank", lit(1L))
      .pin()
    for (t <- 2 to k) {
      val remaining = cand.join(
        selected.select("query_id", "neighbor_id"),
        Seq("query_id", "neighbor_id"), "left_anti")
      val maxSim = sims.join(
          selected.select(col("query_id"),
            col("neighbor_id").as("__mm_ib")),
          Seq("query_id", "__mm_ib"))
        .groupBy(col("query_id"), col("__mm_ia").as("neighbor_id"))
        .agg(max(col("__mm_sim")).as("__mm_ms"))
      val scored = remaining.join(maxSim, Seq("query_id", "neighbor_id"))
        .withColumn("__mm_mmr",
          lit(lam) * col("__mm_rel") - lit(100L - lam) * col("__mm_ms"))
      selected = selected.union(
          pick(scored).withColumn("mmr_rank", lit(t.toLong)))
        .pin()
    }
    selected.select(col("query_id"), col("neighbor_id"),
      col("mmr_rank"), col("mmr_score"))
  }

  /** Deterministic GRADED relevance judgments (qrels) from term
    * coverage — the synthetic-qrels rule that lets the IR metrics
    * ([[Eval.rankEval]]) run without human judgments: a document is
    * relevant to a query iff it contains at least HALF of the query's
    * distinct terms (`2·m ≥ n_q`), graded `rel = 2` when it contains
    * ALL of them and `rel = 1` otherwise. Coverage counts distinct
    * terms PRESENT (tf ≥ 1) — term frequency does not raise the grade,
    * so the judgment is not an alias of the tf-idf run it evaluates.
    * Output: (query_id, idCol, rel) — only relevant pairs.
    *
    * Scale shape: the corpus tf map ([[TextAnalysis.tfRelation]]'s
    * zero-shuffle WordTfs explode) cut by a BROADCAST of the query
    * terms, then ONE (query, doc) partial-aggregated exchange bounded
    * by matched documents — never corpus × queries.
    */
  def termCoverageQrels(docs: DataFrame, queries: DataFrame): DataFrame = {
    val terms = queries
      .select(col("query_id").as("query_id"), col("term").as("word"))
      .distinct()
    val nq = terms.groupBy(col("query_id"))
      .agg(count(lit(1)).as("__tq_nq"))
    // tfRelation emits one row per (doc, word): count(*) per
    // (query, doc) below IS the distinct-matched-term count
    val matched = TextAnalysis.tfRelation(docs, "doc_id", "text")
      .join(broadcast(terms), "word")
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("__tq_m"))
    matched.join(broadcast(nq), "query_id")
      .filter(col("__tq_m") * 2 >= col("__tq_nq"))
      .select(col("query_id"), col("doc_id"),
        when(col("__tq_m") === col("__tq_nq"), lit(2L))
          .otherwise(lit(1L)).as("rel"))
  }

  /** [[termCoverageQrels]] over an already-pinned
    * [[TextAnalysis.searchMatched]] relation — the multi-arm retrieval
    * queries judge against the SAME matched-tf rows their search arms
    * score, so the qrels' own corpus scan disappears. Row-identical to
    * the standalone entry point: `matched` is exactly tfRelation cut to
    * the query vocabulary, and joining the (query_id, word) terms back
    * on `word` reproduces the per-(query, doc) distinct-matched-term
    * multiset the standalone join builds.
    */
  def termCoverageQrelsFromMatched(matched: DataFrame, queries: DataFrame): DataFrame = {
    val terms = queries
      .select(col("query_id").as("query_id"), col("term").as("word"))
      .distinct()
    val nq = terms.groupBy(col("query_id"))
      .agg(count(lit(1)).as("__tq_nq"))
    val covered = matched.select(col("word"), col("doc_id"))
      .join(broadcast(terms), "word")
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("__tq_m"))
    covered.join(broadcast(nq), "query_id")
      .filter(col("__tq_m") * 2 >= col("__tq_nq"))
      .select(col("query_id"), col("doc_id"),
        when(col("__tq_m") === col("__tq_nq"), lit(2L))
          .otherwise(lit(1L)).as("rel"))
  }
}
