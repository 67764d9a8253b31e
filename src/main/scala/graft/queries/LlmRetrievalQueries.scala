package graft.queries

import org.apache.spark.sql.functions._
import graft.core.Pin._
import graft.core.{Overlap, Tables}
import graft.ext.{Dedup, Multimodal, Similarity, TextAnalysis}

/** Sparse/hybrid retrieval, PRF, rank-eval, leaderboard and MMR queries.
  * Split out of the monolithic LlmQueries registry (round 20); order
  * and semantics unchanged — [[LlmQueries.defs]] concatenates the
  * families in the original sequence.
  */
private[graft] object LlmRetrievalQueries {
  import LlmOracle._
  import LlmShared._

  val defs: Seq[QueryDef] = Seq(
    // ── Sparse keyword retrieval (search, not extraction) ──────────
    // Per query (a bag of terms): top-10 docs by summed integer tf-idf
    // — the lexical complement of the dense ANN searches, same
    // fixed-point arithmetic as t_keywords. Spark cuts the corpus tf
    // map with a broadcast term join and runs per-query top-k on
    // TopKPerKey; the oracle replays the identical integer scoring
    // with a window.
    // ── PRF query expansion (RM1/Rocchio-shaped second stage) ──────
    // The top-10 first-pass docs are the feedback set; every term of
    // theirs weighs in at Σ tf·score (exact integers), original terms
    // excluded, top-5 per query. The companion t_search_docs_prf runs
    // the SECOND PASS over original ∪ expansion terms — the x-chain is
    // the same scoring CTE family over the expanded query relation.
    QueryDef("t_prf_expand",
      s"""WITH $searchDocsCtes,
         |${prfCtes(10, 5)}
         |SELECT CAST(query_id AS BIGINT) AS query_id, term, weight, rank
         |FROM pexp WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin) { (s, d) =>
      import s.implicits._
      TextAnalysis.prfExpandTerms(Tables.documents(s, d),
        SearchQueries.toDF("query_id", "term"))
    }.sortedBy(col("query_id"), col("rank")),

    QueryDef("t_search_docs_prf",
      s"""WITH $searchDocsCtes,
         |${prfCtes(10, 5)},
         |pq AS (SELECT query_id, term FROM sq
         |  UNION SELECT query_id, term FROM pexp WHERE rank <= 5),
         |${searchScoreCtes("x", "pq", "stf")}
         |SELECT * FROM xranked WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin) { (s, d) =>
      import s.implicits._
      TextAnalysis.searchDocsPrf(Tables.documents(s, d),
        SearchQueries.toDF("query_id", "term"))
    }.sortedBy(col("query_id"), col("rank")),

    QueryDef("t_search_docs",
      s"""WITH $searchDocsCtes
         |SELECT * FROM sranked WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin) { (s, d) =>
      import s.implicits._
      val queries = SearchQueries.toDF("query_id", "term")
      TextAnalysis.searchDocs(Tables.documents(s, d), queries, k = 10)
        .select(col("query_id"), col("doc_id"), col("score"),
          col("n_terms"), col("rank"))
    }.sortedBy(col("query_id"), col("rank")),

    // BM25-shaped variant: saturation + length norm + floor-log2 idf,
    // every step exact integer arithmetic replayed by the oracle.
    QueryDef("t_search_docs_bm25",
      s"""WITH ${bm25Ctes(k1X100 = 120, bX100 = 75)}
         |SELECT * FROM branked WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin) { (s, d) =>
      import s.implicits._
      val queries = SearchQueries.toDF("query_id", "term")
      TextAnalysis.searchDocsBm25(Tables.documents(s, d), queries, k = 10)
        .select(col("query_id"), col("doc_id"), col("score"),
          col("n_terms"), col("rank"))
    }.sortedBy(col("query_id"), col("rank")),

    // ── IR ranking eval: qrels + trec metrics + corpus report ──────
    // Deterministic graded qrels by term coverage (rel 2 = all query
    // terms present, 1 = at least half) — judgment counts PRESENCE,
    // not tf, so it is not an alias of the tf-idf run it evaluates.
    QueryDef("t_qrels",
      s"""WITH $searchDocsCtes,
         |$qrelsCtes
         |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, rel
         |FROM qrels ORDER BY query_id, doc_id""".stripMargin) { (s, d) =>
      import s.implicits._
      graft.ext.Retrieval.termCoverageQrels(Tables.documents(s, d),
        SearchQueries.toDF("query_id", "term"))
    }.sortedBy(col("query_id"), col("doc_id")),

    // Per-query trec readout of the tf-idf run at k = 10: RR, P@k,
    // R@k, AP and harmonic-discount nDCG@k, every column an lcm-scaled
    // exact integer (L = lcm(1..11) = 27720 inlined on both sides).
    QueryDef("t_rank_eval",
      s"""WITH $searchDocsCtes,
         |$qrelsCtes,
         |${rankEvalCtes("e", "sranked", 10, 27720L)}
         |SELECT * FROM emetrics ORDER BY query_id""".stripMargin) { (s, d) =>
      import s.implicits._
      val queries = SearchQueries.toDF("query_id", "term")
      val docs = Tables.documents(s, d)
      // run and qrels score/judge the SAME pinned matched-tf relation —
      // one corpus scan instead of two (round 22, guide §2.4)
      val matched = TextAnalysis.searchMatched(docs, queries)
      val run = TextAnalysis.searchDocsFromMatched(matched, queries, k = 10)
        .select(col("query_id"), col("doc_id"), col("rank"))
      graft.ext.Eval.rankEval(run,
        graft.ext.Retrieval.termCoverageQrelsFromMatched(matched, queries))
    }.sortedBy(col("query_id")),

    // One-row corpus IR report over the BM25 arm — MRR exact via the
    // same lcm law, MAP / mean-nDCG / mean-recall as the documented
    // mean-of-floors over queries where defined (n_with_rel
    // disclosed), mean precision over all queries.
    QueryDef("t_ir_report",
      s"""WITH $searchDocsCtes,
         |${bm25Ctes(k1X100 = 120, bX100 = 75)},
         |$qrelsCtes,
         |${rankEvalCtes("e", "branked", 10, 27720L)}
         |SELECT CAST(count(*) AS BIGINT) AS n_queries,
         |  CAST(sum(CASE WHEN n_rel > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_with_rel,
         |  CAST(CASE WHEN count(*) > 0 THEN
         |    (sum(coalesce(27720 // first_rel_rank, 0)) * 10000)
         |      // (27720 * count(*)) END AS BIGINT) AS mrr_x10000,
         |  CAST(CASE WHEN count(ap_x10000) > 0
         |    THEN sum(ap_x10000) // count(ap_x10000) END AS BIGINT)
         |    AS map_x10000,
         |  CAST(CASE WHEN count(ndcg_x10000) > 0
         |    THEN sum(ndcg_x10000) // count(ndcg_x10000) END AS BIGINT)
         |    AS ndcg_mean_x10000,
         |  CAST(CASE WHEN count(recall_x10000) > 0
         |    THEN sum(recall_x10000) // count(recall_x10000) END AS BIGINT)
         |    AS recall_mean_x10000,
         |  CAST(CASE WHEN count(*) > 0
         |    THEN sum(precision_x10000) // count(*) END AS BIGINT)
         |    AS precision_mean_x10000
         |FROM emetrics""".stripMargin) { (s, d) =>
      import s.implicits._
      val queries = SearchQueries.toDF("query_id", "term")
      val docs = Tables.documents(s, d)
      // run and qrels share one pinned matched-tf scan (round 22, §2.4)
      val matched = TextAnalysis.searchMatched(docs, queries)
      val run = TextAnalysis
        .searchDocsBm25FromMatched(docs, matched, queries, k = 10)
        .select(col("query_id"), col("doc_id"), col("rank"))
      graft.ext.Eval.irReport(run,
        graft.ext.Retrieval.termCoverageQrelsFromMatched(matched, queries))
    },

    // Kendall τ-a between the tf-idf and BM25 runs per query — the
    // "how differently do the two arms rank" readout, exact integers
    // over shared docs (distinct ranks ⇒ no tie term), < 2 shared
    // docs → null τ, disclosed.
    QueryDef("t_rank_tau",
      s"""WITH $searchDocsCtes,
         |${bm25Ctes(k1X100 = 120, bX100 = 75)},
         |tsh AS (SELECT s.query_id, s.doc_id, s.rank AS ra, b.rank AS rb
         |  FROM (SELECT * FROM sranked WHERE rank <= 10) s
         |  JOIN (SELECT * FROM branked WHERE rank <= 10) b
         |    USING (query_id, doc_id)),
         |tns AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_shared
         |  FROM tsh GROUP BY 1),
         |tpr AS (SELECT a.query_id,
         |    CAST(sum(CASE WHEN (a.ra < b.ra AND a.rb < b.rb)
         |      OR (a.ra > b.ra AND a.rb > b.rb) THEN 1 ELSE 0 END)
         |      AS BIGINT) AS c,
         |    CAST(sum(CASE WHEN (a.ra < b.ra AND a.rb < b.rb)
         |      OR (a.ra > b.ra AND a.rb > b.rb) THEN 0 ELSE 1 END)
         |      AS BIGINT) AS d
         |  FROM tsh a JOIN tsh b ON b.query_id = a.query_id
         |    AND a.doc_id < b.doc_id
         |  GROUP BY 1)
         |SELECT n.query_id, n.n_shared,
         |  coalesce(p.c, 0) AS concordant,
         |  coalesce(p.d, 0) AS discordant,
         |  CAST(CASE WHEN coalesce(p.c, 0) + coalesce(p.d, 0) > 0
         |    THEN ((p.c - p.d) * 10000) // (p.c + p.d) END AS BIGINT)
         |    AS tau_x10000
         |FROM tns n LEFT JOIN tpr p USING (query_id)
         |ORDER BY query_id""".stripMargin) { (s, d) =>
      import s.implicits._
      val queries = SearchQueries.toDF("query_id", "term")
      val docs = Tables.documents(s, d)
      // both arms score ONE pinned matched-tf relation (round 22,
      // §2.4) — one corpus scan + one pin
      val matched = TextAnalysis.searchMatched(docs, queries)
      val a = TextAnalysis.searchDocsFromMatched(matched, queries, k = 10)
        .select(col("query_id"), col("doc_id"), col("rank"))
      val b = TextAnalysis
        .searchDocsBm25FromMatched(docs, matched, queries, k = 10)
        .select(col("query_id"), col("doc_id"), col("rank"))
      graft.ext.Eval.rankCorrelation(a, b)
    }.sortedBy(col("query_id")),

    // Rank-biased precision at p = 4/5 over the BM25 run — the
    // user-persistence metric, exact because the rational p makes every
    // geometric weight an integer over 5^k; the residual bound (mass a
    // deeper ranking could still claim) disclosed per row.
    QueryDef("t_rank_rbp", {
      def ipow(b: Long, e: Int): Long =
        (1 to e).foldLeft(1L)((a, _) => a * b)
      val k = 10; val denK = ipow(5L, k)
      val wRows = (1 to k)
        .map(r => s"($r, ${ipow(4L, r - 1) * ipow(5L, k - r)})")
        .mkString(", ")
      val resid = ipow(4L, k) * 10000L / denK
      s"""WITH $searchDocsCtes,
         |${bm25Ctes(k1X100 = 120, bX100 = 75)},
         |$qrelsCtes,
         |rbw(r, w) AS (VALUES $wRows),
         |rbh AS (SELECT b.query_id,
         |    CAST(count(*) AS BIGINT) AS n_rel_ret,
         |    CAST(sum(w.w) AS BIGINT) AS num
         |  FROM (SELECT query_id, doc_id, rank FROM branked
         |        WHERE rank <= $k) b
         |  JOIN qrels q ON q.query_id = b.query_id
         |    AND q.doc_id = b.doc_id
         |  JOIN rbw w ON w.r = b.rank
         |  GROUP BY 1),
         |rbq AS (SELECT DISTINCT query_id FROM branked WHERE rank <= $k)
         |SELECT q.query_id,
         |  coalesce(h.n_rel_ret, 0) AS n_rel_ret,
         |  coalesce(h.num, 0) AS rbp_num,
         |  CAST((coalesce(h.num, 0) * 10000) // $denK AS BIGINT)
         |    AS rbp_x10000,
         |  CAST($resid AS BIGINT) AS residual_x10000
         |FROM rbq q LEFT JOIN rbh h USING (query_id)
         |ORDER BY q.query_id""".stripMargin
    }) { (s, d) =>
      import s.implicits._
      val queries = SearchQueries.toDF("query_id", "term")
      val docs = Tables.documents(s, d)
      // run and qrels share one pinned matched-tf scan (round 22, §2.4)
      val matched = TextAnalysis.searchMatched(docs, queries)
      val run = TextAnalysis
        .searchDocsBm25FromMatched(docs, matched, queries, k = 10)
        .select(col("query_id"), col("doc_id"), col("rank"))
      graft.ext.Eval.rankBiasedPrecision(run,
        graft.ext.Retrieval.termCoverageQrelsFromMatched(matched, queries))
    }.sortedBy(col("query_id")),

    // ── Hybrid retrieval: reciprocal-rank fusion ───────────────────
    // Sparse (integer tf-idf) top-20 fused with dense (exact cosine)
    // top-20 by rrf = Σ 10⁶ div (60 + rank) — rank-only, so the fusion
    // replays integer-exactly; per-system ranks ride along (null =
    // unranked by that arm). The dense arm reuses the t_similarity_topk
    // scoring; query ids double as vector ids (the TESTDATA contract).
    // TRI-ARM fusion: tf-idf + BM25 + dense through the n-ary
    // rrfFuseAll — lexical precision, saturation-weighted lexical
    // recall, and semantic match in one integer-exact ranking. The
    // oracle unions the three cut arms' id space and left-joins each
    // (≡ the engine's chained full-outer fusion).
    QueryDef("t_hybrid_tri",
      s"""WITH $searchDocsCtes,
         |${bm25Ctes(k1X100 = 120, bX100 = 75)},
         |$hybridTriCtes
         |SELECT * FROM tr3 WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin) { (s, d) =>
      import s.implicits._
      val queries = SearchQueries.toDF("query_id", "term")
      val docs = Tables.documents(s, d)
      val qIds = SearchQueries.map(_._1).distinct.sorted
      // both lexical arms score ONE pinned matched-tf relation (round
      // 22, §2.4)
      val matched = TextAnalysis.searchMatched(docs, queries)
      val sparse = TextAnalysis
        .searchDocsFromMatched(matched, queries, k = 20)
        .select(col("query_id"), col("doc_id"),
          col("rank").as("tfidf_rank"))
      val bm25 = TextAnalysis
        .searchDocsBm25FromMatched(docs, matched, queries, k = 20)
        .select(col("query_id"), col("doc_id"),
          col("rank").as("bm25_rank"))
      val dense = Similarity
        .topKByIdsNative(Tables.embeddings(s, d), qIds, 20)
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("rank").as("dense_rank"))
      graft.ext.Retrieval.rrfFuseAll(Seq(sparse, bm25, dense), k = 10)
    }.sortedBy(col("query_id"), col("rank")),

    // ── Retrieval LEADERBOARD: the three lexical/hybrid systems'
    // irReport rows side by side against the same term-coverage qrels
    // — one relation answering "which retrieval arm should this corpus
    // run", every number the proven lcm-exact rollup. One UNION of
    // three shared CTE chains; the fusion arm is the same tr3 relation
    // t_hybrid_tri gates.
    QueryDef("w_retrieval_leaderboard",
      s"""WITH $searchDocsCtes,
         |${bm25Ctes(k1X100 = 120, bX100 = 75)},
         |$hybridTriCtes,
         |$qrelsCtes,
         |${rankEvalCtes("ls", "sranked", 10, 27720L)},
         |${rankEvalCtes("lb", "branked", 10, 27720L)},
         |${rankEvalCtes("lh", "tr3", 10, 27720L)}
         |${irReportSelect("ls", "tfidf", 10, 27720L)}
         |UNION ALL
         |${irReportSelect("lb", "bm25", 10, 27720L)}
         |UNION ALL
         |${irReportSelect("lh", "hybrid_tri", 10, 27720L)}
         |ORDER BY system""".stripMargin) { (s, d) =>
      import s.implicits._
      val queries = SearchQueries.toDF("query_id", "term")
      val docs = Tables.documents(s, d)
      // ONE pinned matched-tf scan feeds all three lexical relations
      // (round 22, §2.4); their |Q|·k-bounded pins (each is consumed
      // by both the tri fusion and its own leaderboard row) stay
      // overlapped (guide §2.6)
      val matched = TextAnalysis.searchMatched(docs, queries)
      val qIds = SearchQueries.map(_._1).distinct.sorted
      val Seq(qrels, sparse20, bm2520) = Overlap.all(Seq(
        () => graft.ext.Retrieval
          .termCoverageQrelsFromMatched(matched, queries).pin(),
        () => TextAnalysis.searchDocsFromMatched(matched, queries, k = 20)
          .select(col("query_id"), col("doc_id"),
            col("rank").as("tfidf_rank")).pin(),
        () => TextAnalysis.searchDocsBm25FromMatched(docs, matched, queries, k = 20)
          .select(col("query_id"), col("doc_id"),
            col("rank").as("bm25_rank")).pin()))
      val dense = Similarity
        .topKByIdsNative(Tables.embeddings(s, d), qIds, 20)
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("rank").as("dense_rank"))
      val tri = graft.ext.Retrieval
        .rrfFuseAll(Seq(sparse20, bm2520, dense), k = 10)
        .select(col("query_id"), col("doc_id"), col("rank"))
      def row(system: String, run: org.apache.spark.sql.DataFrame) =
        graft.ext.Eval.irReport(run.filter(col("rank") <= 10), qrels)
          .select(Seq(lit(system).as("system")) ++
            Seq("n_queries", "n_with_rel", "mrr_x10000", "map_x10000",
              "ndcg_mean_x10000", "recall_mean_x10000",
              "precision_mean_x10000").map(col): _*)
      row("tfidf", sparse20.withColumnRenamed("tfidf_rank", "rank"))
        .unionByName(row("bm25",
          bm2520.withColumnRenamed("bm25_rank", "rank")))
        .unionByName(row("hybrid_tri", tri))
    }.sortedBy(col("system")),

    // ── MMR diversified re-ranking: greedy λ-tradeoff between dense
    // relevance and max-similarity-to-already-selected, the WHOLE
    // trajectory on the exact ×10⁶ integer cosine grain — the oracle
    // replays every greedy pick as a recursive CTE carrying the
    // selected list (1 row per query per step, argmax by window).
    QueryDef("t_mmr_rerank",
      s"""WITH RECURSIVE mq AS (
         |  SELECT vec_id AS query_id, embedding AS qv
         |  FROM embeddings WHERE vec_id < 5),
         |mscored AS (
         |  SELECT mq.query_id, e.vec_id AS nid,
         |         round(${cosine("mq.qv", "e.embedding")}, 6) AS cos
         |  FROM mq JOIN embeddings e ON e.vec_id <> mq.query_id),
         |mcand AS (SELECT query_id, nid,
         |    CAST(round(cos * 1000000, 0) AS BIGINT) AS rel
         |  FROM (SELECT query_id, nid, cos, row_number() OVER (
         |      PARTITION BY query_id ORDER BY cos DESC, nid) AS rnk
         |    FROM mscored)
         |  WHERE rnk <= 20),
         |msim AS (SELECT a.query_id, a.nid AS ia, b.nid AS ib,
         |    CAST(round(round(${cosine("ea.embedding", "eb.embedding")},
         |      6) * 1000000, 0) AS BIGINT) AS sim
         |  FROM mcand a JOIN mcand b ON b.query_id = a.query_id
         |    AND b.nid <> a.nid
         |  JOIN embeddings ea ON ea.vec_id = a.nid
         |  JOIN embeddings eb ON eb.vec_id = b.nid),
         |mmr(query_id, step, nid, score, sel) AS (
         |  SELECT query_id, CAST(1 AS BIGINT), nid,
         |    CAST(70 * rel AS BIGINT), [nid]
         |  FROM (SELECT query_id, nid, rel, row_number() OVER (
         |      PARTITION BY query_id ORDER BY 70 * rel DESC, nid) AS rn
         |    FROM mcand)
         |  WHERE rn = 1
         |  UNION ALL
         |  SELECT query_id, step + 1, nid, score, list_append(sel, nid)
         |  FROM (
         |    SELECT query_id, step, sel, nid, score, row_number() OVER (
         |        PARTITION BY query_id ORDER BY score DESC, nid) AS rn
         |    FROM (
         |      SELECT m.query_id, m.step, m.sel, c.nid,
         |        CAST(70 * c.rel - 30 * (SELECT max(s.sim) FROM msim s
         |          WHERE s.query_id = m.query_id AND s.ia = c.nid
         |            AND list_contains(m.sel, s.ib)) AS BIGINT) AS score
         |      FROM mmr m JOIN mcand c ON c.query_id = m.query_id
         |        AND NOT list_contains(m.sel, c.nid)
         |      WHERE m.step < 5))
         |  WHERE rn = 1)
         |SELECT query_id, nid AS neighbor_id, step AS mmr_rank,
         |  score AS mmr_score
         |FROM mmr ORDER BY query_id, mmr_rank""".stripMargin) { (s, d) =>
      graft.ext.Retrieval.mmrRerank(Tables.embeddings(s, d),
        Seq(0L, 1L, 2L, 3L, 4L), kCand = 20, k = 5, lambdaX100 = 70)
    }.sortedBy(col("query_id"), col("mmr_rank")),

    QueryDef("t_hybrid_search", {
      val qIds = SearchQueries.map(_._1).distinct.sorted.mkString(", ")
      s"""WITH $searchDocsCtes,
         |dq AS (
         |  SELECT vec_id AS query_id, embedding AS qv
         |  FROM embeddings WHERE vec_id IN ($qIds)),
         |dscored AS (
         |  SELECT dq.query_id, e.vec_id AS neighbor_id,
         |         round(${cosine("dq.qv", "e.embedding")}, 6) AS cos
         |  FROM dq JOIN embeddings e ON e.vec_id <> dq.query_id),
         |dranked AS (
         |  SELECT query_id, neighbor_id, cos,
         |         CAST(row_number() OVER (PARTITION BY query_id
         |              ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
         |  FROM dscored),
         |fused AS (
         |  SELECT coalesce(s.query_id, d.query_id) AS query_id,
         |         coalesce(s.doc_id, d.neighbor_id) AS doc_id,
         |         coalesce(1000000 // (60 + s.rank), 0)
         |           + coalesce(1000000 // (60 + d.rank), 0) AS rrf,
         |         s.rank AS sparse_rank, d.rank AS dense_rank
         |  FROM (SELECT * FROM sranked WHERE rank <= 20) s
         |  FULL JOIN (SELECT * FROM dranked WHERE rank <= 20) d
         |    ON s.query_id = d.query_id AND s.doc_id = d.neighbor_id),
         |hranked AS (
         |  SELECT query_id, doc_id, CAST(rrf AS BIGINT) AS rrf,
         |         sparse_rank, dense_rank,
         |         CAST(row_number() OVER (PARTITION BY query_id
         |              ORDER BY rrf DESC, doc_id) AS BIGINT) AS rank
         |  FROM fused)
         |SELECT * FROM hranked WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin
    }) { (s, d) =>
      import s.implicits._
      val queries = SearchQueries.toDF("query_id", "term")
      graft.ext.Retrieval.hybridSearch(Tables.documents(s, d),
        Tables.embeddings(s, d), queries, k = 10)
    }.sortedBy(col("query_id"), col("rank")),

    // PRODUCTION hybrid: BM25 arm + PERSISTED-INDEX dense arm
    // (multi-probe LSH over the same index t_ann_lsh_multiprobe gates)
    // through rrfFuseAll — the at-scale shape where the dense arm
    // touches only probed buckets, zero train/bucket work per query.
    // The oracle composes the two proven CTE chains (bm25Ctes +
    // annLshMultiProbeCtes) and replays the integer RRF fusion.
    QueryDef("t_hybrid_indexed", {
      val qIds = SearchQueries.map(_._1).distinct.sorted.mkString(", ")
      s"""WITH ${bm25Ctes(k1X100 = 120, bX100 = 75)},
         |${annLshMultiProbeCtes(1, s"vec_id IN ($qIds)")},
         |hifused AS (
         |  SELECT coalesce(s.query_id, d.query_id) AS query_id,
         |         coalesce(s.doc_id, d.neighbor_id) AS doc_id,
         |         coalesce(1000000 // (60 + s.rank), 0)
         |           + coalesce(1000000 // (60 + d.rank), 0) AS rrf,
         |         s.rank AS bm25_rank, d.rank AS dense_rank
         |  FROM (SELECT * FROM branked WHERE rank <= 20) s
         |  FULL JOIN (SELECT * FROM ranked WHERE rank <= 20) d
         |    ON s.query_id = d.query_id AND s.doc_id = d.neighbor_id),
         |hiranked AS (
         |  SELECT query_id, doc_id, CAST(rrf AS BIGINT) AS rrf,
         |         bm25_rank, dense_rank,
         |         CAST(row_number() OVER (PARTITION BY query_id
         |              ORDER BY rrf DESC, doc_id) AS BIGINT) AS rank
         |  FROM hifused)
         |SELECT * FROM hiranked WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin
    }) { (s, d) =>
      import s.implicits._
      val queries = SearchQueries.toDF("query_id", "term")
      graft.ext.Retrieval.hybridSearchIndexed(Tables.documents(s, d),
        queries, lshIndexFor(s, d), k = 10)
    }.sortedBy(col("query_id"), col("rank")),
  )
}
