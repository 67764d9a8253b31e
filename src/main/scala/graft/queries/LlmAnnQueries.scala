package graft.queries

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ext.{Dedup, Multimodal, Similarity, TextAnalysis}

/** ANN similarity-search, quantization, semantic-packing and hard-negative queries.
  * Split out of the monolithic LlmQueries registry (round 20); order
  * and semantics unchanged — [[LlmQueries.defs]] concatenates the
  * families in the original sequence.
  */
private[graft] object LlmAnnQueries {
  import LlmOracle._
  import LlmShared._

  val defs: Seq[QueryDef] = Seq(
    // ── Similarity search ──────────────────────────────────────────
    // Exact brute-force top-10 for 5 query vectors: broadcast query set
    // × corpus scan (O(|Q|·n)), ranked on round(cos, 6) with id
    // tiebreak so both engines select identical neighbours.
    QueryDef("t_similarity_topk",
      s"""WITH q AS (
         |  SELECT vec_id AS query_id, embedding AS qv
         |  FROM embeddings WHERE vec_id < 5),
         |scored AS (
         |  SELECT q.query_id, e.vec_id AS neighbor_id,
         |         round(${cosine("q.qv", "e.embedding")}, 6) AS cos
         |  FROM q JOIN embeddings e ON e.vec_id <> q.query_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, cos,
         |         CAST(row_number() OVER (PARTITION BY query_id
         |              ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
         |  FROM scored)
         |SELECT * FROM ranked WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin) { (s, d) =>
      Similarity.topKByIds(Tables.embeddings(s, d), Seq(0L, 1L, 2L, 3L, 4L), 10)
    }.sortedBy(col("query_id"), col("rank")),

    // Same top-k through the custom TopKPerKey physical operator
    // (graft.plans): bounded per-partition heaps + k-rows-per-key
    // shuffle instead of window-sort — must match the same oracle.
    QueryDef("t_topk_operator",
      s"""WITH q AS (
         |  SELECT vec_id AS query_id, embedding AS qv
         |  FROM embeddings WHERE vec_id < 5),
         |scored AS (
         |  SELECT q.query_id, e.vec_id AS neighbor_id,
         |         round(${cosine("q.qv", "e.embedding")}, 6) AS cos
         |  FROM q JOIN embeddings e ON e.vec_id <> q.query_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, cos,
         |         CAST(row_number() OVER (PARTITION BY query_id
         |              ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
         |  FROM scored)
         |SELECT * FROM ranked WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin) { (s, d) =>
      Similarity.topKByIdsNative(Tables.embeddings(s, d),
        Seq(0L, 1L, 2L, 3L, 4L), 10)
    }.sortedBy(col("query_id"), col("rank")),

    // ── INT8 quantization (exact integer similarity) ───────────────
    // Per-vector symmetric int8 grid: q_i = floor(x_i·127/maxabs) —
    // floor, not round, so the cell is one IEEE double expression with
    // no tie rule. Report: scale + integer summaries of the quantized
    // vector (sum, L1, saturation count) — the full qvec replayed as
    // scalars both engines hash identically.
    QueryDef("t_embed_quantize",
      s"""WITH mq AS (SELECT vec_id, embedding,
         |  coalesce(list_max(list_transform(embedding,
         |    x -> abs(CAST(x AS DOUBLE)))), 0.0) AS maxabs
         |  FROM embeddings),
         |qv AS (SELECT vec_id, maxabs,
         |  CASE WHEN maxabs > 0 THEN list_transform(embedding,
         |         x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / maxabs)
         |              AS BIGINT))
         |       ELSE list_transform(embedding, x -> CAST(0 AS BIGINT))
         |  END AS q FROM mq)
         |SELECT vec_id, maxabs,
         |  CAST(list_sum(q) AS BIGINT) AS sum_q,
         |  CAST(list_sum(list_transform(q, v -> abs(v))) AS BIGINT) AS l1_q,
         |  CAST(list_sum(list_transform(q,
         |    v -> CASE WHEN abs(v) = 127 THEN 1 ELSE 0 END)) AS BIGINT)
         |    AS n_sat
         |FROM qv ORDER BY vec_id""".stripMargin) { (s, d) =>
      Similarity.quantizeInt8(Tables.embeddings(s, d))
        .select(col("vec_id"), col("maxabs"),
          aggregate(col("qvec"), lit(0L), (a, v) => a + v).as("sum_q"),
          aggregate(col("qvec"), lit(0L), (a, v) => a + abs(v)).as("l1_q"),
          aggregate(col("qvec"), lit(0L),
            (a, v) => a + when(abs(v) === 127L, 1L).otherwise(0L)).as("n_sat"))
    }.sortedBy(col("vec_id")),

    // Top-8 neighbours for 3 queries by INT8 dot product — ranking
    // never touches a float (the bit-reproducibility float cosine only
    // gets via round-to-6dp). Engine: fused IntDot codegen kernel +
    // bounded-heap TopKPerKey; oracle: the same integer grid and a
    // list_sum-of-products scan.
    QueryDef("t_ann_int8",
      s"""WITH mq AS (SELECT vec_id, embedding,
         |  coalesce(list_max(list_transform(embedding,
         |    x -> abs(CAST(x AS DOUBLE)))), 0.0) AS maxabs
         |  FROM embeddings WHERE embedding IS NOT NULL),
         |qv AS (SELECT vec_id,
         |  CASE WHEN maxabs > 0 THEN list_transform(embedding,
         |         x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / maxabs)
         |              AS BIGINT))
         |       ELSE list_transform(embedding, x -> CAST(0 AS BIGINT))
         |  END AS q FROM mq),
         |qq AS (SELECT vec_id AS query_id, q AS qvq FROM qv
         |       WHERE vec_id < 3),
         |scored AS (SELECT qq.query_id, e.vec_id AS neighbor_id,
         |  CAST(list_sum(list_transform(generate_series(1, len(e.q)),
         |    i -> qq.qvq[i] * e.q[i])) AS BIGINT) AS qdot
         |  FROM qq JOIN qv e ON e.vec_id <> qq.query_id),
         |ranked AS (SELECT query_id, neighbor_id, qdot,
         |  CAST(row_number() OVER (PARTITION BY query_id
         |       ORDER BY qdot DESC, neighbor_id) AS BIGINT) AS rank
         |  FROM scored)
         |SELECT * FROM ranked WHERE rank <= 8
         |ORDER BY query_id, rank""".stripMargin) { (s, d) =>
      Similarity.int8TopK(Tables.embeddings(s, d), Seq(0L, 1L, 2L), 8)
    }.sortedBy(col("query_id"), col("rank")),

    // ── BINARY (1-bit) quantization: sign bits packed 32/long word by
    // the positional fold acc·2+b (shift-free — both engines replay it
    // exactly, no 1<<63 overflow divergence). Report: word count,
    // first word, total popcount — the packed array replayed as
    // scalars both engines hash identically.
    QueryDef("t_embed_binary",
      s"""WITH bq AS (SELECT vec_id,
         |  CAST(len(embedding) AS BIGINT) AS dims,
         |  CASE WHEN len(embedding) = 0 THEN CAST([] AS BIGINT[])
         |    ELSE list_transform(
         |      generate_series(0, (len(embedding) - 1) // 32),
         |      w -> list_reduce(list_prepend(0::BIGINT, list_transform(
         |        generate_series(least((w + 1) * 32, len(embedding)),
         |          w * 32 + 1, -1),
         |        i -> CASE WHEN embedding[i] > 0 THEN 1::BIGINT
         |             ELSE 0::BIGINT END)),
         |        (acc, b) -> acc * 2 + b))
         |  END AS bv
         |  FROM embeddings WHERE embedding IS NOT NULL)
         |SELECT vec_id, dims, CAST(len(bv) AS BIGINT) AS n_words,
         |  CASE WHEN len(bv) >= 1 THEN bv[1] ELSE 0 END AS word0,
         |  CAST(coalesce(list_sum(list_transform(bv,
         |    v -> CAST(bit_count(v) AS BIGINT))), 0) AS BIGINT)
         |    AS popcount
         |FROM bq ORDER BY vec_id""".stripMargin) { (s, d) =>
      Similarity.quantizeBinary(Tables.embeddings(s, d))
        .select(col("vec_id"), col("dims"),
          size(col("bvec")).cast("long").as("n_words"),
          coalesce(element_at(col("bvec"), 1), lit(0L)).as("word0"),
          coalesce(aggregate(col("bvec"), lit(0L),
            (a, v) => a + bit_count(v).cast("long")), lit(0L))
            .as("popcount"))
    }.sortedBy(col("vec_id")),

    // Top-8 neighbours for 3 queries by HAMMING distance over the
    // packed sign bits — the 1/32-scan shortlist rung; ranking
    // (hamming ASC, id ASC) is pure integer.
    QueryDef("t_ann_hamming",
      s"""WITH bq AS (SELECT vec_id,
         |  list_transform(generate_series(0, (len(embedding) - 1) // 32),
         |    w -> list_reduce(list_prepend(0::BIGINT, list_transform(
         |      generate_series(least((w + 1) * 32, len(embedding)),
         |        w * 32 + 1, -1),
         |      i -> CASE WHEN embedding[i] > 0 THEN 1::BIGINT
         |           ELSE 0::BIGINT END)),
         |      (acc, b) -> acc * 2 + b)) AS bv
         |  FROM embeddings
         |  WHERE embedding IS NOT NULL AND len(embedding) > 0),
         |qq AS (SELECT vec_id AS query_id, bv AS qbv FROM bq
         |       WHERE vec_id < 3),
         |scored AS (SELECT qq.query_id, e.vec_id AS neighbor_id,
         |  CAST(list_sum(list_transform(generate_series(1, len(e.bv)),
         |    i -> CAST(bit_count(xor(qq.qbv[i], e.bv[i])) AS BIGINT)))
         |    AS BIGINT) AS hamming
         |  FROM qq JOIN bq e ON e.vec_id <> qq.query_id),
         |ranked AS (SELECT query_id, neighbor_id, hamming,
         |  CAST(row_number() OVER (PARTITION BY query_id
         |       ORDER BY hamming, neighbor_id) AS BIGINT) AS rank
         |  FROM scored)
         |SELECT * FROM ranked WHERE rank <= 8
         |ORDER BY query_id, rank""".stripMargin) { (s, d) =>
      Similarity.hammingTopK(Tables.embeddings(s, d), Seq(0L, 1L, 2L), 8)
    }.sortedBy(col("query_id"), col("rank")),

    // Hamming shortlist (20) + exact round-6 cosine rerank to top-8 —
    // the binary rung's production recipe, both stages' tie laws
    // replayed whole.
    QueryDef("t_ann_hamming_rerank",
      s"""WITH bq AS (SELECT vec_id,
         |  list_transform(generate_series(0, (len(embedding) - 1) // 32),
         |    w -> list_reduce(list_prepend(0::BIGINT, list_transform(
         |      generate_series(least((w + 1) * 32, len(embedding)),
         |        w * 32 + 1, -1),
         |      i -> CASE WHEN embedding[i] > 0 THEN 1::BIGINT
         |           ELSE 0::BIGINT END)),
         |      (acc, b) -> acc * 2 + b)) AS bv
         |  FROM embeddings
         |  WHERE embedding IS NOT NULL AND len(embedding) > 0),
         |qq AS (SELECT vec_id AS query_id, bv AS qbv FROM bq
         |       WHERE vec_id < 3),
         |hs AS (SELECT qq.query_id, e.vec_id AS neighbor_id,
         |  CAST(list_sum(list_transform(generate_series(1, len(e.bv)),
         |    i -> CAST(bit_count(xor(qq.qbv[i], e.bv[i])) AS BIGINT)))
         |    AS BIGINT) AS hamming
         |  FROM qq JOIN bq e ON e.vec_id <> qq.query_id),
         |short AS (SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id, row_number() OVER (
         |      PARTITION BY query_id ORDER BY hamming, neighbor_id) AS rn
         |    FROM hs) WHERE rn <= 20),
         |qv AS (SELECT vec_id AS query_id, embedding AS qvv
         |  FROM embeddings WHERE vec_id < 3),
         |rer AS (SELECT s.query_id, s.neighbor_id,
         |    round(${cosine("q.qvv", "e.embedding")}, 6) AS cos
         |  FROM short s JOIN embeddings e ON e.vec_id = s.neighbor_id
         |  JOIN qv q ON q.query_id = s.query_id),
         |ranked AS (SELECT query_id, neighbor_id, cos,
         |  CAST(row_number() OVER (PARTITION BY query_id
         |       ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
         |  FROM rer)
         |SELECT * FROM ranked WHERE rank <= 8
         |ORDER BY query_id, rank""".stripMargin) { (s, d) =>
      Similarity.hammingTopKReranked(Tables.embeddings(s, d),
        Seq(0L, 1L, 2L), kNn = 8, rerank = 20)
    }.sortedBy(col("query_id"), col("rank")),

    // ANN (LSH-bucketed) variant, fully oracle-checked: the DuckDB side
    // reproduces the sign buckets from the same planeWeight constants
    // (lshBucketsCte), then the same candidate join + exact rerank.
    // Recall vs exact top-k is additionally asserted in the test suite.
    // ANN quality report: recall@10 of the LSH search vs exact brute
    // force, per query — the spec-only recall metric elevated to the
    // oracle surface (both sides' full chains replayed, the comparison
    // a |Q|·k-bounded join).
    QueryDef("t_ann_recall",
      s"""WITH annr AS (SELECT query_id, neighbor_id FROM ($annLshSql) a),
         |exq AS (SELECT vec_id AS query_id, embedding AS qv
         |  FROM embeddings WHERE vec_id < 5),
         |exs AS (SELECT q.query_id, e.vec_id AS neighbor_id,
         |    round(${cosine("q.qv", "e.embedding")}, 6) AS cos
         |  FROM exq q JOIN embeddings e ON e.vec_id <> q.query_id),
         |exr AS (SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY cos DESC, neighbor_id) AS rn FROM exs)
         |  WHERE rn <= 10),
         |rhit AS (SELECT e.query_id, CAST(count(*) AS BIGINT) AS n_hit
         |  FROM exr e JOIN annr a USING (query_id, neighbor_id)
         |  GROUP BY 1),
         |rtot AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_exact
         |  FROM exr GROUP BY 1)
         |SELECT t.query_id, t.n_exact, coalesce(h.n_hit, 0) AS n_hit,
         |  coalesce(h.n_hit, 0) * 100 // t.n_exact AS recall_x100
         |FROM rtot t LEFT JOIN rhit h USING (query_id)
         |ORDER BY query_id""".stripMargin) { (s, d) =>
      Similarity.annRecallReport(Tables.embeddings(s, d),
        Seq(0L, 1L, 2L, 3L, 4L), k = 10)
    }.sortedBy(col("query_id")),

    // Multi-probe recall report: the recall side of the probe-budget
    // trade next to t_ann_recall's single-probe number.
    QueryDef("t_ann_recall_multiprobe",
      s"""WITH annr AS (SELECT query_id, neighbor_id
         |  FROM (${annLshMultiProbeSqlFor(1)}) a),
         |exq AS (SELECT vec_id AS query_id, embedding AS qv
         |  FROM embeddings WHERE vec_id < 5),
         |exs AS (SELECT q.query_id, e.vec_id AS neighbor_id,
         |    round(${cosine("q.qv", "e.embedding")}, 6) AS cos
         |  FROM exq q JOIN embeddings e ON e.vec_id <> q.query_id),
         |exr AS (SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY cos DESC, neighbor_id) AS rn FROM exs)
         |  WHERE rn <= 10),
         |rhit AS (SELECT e.query_id, CAST(count(*) AS BIGINT) AS n_hit
         |  FROM exr e JOIN annr a USING (query_id, neighbor_id)
         |  GROUP BY 1),
         |rtot AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_exact
         |  FROM exr GROUP BY 1)
         |SELECT t.query_id, t.n_exact, coalesce(h.n_hit, 0) AS n_hit,
         |  coalesce(h.n_hit, 0) * 100 // t.n_exact AS recall_x100
         |FROM rtot t LEFT JOIN rhit h USING (query_id)
         |ORDER BY query_id""".stripMargin) { (s, d) =>
      Similarity.annRecallReportMultiProbe(Tables.embeddings(s, d),
        Seq(0L, 1L, 2L, 3L, 4L), k = 10)
    }.sortedBy(col("query_id")),

    QueryDef("t_ann_lsh", annLshSql) { (s, d) =>
      Similarity.annTopK(Tables.embeddings(s, d), Seq(0L, 1L, 2L, 3L, 4L),
        k = 10, planes = 4, dims = 64)
    }.sortedBy(col("query_id"), col("rank")),

    // Same ANN search over the PERSISTED LSH index (write-once bucketed
    // tables, search-only hot path): bit-identical to t_ann_lsh, so the
    // same oracle gates the whole write/read lifecycle.
    QueryDef("t_ann_lsh_indexed", annLshSql) { (s, d) =>
      Similarity.annTopKIndexed(s, lshIndexFor(s, d),
        Seq(0L, 1L, 2L, 3L, 4L), k = 10)
    }.sortedBy(col("query_id"), col("rank")),

    // Multi-probe search over the SAME persisted index (probe the
    // bucket + every 1-bit flip; zero index growth). The oracle expands
    // the identical probe list and reranks exactly — and since the
    // indexed buckets are bit-identical to inline bucketing, this one
    // oracle gates the multi-probe path end to end.
    QueryDef("t_ann_lsh_multiprobe", annLshMultiProbeSqlFor(1)) { (s, d) =>
      Similarity.annTopKMultiProbeIndexed(s, lshIndexFor(s, d),
        Seq(0L, 1L, 2L, 3L, 4L), k = 10, planes = 4)
    }.sortedBy(col("query_id"), col("rank")),

    // 2-bit probe budget over the SAME persisted index: the probe set
    // adds every C(planes, 2) two-bit flip (Lv et al.'s extended
    // perturbation sequence) — another recall step at zero index cost.
    // The oracle expands the identical 1-bit + 2-bit xor list.
    QueryDef("t_ann_lsh_multiprobe2", annLshMultiProbeSqlFor(2)) { (s, d) =>
      Similarity.annTopKMultiProbeIndexed(s, lshIndexFor(s, d),
        Seq(0L, 1L, 2L, 3L, 4L), k = 10, planes = 4, probeBits = 2)
    }.sortedBy(col("query_id"), col("rank")),

    // IVF variant (deterministic k-means coarse quantizer + nProbe cell
    // probing + exact rerank through the TopKPerKey operator), fully
    // oracle-checked: the DuckDB side retrains the same centroids
    // (ivfCtes) and replays the same search. Recall and the
    // probe-all-cells==brute-force degeneration are additionally
    // asserted in the test suite.
    QueryDef("t_ann_ivf", annIvfSql) { (s, d) =>
      Similarity.ivfTopK(Tables.embeddings(s, d), Seq(0L, 1L, 2L, 3L, 4L),
        k = 10, centroids = 16, nProbe = 6)
    }.sortedBy(col("query_id"), col("rank")),

    // Same IVF search over the PERSISTED index (trained quantizer +
    // cell-bucketed inverted lists written once): the search-only path
    // must replay the identical oracle through a write/read cycle —
    // this is the index-lifecycle gate, and the scale answer to
    // train-per-query.
    QueryDef("t_ann_ivf_indexed", annIvfSql) { (s, d) =>
      Similarity.ivfTopKIndexed(s, ivfIndexFor(s, d),
        Seq(0L, 1L, 2L, 3L, 4L), k = 10, nProbe = 6)
    }.sortedBy(col("query_id"), col("rank")),

    // ── Semantic packing (in-context-pretraining layout) ───────────
    // Related documents land in the same training pack: docs take
    // their embedding's IVF cell (trainCentroids + assignCells — the
    // proven quantizer CTEs) and pack cell-ordered (curriculumPack
    // with stage = cell), so a context window reads topically related
    // neighbors instead of random crawl order.
    QueryDef("t_semantic_pack",
      s"""WITH ${ivfCtes(k = 16, nProbe = 1, queryPred = "FALSE",
              "embeddings")},
         |spt AS (SELECT d.doc_id, a.cell,
         |  CASE WHEN d.text IS NULL THEN 0
         |       ELSE len(string_split(d.text, ' ')) END AS toks,
         |  ${polyhash("CAST(d.doc_id AS VARCHAR)")} % 10000 AS bkt
         |  FROM documents d JOIN assigned a ON a.vec_id = d.doc_id),
         |spc AS (SELECT doc_id, cell, toks,
         |  sum(toks) OVER (ORDER BY cell, bkt, doc_id
         |                  ROWS UNBOUNDED PRECEDING) AS cum FROM spt)
         |SELECT doc_id, CAST(cell AS BIGINT) AS cell,
         |  CAST((cum - toks) // 512 AS BIGINT) AS pack
         |FROM spc ORDER BY doc_id""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val cents = Similarity.trainCentroids(emb, k = 16)
      val cells = Similarity.assignCells(emb, cents)
        .select(col("vec_id").as("doc_id"), col("cell"))
      val staged = Tables.documents(s, d)
        .select(col("doc_id"),
          when(col("text").isNull, 0)
            .otherwise(size(split(col("text"), " "))).as("toks"))
        .join(cells, "doc_id")
      graft.ext.Packing.curriculumPack(staged, col("doc_id"),
          col("toks"), col("cell"), 512L)
        .select(col("doc_id"), col("cell"), col("pack"))
    }.sortedBy(col("doc_id")),

    // ── Hard-negative mining ───────────────────────────────────────
    // Exact rung: per anchor, the 10 highest-cosine DIFFERENT-label
    // vectors (the negatives a contrastive loss actually learns from).
    // Self-pairs fall out for free (a vector shares its own label).
    QueryDef("t_hard_negatives",
      s"""WITH q AS (
         |  SELECT vec_id AS query_id, embedding AS qv, label AS ql
         |  FROM embeddings WHERE vec_id < 5),
         |scored AS (
         |  SELECT q.query_id, e.vec_id AS neighbor_id,
         |         e.label AS neg_label,
         |         round(${cosine("q.qv", "e.embedding")}, 6) AS cos
         |  FROM q JOIN embeddings e ON e.label <> q.ql),
         |ranked AS (
         |  SELECT query_id, neighbor_id, neg_label, cos,
         |         CAST(row_number() OVER (PARTITION BY query_id
         |              ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
         |  FROM scored)
         |SELECT * FROM ranked WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin) { (s, d) =>
      Similarity.hardNegatives(Tables.embeddings(s, d),
        Seq(0L, 1L, 2L, 3L, 4L), k = 10)
    }.sortedBy(col("query_id"), col("rank")),

    // IVF-probed mining — the 100 TB path: only the anchors' probed
    // inverted lists are scored and label-filtered. Same deterministic
    // quantizer CTEs as t_ann_ivf, so cells/probes/candidates replay
    // bit-for-bit; the label cut is applied to the identical candidate
    // set on both engines.
    QueryDef("t_hard_negatives_ivf",
      s"""WITH ${ivfCtes(k = 16, nProbe = 6, queryPred = "vec_id < 5", "embeddings")},
         |cand AS (
         |  SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
         |  FROM assigned a JOIN probes p ON a.cell = p.cell),
         |scored AS (
         |  SELECT c.query_id, c.neighbor_id, ne.label AS neg_label,
         |         round(${cosine("qe.embedding", "ne.embedding")}, 6) AS cos
         |  FROM cand c
         |  JOIN embeddings qe ON qe.vec_id = c.query_id
         |  JOIN embeddings ne ON ne.vec_id = c.neighbor_id
         |  WHERE ne.label <> qe.label),
         |ranked AS (
         |  SELECT query_id, neighbor_id, neg_label, cos,
         |         CAST(row_number() OVER (PARTITION BY query_id
         |              ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
         |  FROM scored)
         |SELECT * FROM ranked WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin) { (s, d) =>
      Similarity.hardNegativesIvf(Tables.embeddings(s, d),
        Seq(0L, 1L, 2L, 3L, 4L), k = 10, centroids = 16, nProbe = 6)
    }.sortedBy(col("query_id"), col("rank")),

    // Incremental LSH index maintenance: index built on the first half,
    // the rest APPENDED as a delta (only the delta is ever bucketed).
    // Sign-buckets are data-independent, so the appended index must be
    // bit-identical to a full build — the SAME t_ann_lsh oracle gates it.
    QueryDef("t_ann_lsh_appended", annLshSql) { (s, d) =>
      Similarity.annTopKIndexed(s, lshAppendIndexFor(s, d),
        Seq(0L, 1L, 2L, 3L, 4L), k = 10)
    }.sortedBy(col("query_id"), col("rank")),

    // Incremental IVF index maintenance: quantizer trained on the first
    // half and FROZEN; the delta is assigned against it and appended to
    // the cell-bucketed lists (standard IVF maintenance — no retrain, no
    // rebuild). The oracle retrains the same half-corpus quantizer in
    // DuckDB and assigns the full corpus against it.
    QueryDef("t_ann_ivf_appended",
      annIvfSqlFor(s"(SELECT * FROM embeddings WHERE vec_id < $AppendCut)")) { (s, d) =>
      Similarity.ivfTopKIndexed(s, ivfAppendIndexFor(s, d),
        Seq(0L, 1L, 2L, 3L, 4L), k = 10, nProbe = 6)
    }.sortedBy(col("query_id"), col("rank")),

    // PQ (product-quantization) ANN — the memory-bound scale path:
    // per-subspace codebooks (deterministic k-means, same seed sampling
    // and quantized-integer Lloyd mean as IVF), m-code encoding, and
    // ADC scoring as integer sums of quantized sub-dots. The oracle
    // retrains all m codebooks, re-encodes the corpus and replays every
    // score bit-for-bit.
    QueryDef("t_ann_pq", annPqSql) { (s, d) =>
      Similarity.pqTopK(Tables.embeddings(s, d), Seq(0L, 1L, 2L, 3L, 4L),
        kNn = 10)
    }.sortedBy(col("query_id"), col("rank")),

    // PQ + exact rerank — the standard recall repair: ADC (codes-only)
    // prunes to a 30-candidate window per query; only those windows'
    // float vectors are read back for the exact-cosine rerank. Float
    // reads are candidate-bound, never corpus-bound.
    QueryDef("t_ann_pq_rerank", annPqRerankSql) { (s, d) =>
      Similarity.pqTopKReranked(Tables.embeddings(s, d),
        Seq(0L, 1L, 2L, 3L, 4L), kNn = 10, rerank = 30)
    }.sortedBy(col("query_id"), col("rank")),

    // Same PQ search over the PERSISTED index (codebooks + codes
    // written once; the query path is a LUT + codes scan with zero
    // training/encoding) — the same oracle gates the whole lifecycle.
    QueryDef("t_ann_pq_indexed", annPqSql) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      Similarity.pqTopKIndexed(s, pqIndexFor(s, d),
        emb.filter(col("vec_id") < 5), kNn = 10)
    }.sortedBy(col("query_id"), col("rank")),

    // Incremental PQ index maintenance: codebooks trained on the first
    // half and FROZEN; the delta is encoded against them and appended.
    // The oracle retrains the half-corpus codebooks in DuckDB and
    // re-encodes the full corpus against them.
    QueryDef("t_ann_pq_appended", annPqSqlFor(HalfCorpus)) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      Similarity.pqTopKIndexed(s, pqAppendIndexFor(s, d),
        emb.filter(col("vec_id") < 5), kNn = 10)
    }.sortedBy(col("query_id"), col("rank")),

    // IVF×PQ composite — the standard large-scale ANN architecture:
    // IVF probing prunes candidates to nProbe inverted lists, ADC over
    // PQ codes scores the survivors. The oracle composes the two proven
    // CTE generators (prefix-isolated) and joins candidate pruning with
    // the quantized score parts.
    QueryDef("t_ann_ivfpq", annIvfPqSql) { (s, d) =>
      Similarity.ivfPqTopK(Tables.embeddings(s, d), Seq(0L, 1L, 2L, 3L, 4L),
        kNn = 10, nProbe = 6)
    }.sortedBy(col("query_id"), col("rank")),

    // Same composite over the PERSISTED IVF×PQ index (quantizer, bare
    // id inverted lists, codebooks and id-bucketed codes written once;
    // the query path runs zero training, zero encoding and reads zero
    // corpus floats) — the same oracle gates the whole lifecycle, and
    // the plan proof in LlmOpsSpec asserts no Lloyd/encode stages.
    QueryDef("t_ann_ivfpq_indexed", annIvfPqSql) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      Similarity.ivfPqTopKIndexed(s, ivfPqIndexFor(s, d),
        emb.filter(col("vec_id") < 5), kNn = 10)
    }.sortedBy(col("query_id"), col("rank")),

    // IVF×PQ + exact rerank — the full production ANN recipe (probe
    // pruning, memory-bound ADC window, candidate-bound float rerank);
    // both stages' tie-breaks replay exactly in the oracle.
    QueryDef("t_ann_ivfpq_rerank", annIvfPqRerankSql) { (s, d) =>
      Similarity.ivfPqTopKReranked(Tables.embeddings(s, d),
        Seq(0L, 1L, 2L, 3L, 4L), kNn = 10, rerank = 30)
    }.sortedBy(col("query_id"), col("rank")),

    // Incremental composite maintenance: BOTH quantizers trained on the
    // first half and frozen; the delta is assigned + encoded against
    // them in one appendToIvfPqIndex call. The oracle retrains both
    // half-corpus quantizers and replays assignment + encoding of the
    // full corpus against them.
    QueryDef("t_ann_ivfpq_appended", annIvfPqSqlFor(HalfCorpus)) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      Similarity.ivfPqTopKIndexed(s, ivfPqAppendIndexFor(s, d),
        emb.filter(col("vec_id") < 5), kNn = 10)
    }.sortedBy(col("query_id"), col("rank")),

    // Embedding-cosine near-dup pairs (dedup family): LSH-bucketed
    // candidates ≥ threshold, oracle-checked end-to-end (bucket
    // reproduction + canonical pair join + exact cosine cut).
    // 7 planes = 128 buckets: candidate volume scales as n²/2^planes per
    // table — too few planes floods the rerank (3 planes ≈ 25M pairs at
    // sf0.1, ~12s; 7 planes ≈ 0.8M, sub-second).
    QueryDef("t_embed_neardup",
      s"""WITH ${lshBucketsCte(tables = 8, planes = 7, dims = 64)},
         |vgrp AS (SELECT embedding AS emb, min(vec_id) AS rep
         |         FROM embeddings WHERE embedding IS NOT NULL
         |         GROUP BY embedding),
         |vmem AS (SELECT e.vec_id, g.rep FROM embeddings e
         |         JOIN vgrp g ON e.embedding = g.emb),
         |rbuckets AS (
         |  SELECT b.vec_id, b.tbl, b.bucket
         |  FROM buckets b JOIN vgrp g ON g.rep = b.vec_id
         |  QUALIFY count(*) OVER (PARTITION BY b.tbl, b.bucket)
         |          <= ${Dedup.DefaultMaxBucketWidth}),
         |cand AS (
         |  SELECT DISTINCT l.vec_id AS id_a, r.vec_id AS id_b
         |  FROM rbuckets l JOIN rbuckets r
         |    ON l.tbl = r.tbl AND l.bucket = r.bucket AND l.vec_id < r.vec_id),
         |rscored AS (
         |  SELECT c.id_a, c.id_b,
         |         round(${cosine("a.embedding", "b.embedding")}, 6) AS cos
         |  FROM cand c
         |  JOIN embeddings a ON a.vec_id = c.id_a
         |  JOIN embeddings b ON b.vec_id = c.id_b),
         |rpass AS (SELECT * FROM rscored WHERE cos >= 0.25),
         |selfcos AS (
         |  SELECT g.rep, round(${cosine("e.embedding", "e.embedding")}, 6) AS cos
         |  FROM vgrp g JOIN embeddings e ON e.vec_id = g.rep),
         |pairs AS (
         |  SELECT least(ma.vec_id, mb.vec_id) AS id_a,
         |         greatest(ma.vec_id, mb.vec_id) AS id_b, p.cos
         |  FROM rpass p
         |  JOIN vmem ma ON ma.rep = p.id_a
         |  JOIN vmem mb ON mb.rep = p.id_b
         |  UNION ALL
         |  SELECT ma.vec_id, mb.vec_id, s.cos
         |  FROM vmem ma JOIN vmem mb ON ma.rep = mb.rep AND ma.vec_id < mb.vec_id
         |  JOIN selfcos s ON s.rep = ma.rep
         |  WHERE s.cos >= 0.25)
         |SELECT id_a, id_b, cos FROM pairs ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
      Similarity.embeddingNearDups(Tables.embeddings(s, d),
        threshold = 0.25, planes = 7, dims = 64)
    }.sortedBy(col("id_a"), col("id_b")),
  )
}
