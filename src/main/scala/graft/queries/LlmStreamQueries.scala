package graft.queries

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ext.{Dedup, Multimodal, Similarity, TextAnalysis}

/** Streaming ingest-gate, passage/CDC dedup and ExactSubstr queries.
  * Split out of the monolithic LlmQueries registry (round 20); order
  * and semantics unchanged — [[LlmQueries.defs]] concatenates the
  * families in the original sequence.
  */
private[graft] object LlmStreamQueries {
  import LlmOracle._
  import LlmShared._

  val defs: Seq[QueryDef] = Seq(
    // ── Streaming ingest gate, batch core oracle-gated ─────────────
    // The gate's admit decision replayed end to end in SQL: stage 1
    // seeds the store through the SAME pipeline (exact-collapse of the
    // even ids, capped within-batch near-dup drop); stage 2 probes the
    // odd ids + redelivered evens — store-id anti-join, near-dups vs
    // the store's (uncapped) band rows, then the capped within-batch
    // pairwise rule. Output = admitted doc ids.
    QueryDef("t_ingest_gate",
      s"""WITH $hashesCte, $sigCte,
         |${collapseCtes(GateStorePred, "s")},
         |${bandsOverCte("sreps", "sbands", Dedup.DefaultMaxBucketWidth)},
         |${selfCandCte("sbands", "scand")},
         |${jaccardDropCte("scand", "sdrop", 8, 10)},
         |store AS (SELECT doc_id FROM sreps
         |  WHERE doc_id NOT IN (SELECT doc_id FROM sdrop)),
         |${collapseCtes(GateBatchPred, "b")},
         |unknown AS (SELECT doc_id FROM breps
         |  WHERE doc_id NOT IN (SELECT doc_id FROM store)),
         |${bandsOverCte("unknown", "ubands", 0)},
         |${bandsOverCte("store", "stbands", 0)},
         |ncand AS (SELECT DISTINCT t.doc_id AS doc_a, u.doc_id AS doc_b
         |  FROM ubands u JOIN stbands t
         |    ON u.band = t.band AND u.bkey = t.bkey),
         |${jaccardDropCte("ncand", "ndrop", 8, 10)},
         |surv AS (SELECT doc_id FROM unknown
         |  WHERE doc_id NOT IN (SELECT doc_id FROM ndrop)),
         |${bandsOverCte("surv", "wbands", Dedup.DefaultMaxBucketWidth)},
         |${selfCandCte("wbands", "wcand")},
         |${jaccardDropCte("wcand", "wdrop", 8, 10)}
         |SELECT doc_id FROM surv
         |WHERE doc_id NOT IN (SELECT doc_id FROM wdrop)
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val batch = Tables.documents(s, d).filter(expr(GateBatchPred))
      graft.streaming.IngestDedupGate.filterNovel(batch, gateStoreFor(s, d))
        .select(col("doc_id"))
    }.sortedBy(col("doc_id")),

    // The BATCH PROBE against the same pre-committed store: every doc
    // of the offline drop gets the stage that decided it (exact copy in
    // the drop / id already stored / near-dup of stored content /
    // near-dup of a smaller-id drop survivor / admit) — the read-only
    // "backfill arrives as files" screen. The oracle replays all four
    // stages with the verdict CASE in filterNovel's stage order; the
    // admit set is definitionally t_ingest_gate's output (and
    // IngestGateSpec asserts probe ≡ filterNovel on a live store).
    QueryDef("t_gate_probe_batch",
      s"""WITH $hashesCte, $sigCte,
         |${collapseCtes(GateStorePred, "s")},
         |${bandsOverCte("sreps", "sbands", Dedup.DefaultMaxBucketWidth)},
         |${selfCandCte("sbands", "scand")},
         |${jaccardDropCte("scand", "sdrop", 8, 10)},
         |store AS (SELECT doc_id FROM sreps
         |  WHERE doc_id NOT IN (SELECT doc_id FROM sdrop)),
         |${collapseCtes(GateBatchPred, "b")},
         |bmem AS (SELECT h.doc_id, coalesce(g.rep, h.doc_id) AS rep
         |  FROM hashes h LEFT JOIN bgrp g ON h.hs = g.hs
         |  WHERE ($GateBatchPred)),
         |unknown AS (SELECT doc_id FROM breps
         |  WHERE doc_id NOT IN (SELECT doc_id FROM store)),
         |${bandsOverCte("unknown", "ubands", 0)},
         |${bandsOverCte("store", "stbands", 0)},
         |ncand AS (SELECT DISTINCT t.doc_id AS doc_a, u.doc_id AS doc_b
         |  FROM ubands u JOIN stbands t
         |    ON u.band = t.band AND u.bkey = t.bkey),
         |${jaccardDropCte("ncand", "ndrop", 8, 10)},
         |surv AS (SELECT doc_id FROM unknown
         |  WHERE doc_id NOT IN (SELECT doc_id FROM ndrop)),
         |${bandsOverCte("surv", "wbands", Dedup.DefaultMaxBucketWidth)},
         |${selfCandCte("wbands", "wcand")},
         |${jaccardDropCte("wcand", "wdrop", 8, 10)}
         |SELECT m.doc_id,
         |  CASE WHEN m.doc_id <> m.rep THEN 'exact_dup_batch'
         |       WHEN m.doc_id IN (SELECT doc_id FROM store) THEN 'known_id'
         |       WHEN m.doc_id IN (SELECT doc_id FROM ndrop)
         |         THEN 'store_near_dup'
         |       WHEN m.doc_id IN (SELECT doc_id FROM wdrop)
         |         THEN 'batch_near_dup'
         |       ELSE 'admit' END AS verdict
         |FROM bmem m ORDER BY m.doc_id""".stripMargin) { (s, d) =>
      val drop = Tables.documents(s, d).filter(expr(GateBatchPred))
      graft.streaming.IngestDedupGate.probeBatch(drop, gateStoreFor(s, d))
    }.sortedBy(col("doc_id")),

    // ── Passage-level exact dedup (CCNet/RefinedWeb line dedup) ────
    // 8-word passages hashed corpus-wide; duplicated passages keep
    // only the first occurrence (min doc·2²⁰+idx key — a skew-safe min
    // aggregation on both engines); documents reassembled from
    // surviving passages. Natural duplication: the generator plants
    // repeated spans across documents, so the keep set is non-trivial.
    QueryDef("t_passage_dedup",
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
         |  FROM documents WHERE text IS NOT NULL),
         |s AS (SELECT doc_id, ws,
         |  unnest(CASE WHEN len(ws) > 0 THEN range(0, len(ws), 8)
         |         ELSE [] END) AS st FROM w),
         |p AS (SELECT doc_id, CAST(st // 8 AS BIGINT) AS cid,
         |  array_to_string(ws[st+1:st+8], ' ') AS ct FROM s),
         |ph AS (SELECT doc_id, cid, ct, ${polyhash64("ct")} AS h,
         |  doc_id * ${Dedup.PassageKeyBase} + cid AS k FROM p),
         |f AS (SELECT h, min(k) AS mk FROM ph GROUP BY h),
         |fl AS (SELECT ph.doc_id, ph.cid, ph.ct, ph.k = f.mk AS keep
         |  FROM ph JOIN f ON f.h = ph.h),
         |agg AS (SELECT doc_id,
         |  CAST(count(*) AS BIGINT) AS np,
         |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS nk,
         |  string_agg(CASE WHEN keep THEN ct END, ' ' ORDER BY cid) AS ctext
         |  FROM fl GROUP BY doc_id)
         |SELECT d.doc_id,
         |  CASE WHEN d.text IS NULL THEN NULL
         |       ELSE coalesce(a.ctext, '') END AS clean_text,
         |  CAST(coalesce(a.np, 0) AS BIGINT) AS n_passages,
         |  CAST(coalesce(a.nk, 0) AS BIGINT) AS n_kept
         |FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      Dedup.dedupPassages(Tables.documents(s, d), window = 8)
    }.sortedBy(col("doc_id")),

    // Per-DOCUMENT scope: intra-doc repeated-span trim. Each doc's own
    // first 8-word passage is PLANTED again at its head (both sides),
    // so every ≥8-word document carries a genuine intra-doc duplicate;
    // cross-doc duplicates must survive (scope is the document).
    QueryDef("t_passage_dedup_doc",
      s"""WITH w0 AS (SELECT doc_id, text, string_split(text, ' ') AS ws0
         |  FROM documents),
         |pl AS (SELECT doc_id,
         |  CASE WHEN text IS NULL THEN NULL
         |       ELSE array_to_string(ws0[1:8], ' ') || ' ' || text
         |  END AS text FROM w0),
         |w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM pl
         |  WHERE text IS NOT NULL),
         |s AS (SELECT doc_id, ws,
         |  unnest(CASE WHEN len(ws) > 0 THEN range(0, len(ws), 8)
         |         ELSE [] END) AS st FROM w),
         |p AS (SELECT doc_id, CAST(st // 8 AS BIGINT) AS cid,
         |  array_to_string(ws[st+1:st+8], ' ') AS ct FROM s),
         |ph AS (SELECT doc_id, cid, ct, ${polyhash64("ct")} AS h,
         |  doc_id * ${Dedup.PassageKeyBase} + cid AS k FROM p),
         |f AS (SELECT doc_id, h, min(k) AS mk FROM ph GROUP BY 1, 2),
         |fl AS (SELECT ph.doc_id, ph.cid, ph.ct, ph.k = f.mk AS keep
         |  FROM ph JOIN f ON f.h = ph.h AND f.doc_id = ph.doc_id),
         |agg AS (SELECT doc_id,
         |  CAST(count(*) AS BIGINT) AS np,
         |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS nk,
         |  string_agg(CASE WHEN keep THEN ct END, ' ' ORDER BY cid) AS ctext
         |  FROM fl GROUP BY doc_id)
         |SELECT d.doc_id,
         |  CASE WHEN d.text IS NULL THEN NULL
         |       ELSE coalesce(a.ctext, '') END AS clean_text,
         |  CAST(coalesce(a.np, 0) AS BIGINT) AS n_passages,
         |  CAST(coalesce(a.nk, 0) AS BIGINT) AS n_kept
         |FROM pl d LEFT JOIN agg a ON a.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val planted = docs.select(col("doc_id"),
        when(col("text").isNull, lit(null).cast("string"))
          .otherwise(concat(
            concat_ws(" ", slice(split(col("text"), " "), 1, 8)),
            lit(" "), col("text"))).as("text"))
      Dedup.dedupPassages(planted, window = 8, perDocument = true)
    }.sortedBy(col("doc_id")),

    // ── Content-defined chunking passage dedup (edit-robust) ───────
    // Chunk boundaries fall where the trailing 4-word shingle's
    // PolyHash ≡ 0 mod 8 — a pure function of local content, so the
    // PLANTED copies (every doc_id < 25 re-appears under +100000 with
    // one word PREPENDED) re-synchronize after the first boundary and
    // their chunks dedup against the originals, where fixed-stride
    // windows would all shift and match nothing. Oracle replays the
    // boundary rule, bounds assembly, slicing, min-key law and
    // reassembly bit for bit.
    QueryDef("t_passage_dedup_cdc", {
      // the boundary lambda variable must NOT be `i` — polyhash()'s own
      // inner list_transform binds `i`, and DuckDB resolves the inner
      // binding (shadowing), which would hash with the character index
      // in place of the word index
      val shingle = "ws[bi-3] || ' ' || ws[bi-2] || ' ' || ws[bi-1] || ' ' || ws[bi]"
      s"""WITH aug AS (SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 100000, 'zzz ' || text FROM documents
         |  WHERE doc_id < 25 AND text IS NOT NULL),
         |cw AS (SELECT doc_id, string_split(text, ' ') AS ws
         |  FROM aug WHERE text IS NOT NULL),
         |cbn AS (SELECT doc_id, ws, list_concat(list_concat(
         |    [0],
         |    CASE WHEN len(ws) - 1 >= 4 THEN
         |      list_filter(generate_series(4, len(ws) - 1),
         |        bi -> (${polyhash(shingle)}) % 8 = 0)
         |    ELSE [] END),
         |    [len(ws)]) AS bounds FROM cw),
         |cch AS (SELECT doc_id, ws, bounds,
         |    unnest(generate_series(2, len(bounds))) AS j FROM cbn),
         |p AS (SELECT doc_id, CAST(j - 2 AS BIGINT) AS cid,
         |    array_to_string(ws[bounds[j-1]+1 : bounds[j]], ' ') AS ct
         |  FROM cch),
         |ph AS (SELECT doc_id, cid, ct, ${polyhash64("ct")} AS h,
         |  doc_id * ${Dedup.PassageKeyBase} + cid AS k FROM p),
         |f AS (SELECT h, min(k) AS mk FROM ph GROUP BY h),
         |fl AS (SELECT ph.doc_id, ph.cid, ph.ct, ph.k = f.mk AS keep
         |  FROM ph JOIN f ON f.h = ph.h),
         |agg AS (SELECT doc_id,
         |  CAST(count(*) AS BIGINT) AS np,
         |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS nk,
         |  string_agg(CASE WHEN keep THEN ct END, ' ' ORDER BY cid) AS ctext
         |  FROM fl GROUP BY doc_id)
         |SELECT d.doc_id,
         |  CASE WHEN d.text IS NULL THEN NULL
         |       ELSE coalesce(a.ctext, '') END AS clean_text,
         |  CAST(coalesce(a.np, 0) AS BIGINT) AS n_passages,
         |  CAST(coalesce(a.nk, 0) AS BIGINT) AS n_kept
         |FROM aug d LEFT JOIN agg a ON a.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin
    }) { (s, d) =>
      val docs = Tables.documents(s, d)
      val planted = docs.select(col("doc_id"), col("text")).union(
        docs.filter(col("doc_id") < 25 && col("text").isNotNull)
          .select((col("doc_id") + 100000).as("doc_id"),
            concat(lit("zzz "), col("text")).as("text")))
      Dedup.dedupPassagesCdc(planted, divisor = 8)
    }.sortedBy(col("doc_id")),

    // ── ExactSubstr duplicated-span statistics (Lee et al. 2022) ───
    // Stride-1 10-token windows; a window hash seen ≥ 2× corpus-wide
    // flags its tokens, the globally-first occurrence exempt
    // (keepFirst). PLANTED twins (every doc_id < 25 re-appears under
    // +1000000 with 'xq7' prepended) guarantee long duplicated spans:
    // the twin's copied text is one maximal span while the original
    // (first occurrence) scores 0. Oracle replays window hashing, the
    // min-key exemption, and gaps-and-islands interval merging.
    QueryDef("t_dup_spans",
      s"""WITH pl AS (SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000, 'xq7 ' || text FROM documents
         |  WHERE doc_id < 25 AND text IS NOT NULL),
         |w AS (SELECT doc_id, string_split(text, ' ') AS ws
         |  FROM pl WHERE text IS NOT NULL),
         |wins AS (SELECT doc_id, ws,
         |  unnest(CASE WHEN len(ws) >= 10 THEN range(0, len(ws) - 9)
         |         ELSE [] END) AS wi FROM w),
         |wt AS (SELECT doc_id, wi,
         |  array_to_string(ws[wi+1:wi+10], ' ') AS t10 FROM wins),
         |h AS (SELECT doc_id, wi, ${polyhash64("t10")} AS h,
         |  doc_id * ${Dedup.PassageKeyBase} + wi AS k FROM wt),
         |f AS (SELECT h, count(*) AS c, min(k) AS mk FROM h GROUP BY h),
         |fl AS (SELECT h.doc_id, h.wi FROM h JOIN f ON f.h = h.h
         |  WHERE f.c >= 2 AND h.k <> f.mk),
         |x AS (SELECT doc_id, wi, max(wi + 10) OVER (PARTITION BY doc_id
         |    ORDER BY wi ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |    AS pmax FROM fl),
         |g AS (SELECT doc_id, wi, CASE WHEN pmax IS NULL OR wi > pmax
         |    THEN 1 ELSE 0 END AS ng FROM x),
         |gi AS (SELECT doc_id, wi, sum(ng) OVER (PARTITION BY doc_id
         |    ORDER BY wi) AS grp FROM g),
         |iv AS (SELECT doc_id, grp, min(wi) AS s, max(wi) + 10 AS e
         |  FROM gi GROUP BY 1, 2),
         |agg AS (SELECT doc_id, CAST(sum(e - s) AS BIGINT) AS dup_tokens,
         |  CAST(count(*) AS BIGINT) AS n_spans,
         |  CAST(max(e - s) AS BIGINT) AS max_span FROM iv GROUP BY doc_id)
         |SELECT p.doc_id,
         |  CAST(CASE WHEN p.text IS NULL THEN 0
         |       ELSE len(string_split(p.text, ' ')) END AS BIGINT) AS n_tokens,
         |  CAST(coalesce(a.dup_tokens, 0) AS BIGINT) AS dup_tokens,
         |  CAST(coalesce(a.n_spans, 0) AS BIGINT) AS n_spans,
         |  CAST(coalesce(a.max_span, 0) AS BIGINT) AS max_span
         |FROM pl p LEFT JOIN agg a ON a.doc_id = p.doc_id
         |ORDER BY p.doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val planted = docs.select(col("doc_id"), col("text")).union(
        docs.filter(col("doc_id") < 25 && col("text").isNotNull)
          .select((col("doc_id") + 1000000).as("doc_id"),
            concat(lit("xq7 "), col("text")).as("text")))
      Dedup.dupSpanStats(planted, minLen = 10)
    }.sortedBy(col("doc_id")),

    // ExactSubstr REMOVAL over the same planted corpus: every token
    // covered by a non-first duplicated window drops; the oracle
    // expands flagged windows to covered positions and anti-joins the
    // token stream.
    QueryDef("t_dup_span_removal",
      s"""WITH pl AS (SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000, 'xq7 ' || text FROM documents
         |  WHERE doc_id < 25 AND text IS NOT NULL),
         |w AS (SELECT doc_id, string_split(text, ' ') AS ws
         |  FROM pl WHERE text IS NOT NULL),
         |wins AS (SELECT doc_id, ws,
         |  unnest(CASE WHEN len(ws) >= 10 THEN range(0, len(ws) - 9)
         |         ELSE [] END) AS wi FROM w),
         |wt AS (SELECT doc_id, wi,
         |  array_to_string(ws[wi+1:wi+10], ' ') AS t10 FROM wins),
         |h AS (SELECT doc_id, wi, ${polyhash64("t10")} AS h,
         |  doc_id * ${Dedup.PassageKeyBase} + wi AS k FROM wt),
         |f AS (SELECT h, count(*) AS c, min(k) AS mk FROM h GROUP BY h),
         |fl AS (SELECT h.doc_id, h.wi FROM h JOIN f ON f.h = h.h
         |  WHERE f.c >= 2 AND h.k <> f.mk),
         |cov0 AS (SELECT doc_id, unnest(range(wi, wi + 10)) AS t FROM fl),
         |cov AS (SELECT DISTINCT doc_id, t FROM cov0),
         |tok0 AS (SELECT doc_id, ws,
         |  unnest(range(0, len(ws))) AS t FROM w),
         |tok AS (SELECT doc_id, t, ws[t+1] AS wd FROM tok0),
         |kept AS (SELECT tok.doc_id, tok.t, tok.wd FROM tok
         |  LEFT JOIN cov ON cov.doc_id = tok.doc_id AND cov.t = tok.t
         |  WHERE cov.t IS NULL),
         |agg AS (SELECT doc_id,
         |  string_agg(wd, ' ' ORDER BY t) AS ctext,
         |  CAST(count(*) AS BIGINT) AS nk FROM kept GROUP BY doc_id)
         |SELECT p.doc_id,
         |  CASE WHEN p.text IS NULL THEN NULL
         |       ELSE coalesce(a.ctext, '') END AS clean_text,
         |  CAST(CASE WHEN p.text IS NULL THEN 0
         |       ELSE len(string_split(p.text, ' ')) END AS BIGINT) AS n_tokens,
         |  CAST(coalesce(a.nk, 0) AS BIGINT) AS kept_tokens
         |FROM pl p LEFT JOIN agg a ON a.doc_id = p.doc_id
         |ORDER BY p.doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val planted = docs.select(col("doc_id"), col("text")).union(
        docs.filter(col("doc_id") < 25 && col("text").isNotNull)
          .select((col("doc_id") + 1000000).as("doc_id"),
            concat(lit("xq7 "), col("text")).as("text")))
      Dedup.removeDupSpans(planted, minLen = 10)
    }.sortedBy(col("doc_id")),

    // ── Streaming eval counters, merge law oracle-gated ────────────
    // The EvalStream cell table after a CLOSED 4-batch log (hash
    // "arrival order", epoch 2 redelivered mid-log and marker-skipped)
    // must equal ONE single-pass aggregation over the whole corpus —
    // the oracle computes exactly that in SQL. Per-group accuracy +
    // 95% Wilson bounds off the maintained cells (the t_accuracy_ci
    // law, stream face).
    QueryDef("t_eval_stream",
      s"""WITH $qualityNbCtes,
         |alab AS (SELECT q.doc_id, d.source,
         |    CASE WHEN q.quality >= 3 THEN 'good' ELSE 'bad' END AS r
         |  FROM qscored q JOIN documents d USING (doc_id)
         |  WHERE q.text IS NOT NULL),
         |aagg AS (SELECT l.source AS grp,
         |    CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CASE WHEN c.pred = l.r THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_correct
         |  FROM qcls c JOIN alab l USING (doc_id)
         |  GROUP BY 1)
         |SELECT grp, n, n_correct,
         |  CAST((n_correct * 10000) // n AS BIGINT) AS acc_x10000,
         |  CAST(floor(10000.0 * (((n_correct + 1.9208)
         |    - 1.96 * sqrt(CAST(n_correct * (n - n_correct) AS DOUBLE)
         |        / CAST(n AS DOUBLE) + 0.9604))
         |    / (CAST(n AS DOUBLE) + 3.8416))) AS BIGINT)
         |    AS wilson_lo_x10000,
         |  CAST(floor(10000.0 * (((n_correct + 1.9208)
         |    + 1.96 * sqrt(CAST(n_correct * (n - n_correct) AS DOUBLE)
         |        / CAST(n AS DOUBLE) + 0.9604))
         |    / (CAST(n AS DOUBLE) + 3.8416))) AS BIGINT)
         |    AS wilson_hi_x10000
         |FROM aagg ORDER BY grp""".stripMargin) { (s, d) =>
      graft.streaming.EvalStream.report(s, evalCellsFor(s, d))
    }.sortedBy(col("grp")),

    // The full confusion matrix off the same maintained cells — the
    // direct gate on the (group, ref, pred) cell SUM-merge itself.
    QueryDef("t_eval_stream_confusion",
      s"""WITH $qualityNbCtes,
         |alab AS (SELECT q.doc_id, d.source,
         |    CASE WHEN q.quality >= 3 THEN 'good' ELSE 'bad' END AS r
         |  FROM qscored q JOIN documents d USING (doc_id)
         |  WHERE q.text IS NOT NULL)
         |SELECT l.source AS grp, l.r AS ref, c.pred AS pred,
         |  CAST(count(*) AS BIGINT) AS n
         |FROM qcls c JOIN alab l USING (doc_id)
         |GROUP BY 1, 2, 3
         |ORDER BY grp, ref, pred""".stripMargin) { (s, d) =>
      graft.streaming.EvalStream.confusion(s, evalCellsFor(s, d))
    }.sortedBy(col("grp"), col("ref"), col("pred")),

    // ── Streaming CMS, merge law oracle-gated (two faces) ──────────
    // Mass invariant: every token lands in exactly ONE cell per sketch
    // row, so after the closed log (epoch 2 redelivered and skipped)
    // each of the d=4 rows' cell mass must equal the corpus token
    // count EXACTLY — a double-counted replay or a dropped batch both
    // break it by that batch's token count. The one CMS law that needs
    // no hash replay (cell positions are XXH64, opaque to SQL; the
    // mass telescopes over them).
    QueryDef("t_cms_stream",
      """WITH ctoks AS (SELECT unnest(string_split(text, ' ')) AS word
        |  FROM documents WHERE text IS NOT NULL)
        |SELECT CAST(i AS BIGINT) AS row_idx,
        |  (SELECT CAST(count(*) AS BIGINT) FROM ctoks) AS mass
        |FROM range(4) t(i) ORDER BY row_idx""".stripMargin) { (s, d) =>
      val name = cmsStreamFor(s, d)
      s.table(graft.streaming.SketchStream.cmsTable(name))
        .filter(col("kind") === "c")
        .groupBy(expr(s"k div ${graft.ext.FreqSketch.DefaultWidth}")
          .as("row_idx"))
        .agg(sum("v").as("mass"))
    }.sortedBy(col("row_idx")),

    // No-undercount face: exact heavy hitters THROUGH the maintained
    // sketch (prune map-side on the stream-merged estimates, confirm
    // exactly). Count-min never undercounts, so the output must be
    // bit-identical to the plain exact aggregation the oracle runs —
    // a merge that LOST mass would prune a true heavy hitter and the
    // missing row hash-mismatches (t_cms_stream catches the
    // over-counting direction exactly).
    QueryDef("t_cms_stream_hh",
      """SELECT word, CAST(count(*) AS BIGINT) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS word
        |      FROM documents WHERE text IS NOT NULL) u
        |GROUP BY 1 HAVING count(*) >= 100
        |ORDER BY word""".stripMargin) { (s, d) =>
      graft.streaming.SketchStream.heavyHitters(s, cmsStreamFor(s, d),
        Tables.documents(s, d), threshold = 100L)
    }.sortedBy(col("word")),

    // ── Streaming DPO pairs, merge law oracle-gated ────────────────
    // The PreferenceStream store after a CLOSED 4-batch response log
    // (hash arrival order, epoch 2 redelivered — the epoch-keyed rows
    // overwrite themselves) must equal the BATCH dpoPairs operator
    // over the whole log: the oracle is t_dpo_pairs' single-pass SQL
    // verbatim. Gates the cross-batch associative fold AND the
    // overwrite idempotence at once.
    QueryDef("t_dpo_stream",
      s"""WITH ${qualityCtes("documents")},
         |resp AS (SELECT d.source, q.doc_id, q.quality
         |  FROM documents d JOIN qscored q USING (doc_id)
         |  WHERE d.text IS NOT NULL),
         |rk AS (SELECT source, doc_id, quality,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY quality DESC, doc_id) AS rc,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY quality ASC, doc_id) AS rr,
         |    count(*) OVER (PARTITION BY source) AS nr
         |  FROM resp)
         |SELECT c.source AS prompt_id, c.doc_id AS chosen_id,
         |  CAST(c.quality AS BIGINT) AS chosen_score,
         |  r.doc_id AS rejected_id,
         |  CAST(r.quality AS BIGINT) AS rejected_score,
         |  CAST(c.quality - r.quality AS BIGINT) AS margin,
         |  CAST(c.nr AS BIGINT) AS n_responses
         |FROM rk c JOIN rk r ON r.source = c.source
         |  AND c.rc = 1 AND r.rr = 1
         |WHERE c.quality - r.quality >= 1
         |ORDER BY prompt_id""".stripMargin) { (s, d) =>
      graft.streaming.PreferenceStream.currentDpoPairs(s,
        dpoStreamFor(s, d))
    }.sortedBy(col("prompt_id")),

    // ── Streaming chat render, merge + edit law oracle-gated ───────
    // The turn store after the closed log (4 hash-order batches, one
    // redelivery, one EDIT batch re-sending turn 0 of every 7th
    // conversation) must render as the batch operator over the LATEST
    // version of every turn — the oracle applies the edit as a CASE
    // and renders single-pass. conv ids read back as strings (the
    // store-key grain, disclosed).
    QueryDef("t_chat_stream",
      s"""WITH ct AS (SELECT doc_id // 4 AS conv_id, doc_id % 4 AS turn_idx,
         |    CASE WHEN doc_id % 2 = 0 THEN 'user'
         |         ELSE 'assistant' END AS role,
         |    CASE WHEN doc_id % 28 = 0 THEN 'EDITED ' || text
         |         ELSE text END AS content
         |  FROM documents WHERE text IS NOT NULL)
         |SELECT CAST(conv_id AS VARCHAR) AS conv_id,
         |  string_agg('<|' || role || '|>' || chr(10) || content
         |      || chr(10), '' ORDER BY turn_idx) AS text,
         |  CAST(count(*) AS BIGINT) AS n_turns,
         |  CAST(sum(length(role) + length(content) + 6) AS BIGINT)
         |    AS n_chars
         |FROM ct GROUP BY conv_id ORDER BY conv_id""".stripMargin) {
      (s, d) =>
      graft.streaming.PreferenceStream.currentChats(s, chatStreamFor(s, d))
    }.sortedBy(col("conv_id")),
  )
}
