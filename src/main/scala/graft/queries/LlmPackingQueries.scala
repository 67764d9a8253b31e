package graft.queries

import org.apache.spark.sql.functions._
import graft.core.Pin._
import graft.core.Tables
import graft.ext.{Dedup, Multimodal, Similarity, TextAnalysis}

/** Sequence packing, denoising/FIM prep, SFT/DPO/chat prep and mixture-apportionment queries.
  * Split out of the monolithic LlmQueries registry (round 20); order
  * and semantics unchanged — [[LlmQueries.defs]] concatenates the
  * families in the original sequence.
  */
private[graft] object LlmPackingQueries {
  import LlmOracle._
  import LlmShared._

  val defs: Seq[QueryDef] = Seq(
    // ── Deterministic sequence packing ─────────────────────────────
    // Context-window packing: docs in polyhash-bucket order, running
    // whitespace-token total cut into 512-token packs (pack = tokens
    // BEFORE the doc, integer-divided). The oracle computes the global
    // cumsum in one window; Spark decomposes it into a partitioned
    // within-group window + broadcast group offsets — same numbers,
    // no single-task stage.
    // ── Span-corruption prep (T5/UL2 denoising pairs) ──────────────
    // Deterministic span masking: each 20-token block hides one 3-token
    // span at offset polyhash(doc:block) % 18 (15% corruption, spans
    // never overlap, sentinel id = block index). The oracle replays the
    // same per-index arithmetic with DuckDB list lambdas; the coalesce
    // around each array_to_string bridges DuckDB's NULL-for-empty-list
    // vs Spark's ''-for-empty-array (a fully-unmasked doc has empty
    // targets).
    QueryDef("t_span_corruption",
      s"""WITH ${spanCorruptionCtes("documents")}
         |SELECT d.doc_id, c.inputs, c.targets,
         |  coalesce(c.n_tokens, 0) AS n_tokens,
         |  coalesce(c.n_masked, 0) AS n_masked,
         |  coalesce(c.n_spans, 0) AS n_spans
         |FROM documents d LEFT JOIN calc c USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      graft.ext.Packing.spanCorruption(Tables.documents(s, d))
    }.sortedBy(col("doc_id")),

    // ── Denoising-prep flagship (round-14 composition) ─────────────
    // The round's new ops end-to-end: near-dup clusters keep their
    // BEST-quality member → survivors pack curriculum-ordered
    // (cleanest first) → each packed doc becomes a T5/UL2
    // (inputs, targets) denoising pair. One consumable derived
    // relation, every stage an already-proven CTE family.
    QueryDef("t_denoising_prep",
      s"""WITH RECURSIVE $hashesCte, $sigCte,
         |${clusterCtes("documents", jNum = 8, jDen = 10)},
         |${qualityCtes("documents")},
         |dpkb AS (SELECT c.cluster_id, c.doc_id, q.quality
         |  FROM clusters c JOIN qscored q USING (doc_id)),
         |dpkr AS (SELECT cluster_id, doc_id, quality,
         |    row_number() OVER (PARTITION BY cluster_id
         |      ORDER BY quality DESC, doc_id) AS rn
         |  FROM dpkb),
         |dpkept AS (SELECT d.doc_id, d.text, k.quality
         |  FROM (SELECT doc_id, quality FROM dpkr WHERE rn = 1) k
         |  JOIN documents d USING (doc_id)),
         |dpt AS (SELECT doc_id, (4 - quality) AS stage,
         |  CASE WHEN text IS NULL THEN 0
         |       ELSE len(string_split(text, ' ')) END AS toks,
         |  ${polyhash("CAST(doc_id AS VARCHAR)")} % 10000 AS bkt
         |  FROM dpkept),
         |dpc AS (SELECT doc_id, stage, toks,
         |  sum(toks) OVER (ORDER BY stage, bkt, doc_id
         |                  ROWS UNBOUNDED PRECEDING) AS cum FROM dpt),
         |${spanCorruptionCtes("dpkept")}
         |SELECT p.doc_id, CAST(p.stage AS BIGINT) AS stage,
         |  CAST((p.cum - p.toks) // 512 AS BIGINT) AS pack,
         |  c.inputs, c.targets, coalesce(c.n_spans, 0) AS n_spans
         |FROM dpc p LEFT JOIN calc c USING (doc_id)
         |ORDER BY p.doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val scored = docs.select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")).cast("long").as("quality"))
      val best = Dedup.keepBest(Dedup.nearDupClusters(docs), scored)
        .select(col("keep_id").as("doc_id"), col("score").as("quality"))
      // PIN the survivor relation (consumed by the packing side twice
      // and the span side once) and RESTORE parallelism first: AQE
      // coalesces the small survivor-join shuffle to one partition,
      // which serialized the span stage's per-row HOF work onto a
      // single task — measured 12.3 s at sf0.1 vs 4.6 s with the
      // repartition (the Tables split-mitigation rationale applied to
      // a derived relation whose per-row map cost dominates its scan)
      val kept = docs.select("doc_id", "text").join(best, "doc_id")
        .repartition(s.sparkContext.defaultParallelism)
        .pin()
      val staged = kept.select(col("doc_id"),
        (lit(4) - col("quality")).cast("long").as("stage"),
        when(col("text").isNull, 0)
          .otherwise(size(split(col("text"), " "))).as("toks"))
      val packed = graft.ext.Packing.curriculumPack(staged, col("doc_id"),
          col("toks"), col("stage"), 512L)
        .select("doc_id", "stage", "pack")
      val pairs = graft.ext.Packing.spanCorruption(kept)
        .select("doc_id", "inputs", "targets", "n_spans")
      packed.join(pairs, "doc_id")
        .select("doc_id", "stage", "pack", "inputs", "targets", "n_spans")
    }.sortedBy(col("doc_id")),

    QueryDef("t_pack_sequences",
      s"""WITH t AS (SELECT doc_id,
         |  CASE WHEN text IS NULL THEN 0 ELSE len(string_split(text, ' ')) END AS toks,
         |  ${polyhash("CAST(doc_id AS VARCHAR)")} % 10000 AS bkt FROM documents),
         |c AS (SELECT doc_id, toks,
         |  sum(toks) OVER (ORDER BY bkt, doc_id ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM t)
         |SELECT doc_id, CAST((cum - toks) // 512 AS BIGINT) AS pack FROM c
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"),
        when(col("text").isNull, 0)
          .otherwise(size(split(col("text"), " "))).as("toks"))
      graft.ext.Packing.packSequences(docs, col("doc_id"), col("toks"), 512L)
        .select(col("doc_id"), col("pack"))
    }.sortedBy(col("doc_id")),

    // Packing QA: per-pack fill report over the same packing — the
    // check that catches a collapsed fill or a pack-owning giant doc.
    QueryDef("t_pack_stats",
      s"""WITH t AS (SELECT doc_id,
         |  CASE WHEN text IS NULL THEN 0 ELSE len(string_split(text, ' ')) END AS toks,
         |  ${polyhash("CAST(doc_id AS VARCHAR)")} % 10000 AS bkt FROM documents),
         |c AS (SELECT doc_id, toks,
         |  sum(toks) OVER (ORDER BY bkt, doc_id ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM t),
         |p AS (SELECT doc_id, toks, CAST((cum - toks) // 512 AS BIGINT) AS pack
         |      FROM c)
         |SELECT pack, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(toks) AS BIGINT) AS n_tokens,
         |  CAST(sum(toks) * 100 // 512 AS BIGINT) AS fill_x100
         |FROM p GROUP BY pack ORDER BY pack""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"),
        when(col("text").isNull, 0)
          .otherwise(size(split(col("text"), " "))).as("toks"))
      val packed = graft.ext.Packing.packSequences(docs, col("doc_id"),
        col("toks"), 512L)
      graft.ext.Packing.packStats(packed, col("toks"), 512L)
    }.sortedBy(col("pack")),

    // ── Fill-in-the-middle (FIM) transform ─────────────────────────
    // Rewrite polyhash-selected 50% of docs into the PSM layout
    // `<fim_prefix> P <fim_suffix> S <fim_middle> M`; cuts are two
    // independent polyhashes mod (n+1). Degenerate cuts kept (empty
    // middle is a valid training case). Row-local slicing only.
    QueryDef("t_fim_transform",
      s"""WITH ${fimCtes("documents")}
         |SELECT d.doc_id, coalesce(f.pick, FALSE) AS fim, f.text_out,
         |  CAST(coalesce(f.n_tokens, 0) AS BIGINT) AS n_tokens,
         |  CAST(coalesce(f.n_middle, 0) AS BIGINT) AS n_middle
         |FROM documents d LEFT JOIN fimc f USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      graft.ext.Packing.fimTransform(Tables.documents(s, d))
    }.sortedBy(col("doc_id")),

    // ── Code-training prep flagship (round-16 composition) ─────────
    // Near-dup clusters keep their BEST-quality member → survivors go
    // through the FIM transform (50% PSM, the paper's AR/FIM mix) →
    // the transformed corpus packs into 512-token sequences (FIM'd
    // docs cost their 3 sentinels). One consumable relation; every
    // stage an already-proven CTE family.
    QueryDef("t_fim_prep",
      s"""WITH RECURSIVE $hashesCte, $sigCte,
         |${clusterCtes("documents", jNum = 8, jDen = 10)},
         |${qualityCtes("documents")},
         |fpkb AS (SELECT c.cluster_id, c.doc_id, q.quality
         |  FROM clusters c JOIN qscored q USING (doc_id)),
         |fpkr AS (SELECT cluster_id, doc_id,
         |    row_number() OVER (PARTITION BY cluster_id
         |      ORDER BY quality DESC, doc_id) AS rn
         |  FROM fpkb),
         |fpkept AS (SELECT d.doc_id, d.text
         |  FROM (SELECT doc_id FROM fpkr WHERE rn = 1) k
         |  JOIN documents d USING (doc_id)),
         |${fimCtes("fpkept")},
         |fpt AS (SELECT k.doc_id, coalesce(f.n_out, 0) AS toks,
         |  ${polyhash("CAST(k.doc_id AS VARCHAR)")} % 10000 AS bkt
         |  FROM fpkept k LEFT JOIN fimc f USING (doc_id)),
         |fpc AS (SELECT doc_id, toks,
         |  sum(toks) OVER (ORDER BY bkt, doc_id ROWS UNBOUNDED PRECEDING)
         |    AS cum FROM fpt)
         |SELECT c.doc_id, coalesce(f.pick, FALSE) AS fim, f.text_out,
         |  CAST(coalesce(f.n_middle, 0) AS BIGINT) AS n_middle,
         |  CAST((c.cum - c.toks) // 512 AS BIGINT) AS pack
         |FROM fpc c LEFT JOIN fimc f USING (doc_id)
         |ORDER BY c.doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val scored = docs.select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")).cast("long").as("quality"))
      val best = Dedup.keepBest(Dedup.nearDupClusters(docs), scored)
        .select(col("keep_id").as("doc_id"))
      // pin + restore parallelism: the t_denoising_prep rationale —
      // AQE coalesces the small survivor join to one partition, which
      // would serialize the FIM stage's per-row slicing onto one task
      val kept = docs.select("doc_id", "text").join(best, "doc_id")
        .repartition(s.sparkContext.defaultParallelism)
        .pin()
      val fimmed = graft.ext.Packing.fimTransform(kept)
        .withColumn("toks",
          col("n_tokens") + when(col("fim"), 3L).otherwise(0L))
      graft.ext.Packing.packSequences(fimmed, col("doc_id"), col("toks"),
          512L)
        .select(col("doc_id"), col("fim"), col("text_out"),
          col("n_middle"), col("pack"))
    }.sortedBy(col("doc_id")),

    // ── Code-corpus prep flagship: the end-to-end chain a StarCoder-
    // style pipeline runs, composed entirely from proven stages —
    // codeStats gate (drops the minified-spam plant) → winnowing (MOSS)
    // overlap pairs under a tuned bucket cap (corpus-wide template
    // grams excluded, disclosed) → min-label connected components →
    // keepBest on the alpha score → FIM transform → sequence packing.
    // The plant: %4==1 minified spam (fails max_line_len); evens get a
    // 4-line loader template parameterized by doc_id div 40 (blocks of
    // 20 near-identical files — the vendored-copy case MOSS groups);
    // remaining odds get a unique 3-line file (no near-dups — their one
    // corpus-wide shared gram lands in an over-cap bucket and is
    // correctly excluded).
    QueryDef("t_code_prep",
      s"""WITH RECURSIVE cdocs AS (SELECT doc_id, CASE
         |    WHEN doc_id % 4 = 1 THEN repeat('x7', 600)
         |    WHEN doc_id % 2 = 0 THEN
         |      'def load' || CAST(doc_id // 40 AS VARCHAR) || '(path):'
         |      || chr(10) || '# parse the '
         |      || CAST(doc_id // 40 AS VARCHAR) || ' records' || chr(10)
         |      || 'rows = read(path)' || chr(10)
         |      || 'return rows + ' || CAST(doc_id AS VARCHAR)
         |    ELSE 'def main' || CAST(doc_id AS VARCHAR) || '():'
         |      || chr(10) || 'value = ' || CAST(doc_id AS VARCHAR)
         |      || ' * 31' || chr(10) || 'return value' END AS text
         |  FROM documents WHERE text IS NOT NULL),
         |cls AS (SELECT doc_id, text, string_split(text, chr(10)) AS l
         |  FROM cdocs),
         |cst AS (SELECT doc_id,
         |  CAST(len(l) AS BIGINT) AS n_lines,
         |  CAST(coalesce(list_max(list_transform(l, x -> length(x))), 0)
         |    AS BIGINT) AS max_line_len,
         |  CAST((coalesce(list_sum(list_transform(l, x -> length(x))), 0)
         |    * 100) // len(l) AS BIGINT) AS avg_line_len_x100,
         |  CAST(CASE WHEN length(text) > 0
         |    THEN (length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
         |      * 1000) // length(text) ELSE 0 END AS BIGINT)
         |    AS alpha_frac_x1000
         |  FROM cls),
         |cgate AS (SELECT doc_id, alpha_frac_x1000 FROM cst
         |  WHERE avg_line_len_x100 <= 10000 AND max_line_len <= 1000
         |    AND alpha_frac_x1000 >= 250),
         |gated AS (SELECT c.doc_id, c.text
         |  FROM cdocs c JOIN cgate USING (doc_id)),
         |ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM gated),
         |gr AS (SELECT doc_id, unnest(list_transform(
         |    generate_series(1, greatest(len(w) - 3, 0)),
         |    i -> struct_pack(i := CAST(i AS BIGINT),
         |      t := array_to_string(w[i:i+3], ' ')))) AS u FROM ws),
         |g AS (SELECT doc_id, u.i AS i, ${polyhash64("u.t")} AS h FROM gr),
         |mm AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS m
         |  FROM g GROUP BY doc_id),
         |wins AS (SELECT doc_id, m, unnest(generate_series(1,
         |    greatest(m - 4, 1))) AS j FROM mm),
         |wg AS (SELECT wn.doc_id, wn.j, g.i, g.h
         |  FROM wins wn JOIN g ON g.doc_id = wn.doc_id
         |    AND g.i >= wn.j AND g.i <= least(wn.j + 4, wn.m)),
         |mh AS (SELECT doc_id, j, min(h) AS fp FROM wg
         |  GROUP BY doc_id, j),
         |wf AS (SELECT DISTINCT doc_id, fp FROM mh),
         |wwidth AS (SELECT fp, count(*) AS wn FROM wf GROUP BY fp),
         |wkeep AS (SELECT wf.doc_id, wf.fp FROM wf
         |  JOIN wwidth USING (fp) WHERE wn <= 24),
         |wpairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM wkeep a JOIN wkeep b ON b.fp = a.fp AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |cedges AS (SELECT doc_a AS src, doc_b AS dst FROM wpairs
         |  UNION ALL SELECT doc_b, doc_a FROM wpairs),
         |cwalk(id, r) AS (
         |  SELECT doc_id, doc_id FROM gated
         |  UNION
         |  SELECT w.id, e.dst FROM cwalk w JOIN cedges e ON e.src = w.r),
         |cclust AS (SELECT id AS doc_id, min(r) AS cluster_id
         |  FROM cwalk GROUP BY id),
         |ckb AS (SELECT c.cluster_id, c.doc_id, q.alpha_frac_x1000 AS q
         |  FROM cclust c JOIN cgate q USING (doc_id)),
         |ckr AS (SELECT cluster_id, doc_id, row_number() OVER (
         |    PARTITION BY cluster_id ORDER BY q DESC, doc_id) AS rn
         |  FROM ckb),
         |ckept AS (SELECT d.doc_id, d.text
         |  FROM (SELECT doc_id FROM ckr WHERE rn = 1) k
         |  JOIN gated d USING (doc_id)),
         |${fimCtes("ckept")},
         |cpt AS (SELECT k.doc_id, coalesce(f.n_out, 0) AS toks,
         |  ${polyhash("CAST(k.doc_id AS VARCHAR)")} % 10000 AS bkt
         |  FROM ckept k LEFT JOIN fimc f USING (doc_id)),
         |cpc AS (SELECT doc_id, toks,
         |  sum(toks) OVER (ORDER BY bkt, doc_id ROWS UNBOUNDED PRECEDING)
         |    AS cum FROM cpt)
         |SELECT c.doc_id, coalesce(f.pick, FALSE) AS fim, f.text_out,
         |  CAST(coalesce(f.n_middle, 0) AS BIGINT) AS n_middle,
         |  CAST((c.cum - c.toks) // 512 AS BIGINT) AS pack
         |FROM cpc c LEFT JOIN fimc f USING (doc_id)
         |ORDER BY c.doc_id""".stripMargin) { (s, d) =>
      val base = Tables.documents(s, d).filter(col("text").isNotNull)
      val g = expr("doc_id div 40").cast("string")
      val planted = base.select(col("doc_id"),
        when(col("doc_id") % 4 === 1, lit("x7" * 600))
          .when(col("doc_id") % 2 === 0, concat(
            lit("def load"), g, lit("(path):\n# parse the "), g,
            lit(" records\nrows = read(path)\nreturn rows + "),
            col("doc_id").cast("string")))
          .otherwise(concat(
            lit("def main"), col("doc_id").cast("string"),
            lit("():\nvalue = "), col("doc_id").cast("string"),
            lit(" * 31\nreturn value"))).as("text"))
        .pin()
      val st = TextAnalysis.codeStats(planted).pin()
      val gated = planted.join(st.filter(col("code_pass") === 1L)
        .select("doc_id"), Seq("doc_id"), "left_semi").pin()
      // bucket cap 24: wider than any planted 20-member vendored-copy
      // block, narrower than the evens-wide template grams at EVERY sf
      // (>= 25 even docs at sf0.001) — the corpus-wide grams are
      // excluded (disclosed recall loss), the block grams survive
      val pairs = Dedup.winnowOverlap(gated, minShared = 1,
        maxBucket = 24)
      val clusters = Dedup.clusterLabels(
          gated.select(col("doc_id").as("id")),
          pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")))
        .select(col("id").as("doc_id"), col("cluster_id"))
      val best = Dedup.keepBest(clusters,
          st.select(col("doc_id"), col("alpha_frac_x1000").as("quality")))
        .select(col("keep_id").as("doc_id"))
      // pin + restore parallelism: the t_fim_prep rationale — AQE
      // coalesces the small survivor join to one partition, which would
      // serialize the FIM stage's per-row slicing onto one task
      val kept = gated.join(best, "doc_id")
        .repartition(s.sparkContext.defaultParallelism)
        .pin()
      val fimmed = graft.ext.Packing.fimTransform(kept)
        .withColumn("toks",
          col("n_tokens") + when(col("fim"), 3L).otherwise(0L))
      graft.ext.Packing.packSequences(fimmed, col("doc_id"), col("toks"),
          512L)
        .select(col("doc_id"), col("fim"), col("text_out"),
          col("n_middle"), col("pack"))
    }.sortedBy(col("doc_id")),

    // ── Loss-masked SFT packing ────────────────────────────────────
    // (prompt, response) pairs on the packing tape with per-example
    // loss-span coordinates: prompt = first min(4, n) tokens, response
    // = the rest. The oracle replays the tape with one global window
    // cumsum; Spark runs the decomposed prefix-sum. spans_packs
    // discloses examples crossing a pack boundary.
    QueryDef("t_sft_pack",
      s"""WITH t AS (SELECT doc_id,
         |  CASE WHEN text IS NULL THEN 0 ELSE len(string_split(text, ' ')) END AS n,
         |  ${polyhash("CAST(doc_id AS VARCHAR)")} % 10000 AS bkt FROM documents),
         |s AS (SELECT doc_id, least(n, 4) AS p, n - least(n, 4) AS r, n, bkt
         |      FROM t),
         |c AS (SELECT doc_id, p, r, n,
         |  sum(n) OVER (ORDER BY bkt, doc_id ROWS UNBOUNDED PRECEDING) - n AS pos
         |  FROM s)
         |SELECT doc_id,
         |  CAST(pos // 512 AS BIGINT) AS pack,
         |  CAST(pos % 512 AS BIGINT) AS seq_off,
         |  CAST(pos % 512 + p AS BIGINT) AS loss_start,
         |  CAST(pos % 512 + p + r AS BIGINT) AS loss_end,
         |  (n > 0 AND pos // 512 != (pos + n - 1) // 512) AS spans_packs
         |FROM c ORDER BY doc_id""".stripMargin) { (s, d) =>
      val pairs = Tables.documents(s, d).select(col("doc_id"),
          when(col("text").isNull, 0)
            .otherwise(size(split(col("text"), " "))).as("n"))
        .select(col("doc_id"), least(col("n"), lit(4)).as("p"),
          (col("n") - least(col("n"), lit(4))).as("r"))
      graft.ext.Packing.sftPack(pairs, col("doc_id"), col("p"), col("r"),
          512L)
        .select(col("doc_id"), col("pack"), col("seq_off"),
          col("loss_start"), col("loss_end"), col("spans_packs"))
    }.sortedBy(col("doc_id")),

    // ── DPO preference-pair construction ───────────────────────────
    // Per prompt (source domain), chosen = highest-quality doc,
    // rejected = lowest, margin floor 1 — the reward-model/DPO
    // training-pair build from a scored response pool. One prompt-
    // keyed argmax/argmin fold; ties break to the smallest doc_id on
    // both sides (engine law = oracle row_number law).
    QueryDef("t_dpo_pairs",
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
      val resp = Tables.documents(s, d).filter(col("text").isNotNull)
        .select(col("source").as("prompt_id"), col("doc_id"),
          TextAnalysis.qualityScore(col("text")).cast("long").as("score"))
      graft.ext.Preference.dpoPairs(resp, "doc_id")
    }.sortedBy(col("prompt_id")),

    // ── DPO pair prep flagship: pairs → texts → packed ─────────────
    // The composed build a DPO trainer consumes: the preference pairs
    // above joined back to BOTH texts, whitespace token counts per
    // side, and the pair laid onto the packing tape by combined
    // length (packSequences' decomposed prefix sum, keyed by prompt).
    QueryDef("t_dpo_prep",
      s"""WITH ${qualityCtes("documents")},
         |resp AS (SELECT d.source, q.doc_id, q.quality
         |  FROM documents d JOIN qscored q USING (doc_id)
         |  WHERE d.text IS NOT NULL),
         |rk AS (SELECT source, doc_id, quality,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY quality DESC, doc_id) AS rc,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY quality ASC, doc_id) AS rr
         |  FROM resp),
         |dp AS (SELECT c.source AS prompt_id, c.doc_id AS chosen_id,
         |    r.doc_id AS rejected_id
         |  FROM rk c JOIN rk r ON r.source = c.source
         |    AND c.rc = 1 AND r.rr = 1
         |  WHERE c.quality - r.quality >= 1),
         |wt AS (SELECT p.prompt_id, p.chosen_id, p.rejected_id,
         |    CAST(len(string_split(dc.text, ' ')) AS BIGINT) AS chosen_tokens,
         |    CAST(len(string_split(dr.text, ' ')) AS BIGINT) AS rejected_tokens,
         |    ${polyhash("prompt_id")} % 10000 AS bkt
         |  FROM dp p JOIN documents dc ON dc.doc_id = p.chosen_id
         |  JOIN documents dr ON dr.doc_id = p.rejected_id),
         |cm AS (SELECT prompt_id, chosen_id, rejected_id,
         |    chosen_tokens, rejected_tokens,
         |    sum(chosen_tokens + rejected_tokens) OVER (
         |      ORDER BY bkt, prompt_id ROWS UNBOUNDED PRECEDING)
         |      - (chosen_tokens + rejected_tokens) AS pos
         |  FROM wt)
         |SELECT prompt_id, chosen_id, rejected_id, chosen_tokens,
         |  rejected_tokens, CAST(pos // 1024 AS BIGINT) AS pack
         |FROM cm ORDER BY prompt_id""".stripMargin) { (s, d) =>
      dpoPrepOf(Tables.documents(s, d))
    }.sortedBy(col("prompt_id")),

    // ── Chat-template rendering (SFT prep) ─────────────────────────
    // Turn-structured conversations (4 docs per conversation, roles
    // alternating user/assistant) rendered to the single training
    // string `<|role|>\ncontent\n`…, with n_chars in code points —
    // one conv-keyed fold, turns sorted inside their own conversation.
    QueryDef("t_chat_render",
      s"""WITH ct AS (SELECT doc_id // 4 AS conv_id, doc_id % 4 AS turn_idx,
         |    CASE WHEN doc_id % 2 = 0 THEN 'user'
         |         ELSE 'assistant' END AS role,
         |    text AS content
         |  FROM documents WHERE text IS NOT NULL)
         |SELECT conv_id,
         |  string_agg('<|' || role || '|>' || chr(10) || content
         |      || chr(10), '' ORDER BY turn_idx) AS text,
         |  CAST(count(*) AS BIGINT) AS n_turns,
         |  CAST(sum(length(role) + length(content) + 6) AS BIGINT)
         |    AS n_chars
         |FROM ct GROUP BY conv_id ORDER BY conv_id""".stripMargin) {
      (s, d) =>
      graft.ext.Packing.renderChat(chatTurns(s, d))
    }.sortedBy(col("conv_id")),

    // The LOSS-SPAN face of the same template: per turn, the half-open
    // code-point span its content occupies in the rendered string and
    // the assistant-only loss flag — what the trainer masks on. Spans
    // agree with t_chat_render by construction (shared turn-length
    // law).
    // Chat-prep composition: conversations → per-conv token accounting
    // (content whitespace tokens + one tag token per turn; assistant
    // share disclosed as loss_tokens) → packSequences tape at 512 —
    // the render/span/pack chain an SFT data build runs end to end.
    QueryDef("t_chat_prep",
      s"""WITH ct AS (SELECT doc_id // 4 AS conv_id, doc_id % 4 AS turn_idx,
         |    CASE WHEN doc_id % 2 = 0 THEN 'user'
         |         ELSE 'assistant' END AS role,
         |    text AS content
         |  FROM documents WHERE text IS NOT NULL),
         |ag AS (SELECT conv_id,
         |    CAST(sum(len(string_split(content, ' ')) + 1) AS BIGINT)
         |      AS n_tokens,
         |    CAST(sum(CASE WHEN role = 'assistant'
         |      THEN len(string_split(content, ' ')) ELSE 0 END)
         |      AS BIGINT) AS loss_tokens
         |  FROM ct GROUP BY conv_id),
         |wt AS (SELECT conv_id, n_tokens, loss_tokens,
         |    ${polyhash("CAST(conv_id AS VARCHAR)")} % 10000 AS bkt
         |  FROM ag),
         |cm AS (SELECT conv_id, n_tokens, loss_tokens,
         |    sum(n_tokens) OVER (ORDER BY bkt, conv_id
         |      ROWS UNBOUNDED PRECEDING) - n_tokens AS pos
         |  FROM wt)
         |SELECT conv_id, n_tokens, loss_tokens,
         |  CAST(pos // 512 AS BIGINT) AS pack
         |FROM cm ORDER BY conv_id""".stripMargin) { (s, d) =>
      chatPrepOf(Tables.documents(s, d))
    }.sortedBy(col("conv_id")),

    // The chat-corpus DATA CARD: per role, turns / conversations /
    // whitespace-token mass and its corpus share — what fraction of
    // the SFT corpus is loss-bearing assistant text vs scaffolding.
    QueryDef("t_chat_datasheet",
      """WITH ct AS (SELECT doc_id // 4 AS conv_id, doc_id % 4 AS turn_idx,
        |    CASE WHEN doc_id % 2 = 0 THEN 'user'
        |         ELSE 'assistant' END AS role,
        |    text AS content
        |  FROM documents WHERE text IS NOT NULL),
        |pr AS (SELECT role, CAST(count(*) AS BIGINT) AS n_turns,
        |    CAST(count(DISTINCT conv_id) AS BIGINT) AS n_convs,
        |    CAST(sum(len(string_split(content, ' '))) AS BIGINT)
        |      AS n_tokens
        |  FROM ct GROUP BY 1)
        |SELECT role, n_turns, n_convs, n_tokens,
        |  CAST(CASE WHEN (SELECT sum(n_tokens) FROM pr) > 0
        |    THEN (n_tokens * 10000) // (SELECT sum(n_tokens) FROM pr)
        |    END AS BIGINT) AS token_share_x10000
        |FROM pr ORDER BY role""".stripMargin) { (s, d) =>
      graft.ext.Packing.chatDatasheet(chatTurns(s, d))
    }.sortedBy(col("role")),

    QueryDef("t_chat_spans",
      s"""WITH ct AS (SELECT doc_id // 4 AS conv_id, doc_id % 4 AS turn_idx,
         |    CASE WHEN doc_id % 2 = 0 THEN 'user'
         |         ELSE 'assistant' END AS role,
         |    text AS content
         |  FROM documents WHERE text IS NOT NULL),
         |sp AS (SELECT conv_id, turn_idx, role, content,
         |    coalesce(sum(length(role) + length(content) + 6) OVER (
         |      PARTITION BY conv_id ORDER BY turn_idx
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS pre
         |  FROM ct)
         |SELECT conv_id, CAST(turn_idx AS BIGINT) AS turn_idx, role,
         |  CAST(pre + length(role) + 5 AS BIGINT) AS content_start,
         |  CAST(pre + length(role) + 5 + length(content) AS BIGINT)
         |    AS content_end,
         |  (role = 'assistant') AS is_loss
         |FROM sp ORDER BY conv_id, turn_idx""".stripMargin) { (s, d) =>
      graft.ext.Packing.chatSpans(chatTurns(s, d))
    }.sortedBy(col("conv_id"), col("turn_idx")),

    // ── Budget-capped best-first selection ─────────────────────────
    // Fill a 12k-token budget with the highest-quality docs first
    // (quality DESC, then hash order — deterministic cut). The oracle
    // reuses the proven quality CTEs and one global window cumsum;
    // Spark runs the decomposed prefix-sum with (quality, bucket-range)
    // groups. Inclusive prefix rule: kept iff running total ≤ budget.
    QueryDef("t_select_budget",
      s"""WITH ${qualityCtes("documents")},
         |t AS (SELECT q.doc_id, q.quality,
         |  len(string_split(q.text, ' ')) AS toks,
         |  ${polyhash("CAST(q.doc_id AS VARCHAR)")} % 10000 AS bkt
         |  FROM qscored q),
         |c AS (SELECT doc_id, quality, toks,
         |  sum(toks) OVER (ORDER BY quality DESC, bkt, doc_id
         |                  ROWS UNBOUNDED PRECEDING) AS cum FROM t)
         |SELECT doc_id, CAST(quality AS BIGINT) AS quality FROM c
         |WHERE cum <= 12000 ORDER BY doc_id""".stripMargin) { (s, d) =>
      val scored = Tables.documents(s, d).select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")).cast("long").as("quality"),
        size(split(col("text"), " ")).as("toks"))
      graft.ext.Packing.selectByBudget(scored, col("doc_id"), col("toks"),
          col("quality"), 12000L)
        .select(col("doc_id"), col("quality"))
    }.sortedBy(col("doc_id")),

    // ── Curriculum-ordered packing ─────────────────────────────────
    // Stage = inverted quality score (0 = cleanest): docs lay out
    // (stage, hash bucket, id) and cut into 512-token packs, so pack
    // order IS the curriculum. Oracle: one global window cumsum over
    // the same ordering; Spark runs the decomposed (stage, bucket-
    // range) prefix sum.
    QueryDef("t_curriculum_pack",
      s"""WITH ${qualityCtes("documents")},
         |t AS (SELECT q.doc_id, (4 - q.quality) AS stage,
         |  CASE WHEN q.text IS NULL THEN 0
         |       ELSE len(string_split(q.text, ' ')) END AS toks,
         |  ${polyhash("CAST(q.doc_id AS VARCHAR)")} % 10000 AS bkt
         |  FROM qscored q),
         |c AS (SELECT doc_id, stage, toks,
         |  sum(toks) OVER (ORDER BY stage, bkt, doc_id
         |                  ROWS UNBOUNDED PRECEDING) AS cum FROM t)
         |SELECT doc_id, CAST(stage AS BIGINT) AS stage,
         |  CAST((cum - toks) // 512 AS BIGINT) AS pack
         |FROM c ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"),
        (lit(4) - TextAnalysis.qualityScore(col("text")))
          .cast("long").as("stage"),
        when(col("text").isNull, 0)
          .otherwise(size(split(col("text"), " "))).as("toks"))
      graft.ext.Packing.curriculumPack(docs, col("doc_id"), col("toks"),
          col("stage"), 512L)
        .select(col("doc_id"), col("stage"), col("pack"))
    }.sortedBy(col("doc_id")),

    // Length-bucketed packing: stage = bit-length of the token count
    // (power-of-2 length bins), so similar-length docs pack together —
    // the padding-efficiency batching trick, on the same curriculum
    // machinery.
    QueryDef("t_length_bucket_pack",
      s"""WITH t AS (SELECT doc_id,
         |  CASE WHEN text IS NULL THEN 0 ELSE len(string_split(text, ' ')) END AS toks,
         |  ${polyhash("CAST(doc_id AS VARCHAR)")} % 10000 AS bkt FROM documents),
         |s AS (SELECT doc_id, toks,
         |  CAST(length(bin(toks)) AS BIGINT) AS stage, bkt FROM t),
         |c AS (SELECT doc_id, stage, toks,
         |  sum(toks) OVER (ORDER BY stage, bkt, doc_id
         |                  ROWS UNBOUNDED PRECEDING) AS cum FROM s)
         |SELECT doc_id, stage, CAST((cum - toks) // 512 AS BIGINT) AS pack
         |FROM c ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"),
        when(col("text").isNull, 0)
          .otherwise(size(split(col("text"), " "))).as("toks"))
        .withColumn("stage", expr("length(bin(toks))").cast("long"))
      graft.ext.Packing.curriculumPack(docs, col("doc_id"), col("toks"),
          col("stage"), 512L)
        .select(col("doc_id"), col("stage"), col("pack"))
    }.sortedBy(col("doc_id")),

    // Per-domain top-5 bigrams — what each source actually says; the
    // (domain, gram) counts partial-agg to vocab-bounded rows, then
    // the bounded-heap TopKPerKey cut (no per-domain vocabulary sort).
    QueryDef("t_domain_ngrams", {
      val ws = "string_split(text, ' ')"
      s"""WITH dg AS (SELECT source, unnest(
         |    CASE WHEN len($ws) >= 2
         |      THEN list_transform(generate_series(2, len($ws)),
         |        i -> $ws[i-1] || ' ' || $ws[i])
         |      ELSE [] END) AS gram
         |  FROM documents WHERE text IS NOT NULL AND source IS NOT NULL),
         |dc AS (SELECT source, gram, CAST(count(*) AS BIGINT) AS cnt
         |       FROM dg GROUP BY 1, 2),
         |dr AS (SELECT source, gram, cnt,
         |    CAST(row_number() OVER (PARTITION BY source
         |      ORDER BY cnt DESC, gram) AS BIGINT) AS rank FROM dc)
         |SELECT source, gram, cnt, rank FROM dr WHERE rank <= 5
         |ORDER BY source, rank""".stripMargin
    }) { (s, d) =>
      TextAnalysis.domainTopNgrams(Tables.documents(s, d))
    }.sortedBy(col("source"), col("rank")),

    // ── Domain-mixture resampling ──────────────────────────────────
    // Downsample each weighted source so survivors match a 3:2:1 mix
    // (unweighted sources drop). Thresholds are pure Long floor
    // division over the per-domain counts — the oracle recomputes them
    // in SQL (// is DuckDB integer division) and replays the same
    // polyhash-bucket keep rule row for row.
    // ── DoReMi-style domain reweighting (model-signal data mixing) ──
    // Per domain: excess mean surprisal of the unigram PROXY rung over
    // the self-trained trigram REFERENCE rung (the self-trained model
    // never backs off — every corpus trigram is in its own model, so
    // the replay is the pure trigram case), apportioned to exactly
    // 10000 weight units by the largest-remainder law the mixers
    // consume. The oracle chains the two PROVEN scorer CTE families
    // and replays the Hamilton allocation (floor shares, then +1 to
    // the largest remainders, ties by weight then domain).
    QueryDef("t_domain_reweight",
      s"""WITH utf AS (
         |  SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS word
         |    FROM documents WHERE text IS NOT NULL) u GROUP BY 1, 2),
         |ucnt AS (SELECT word, CAST(sum(tf) AS BIGINT) AS cnt
         |  FROM utf GROUP BY 1),
         |utot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM ucnt),
         |usc AS (SELECT t.doc_id, t.tf,
         |    CAST(length(bin(u.total)) - length(bin(c.cnt)) AS BIGINT) AS bits
         |  FROM utf t JOIN ucnt c USING (word) CROSS JOIN utot u),
         |uagg AS (SELECT doc_id, CAST(sum(tf * bits) AS BIGINT) AS surprisal,
         |    CAST(sum(tf) AS BIGINT) AS n_tokens
         |  FROM usc GROUP BY 1),
         |drw AS (SELECT doc_id, string_split(text, ' ') AS ws
         |  FROM documents WHERE text IS NOT NULL),
         |drbi AS (SELECT gram, CAST(count(*) AS BIGINT) AS cnt FROM (
         |    SELECT unnest(list_transform(generate_series(2, len(ws)),
         |      i -> ws[i-1] || ' ' || ws[i])) AS gram FROM drw) GROUP BY 1),
         |drtri AS (SELECT gram, CAST(count(*) AS BIGINT) AS cnt FROM (
         |    SELECT unnest(list_transform(generate_series(3, len(ws)),
         |      i -> ws[i-2] || ' ' || ws[i-1] || ' ' || ws[i])) AS gram
         |    FROM drw) GROUP BY 1),
         |drocc AS (SELECT doc_id, unnest(list_transform(
         |    generate_series(3, len(ws)),
         |    i -> ws[i-2] || ' ' || ws[i-1] || ' ' || ws[i])) AS g123
         |  FROM drw),
         |drotf AS (SELECT doc_id, g123, CAST(count(*) AS BIGINT) AS tf
         |  FROM drocc GROUP BY 1, 2),
         |drsc AS (SELECT o.doc_id, o.tf,
         |    CAST(length(bin(b12.cnt)) - length(bin(t.cnt)) AS BIGINT) AS bits
         |  FROM drotf o
         |  JOIN drtri t ON t.gram = o.g123
         |  JOIN drbi b12 ON b12.gram =
         |    string_split(o.g123, ' ')[1] || ' ' || string_split(o.g123, ' ')[2]),
         |tagg AS (SELECT doc_id, CAST(sum(tf * bits) AS BIGINT) AS surprisal,
         |    CAST(sum(tf) AS BIGINT) AS n FROM drsc GROUP BY 1),
         |drdom AS (SELECT doc_id, source AS domain FROM documents
         |  WHERE source IS NOT NULL),
         |dragg AS (SELECT d.domain, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(coalesce(u.surprisal, 0)) AS BIGINT) AS psur,
         |    CAST(sum(coalesce(u.n_tokens, 0)) AS BIGINT) AS pn,
         |    CAST(sum(coalesce(t.surprisal, 0)) AS BIGINT) AS rsur,
         |    CAST(sum(coalesce(t.n, 0)) AS BIGINT) AS rn
         |  FROM drdom d
         |  LEFT JOIN uagg u USING (doc_id)
         |  LEFT JOIN tagg t USING (doc_id)
         |  GROUP BY 1),
         |drm AS (SELECT domain, n_docs,
         |   CASE WHEN pn > 0 THEN CAST((psur * 100) // pn AS BIGINT)
         |        ELSE CAST(0 AS BIGINT) END AS proxy_bits_x100,
         |   CASE WHEN rn > 0 THEN CAST((rsur * 100) // rn AS BIGINT)
         |        ELSE CAST(0 AS BIGINT) END AS ref_bits_x100
         |  FROM dragg),
         |dre AS (SELECT *, CAST(greatest(proxy_bits_x100 - ref_bits_x100, 0)
         |    AS BIGINT) AS excess_x100 FROM drm),
         |drwts AS (SELECT domain,
         |    CASE WHEN (SELECT max(excess_x100) FROM dre) > 0
         |         THEN excess_x100 ELSE CAST(1 AS BIGINT) END AS wt
         |  FROM dre),
         |drtot AS (SELECT CAST(sum(wt) AS BIGINT) AS tw FROM drwts),
         |drbase AS (SELECT domain, wt, (10000 * wt) // w.tw AS q,
         |    (10000 * wt) % w.tw AS r FROM drwts CROSS JOIN drtot w),
         |drrem AS (SELECT 10000 - CAST(sum(q) AS BIGINT) AS rem FROM drbase),
         |drrank AS (SELECT *, row_number() OVER
         |    (ORDER BY r DESC, wt DESC, domain) AS rnk FROM drbase),
         |drfin AS (SELECT domain, CAST(q + CASE
         |    WHEN rnk <= (SELECT rem FROM drrem) THEN 1 ELSE 0 END AS BIGINT)
         |  AS weight FROM drrank)
         |SELECT e.domain, e.n_docs, e.proxy_bits_x100, e.ref_bits_x100,
         |       e.excess_x100, f.weight
         |FROM dre e JOIN drfin f USING (domain)
         |ORDER BY e.domain""".stripMargin) { (s, d) =>
      graft.ext.Curation.domainReweight(Tables.documents(s, d))
    }.sortedBy(col("domain")),

    // DoReMi reweighting under PERSISTED models — the production
    // posture (train once, reweight every snapshot against the SAME
    // pinned artifacts): proxy = the disk-round-tripped stupid-backoff
    // trigram bundle, reference = the Kneser–Ney bundle, both trained
    // on the even-id half (the t_trigram_persisted/t_kn_persisted
    // lifecycle). The oracle chains the two PROVEN persisted-rung
    // scoring CTE families over one shared even-half model and replays
    // the same domain rollup + Hamilton allocation as
    // t_domain_reweight.
    QueryDef("t_domain_reweight_persisted",
      s"""WITH tw AS (SELECT string_split(text, ' ') AS ws
         |  FROM documents WHERE text IS NOT NULL AND doc_id % 2 = 0),
         |uni AS (SELECT gram, CAST(count(*) AS BIGINT) AS cnt FROM (
         |    SELECT unnest(ws) AS gram FROM tw) GROUP BY 1),
         |nv AS (SELECT CAST(sum(cnt) + count(*) AS BIGINT) AS nv FROM uni),
         |bi AS (SELECT gram, CAST(count(*) AS BIGINT) AS cnt FROM (
         |    SELECT unnest(list_transform(generate_series(2, len(ws)),
         |      i -> ws[i-1] || ' ' || ws[i])) AS gram FROM tw) GROUP BY 1),
         |tri AS (SELECT gram, CAST(count(*) AS BIGINT) AS cnt FROM (
         |    SELECT unnest(list_transform(generate_series(3, len(ws)),
         |      i -> ws[i-2] || ' ' || ws[i-1] || ' ' || ws[i])) AS gram
         |    FROM tw) GROUP BY 1),
         |kn12 AS (SELECT string_split(gram, ' ')[1] || ' ' ||
         |      string_split(gram, ' ')[2] AS g,
         |    CAST(count(*) AS BIGINT) AS cnt FROM tri GROUP BY 1),
         |kn23 AS (SELECT string_split(gram, ' ')[2] || ' ' ||
         |      string_split(gram, ' ')[3] AS g,
         |    CAST(count(*) AS BIGINT) AS cnt FROM tri GROUP BY 1),
         |knd2 AS (SELECT string_split(g, ' ')[1] AS g2,
         |    CAST(sum(cnt) AS BIGINT) AS cnt FROM kn23 GROUP BY 1),
         |knn2 AS (SELECT string_split(g, ' ')[1] AS g2,
         |    CAST(count(*) AS BIGINT) AS cnt FROM kn23 GROUP BY 1),
         |kn1 AS (SELECT string_split(gram, ' ')[2] AS g1,
         |    CAST(count(*) AS BIGINT) AS cnt FROM bi GROUP BY 1),
         |knbu AS (SELECT CAST((SELECT count(*) FROM bi) +
         |    (SELECT count(*) FROM uni) AS BIGINT) AS bu),
         |dw AS (SELECT doc_id, string_split(text, ' ') AS ws
         |  FROM documents WHERE text IS NOT NULL),
         |occ AS (SELECT doc_id, unnest(list_transform(
         |    generate_series(3, len(ws)),
         |    i -> ws[i-2] || ' ' || ws[i-1] || ' ' || ws[i])) AS g123
         |  FROM dw),
         |otf AS (SELECT doc_id, g123, CAST(count(*) AS BIGINT) AS tf
         |  FROM occ GROUP BY 1, 2),
         |ox AS (SELECT doc_id, g123, tf,
         |    string_split(g123, ' ')[1] AS w1,
         |    string_split(g123, ' ')[2] AS w2,
         |    string_split(g123, ' ')[3] AS w3 FROM otf),
         |psc AS (SELECT o.doc_id, o.tf,
         |    CAST(CASE
         |      WHEN t.cnt IS NOT NULL AND b12.cnt IS NOT NULL
         |        THEN length(bin(b12.cnt)) - length(bin(t.cnt))
         |      WHEN b23.cnt IS NOT NULL AND u2.cnt IS NOT NULL
         |        THEN length(bin(u2.cnt * 5)) - length(bin(b23.cnt * 2))
         |      ELSE length(bin(n.nv * 25)) -
         |           length(bin((coalesce(u3.cnt, 0) + 1) * 4))
         |    END AS BIGINT) AS bits
         |  FROM ox o
         |  LEFT JOIN tri t ON t.gram = o.g123
         |  LEFT JOIN bi b12 ON b12.gram = o.w1 || ' ' || o.w2
         |  LEFT JOIN bi b23 ON b23.gram = o.w2 || ' ' || o.w3
         |  LEFT JOIN uni u2 ON u2.gram = o.w2
         |  LEFT JOIN uni u3 ON u3.gram = o.w3
         |  CROSS JOIN nv n),
         |pagg AS (SELECT doc_id, CAST(sum(tf * bits) AS BIGINT) AS surprisal,
         |    CAST(sum(tf) AS BIGINT) AS n FROM psc GROUP BY 1),
         |rsc AS (SELECT o.doc_id, o.tf,
         |    CAST(CASE
         |      WHEN t.cnt IS NOT NULL AND b12.cnt IS NOT NULL
         |        THEN length(bin(b12.cnt * 4)) - length(bin(t.cnt * 4 - 3))
         |      WHEN k23.cnt IS NOT NULL AND kd.cnt IS NOT NULL
         |        THEN (CASE WHEN b12.cnt IS NOT NULL AND n12.cnt IS NOT NULL
         |                THEN length(bin(b12.cnt * 4)) -
         |                     length(bin(n12.cnt * 3)) ELSE 0 END)
         |          + length(bin(kd.cnt * 4)) - length(bin(k23.cnt * 4 - 3))
         |      ELSE (CASE WHEN b12.cnt IS NOT NULL AND n12.cnt IS NOT NULL
         |              THEN length(bin(b12.cnt * 4)) -
         |                   length(bin(n12.cnt * 3)) ELSE 0 END)
         |        + (CASE WHEN kd.cnt IS NOT NULL AND nk.cnt IS NOT NULL
         |             THEN length(bin(kd.cnt * 4)) -
         |                  length(bin(nk.cnt * 3)) ELSE 0 END)
         |        + length(bin(n.bu)) - length(bin(coalesce(k1.cnt, 0) + 1))
         |    END AS BIGINT) AS bits
         |  FROM ox o
         |  LEFT JOIN tri t ON t.gram = o.g123
         |  LEFT JOIN bi b12 ON b12.gram = o.w1 || ' ' || o.w2
         |  LEFT JOIN kn12 n12 ON n12.g = o.w1 || ' ' || o.w2
         |  LEFT JOIN kn23 k23 ON k23.g = o.w2 || ' ' || o.w3
         |  LEFT JOIN knd2 kd ON kd.g2 = o.w2
         |  LEFT JOIN knn2 nk ON nk.g2 = o.w2
         |  LEFT JOIN kn1 k1 ON k1.g1 = o.w3
         |  CROSS JOIN knbu n),
         |ragg AS (SELECT doc_id, CAST(sum(tf * bits) AS BIGINT) AS surprisal,
         |    CAST(sum(tf) AS BIGINT) AS n FROM rsc GROUP BY 1),
         |drdom AS (SELECT doc_id, source AS domain FROM documents
         |  WHERE source IS NOT NULL),
         |dragg AS (SELECT d.domain, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(coalesce(p.surprisal, 0)) AS BIGINT) AS psur,
         |    CAST(sum(coalesce(p.n, 0)) AS BIGINT) AS pn,
         |    CAST(sum(coalesce(r.surprisal, 0)) AS BIGINT) AS rsur,
         |    CAST(sum(coalesce(r.n, 0)) AS BIGINT) AS rn
         |  FROM drdom d
         |  LEFT JOIN pagg p USING (doc_id)
         |  LEFT JOIN ragg r USING (doc_id)
         |  GROUP BY 1),
         |drm AS (SELECT domain, n_docs,
         |   CASE WHEN pn > 0 THEN CAST((psur * 100) // pn AS BIGINT)
         |        ELSE CAST(0 AS BIGINT) END AS proxy_bits_x100,
         |   CASE WHEN rn > 0 THEN CAST((rsur * 100) // rn AS BIGINT)
         |        ELSE CAST(0 AS BIGINT) END AS ref_bits_x100
         |  FROM dragg),
         |dre AS (SELECT *, CAST(greatest(proxy_bits_x100 - ref_bits_x100, 0)
         |    AS BIGINT) AS excess_x100 FROM drm),
         |drwts AS (SELECT domain,
         |    CASE WHEN (SELECT max(excess_x100) FROM dre) > 0
         |         THEN excess_x100 ELSE CAST(1 AS BIGINT) END AS wt
         |  FROM dre),
         |drtot AS (SELECT CAST(sum(wt) AS BIGINT) AS tw FROM drwts),
         |drbase AS (SELECT domain, wt, (10000 * wt) // w.tw AS q,
         |    (10000 * wt) % w.tw AS r FROM drwts CROSS JOIN drtot w),
         |drrem AS (SELECT 10000 - CAST(sum(q) AS BIGINT) AS rem FROM drbase),
         |drrank AS (SELECT *, row_number() OVER
         |    (ORDER BY r DESC, wt DESC, domain) AS rnk FROM drbase),
         |drfin AS (SELECT domain, CAST(q + CASE
         |    WHEN rnk <= (SELECT rem FROM drrem) THEN 1 ELSE 0 END AS BIGINT)
         |  AS weight FROM drrank)
         |SELECT e.domain, e.n_docs, e.proxy_bits_x100, e.ref_bits_x100,
         |       e.excess_x100, f.weight
         |FROM dre e JOIN drfin f USING (domain)
         |ORDER BY e.domain""".stripMargin) { (s, d) =>
      graft.ext.Curation.domainReweightWith(Tables.documents(s, d),
        TextAnalysis.loadLmModel(s, trigramLmFor(s, d)),
        TextAnalysis.loadLmModel(s, knLmFor(s, d)))
    }.sortedBy(col("domain")),

    QueryDef("t_domain_mix",
      s"""WITH counts AS (SELECT source, count(*) AS c FROM documents GROUP BY source),
         |w(source, wt) AS (VALUES ('src0', CAST(3 AS BIGINT)),
         |                         ('src1', CAST(2 AS BIGINT)),
         |                         ('src2', CAST(1 AS BIGINT))),
         |tot AS (SELECT sum(wt) AS tw FROM w),
         |tmax AS (SELECT min(c * tw // wt) AS t
         |         FROM counts JOIN w USING (source) CROSS JOIN tot),
         |thr AS (SELECT source, ((wt * t // tw) * 10000 // c) AS keep_thr
         |        FROM counts JOIN w USING (source)
         |        CROSS JOIN tot CROSS JOIN tmax)
         |SELECT d.doc_id, d.source FROM documents d JOIN thr USING (source)
         |WHERE ${polyhash("CAST(d.doc_id AS VARCHAR)")} % 10000 < keep_thr
         |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      graft.ext.Sampling.mixByDomain(
        Tables.documents(s, d).select("doc_id", "source"),
        col("source"), col("doc_id"),
        Seq("src0" -> 3, "src1" -> 2, "src2" -> 1))
    }.sortedBy(col("doc_id")),

    // ── Exact budget apportionment (largest-remainder / Hamilton) ──
    // 37 docs split 5:3:2 over three domains — floor shares 18/11/7,
    // the leftover unit goes to the largest fractional remainder
    // (src0). Unlike the rate-threshold mixers, Σ selected == budget
    // EXACTLY; selection is the stratifiedTake hash order cut to each
    // domain's quota.
    QueryDef("t_apportion_take",
      s"""WITH w(source, wt) AS (VALUES ('src0', CAST(5 AS BIGINT)),
         |                              ('src1', CAST(3 AS BIGINT)),
         |                              ('src2', CAST(2 AS BIGINT))),
         |tw AS (SELECT sum(wt) AS w FROM w),
         |qb AS (SELECT source, wt, 37 * wt // w AS q, (37 * wt) % w AS r
         |       FROM w CROSS JOIN tw),
         |rem AS (SELECT 37 - sum(q) AS rem FROM qb),
         |bump AS (SELECT source, q,
         |    row_number() OVER (ORDER BY r DESC, wt DESC, source) AS rn
         |  FROM qb),
         |quota AS (SELECT source,
         |    CAST(q + CASE WHEN rn <= rem THEN 1 ELSE 0 END AS BIGINT)
         |      AS quota
         |  FROM bump CROSS JOIN rem),
         |sel AS (SELECT d.doc_id, d.source, qt.quota,
         |    row_number() OVER (PARTITION BY d.source
         |      ORDER BY ${polyhash("CAST(d.doc_id AS VARCHAR)")}, d.doc_id)
         |      AS rank
         |  FROM documents d JOIN quota qt USING (source))
         |SELECT doc_id, source, CAST(rank AS BIGINT) AS rank, quota
         |FROM sel WHERE rank <= quota ORDER BY doc_id""".stripMargin) {
      (s, d) =>
        graft.ext.Sampling.takeApportioned(
          Tables.documents(s, d).select("doc_id", "source"),
          "source", "doc_id",
          Seq("src0" -> 5L, "src1" -> 3L, "src2" -> 2L), budget = 37L)
    }.sortedBy(col("doc_id")),

    // ── TOKEN-budget apportioned mix (training mixes are tokens) ───
    // 30k tokens at 3:2:1 over src0/src1/src2: Hamilton-apportioned
    // token quotas, then per domain the inclusive prefix rule over the
    // (hash bucket, id) order — a doc survives iff its running token
    // total fits the domain's quota. The oracle replays the allocation
    // and one partitioned window cumsum; Spark runs the decomposed
    // (domain, bucket-range) prefix sum.
    QueryDef("t_token_apportion",
      s"""WITH w(source, wt) AS (VALUES ('src0', CAST(3 AS BIGINT)),
         |                              ('src1', CAST(2 AS BIGINT)),
         |                              ('src2', CAST(1 AS BIGINT))),
         |tw AS (SELECT sum(wt) AS w FROM w),
         |qb AS (SELECT source, wt, 30000 * wt // w AS q,
         |              (30000 * wt) % w AS r FROM w CROSS JOIN tw),
         |rem AS (SELECT 30000 - sum(q) AS rem FROM qb),
         |bump AS (SELECT source, q,
         |    row_number() OVER (ORDER BY r DESC, wt DESC, source) AS rn
         |  FROM qb),
         |quota AS (SELECT source,
         |    CAST(q + CASE WHEN rn <= rem THEN 1 ELSE 0 END AS BIGINT)
         |      AS quota
         |  FROM bump CROSS JOIN rem),
         |t AS (SELECT d.doc_id, d.source,
         |    CASE WHEN d.text IS NULL THEN 0
         |         ELSE len(string_split(d.text, ' ')) END AS toks,
         |    ${polyhash("CAST(d.doc_id AS VARCHAR)")} % 10000 AS bkt
         |  FROM documents d JOIN quota USING (source)),
         |c AS (SELECT doc_id, source, toks,
         |    sum(toks) OVER (PARTITION BY source ORDER BY bkt, doc_id
         |                    ROWS UNBOUNDED PRECEDING) AS cum FROM t)
         |SELECT c.doc_id, c.source, CAST(c.toks AS BIGINT) AS toks,
         |       q.quota
         |FROM c JOIN quota q USING (source)
         |WHERE c.cum <= q.quota ORDER BY c.doc_id""".stripMargin) {
      (s, d) =>
        graft.ext.Sampling.takeTokenApportioned(
          Tables.documents(s, d).select("doc_id", "source", "text"),
          "source", "doc_id",
          when(col("text").isNull, 0L)
            .otherwise(size(split(col("text"), " ")).cast("long")),
          Seq("src0" -> 3L, "src1" -> 2L, "src2" -> 1L),
          totalTokens = 30000L)
          .select("doc_id", "source", "toks", "quota")
    }.sortedBy(col("doc_id")),

    // ── Token-balanced shard plan ─────────────────────────────────
    // Contiguous cuts of the exclusive token prefix sum in (hash
    // bucket, key) order: shard = min(6, cum_excl DIV ceil(total/7)).
    // Integer division on BOTH engines (DuckDB // = Spark DIV), so an
    // exact boundary can never misround.
    QueryDef("t_shard_plan",
      s"""WITH b AS (
         |  SELECT doc_id, coalesce(n_chars, 0) AS tok,
         |         ${polyhash("CAST(doc_id AS VARCHAR)")} % 10000 AS bkt
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, tok,
         |         coalesce(sum(tok) OVER (ORDER BY bkt, doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |           0) AS cum_excl
         |  FROM b),
         |t AS (SELECT coalesce(sum(tok), 0) AS total FROM b)
         |SELECT c.doc_id,
         |       CAST(least(6, c.cum_excl
         |            // greatest(1, (t.total + 6) // 7)) AS BIGINT)
         |         AS shard
         |FROM c CROSS JOIN t
         |ORDER BY c.doc_id""".stripMargin) { (s, d) =>
      graft.ext.Sampling.planShards(
        Tables.documents(s, d).select("doc_id", "n_chars"),
        col("doc_id"), col("n_chars"), numShards = 7)
        .select("doc_id", "shard")
    }.sortedBy(col("doc_id")),

    // ── Deterministic upsampling (epochs-per-domain repeat) ───────
    // src0 repeats 2.5× (2 copies each + hash-selected half get a 3rd),
    // src1 drops to 0×, src2 stays integral 3×, everything else passes
    // through at 1×. copy is the 0-based repeat index.
    QueryDef("t_upsample",
      s"""WITH f(source, num, den) AS (VALUES
         |    ('src0', CAST(5 AS BIGINT), CAST(2 AS BIGINT)),
         |    ('src1', CAST(0 AS BIGINT), CAST(1 AS BIGINT)),
         |    ('src2', CAST(3 AS BIGINT), CAST(1 AS BIGINT))),
         |b AS (
         |  SELECT d.doc_id, d.source,
         |         coalesce(f.num, 1) AS num, coalesce(f.den, 1) AS den,
         |         ${polyhash("CAST(d.doc_id AS VARCHAR)")} % 10000 AS bkt
         |  FROM documents d LEFT JOIN f USING (source)),
         |n AS (
         |  SELECT doc_id, source,
         |         (num - num % den) // den
         |         + CASE WHEN bkt * den < 10000 * (num % den)
         |                THEN 1 ELSE 0 END AS nc
         |  FROM b)
         |SELECT doc_id, source,
         |       CAST(unnest(generate_series(0, CAST(nc - 1 AS BIGINT)))
         |         AS BIGINT) AS copy
         |FROM n WHERE nc > 0
         |ORDER BY doc_id, copy""".stripMargin) { (s, d) =>
      graft.ext.Sampling.upsampleByFactor(
        Tables.documents(s, d).select("doc_id", "source"),
        "source", col("doc_id"),
        Seq("src0" -> (5L, 2L), "src1" -> (0L, 1L), "src2" -> (3L, 1L)))
        .select("doc_id", "source", "copy")
    }.sortedBy(col("doc_id"), col("copy")),
  )
}
