package graft.queries

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ext.{Dedup, Multimodal, Similarity, TextAnalysis}


/** Oracle SQL fragments for the LLM-ops families. The minhash/simhash/
  * fingerprint pipelines are integer arithmetic on the PolyHash rolling
  * hash, so DuckDB reproduces every signature exactly; the SQL is
  * generated from the same constants (Dedup.Perms) the Spark operators
  * use — one source of truth.
  */
object LlmOracle {

  /** PolyHash of a string expression: fold over code points (the corpus
    * is ASCII, so code point == UTF-8 byte, matching PolyHash exactly).
    */
  def polyhash(expr: String): String =
    s"""list_reduce(
       |  list_prepend(CAST(0 AS BIGINT),
       |    list_transform(generate_series(1, length($expr)),
       |      i -> CAST(ord(substring($expr, i, 1)) AS BIGINT))),
       |  (acc, c) -> (acc * 31 + c) % 2147483647)""".stripMargin

  /** 62-bit packed double PolyHash (mirrors functions.PolyHash64):
    * h31 · (2³¹−19) + h37, the content-dedup key whose birthday bound
    * survives corpus scale.
    */
  def polyhash64(expr: String): String =
    s"""(${polyhash(expr)} * 2147483629 + list_reduce(
       |  list_prepend(CAST(0 AS BIGINT),
       |    list_transform(generate_series(1, length($expr)),
       |      i -> CAST(ord(substring($expr, i, 1)) AS BIGINT))),
       |  (acc, c) -> (acc * 37 + c) % 2147483629))""".stripMargin

  /** CTE: doc_id + distinct 3-word-shingle hash set per document of
    * `rel` (any relation exposing doc_id + text). `prefix` renames the
    * chain (`<p>words`/`<p>shing`/`<p>hashes`) so a query can carry two
    * independent hash chains (e.g. corpus vs benchmark) without CTE
    * collisions.
    */
  def hashesCteFrom(rel: String, prefix: String = ""): String =
    s"""${prefix}words AS (SELECT doc_id, string_split(text, ' ') AS ws FROM $rel),
       |${prefix}shing AS (SELECT doc_id,
       |  CASE WHEN len(ws) >= 3 THEN list_transform(generate_series(1, len(ws)-2),
       |         i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
       |       ELSE [array_to_string(ws, ' ')] END AS sh FROM ${prefix}words),
       |${prefix}hashes AS (SELECT doc_id,
       |  list_distinct(list_transform(sh, s -> ${polyhash("s")})) AS hs
       |  FROM ${prefix}shing)""".stripMargin

  val hashesCte: String = hashesCteFrom("documents")

  /** CTEs replaying the hot-bucket guard's exact-collapse over the
    * `hashes` CTE ([[graft.ext.Dedup.withExactReps]]): `grp` maps each
    * distinct hash set to its min-id representative; `mem` maps every
    * document to its rep (null-hash docs represent themselves — the
    * LEFT JOIN's null keys never match, exactly like the Spark window's
    * isNull guard).
    */
  val repCollapseCtes: String =
    s"""grp AS (SELECT hs, min(doc_id) AS rep FROM hashes
       |        WHERE hs IS NOT NULL GROUP BY hs),
       |mem AS (SELECT h.doc_id, coalesce(g.rep, h.doc_id) AS rep
       |        FROM hashes h LEFT JOIN grp g ON h.hs = g.hs)""".stripMargin

  /** CTEs: LSH band keys + canonically-ordered candidate pairs at
    * REPRESENTATIVE level — replaying [[graft.ext.Dedup.repLevelPairs]]'
    * guarded candidate generation for any banding layout, INCLUDING the
    * hot-bucket cap (QUALIFY count per (band, bkey) ≤ maxBucket, the
    * same [[graft.ext.Dedup.DefaultMaxBucketWidth]] constant the Spark
    * side applies — the cap is part of the verified contract, not a
    * Spark-only cut). Requires `sig` and the [[repCollapseCtes]] in
    * scope. Shared verbatim by the t_dedup_near oracle and
    * [[clusterCtes]] so the two formulations can never drift; alias
    * parameters avoid CTE-name collisions.
    */
  def bandCandidatesCte(numBands: Int = 4, rowsPerBand: Int = 2,
                        bandsAlias: String = "bands",
                        candAlias: String = "cand",
                        maxBucket: Int = Dedup.DefaultMaxBucketWidth): String =
    s"""$bandsAlias AS (
       |  SELECT s.doc_id, b.band, ${bandKeyExpr(rowsPerBand)} AS bkey
       |  FROM sig s JOIN grp g ON g.rep = s.doc_id
       |  CROSS JOIN (VALUES ${bandValues(numBands)}) b(band)
       |  QUALIFY count(*) OVER (PARTITION BY b.band, bkey) <= $maxBucket),
       |${selfCandCte(bandsAlias, candAlias)}""".stripMargin

  /** CTEs replaying [[graft.ext.Dedup.nearDupClusters]] exactly,
    * INCLUDING the hot-bucket guard: exact-collapse ([[repCollapseCtes]]),
    * capped representative-level LSH candidates, the integer
    * cross-multiplied Jaccard cut, STAR edges (member → rep, the m−1
    * expansion whose components provably equal the full member-pair
    * edge set), then connected components as a recursive reachability
    * walk whose min per node IS the fixpoint of Spark's min-label
    * propagation (both equal the component's minimum member id — the
    * oracle replays the RESULT, not the iteration schedule). Requires
    * `WITH RECURSIVE`. Yields `clusters(doc_id, cluster_id)` over the
    * node set `nodesRel` (any relation exposing doc_id). Banding layout
    * (`numBands` × `rowsPerBand`) must match the Spark call's.
    */
  def clusterCtes(nodesRel: String, jNum: Int, jDen: Int,
                  numBands: Int = 4, rowsPerBand: Int = 2,
                  maxBucket: Int = Dedup.DefaultMaxBucketWidth): String =
    s"""$repCollapseCtes,
       |${bandCandidatesCte(numBands, rowsPerBand, "cbands", "ccand", maxBucket)},
       |cpairs AS (
       |  SELECT doc_a, doc_b,
       |         len(list_intersect(ha.hs, hb.hs)) AS inter,
       |         len(ha.hs) + len(hb.hs)
       |           - len(list_intersect(ha.hs, hb.hs)) AS uni
       |  FROM ccand
       |  JOIN hashes ha ON ha.doc_id = ccand.doc_a
       |  JOIN hashes hb ON hb.doc_id = ccand.doc_b),
       |cedges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM cpairs
       |  WHERE inter * $jDen >= uni * $jNum
       |  UNION ALL
       |  SELECT doc_b, doc_a FROM cpairs
       |  WHERE inter * $jDen >= uni * $jNum
       |  UNION ALL
       |  SELECT doc_id, rep FROM mem WHERE doc_id <> rep
       |  UNION ALL
       |  SELECT rep, doc_id FROM mem WHERE doc_id <> rep),
       |walk(id, r) AS (
       |  SELECT doc_id, doc_id FROM $nodesRel
       |  UNION
       |  SELECT w.id, e.dst FROM walk w JOIN cedges e ON e.src = w.r),
       |clusters AS (
       |  SELECT id AS doc_id, min(r) AS cluster_id FROM walk GROUP BY id)""".stripMargin

  /** The band-key expression over a `sig` row alias — THE one
    * definition of the banding layout, shared by every band CTE.
    */
  private def bandKeyExpr(rowsPerBand: Int): String =
    (1 to rowsPerBand)
      .map(r => s"CAST(sig[b.band * $rowsPerBand + $r] AS VARCHAR)")
      .mkString(" || '_' || ")

  private def bandValues(numBands: Int): String =
    (0 until numBands).map(b => s"($b)").mkString(", ")

  /** Canonically-ordered same-bucket candidate pairs from a band CTE —
    * the one definition of the self-join shape.
    */
  def selfCandCte(bandsAlias: String, alias: String): String =
    s"""$alias AS (
       |  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
       |  FROM $bandsAlias l JOIN $bandsAlias r
       |    ON l.band = r.band AND l.bkey = r.bkey AND l.doc_id < r.doc_id)""".stripMargin

  /** Band-key rows of `sig` restricted to the ids of `rel(doc_id)`,
    * optionally width-capped (cap = 0 → uncapped, the shape of the
    * gate's store-side join).
    */
  def bandsOverCte(rel: String, alias: String, cap: Int,
                   numBands: Int = 4, rowsPerBand: Int = 2): String = {
    val qualify = if (cap > 0)
      s"\n  QUALIFY count(*) OVER (PARTITION BY b.band, bkey) <= $cap" else ""
    s"""$alias AS (
       |  SELECT s.doc_id, b.band, ${bandKeyExpr(rowsPerBand)} AS bkey
       |  FROM sig s JOIN $rel r ON r.doc_id = s.doc_id
       |  CROSS JOIN (VALUES ${bandValues(numBands)}) b(band)$qualify)""".stripMargin
  }

  /** The docs of `candRel(doc_a, doc_b)` whose exact Jaccard clears
    * num/den — emitting doc_b (the canonically-larger / batch side),
    * i.e. the DROP set of a pairwise keep-smallest rule. inter/uni are
    * computed once per pair (the list intersection is the expensive
    * part) and filtered in an outer select.
    */
  def jaccardDropCte(candRel: String, alias: String, jNum: Int, jDen: Int): String =
    s"""$alias AS (
       |  SELECT DISTINCT doc_b AS doc_id FROM (
       |    SELECT doc_b, inter, lena + lenb - inter AS uni FROM (
       |      SELECT c.doc_b,
       |             len(list_intersect(ha.hs, hb.hs)) AS inter,
       |             len(ha.hs) AS lena, len(hb.hs) AS lenb
       |      FROM $candRel c
       |      JOIN hashes ha ON ha.doc_id = c.doc_a
       |      JOIN hashes hb ON hb.doc_id = c.doc_b))
       |  WHERE inter * $jDen >= uni * $jNum)""".stripMargin

  /** Exact-collapse of the docs matching `pred` to min-id reps
    * (null-hash docs represent themselves), prefixed CTE names.
    */
  def collapseCtes(pred: String, p: String): String =
    s"""${p}grp AS (SELECT hs, min(doc_id) AS rep FROM hashes
       |  WHERE ($pred) AND hs IS NOT NULL GROUP BY hs),
       |${p}reps AS (SELECT rep AS doc_id FROM ${p}grp
       |  UNION ALL SELECT doc_id FROM hashes WHERE ($pred) AND hs IS NULL)""".stripMargin

  /** Per-permutation minhash min expressions over the `hs` column. */
  def minhashExprs: Seq[String] = Dedup.Perms.map { case (a, b) =>
    s"coalesce(list_min(list_transform(hs, h -> ($a * h + $b) % 2147483647)), 2147483647)"
  }

  val sigCte: String =
    s"""sig AS (SELECT doc_id, [${minhashExprs.mkString(",\n  ")}] AS sig
       |  FROM hashes)""".stripMargin

  /** CTEs replaying [[graft.ext.Decontamination.fuzzyContaminationReport]]:
    * two independent hash/sig chains (corpus `fc*`, benchmark `fb*`),
    * band keys on both sides, the bipartite band join, and the exact
    * integer-Jaccard cut. Yields `fhits(doc_id, bench_id, inter, uni)`.
    * No exact-collapse or bucket cap — the bipartite operator applies
    * neither (the benchmark side is eval-set-sized by contract).
    * Null-text rows are filtered from BOTH chains: Spark gives a null
    * doc null band keys (dropped before its join), while this hash
    * chain would give it hs=[0] like the empty string — the filter
    * keeps the oracle aligned with "a null doc never pairs".
    */
  def fuzzyDeconCtes(corpRel: String, benchRel: String, jNum: Int,
                     jDen: Int, numBands: Int = 4,
                     rowsPerBand: Int = 2): String =
    s"""${hashesCteFrom(
      s"(SELECT doc_id, text FROM $corpRel WHERE text IS NOT NULL)", "fc")},
       |${hashesCteFrom(
      s"(SELECT doc_id, text FROM $benchRel WHERE text IS NOT NULL)", "fb")},
       |fcsig AS (SELECT doc_id, [${minhashExprs.mkString(",\n  ")}] AS sig
       |  FROM fchashes),
       |fbsig AS (SELECT doc_id, [${minhashExprs.mkString(",\n  ")}] AS sig
       |  FROM fbhashes),
       |fcb AS (SELECT s.doc_id, b.band, ${bandKeyExpr(rowsPerBand)} AS bkey
       |  FROM fcsig s CROSS JOIN (VALUES ${bandValues(numBands)}) b(band)),
       |fbb AS (SELECT s.doc_id AS bench_id, b.band,
       |    ${bandKeyExpr(rowsPerBand)} AS bkey
       |  FROM fbsig s CROSS JOIN (VALUES ${bandValues(numBands)}) b(band)),
       |fcand AS (SELECT DISTINCT c.doc_id, bb.bench_id
       |  FROM fcb c JOIN fbb bb ON c.band = bb.band AND c.bkey = bb.bkey),
       |fhits AS (SELECT * FROM (
       |  SELECT f.doc_id, f.bench_id,
       |    CAST(len(list_intersect(ch.hs, bh.hs)) AS BIGINT) AS inter,
       |    CAST(len(ch.hs) + len(bh.hs)
       |      - len(list_intersect(ch.hs, bh.hs)) AS BIGINT) AS uni
       |  FROM fcand f
       |  JOIN fchashes ch ON ch.doc_id = f.doc_id
       |  JOIN fbhashes bh ON bh.doc_id = f.bench_id)
       |  WHERE inter * $jDen >= uni * $jNum)""".stripMargin

  /** SimHash (majority vote per bit) over the `hs` column at any width
    * up to 63 — replays [[graft.functions.SimHash]] bit for bit.
    */
  def simhashExprBits(bits: Int): String =
    (0 until bits).map { b =>
      s"(CASE WHEN 2 * len(list_filter(hs, h -> (h >> $b) & 1 = 1)) >= len(hs) THEN ${1L << b} ELSE 0 END)"
    }.mkString("(", " +\n ", ")")

  /** SimHash (16-bit majority vote) over the `hs` column. */
  def simhashExpr: String = simhashExprBits(16)

  /** The [[graft.ext.Dedup.simhashCombos]] block-combination plan as a
    * VALUES list `(band, b0..b{agree-1})` — generated from the SAME
    * combination enumeration the Spark operator joins on.
    */
  def simhashComboValues(blocks: Int, agree: Int): String =
    graft.ext.Dedup.simhashCombos(blocks, agree).zipWithIndex.map {
      case (combo, ci) => s"($ci, ${combo.mkString(", ")})"
    }.mkString(",\n    ")

  /** The combo join key over a BIGINT simhash column `sim` and the
    * VALUES columns c.b0.. — the agreed slices packed into one BIGINT,
    * identical arithmetic to the Spark operator's shift/mask fold.
    */
  def simhashComboKeyExpr(sim: String, sliceBits: Int, agree: Int): String =
    (0 until agree).map { pos =>
      val block = s"(($sim >> (c.b$pos * $sliceBits)) & ${(1L << sliceBits) - 1})"
      if (pos == 0) block else s"($block << ${pos * sliceBits})"
    }.mkString(" + ")

  /** Double-precision cosine between two FLOAT[] columns, same fold
    * order as Similarity.cosine (left-to-right over 64 dims).
    */
  def cosine(a: String, b: String): String = {
    def dot(x: String, y: String) =
      s"list_sum(list_transform(generate_series(1, 64), i -> CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE)))"
    s"${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)}))"
  }

  /** CTEs reproducing [[graft.ext.Similarity.lshTableBuckets]] exactly:
    * the ±1 hyperplane weights are materialized from the SAME
    * `LshBuckets.planeWeight` constants the native expression uses (one
    * source of truth), and each projection is a left-to-right
    * `list_sum(list_transform(...))` fold — bit-identical to the fused
    * expression's double accumulation, so sign buckets agree exactly.
    * Yields `buckets(vec_id, tbl, bucket)` over the embeddings table.
    */
  def lshBucketsCte(tables: Int, planes: Int, dims: Int,
                    rel: String = "embeddings",
                    prefix: String = ""): String = {
    val rows = (for (t <- 0 until tables; p <- 0 until planes) yield {
      val ws = (0 until dims).map(d =>
        if (graft.functions.LshBuckets.planeWeight(t, p, d) > 0) "1" else "-1")
      s"($t, $p, ${ws.mkString("[", ",", "]")}::DOUBLE[])"
    }).mkString(",\n  ")
    s"""${prefix}w(tbl, plane, wv) AS (VALUES
       |  $rows),
       |${prefix}proj AS (
       |  SELECT e.vec_id, w.tbl, w.plane,
       |         list_sum(list_transform(generate_series(1, $dims),
       |           i -> CAST(e.embedding[i] AS DOUBLE) * w.wv[i])) AS proj
       |  FROM $rel e CROSS JOIN ${prefix}w w),
       |${prefix}buckets AS (
       |  SELECT vec_id, tbl,
       |         CAST(SUM(CASE WHEN proj >= 0 THEN 1 << plane ELSE 0 END)
       |              AS BIGINT) AS bucket
       |  FROM ${prefix}proj GROUP BY vec_id, tbl)""".stripMargin
  }

  val stopwordList: String =
    TextAnalysis.Stopwords.map(w => s"'$w'").mkString("[", ",", "]")

  /** The word-2-gram occurrence list over a token-list expression `w` —
    * [[graft.ext.TextAnalysis]]'s gram definition replayed.
    */
  def gramListExpr(w: String): String =
    s"""CASE WHEN len($w) >= 2
       |  THEN list_transform(generate_series(1, len($w) - 1),
       |         i -> $w[i] || ' ' || $w[i + 1])
       |  ELSE [] END""".stripMargin

  /** The most frequent gram's count over a gram-list expression (0 on
    * an empty list) — per-row, like the Spark run-length scan.
    */
  def maxGramExpr(g: String): String =
    s"""coalesce(list_max(list_transform(list_distinct($g),
       |  x -> len(list_filter($g, y -> y = x)))), 0)""".stripMargin

  /** Quality score 0–4 over (n_tokens, token_chars, n_stopwords,
    * n_2grams, max_2gram_count) columns —
    * [[graft.ext.TextAnalysis.qualityScore]] replayed; shared by
    * t_text_stats and the t_curate_corpus flagship so the two cannot
    * drift. The 4th term is the Gopher-style repetition cut (most
    * frequent 2-gram over 1/5 of occurrences loses the point; docs
    * with under 5 2-grams keep it).
    */
  val qualityExpr: String =
    """CAST((CASE WHEN n_tokens BETWEEN 10 AND 1000 THEN 1 ELSE 0 END) +
      |       (CASE WHEN n_stopwords > 0 THEN 1 ELSE 0 END) +
      |       (CASE WHEN token_chars >= n_tokens * 3
      |              AND token_chars <= n_tokens * 12 THEN 1 ELSE 0 END) +
      |       (CASE WHEN n_2grams < 5
      |              OR max_2gram_count * 5 <= n_2grams THEN 1 ELSE 0 END) AS BIGINT)""".stripMargin

  /** CTEs replaying [[graft.ext.Packing.spanCorruption]] over `rel`
    * (exposing doc_id + text): yields `calc(doc_id, n_tokens, inputs,
    * targets, n_masked, n_spans)` for every non-null-text row — the
    * same per-index block/offset arithmetic in DuckDB list lambdas
    * (the coalesce around each array_to_string bridges
    * NULL-for-empty-list vs Spark's ''-for-empty-array). Shared by
    * t_span_corruption and the denoising-prep flagship.
    */
  /** CTEs: FIM PSM transform per (doc_id, text) of `rel` →
    * `fimc(doc_id, pick, text_out, n_tokens, n_middle, n_out)` with
    * `n_out` = the output token count (n + 3 sentinels when picked).
    * Mirrors Packing.fimTransform; null-text rows are absent (join
    * LEFT and coalesce).
    */
  def fimCtes(rel: String, rate: Int = 50): String =
    s"""fb AS (SELECT doc_id, text, string_split(text, ' ') AS ws,
       |           len(string_split(text, ' ')) AS n
       |    FROM $rel WHERE text IS NOT NULL),
       |fcut AS (SELECT doc_id, text, ws, n,
       |  (${polyhash("CAST(doc_id AS VARCHAR) || ':fim'")} % 100) < $rate
       |    AS pick,
       |  ${polyhash("CAST(doc_id AS VARCHAR) || ':fimA'")} % (n + 1) AS c1,
       |  ${polyhash("CAST(doc_id AS VARCHAR) || ':fimB'")} % (n + 1) AS c2
       |  FROM fb),
       |fhl AS (SELECT doc_id, text, ws, n, pick,
       |             least(c1, c2) AS lo, greatest(c1, c2) AS hi
       |      FROM fcut),
       |fimc AS (SELECT doc_id, pick,
       |    CASE WHEN NOT pick THEN text
       |         ELSE array_to_string(
       |           list_concat(list_concat(list_concat(list_concat(
       |             list_concat(['<fim_prefix>'], ws[1:lo]),
       |             ['<fim_suffix>']), ws[hi+1:n]),
       |             ['<fim_middle>']), ws[lo+1:hi]), ' ')
       |    END AS text_out,
       |    CAST(n AS BIGINT) AS n_tokens,
       |    CAST(CASE WHEN pick THEN hi - lo ELSE 0 END AS BIGINT)
       |      AS n_middle,
       |    CAST(CASE WHEN pick THEN n + 3 ELSE n END AS BIGINT) AS n_out
       |  FROM fhl)""".stripMargin

  def spanCorruptionCtes(rel: String): String = {
    val blk = "((i-1)//20)"
    val off = s"o.offs[$blk + 1]"
    val pos = "((i-1) % 20)"
    val masked = s"($pos >= $off AND $pos < $off + 3)"
    val isStart = s"($pos = $off)"
    val sent = s"'<extra_id_' || CAST($blk AS VARCHAR) || '>'"
    s"""scbase AS (
       |  SELECT doc_id, text, string_split(text, ' ') AS ws,
       |         len(string_split(text, ' ')) AS n
       |  FROM $rel),
       |offs AS (
       |  SELECT doc_id,
       |    list_transform(generate_series(0, ((n + 19) // 20) - 1),
       |      b -> CAST(${polyhash(
            "CAST(doc_id AS VARCHAR) || ':' || CAST(b AS VARCHAR)")}
       |           % 18 AS INT)) AS offs
       |  FROM scbase WHERE text IS NOT NULL),
       |calc AS (
       |  SELECT b.doc_id,
       |    CAST(b.n AS BIGINT) AS n_tokens,
       |    coalesce(array_to_string(list_transform(list_filter(
       |        generate_series(1, b.n),
       |        i -> NOT ($masked AND NOT $isStart)),
       |      i -> CASE WHEN $isStart THEN $sent
       |           ELSE b.ws[i] END), ' '), '') AS inputs,
       |    coalesce(array_to_string(list_transform(list_filter(
       |        generate_series(1, b.n), i -> $masked),
       |      i -> CASE WHEN $isStart THEN $sent || ' ' || b.ws[i]
       |           ELSE b.ws[i] END), ' '), '') AS targets,
       |    CAST(len(list_filter(generate_series(1, b.n),
       |      i -> $masked)) AS BIGINT) AS n_masked,
       |    CAST(len(list_filter(generate_series(1, b.n),
       |      i -> $isStart)) AS BIGINT) AS n_spans
       |  FROM scbase b JOIN offs o USING (doc_id)
       |  WHERE b.text IS NOT NULL)""".stripMargin
  }

  /** CTEs: token stats + quality score per document of `rel`, yielding
    * `qscored(doc_id, text, quality)`.
    */
  def qualityCtes(rel: String): String =
    s"""qtok AS (
       |  SELECT doc_id, text, string_split(text, ' ') AS w FROM $rel),
       |qbase AS (
       |  SELECT doc_id, text,
       |         CAST(len(w) AS BIGINT) AS n_tokens,
       |         CAST(list_sum(list_transform(w, t -> length(t))) AS BIGINT) AS token_chars,
       |         CAST(len(list_filter(w,
       |              t -> list_contains($stopwordList, t))) AS BIGINT) AS n_stopwords,
       |         CAST(len(${gramListExpr("w")}) AS BIGINT) AS n_2grams,
       |         CAST(${maxGramExpr(gramListExpr("w"))} AS BIGINT) AS max_2gram_count
       |  FROM qtok),
       |qscored AS (
       |  SELECT doc_id, text, $qualityExpr AS quality FROM qbase)""".stripMargin

  /** CTEs reproducing [[graft.ext.Similarity.pqTrainCodebooks]] +
    * [[graft.ext.Similarity.pqEncode]] + the ADC lookup exactly: per
    * subspace, the same hash-sampled seeds, squared-L2 assignment
    * (row_number with cell tiebreak, identical double folds), the
    * quantized-integer Lloyd mean, encoding against the trained
    * codebook, and the per-query quantized sub-dot LUT. Yields
    * `pqparts(query_id, vec_id, pd)` — one row per (query, vector,
    * subspace); integer-summing pd per (query, vector) is the ADC
    * score, order-independent on both engines.
    */
  def pqCtes(m: Int, sub: Int, k: Int, queryPred: String,
             prefix: String = "", trainRel: String = "embeddings"): String = {
    val P = prefix
    def l2seed(off: Int): String =
      s"""list_sum(list_transform(generate_series(1, $sub),
         |           i -> (CAST(e.embedding[i + $off] AS DOUBLE) - CAST(s.svec[i + $off] AS DOUBLE))
         |              * (CAST(e.embedding[i + $off] AS DOUBLE) - CAST(s.svec[i + $off] AS DOUBLE))))""".stripMargin
    def l2cent(off: Int): String =
      s"""list_sum(list_transform(generate_series(1, $sub),
         |           i -> (CAST(e.embedding[i + $off] AS DOUBLE) - c.cvec[i])
         |              * (CAST(e.embedding[i + $off] AS DOUBLE) - c.cvec[i])))""".stripMargin
    def dotq(off: Int): String =
      s"""list_sum(list_transform(generate_series(1, $sub),
         |           i -> CAST(q.embedding[i + $off] AS DOUBLE) * c.cvec[i]))""".stripMargin
    val chains = (0 until m).map { j =>
      val off = j * sub
      s"""${P}s0_$j AS (
         |  SELECT e.vec_id, s.cell, ${l2seed(off)} AS dist
         |  FROM $trainRel e CROSS JOIN ${P}seeds s),
         |${P}a0_$j AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY dist, cell) AS rn FROM ${P}s0_$j) WHERE rn = 1),
         |${P}upd_$j AS (
         |  SELECT a.cell, g.i,
         |         CAST(SUM(CAST(round(CAST(e.embedding[g.i + $off] AS DOUBLE)
         |                * 1000000.0) AS BIGINT)) AS DOUBLE)
         |           / (CAST(COUNT(*) AS DOUBLE) * 1000000.0) AS c
         |  FROM ${P}a0_$j a JOIN $trainRel e ON e.vec_id = a.vec_id
         |  CROSS JOIN generate_series(1, $sub) AS g(i)
         |  GROUP BY a.cell, g.i),
         |${P}cents_$j AS (SELECT cell, list(c ORDER BY i) AS cvec
         |             FROM ${P}upd_$j GROUP BY cell),
         |${P}sc_$j AS (
         |  SELECT e.vec_id, c.cell, ${l2cent(off)} AS dist
         |  FROM embeddings e CROSS JOIN ${P}cents_$j c),
         |${P}code_$j AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY dist, cell) AS rn FROM ${P}sc_$j) WHERE rn = 1),
         |${P}lut_$j AS (
         |  SELECT q.vec_id AS query_id, c.cell,
         |         CAST(round(${dotq(off)} * 1000000.0) AS BIGINT) AS pd
         |  FROM embeddings q CROSS JOIN ${P}cents_$j c WHERE $queryPred),
         |${P}part_$j AS (
         |  SELECT l.query_id, x.vec_id, l.pd
         |  FROM ${P}code_$j x JOIN ${P}lut_$j l ON l.cell = x.cell)""".stripMargin
    }
    s"""${P}seeds AS (
       |  SELECT vec_id AS cell, embedding AS svec FROM $trainRel t0
       |  ORDER BY ${polyhash("CAST(vec_id AS VARCHAR)")}, vec_id LIMIT $k),
       |${chains.mkString(",\n")},
       |${P}pqparts AS (
       |  ${(0 until m).map(j => s"SELECT * FROM ${P}part_$j").mkString("\n  UNION ALL ")})""".stripMargin
  }

  /** CTEs reproducing [[graft.ext.Similarity.trainCentroids]] +
    * [[graft.ext.Similarity.ivfSearch]] exactly: hash-sampled seeds
    * (same polyhash), raw-double cosine assignment with cell tiebreak,
    * and the one Lloyd refinement whose element-wise mean is
    * order-independent quantized-integer arithmetic — every double on
    * the DuckDB side is produced by the same IEEE operation sequence as
    * the Spark side, so centroids (and therefore cells, probes, and
    * candidates) agree bit-for-bit. Yields `assigned(vec_id, cell)` and
    * `probes(query_id, cell)`.
    */
  def ivfCtes(k: Int, nProbe: Int, queryPred: String,
              trainRel: String = "embeddings"): String =
    s"""seeds AS (
       |  SELECT vec_id AS cell, embedding AS svec
       |  FROM $trainRel t0
       |  ORDER BY ${polyhash("CAST(vec_id AS VARCHAR)")}, vec_id LIMIT $k),
       |s0 AS (
       |  SELECT e.vec_id, e.embedding, s.cell,
       |         ${cosine("e.embedding", "s.svec")} AS cos
       |  FROM $trainRel e CROSS JOIN seeds s),
       |a0 AS (
       |  SELECT cell, embedding FROM (
       |    SELECT cell, embedding,
       |           row_number() OVER (PARTITION BY vec_id
       |             ORDER BY cos DESC, cell) AS rn
       |    FROM s0) WHERE rn = 1),
       |upd AS (
       |  SELECT cell, g.i,
       |         CAST(SUM(CAST(round(CAST(embedding[g.i] AS DOUBLE)
       |                * 1000000.0) AS BIGINT)) AS DOUBLE)
       |           / (CAST(COUNT(*) AS DOUBLE) * 1000000.0) AS c
       |  FROM a0 CROSS JOIN generate_series(1, 64) AS g(i)
       |  GROUP BY cell, g.i),
       |cents AS (SELECT cell, list(c ORDER BY i) AS cvec
       |          FROM upd GROUP BY cell),
       |sc AS (
       |  SELECT e.vec_id, c.cell,
       |         ${cosine("e.embedding", "c.cvec")} AS cos
       |  FROM embeddings e CROSS JOIN cents c),
       |assigned AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
       |             ORDER BY cos DESC, cell) AS rn
       |    FROM sc) WHERE rn = 1),
       |probes AS (
       |  SELECT vec_id AS query_id, cell FROM (
       |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
       |             ORDER BY cos DESC, cell) AS rn
       |    FROM sc WHERE $queryPred) WHERE rn <= $nProbe)""".stripMargin

  /** CTEs replaying [[graft.ext.Sampling.dsirWeights]]: hashed word
    * {1,2}-gram bucket tfs over the corpus (`dstf`), the raw and target
    * bucket models, the per-bucket bit weights L(tgt+1) − L(raw+1), the
    * 1-row total shift L(T_r+B) − L(T_t+B), and the per-doc aggregate
    * `dsagg(doc_id, gb, n_grams)`. Same PolyHash-mod bucketing and
    * bin-length law as the Spark side — integer-exact end to end.
    */
  def dsirCtes(corpusRel: String, targetRel: String, buckets: Int): String =
    s"""dsw AS (SELECT doc_id, string_split(text, ' ') AS ws
       |        FROM $corpusRel WHERE text IS NOT NULL),
       |dsg AS (SELECT doc_id, unnest(list_concat(ws,
       |    list_transform(generate_series(2, len(ws)),
       |      i -> ws[i-1] || ' ' || ws[i]))) AS gram FROM dsw),
       |dstf AS (SELECT doc_id, ${polyhash("gram")} % $buckets AS bkt,
       |    CAST(count(*) AS BIGINT) AS tf FROM dsg GROUP BY 1, 2),
       |dsraw AS (SELECT bkt, CAST(sum(tf) AS BIGINT) AS cr
       |          FROM dstf GROUP BY 1),
       |tsw AS (SELECT doc_id, string_split(text, ' ') AS ws
       |        FROM $targetRel WHERE text IS NOT NULL),
       |tsg AS (SELECT doc_id, unnest(list_concat(ws,
       |    list_transform(generate_series(2, len(ws)),
       |      i -> ws[i-1] || ' ' || ws[i]))) AS gram FROM tsw),
       |dstgt AS (SELECT ${polyhash("gram")} % $buckets AS bkt,
       |    CAST(count(*) AS BIGINT) AS ct FROM tsg GROUP BY 1),
       |dswt AS (SELECT r.bkt,
       |    CAST(length(bin(coalesce(t.ct, 0) + 1)) - length(bin(r.cr + 1))
       |      AS BIGINT) AS w
       |  FROM dsraw r LEFT JOIN dstgt t USING (bkt)),
       |dsshift AS (SELECT
       |    CAST(length(bin((SELECT sum(cr) FROM dsraw) + $buckets))
       |       - length(bin((SELECT sum(ct) FROM dstgt) + $buckets)) AS BIGINT)
       |      AS shift),
       |dsagg AS (SELECT doc_id, CAST(sum(tf * w) AS BIGINT) AS gb,
       |    CAST(sum(tf) AS BIGINT) AS n_grams
       |  FROM dstf JOIN dswt USING (bkt) GROUP BY 1)""".stripMargin
}
