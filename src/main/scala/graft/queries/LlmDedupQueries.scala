package graft.queries

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ext.{Dedup, Multimodal, Similarity, TextAnalysis}

/** MinHash/SimHash dedup, recall audits, normalization, URL/winnowing/paragraph dedup and graph queries.
  * Split out of the monolithic LlmQueries registry (round 20); order
  * and semantics unchanged — [[LlmQueries.defs]] concatenates the
  * families in the original sequence.
  */
private[graft] object LlmDedupQueries {
  import LlmOracle._
  import LlmShared._

  val defs: Seq[QueryDef] = Seq(
    // ── Dedup family ───────────────────────────────────────────────
    QueryDef("t_dedup_exact",
      """SELECT text AS dedup_key, min(doc_id) AS keep_id,
        |       count(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin) { (s, d) =>
      Dedup.exactByKey(Tables.documents(s, d), col("text"), "doc_id")
    }.sortedBy(col("keep_id")),

    QueryDef("t_minhash_sig",
      s"""WITH $hashesCte, $sigCte
         |SELECT doc_id, array_to_string(sig, ',') AS sig_str
         |FROM sig ORDER BY doc_id""".stripMargin) { (s, d) =>
      Dedup.features(Tables.documents(s, d))
        .select(col("doc_id"),
          array_join(transform(col("sig"), _.cast("string")), ",").as("sig_str"))
    }.sortedBy(col("doc_id")),

    QueryDef("t_simhash",
      s"""WITH $hashesCte
         |SELECT doc_id, CAST($simhashExpr AS BIGINT) AS simhash
         |FROM hashes ORDER BY doc_id""".stripMargin) { (s, d) =>
      Dedup.features(Tables.documents(s, d))
        .select(col("doc_id"), col("simhash"))
    }.sortedBy(col("doc_id")),

    // LSH-banded near-dup candidates with exact-Jaccard verification —
    // the FULL hot-bucket-guarded pipeline replayed: exact-collapse,
    // capped rep-level band candidates, verification on reps, then the
    // exact expansion back to member pairs (cross-group pairs inherit
    // the rep pair's inter/uni; intra-group pairs have inter = uni =
    // |hash set|). Candidate generation is a band-key equi-join, NOT an
    // n² product, and the cap is part of the verified contract.
    QueryDef("t_dedup_near",
      s"""WITH $hashesCte, $sigCte,
         |$repCollapseCtes,
         |${bandCandidatesCte()},
         |rpairs AS (
         |  SELECT doc_a, doc_b,
         |         len(list_intersect(ha.hs, hb.hs)) AS inter,
         |         len(ha.hs) + len(hb.hs)
         |           - len(list_intersect(ha.hs, hb.hs)) AS uni
         |  FROM cand
         |  JOIN hashes ha ON ha.doc_id = cand.doc_a
         |  JOIN hashes hb ON hb.doc_id = cand.doc_b),
         |pairs AS (
         |  SELECT least(ma.doc_id, mb.doc_id) AS doc_a,
         |         greatest(ma.doc_id, mb.doc_id) AS doc_b, p.inter, p.uni
         |  FROM rpairs p
         |  JOIN mem ma ON ma.rep = p.doc_a
         |  JOIN mem mb ON mb.rep = p.doc_b
         |  UNION ALL
         |  SELECT ma.doc_id, mb.doc_id, len(h.hs), len(h.hs)
         |  FROM mem ma JOIN mem mb ON ma.rep = mb.rep AND ma.doc_id < mb.doc_id
         |  JOIN hashes h ON h.doc_id = ma.rep)
         |SELECT doc_a, doc_b, CAST(inter AS BIGINT) AS inter,
         |       CAST(uni AS BIGINT) AS uni
         |FROM pairs ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      Dedup.nearDupPairs(Tables.documents(s, d))
    }.sortedBy(col("doc_a"), col("doc_b")),

    // ── LSH config recall audit: on a deterministic 25% key-hash
    // sample, the banding layout's candidates vs exact df-capped
    // inverted-index ground truth at J ≥ 1/2 — recall says what the
    // 4×2 banding + hot-bucket cap MISS, precision what the band join
    // wastes. The dedup config's own eval row, replayed end-to-end.
    QueryDef("t_lsh_recall_audit", {
      val jNum = 1; val jDen = 2
      def jcut(rel: String) =
        s"""(SELECT doc_a, doc_b FROM (
           |    SELECT c.doc_a, c.doc_b,
           |      len(list_intersect(ha.hs, hb.hs)) AS inter,
           |      len(ha.hs) + len(hb.hs)
           |        - len(list_intersect(ha.hs, hb.hs)) AS uni
           |    FROM $rel c
           |    JOIN lahashes ha ON ha.doc_id = c.doc_a
           |    JOIN lahashes hb ON hb.doc_id = c.doc_b)
           |  WHERE inter * $jDen >= uni * $jNum)""".stripMargin
      s"""WITH samp AS (SELECT doc_id, text FROM documents
         |  WHERE text IS NOT NULL
         |    AND ${polyhash("CAST(doc_id AS VARCHAR)")} % 10000 < 2500),
         |${hashesCteFrom("samp", "la")},
         |lasig AS (SELECT doc_id,
         |  [${minhashExprs.mkString(",\n  ")}] AS sig FROM lahashes),
         |lapost AS (SELECT doc_id, unnest(hs) AS h FROM lahashes),
         |ladf AS (SELECT doc_id, h FROM (
         |    SELECT doc_id, h, count(*) OVER (PARTITION BY h) AS df
         |    FROM lapost)
         |  WHERE df <= 200),
         |latc AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
         |  FROM ladf l JOIN ladf r ON l.h = r.h AND l.doc_id < r.doc_id),
         |latruth AS ${jcut("latc")},
         |labands AS (SELECT s.doc_id, b.band,
         |    CAST(sig[b.band * 2 + 1] AS VARCHAR) || '_' ||
         |    CAST(sig[b.band * 2 + 2] AS VARCHAR) AS bkey
         |  FROM lasig s CROSS JOIN (VALUES (0), (1), (2), (3)) b(band)
         |  QUALIFY count(*) OVER (PARTITION BY b.band, bkey)
         |    <= ${Dedup.DefaultMaxBucketWidth}),
         |lacand AS (
         |  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
         |  FROM labands l JOIN labands r
         |    ON l.band = r.band AND l.bkey = r.bkey
         |    AND l.doc_id < r.doc_id),
         |laver AS ${jcut("lacand")},
         |lahit AS (SELECT t.doc_a, t.doc_b FROM latruth t
         |  JOIN lacand c ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b)
         |SELECT n_sampled, n_truth_pairs, n_candidates, n_verified,
         |  n_hits,
         |  CAST(CASE WHEN n_truth_pairs > 0
         |    THEN (n_hits * 10000) // n_truth_pairs END AS BIGINT)
         |    AS recall_x10000,
         |  CAST(CASE WHEN n_candidates > 0
         |    THEN (n_verified * 10000) // n_candidates END AS BIGINT)
         |    AS precision_x10000
         |FROM (SELECT
         |  (SELECT CAST(count(*) AS BIGINT) FROM lahashes) AS n_sampled,
         |  (SELECT CAST(count(*) AS BIGINT) FROM latruth) AS n_truth_pairs,
         |  (SELECT CAST(count(*) AS BIGINT) FROM lacand) AS n_candidates,
         |  (SELECT CAST(count(*) AS BIGINT) FROM laver) AS n_verified,
         |  (SELECT CAST(count(*) AS BIGINT) FROM lahit) AS n_hits)""".stripMargin
    }) { (s, d) =>
      Dedup.lshRecallAudit(Tables.documents(s, d))
    },

    // ── LSH config GRID: the sweep the single audit informs — three
    // banding layouts over the SAME 25% sample, ONE shared shingle
    // pass and ONE df-capped exact ground truth; only the band join
    // differs per row. All layouts tile the full 8-perm signature
    // ((8,1)/(4,2)/(2,4)), so the rows trace the banding S-curve:
    // more bands of fewer rows → recall monotonically up, precision
    // down — ordered exactly as theory predicts, per the oracle.
    QueryDef("t_lsh_recall_grid", {
      val jNum = 1; val jDen = 2
      val configs = Seq((8, 1), (4, 2), (2, 4))
      def jcut(rel: String) =
        s"""(SELECT doc_a, doc_b FROM (
           |    SELECT c.doc_a, c.doc_b,
           |      len(list_intersect(ha.hs, hb.hs)) AS inter,
           |      len(ha.hs) + len(hb.hs)
           |        - len(list_intersect(ha.hs, hb.hs)) AS uni
           |    FROM $rel c
           |    JOIN lghashes ha ON ha.doc_id = c.doc_a
           |    JOIN lghashes hb ON hb.doc_id = c.doc_b)
           |  WHERE inter * $jDen >= uni * $jNum)""".stripMargin
      def bandExpr(r: Int) = (1 to r)
        .map(k => s"CAST(sig[b.band * $r + $k] AS VARCHAR)")
        .mkString(" || '_' || ")
      val perConfig = configs.map { case (b, r) =>
        val p = s"lg${b}x$r"
        s"""${p}b AS (SELECT s.doc_id, b.band, ${bandExpr(r)} AS bkey
           |  FROM lgsig s CROSS JOIN (VALUES
           |    ${(0 until b).map(i => s"($i)").mkString(", ")}) b(band)
           |  QUALIFY count(*) OVER (PARTITION BY b.band, bkey)
           |    <= ${Dedup.DefaultMaxBucketWidth}),
           |${p}c AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
           |  FROM ${p}b l JOIN ${p}b r
           |    ON l.band = r.band AND l.bkey = r.bkey
           |    AND l.doc_id < r.doc_id),
           |${p}v AS ${jcut(s"${p}c")},
           |${p}h AS (SELECT t.doc_a, t.doc_b FROM lgtruth t
           |  JOIN ${p}c c ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b)"""
          .stripMargin
      }.mkString(",\n")
      val rows = configs.map { case (b, r) =>
        val p = s"lg${b}x$r"
        s"""SELECT CAST($b AS BIGINT) AS num_bands,
           |  CAST($r AS BIGINT) AS rows_per_band,
           |  (SELECT CAST(count(*) AS BIGINT) FROM lghashes) AS n_sampled,
           |  (SELECT CAST(count(*) AS BIGINT) FROM lgtruth) AS n_truth_pairs,
           |  (SELECT CAST(count(*) AS BIGINT) FROM ${p}c) AS n_candidates,
           |  (SELECT CAST(count(*) AS BIGINT) FROM ${p}v) AS n_verified,
           |  (SELECT CAST(count(*) AS BIGINT) FROM ${p}h) AS n_hits"""
          .stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH samp AS (SELECT doc_id, text FROM documents
         |  WHERE text IS NOT NULL
         |    AND ${polyhash("CAST(doc_id AS VARCHAR)")} % 10000 < 2500),
         |${hashesCteFrom("samp", "lg")},
         |lgsig AS (SELECT doc_id,
         |  [${minhashExprs.mkString(",\n  ")}] AS sig FROM lghashes),
         |lgpost AS (SELECT doc_id, unnest(hs) AS h FROM lghashes),
         |lgdf AS (SELECT doc_id, h FROM (
         |    SELECT doc_id, h, count(*) OVER (PARTITION BY h) AS df
         |    FROM lgpost)
         |  WHERE df <= 200),
         |lgtc AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
         |  FROM lgdf l JOIN lgdf r ON l.h = r.h AND l.doc_id < r.doc_id),
         |lgtruth AS ${jcut("lgtc")},
         |$perConfig
         |SELECT num_bands, rows_per_band, n_sampled, n_truth_pairs,
         |  n_candidates, n_verified, n_hits,
         |  CAST(CASE WHEN n_truth_pairs > 0
         |    THEN (n_hits * 10000) // n_truth_pairs END AS BIGINT)
         |    AS recall_x10000,
         |  CAST(CASE WHEN n_candidates > 0
         |    THEN (n_verified * 10000) // n_candidates END AS BIGINT)
         |    AS precision_x10000
         |FROM ($rows)
         |ORDER BY num_bands, rows_per_band""".stripMargin
    }) { (s, d) =>
      Dedup.lshRecallGrid(Tables.documents(s, d))
    }.sortedBy(col("num_bands"), col("rows_per_band")),

    // ── SimHash config recall audit: the Hamming-ball analog — on the
    // same 25% sample, the production (60-bit, 6-block, radius-3)
    // member pairs vs the exact df-capped Jaccard ground truth at
    // J ≥ 1/2. The block-combination join is ball-complete by
    // construction, so recall measures the SEMANTIC gap (does
    // signature proximity track Jaccard at this radius), precision
    // what the Hamming ball admits below the cut.
    QueryDef("t_simhash_recall_audit", {
      val jNum = 1; val jDen = 2
      def jcut(rel: String) =
        s"""(SELECT doc_a, doc_b FROM (
           |    SELECT c.doc_a, c.doc_b,
           |      len(list_intersect(ha.hs, hb.hs)) AS inter,
           |      len(ha.hs) + len(hb.hs)
           |        - len(list_intersect(ha.hs, hb.hs)) AS uni
           |    FROM $rel c
           |    JOIN sahashes ha ON ha.doc_id = c.doc_a
           |    JOIN sahashes hb ON hb.doc_id = c.doc_b)
           |  WHERE inter * $jDen >= uni * $jNum)""".stripMargin
      s"""WITH samp AS (SELECT doc_id, text FROM documents
         |  WHERE text IS NOT NULL
         |    AND ${polyhash("CAST(doc_id AS VARCHAR)")} % 10000 < 2500),
         |${hashesCteFrom("samp", "sa")},
         |sapost AS (SELECT doc_id, unnest(hs) AS h FROM sahashes),
         |sadf AS (SELECT doc_id, h FROM (
         |    SELECT doc_id, h, count(*) OVER (PARTITION BY h) AS df
         |    FROM sapost)
         |  WHERE df <= 200),
         |satc AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
         |  FROM sadf l JOIN sadf r ON l.h = r.h AND l.doc_id < r.doc_id),
         |satruth AS ${jcut("satc")},
         |ssims AS (SELECT doc_id,
         |  CAST(${simhashExprBits(60)} AS BIGINT) AS sim FROM sahashes),
         |ssgrp AS (SELECT sim, min(doc_id) AS rep FROM ssims
         |          WHERE sim IS NOT NULL GROUP BY sim),
         |ssmem AS (SELECT s.doc_id, coalesce(g.rep, s.doc_id) AS rep,
         |            s.sim
         |          FROM ssims s LEFT JOIN ssgrp g ON s.sim = g.sim),
         |ssbands AS (
         |  SELECT g.rep AS doc_id, c.band,
         |         ${simhashComboKeyExpr("g.sim", 10, 3)} AS bkey
         |  FROM ssgrp g CROSS JOIN (VALUES
         |    ${simhashComboValues(6, 3)}) c(band, b0, b1, b2)
         |  QUALIFY count(*) OVER (PARTITION BY c.band, bkey)
         |    <= ${Dedup.DefaultMaxBucketWidth}),
         |sscand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM ssbands a JOIN ssbands b
         |    ON a.band = b.band AND a.bkey = b.bkey
         |    AND a.doc_id < b.doc_id),
         |ssr AS (SELECT c.doc_a, c.doc_b
         |  FROM sscand c
         |  JOIN ssims s1 ON s1.doc_id = c.doc_a
         |  JOIN ssims s2 ON s2.doc_id = c.doc_b
         |  WHERE bit_count(xor(s1.sim, s2.sim)) <= 3),
         |sspairs AS (
         |  SELECT least(ma.doc_id, mb.doc_id) AS doc_a,
         |         greatest(ma.doc_id, mb.doc_id) AS doc_b
         |  FROM ssr p
         |  JOIN ssmem ma ON ma.rep = p.doc_a
         |  JOIN ssmem mb ON mb.rep = p.doc_b
         |  UNION ALL
         |  SELECT ma.doc_id, mb.doc_id
         |  FROM ssmem ma JOIN ssmem mb
         |    ON ma.rep = mb.rep AND ma.doc_id < mb.doc_id
         |  WHERE ma.sim IS NOT NULL),
         |ssver AS ${jcut("sspairs")},
         |sshit AS (SELECT t.doc_a, t.doc_b FROM satruth t
         |  JOIN sspairs c ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b)
         |SELECT n_sampled, n_truth_pairs, n_candidates, n_verified,
         |  n_hits,
         |  CAST(CASE WHEN n_truth_pairs > 0
         |    THEN (n_hits * 10000) // n_truth_pairs END AS BIGINT)
         |    AS recall_x10000,
         |  CAST(CASE WHEN n_candidates > 0
         |    THEN (n_verified * 10000) // n_candidates END AS BIGINT)
         |    AS precision_x10000
         |FROM (SELECT
         |  (SELECT CAST(count(*) AS BIGINT) FROM sahashes) AS n_sampled,
         |  (SELECT CAST(count(*) AS BIGINT) FROM satruth) AS n_truth_pairs,
         |  (SELECT CAST(count(*) AS BIGINT) FROM sspairs) AS n_candidates,
         |  (SELECT CAST(count(*) AS BIGINT) FROM ssver) AS n_verified,
         |  (SELECT CAST(count(*) AS BIGINT) FROM sshit) AS n_hits)""".stripMargin
    }) { (s, d) =>
      Dedup.simhashRecallAudit(Tables.documents(s, d))
    },

    // ── SimHash config GRID: blocks fixed at 6, radius swept 1 → 3
    // over the SAME sample, shingle pass, 60-bit signature column and
    // exact ground truth; only the block-combination join and the
    // Hamming cut differ per row. A wider ball admits strictly more
    // signature pairs → recall monotonically up, precision down — the
    // ordered rows a radius tuner reads (signature-level rep collapse
    // and its intra-group expansion are radius-independent, shared).
    QueryDef("t_simhash_recall_grid", {
      val jNum = 1; val jDen = 2
      val blocks = 6
      val radii = Seq(1, 2, 3)
      def jcut(rel: String) =
        s"""(SELECT doc_a, doc_b FROM (
           |    SELECT c.doc_a, c.doc_b,
           |      len(list_intersect(ha.hs, hb.hs)) AS inter,
           |      len(ha.hs) + len(hb.hs)
           |        - len(list_intersect(ha.hs, hb.hs)) AS uni
           |    FROM $rel c
           |    JOIN sghashes ha ON ha.doc_id = c.doc_a
           |    JOIN sghashes hb ON hb.doc_id = c.doc_b)
           |  WHERE inter * $jDen >= uni * $jNum)""".stripMargin
      val perConfig = radii.map { mh =>
        val agree = blocks - mh
        val p = s"sg$mh"
        s"""${p}bands AS (
           |  SELECT g.rep AS doc_id, c.band,
           |         ${simhashComboKeyExpr("g.sim", 10, agree)} AS bkey
           |  FROM sggrp g CROSS JOIN (VALUES
           |    ${simhashComboValues(blocks, agree)})
           |    c(band, ${(0 until agree).map("b" + _).mkString(", ")})
           |  QUALIFY count(*) OVER (PARTITION BY c.band, bkey)
           |    <= ${Dedup.DefaultMaxBucketWidth}),
           |${p}cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM ${p}bands a JOIN ${p}bands b
           |    ON a.band = b.band AND a.bkey = b.bkey
           |    AND a.doc_id < b.doc_id),
           |${p}r AS (SELECT c.doc_a, c.doc_b
           |  FROM ${p}cand c
           |  JOIN sgsims s1 ON s1.doc_id = c.doc_a
           |  JOIN sgsims s2 ON s2.doc_id = c.doc_b
           |  WHERE bit_count(xor(s1.sim, s2.sim)) <= $mh),
           |${p}pairs AS (
           |  SELECT least(ma.doc_id, mb.doc_id) AS doc_a,
           |         greatest(ma.doc_id, mb.doc_id) AS doc_b
           |  FROM ${p}r p
           |  JOIN sgmem ma ON ma.rep = p.doc_a
           |  JOIN sgmem mb ON mb.rep = p.doc_b
           |  UNION ALL
           |  SELECT doc_a, doc_b FROM sgintra),
           |${p}v AS ${jcut(s"${p}pairs")},
           |${p}h AS (SELECT t.doc_a, t.doc_b FROM sgtruth t
           |  JOIN ${p}pairs c ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b)"""
          .stripMargin
      }.mkString(",\n")
      val rows = radii.map { mh =>
        val p = s"sg$mh"
        s"""SELECT CAST($blocks AS BIGINT) AS blocks,
           |  CAST($mh AS BIGINT) AS max_hamming,
           |  (SELECT CAST(count(*) AS BIGINT) FROM sghashes) AS n_sampled,
           |  (SELECT CAST(count(*) AS BIGINT) FROM sgtruth) AS n_truth_pairs,
           |  (SELECT CAST(count(*) AS BIGINT) FROM ${p}pairs) AS n_candidates,
           |  (SELECT CAST(count(*) AS BIGINT) FROM ${p}v) AS n_verified,
           |  (SELECT CAST(count(*) AS BIGINT) FROM ${p}h) AS n_hits"""
          .stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH samp AS (SELECT doc_id, text FROM documents
         |  WHERE text IS NOT NULL
         |    AND ${polyhash("CAST(doc_id AS VARCHAR)")} % 10000 < 2500),
         |${hashesCteFrom("samp", "sg")},
         |sgpost AS (SELECT doc_id, unnest(hs) AS h FROM sghashes),
         |sgdf AS (SELECT doc_id, h FROM (
         |    SELECT doc_id, h, count(*) OVER (PARTITION BY h) AS df
         |    FROM sgpost)
         |  WHERE df <= 200),
         |sgtc AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
         |  FROM sgdf l JOIN sgdf r ON l.h = r.h AND l.doc_id < r.doc_id),
         |sgtruth AS ${jcut("sgtc")},
         |sgsims AS (SELECT doc_id,
         |  CAST(${simhashExprBits(60)} AS BIGINT) AS sim FROM sghashes),
         |sggrp AS (SELECT sim, min(doc_id) AS rep FROM sgsims
         |          WHERE sim IS NOT NULL GROUP BY sim),
         |sgmem AS (SELECT s.doc_id, coalesce(g.rep, s.doc_id) AS rep,
         |            s.sim
         |          FROM sgsims s LEFT JOIN sggrp g ON s.sim = g.sim),
         |sgintra AS (
         |  SELECT ma.doc_id AS doc_a, mb.doc_id AS doc_b
         |  FROM sgmem ma JOIN sgmem mb
         |    ON ma.rep = mb.rep AND ma.doc_id < mb.doc_id
         |  WHERE ma.sim IS NOT NULL),
         |$perConfig
         |SELECT blocks, max_hamming, n_sampled, n_truth_pairs,
         |  n_candidates, n_verified, n_hits,
         |  CAST(CASE WHEN n_truth_pairs > 0
         |    THEN (n_hits * 10000) // n_truth_pairs END AS BIGINT)
         |    AS recall_x10000,
         |  CAST(CASE WHEN n_candidates > 0
         |    THEN (n_verified * 10000) // n_candidates END AS BIGINT)
         |    AS precision_x10000
         |FROM ($rows)
         |ORDER BY blocks, max_hamming""".stripMargin
    }) { (s, d) =>
      Dedup.simhashRecallGrid(Tables.documents(s, d))
    }.sortedBy(col("blocks"), col("max_hamming")),

    // ── Embedding-LSH recall audit: third member of the audit family
    // — on the same deterministic 25% sample, the production
    // (8-table, 7-plane) random-hyperplane member pairs vs EXACT
    // all-pairs cosine truth at 0.25. Candidates replay the full
    // production plan (collapse, cap, expansion) with no cosine cut;
    // the verified count applies the real threshold.
    QueryDef("t_embed_recall_audit",
      s"""WITH esamp0 AS (SELECT vec_id, embedding FROM embeddings
         |  WHERE embedding IS NOT NULL
         |    AND len(list_filter(embedding, x -> x <> 0)) > 0
         |    AND ${polyhash("CAST(vec_id AS VARCHAR)")} % 10000 < 2500),
         |esamp AS (SELECT vec_id, embedding FROM esamp0
         |  ORDER BY ${polyhash("CAST(vec_id AS VARCHAR)")}, vec_id
         |  LIMIT 4096),
         |${lshBucketsCte(tables = 8, planes = 7, dims = 64, rel = "esamp")},
         |etruth AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM esamp a JOIN esamp b ON a.vec_id < b.vec_id
         |  WHERE round(${cosine("a.embedding", "b.embedding")}, 6)
         |    >= 0.25),
         |evgrp AS (SELECT embedding AS emb, min(vec_id) AS rep
         |          FROM esamp GROUP BY embedding),
         |evmem AS (SELECT e.vec_id, g.rep FROM esamp e
         |          JOIN evgrp g ON e.embedding = g.emb),
         |erbuckets AS (
         |  SELECT b.vec_id, b.tbl, b.bucket
         |  FROM buckets b JOIN evgrp g ON g.rep = b.vec_id
         |  QUALIFY count(*) OVER (PARTITION BY b.tbl, b.bucket)
         |          <= ${Dedup.DefaultMaxBucketWidth}),
         |ercand AS (
         |  SELECT DISTINCT l.vec_id AS id_a, r.vec_id AS id_b
         |  FROM erbuckets l JOIN erbuckets r
         |    ON l.tbl = r.tbl AND l.bucket = r.bucket
         |    AND l.vec_id < r.vec_id),
         |erscored AS (
         |  SELECT c.id_a, c.id_b,
         |         round(${cosine("a.embedding", "b.embedding")}, 6) AS cos
         |  FROM ercand c
         |  JOIN esamp a ON a.vec_id = c.id_a
         |  JOIN esamp b ON b.vec_id = c.id_b),
         |eself AS (
         |  SELECT g.rep, round(${cosine("e.embedding", "e.embedding")}, 6)
         |    AS cos
         |  FROM evgrp g JOIN esamp e ON e.vec_id = g.rep),
         |ecand AS (
         |  SELECT least(ma.vec_id, mb.vec_id) AS id_a,
         |         greatest(ma.vec_id, mb.vec_id) AS id_b, p.cos
         |  FROM erscored p
         |  JOIN evmem ma ON ma.rep = p.id_a
         |  JOIN evmem mb ON mb.rep = p.id_b
         |  UNION ALL
         |  SELECT ma.vec_id, mb.vec_id, s.cos
         |  FROM evmem ma JOIN evmem mb
         |    ON ma.rep = mb.rep AND ma.vec_id < mb.vec_id
         |  JOIN eself s ON s.rep = ma.rep),
         |ever AS (SELECT id_a, id_b FROM ecand WHERE cos >= 0.25),
         |ehit AS (SELECT t.id_a, t.id_b FROM etruth t
         |  JOIN ecand c ON c.id_a = t.id_a AND c.id_b = t.id_b)
         |SELECT n_sampled, n_truth_pairs, n_candidates, n_verified,
         |  n_hits,
         |  CAST(CASE WHEN n_truth_pairs > 0
         |    THEN (n_hits * 10000) // n_truth_pairs END AS BIGINT)
         |    AS recall_x10000,
         |  CAST(CASE WHEN n_candidates > 0
         |    THEN (n_verified * 10000) // n_candidates END AS BIGINT)
         |    AS precision_x10000
         |FROM (SELECT
         |  (SELECT CAST(count(*) AS BIGINT) FROM esamp) AS n_sampled,
         |  (SELECT CAST(count(*) AS BIGINT) FROM etruth) AS n_truth_pairs,
         |  (SELECT CAST(count(*) AS BIGINT) FROM ecand) AS n_candidates,
         |  (SELECT CAST(count(*) AS BIGINT) FROM ever) AS n_verified,
         |  (SELECT CAST(count(*) AS BIGINT) FROM ehit) AS n_hits)""".stripMargin) {
      (s, d) =>
      Similarity.embeddingRecallAudit(Tables.embeddings(s, d))
    },

    // ── Embedding-LSH config GRID: (tables, planes) swept around the
    // production (8, 7) over the SAME capped sample and ONE exact
    // all-pairs ground truth (the O(s²) relation priced once for the
    // whole sweep — the point of a grid over separate audits); only
    // the bucket join re-runs per row. More tables → more collision
    // chances → recall up, precision down; more planes → finer
    // buckets → the reverse.
    QueryDef("t_embed_recall_grid", {
      val configs = Seq((4, 7), (8, 7), (8, 9))
      val perConfig = configs.map { case (t, p) =>
        val x = s"eg${t}x$p"
        s"""${lshBucketsCte(tables = t, planes = p, dims = 64,
             rel = "esamp", prefix = x)},
           |${x}rb AS (
           |  SELECT b.vec_id, b.tbl, b.bucket
           |  FROM ${x}buckets b JOIN evgrp g ON g.rep = b.vec_id
           |  QUALIFY count(*) OVER (PARTITION BY b.tbl, b.bucket)
           |          <= ${Dedup.DefaultMaxBucketWidth}),
           |${x}c AS (
           |  SELECT DISTINCT l.vec_id AS id_a, r.vec_id AS id_b
           |  FROM ${x}rb l JOIN ${x}rb r
           |    ON l.tbl = r.tbl AND l.bucket = r.bucket
           |    AND l.vec_id < r.vec_id),
           |${x}sc AS (
           |  SELECT c.id_a, c.id_b,
           |         round(${cosine("a.embedding", "b.embedding")}, 6) AS cos
           |  FROM ${x}c c
           |  JOIN esamp a ON a.vec_id = c.id_a
           |  JOIN esamp b ON b.vec_id = c.id_b),
           |${x}all AS (
           |  SELECT least(ma.vec_id, mb.vec_id) AS id_a,
           |         greatest(ma.vec_id, mb.vec_id) AS id_b, p.cos
           |  FROM ${x}sc p
           |  JOIN evmem ma ON ma.rep = p.id_a
           |  JOIN evmem mb ON mb.rep = p.id_b
           |  UNION ALL
           |  SELECT id_a, id_b, cos FROM egintra),
           |${x}v AS (SELECT id_a, id_b FROM ${x}all WHERE cos >= 0.25),
           |${x}h AS (SELECT t.id_a, t.id_b FROM etruth t
           |  JOIN ${x}all c ON c.id_a = t.id_a AND c.id_b = t.id_b)"""
          .stripMargin
      }.mkString(",\n")
      val rows = configs.map { case (t, p) =>
        val x = s"eg${t}x$p"
        s"""SELECT CAST($t AS BIGINT) AS tables, CAST($p AS BIGINT) AS planes,
           |  (SELECT CAST(count(*) AS BIGINT) FROM esamp) AS n_sampled,
           |  (SELECT CAST(count(*) AS BIGINT) FROM etruth) AS n_truth_pairs,
           |  (SELECT CAST(count(*) AS BIGINT) FROM ${x}all) AS n_candidates,
           |  (SELECT CAST(count(*) AS BIGINT) FROM ${x}v) AS n_verified,
           |  (SELECT CAST(count(*) AS BIGINT) FROM ${x}h) AS n_hits"""
          .stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH esamp0 AS (SELECT vec_id, embedding FROM embeddings
         |  WHERE embedding IS NOT NULL
         |    AND len(list_filter(embedding, x -> x <> 0)) > 0
         |    AND ${polyhash("CAST(vec_id AS VARCHAR)")} % 10000 < 2500),
         |esamp AS (SELECT vec_id, embedding FROM esamp0
         |  ORDER BY ${polyhash("CAST(vec_id AS VARCHAR)")}, vec_id
         |  LIMIT 4096),
         |etruth AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM esamp a JOIN esamp b ON a.vec_id < b.vec_id
         |  WHERE round(${cosine("a.embedding", "b.embedding")}, 6)
         |    >= 0.25),
         |evgrp AS (SELECT embedding AS emb, min(vec_id) AS rep
         |          FROM esamp GROUP BY embedding),
         |evmem AS (SELECT e.vec_id, g.rep FROM esamp e
         |          JOIN evgrp g ON e.embedding = g.emb),
         |eself AS (
         |  SELECT g.rep, round(${cosine("e.embedding", "e.embedding")}, 6)
         |    AS cos
         |  FROM evgrp g JOIN esamp e ON e.vec_id = g.rep),
         |egintra AS (
         |  SELECT ma.vec_id AS id_a, mb.vec_id AS id_b, s.cos
         |  FROM evmem ma JOIN evmem mb
         |    ON ma.rep = mb.rep AND ma.vec_id < mb.vec_id
         |  JOIN eself s ON s.rep = ma.rep),
         |$perConfig
         |SELECT tables, planes, n_sampled, n_truth_pairs,
         |  n_candidates, n_verified, n_hits,
         |  CAST(CASE WHEN n_truth_pairs > 0
         |    THEN (n_hits * 10000) // n_truth_pairs END AS BIGINT)
         |    AS recall_x10000,
         |  CAST(CASE WHEN n_candidates > 0
         |    THEN (n_verified * 10000) // n_candidates END AS BIGINT)
         |    AS precision_x10000
         |FROM ($rows)
         |ORDER BY tables, planes""".stripMargin
    }) { (s, d) =>
      Similarity.embeddingRecallGrid(Tables.embeddings(s, d))
    }.sortedBy(col("tables"), col("planes")),

    // ── Normalization + normalization-robust dedup ─────────────────
    // Canonical lowercase/strip-punct/collapse-space normalization
    // (the C4/RefinedWeb preprocessing), then exact grouping over the
    // normalized form. Re-serialized variants are PLANTED in SQL on
    // both sides (upper-cased text + punctuation tail for doc_id < 20
    // under shifted ids) so the grouping provably collapses what
    // byte-exact dedup misses.
    // Mojibake repair: UTF-8-as-Latin-1 artifacts PLANTED in SQL on
    // both sides (every 7th doc gains smart-quote/accent mojibake)
    // must repair to the intended characters; clean docs untouched.
    QueryDef("t_fix_mojibake", {
      // the NBSP artifact is Â + a REAL U+00A0 (r16 advice fix): the
      // char after Â below is 0xC2 0xA0, not an ASCII space
      val nbsp = "Â "
      val planted =
        s"""CASE WHEN doc_id % 7 = 0
           |  THEN text || ' cafÃ© â€œquotedâ€™ naÃ¯ve A${nbsp}B' END""".stripMargin
      val chain = TextAnalysis.MojibakePairs.foldLeft(
        "coalesce(p.planted, p.text)") { case (inner, (pat, rep)) =>
        s"replace($inner, '${pat.replace("'", "''")}', " +
          s"'${rep.replace("'", "''")}')"
      }
      s"""WITH p AS (SELECT doc_id, text, $planted AS planted
         |           FROM documents)
         |SELECT doc_id, $chain AS text FROM p
         |ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      val planted = Tables.documents(s, d).select(col("doc_id"),
        coalesce(when(col("doc_id") % 7 === 0,
            concat(col("text"),
              lit(" cafÃ© â€œquotedâ€™ naÃ¯ve AÂ B"))),
          col("text")).as("text"))
      planted.select(col("doc_id"),
        TextAnalysis.fixMojibake(col("text")).as("text"))
    }.sortedBy(col("doc_id")),

    QueryDef("t_normalize_text",
      """SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(lower(text),
        |    '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm_text
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        TextAnalysis.normalizeText(col("text")).as("norm_text"))
    }.sortedBy(col("doc_id")),

    // ── Weighted-lexicon safety screen (C4 blocklist / Dolma list
    // layer): a severity-graded term lexicon planted as VALUES on both
    // sides; hits = the tall per-(doc, category) audit relation,
    // screen = the per-doc verdict under an integer per-mille-of-tokens
    // density budget (cross-multiplied — long docs aren't over-dropped
    // by raw counts).
    QueryDef("t_lexicon_hits",
      s"""WITH lex(term, category, weight_x100) AS (VALUES
         |    ('slow','perf',100),('merge','perf',150),
         |    ('hash','risky',250),('big','risky',50),('the','noise',10)),
         |norm AS (SELECT doc_id, trim(regexp_replace(regexp_replace(
         |    lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS n
         |  FROM documents WHERE text IS NOT NULL),
         |tok AS (SELECT doc_id, unnest(string_split(n, ' ')) AS w
         |  FROM norm WHERE n <> '')
         |SELECT doc_id, category, CAST(count(*) AS BIGINT) AS hits,
         |  CAST(sum(weight_x100) AS BIGINT) AS score_x100
         |FROM tok JOIN lex ON lex.term = tok.w
         |GROUP BY doc_id, category
         |ORDER BY doc_id, category""".stripMargin) { (s, d) =>
      import s.implicits._
      val lex = Seq(("slow", "perf", 100), ("merge", "perf", 150),
        ("hash", "risky", 250), ("big", "risky", 50), ("the", "noise", 10))
        .toDF("term", "category", "weight_x100")
      TextAnalysis.lexiconHits(Tables.documents(s, d), lex)
    }.sortedBy(col("doc_id"), col("category")),

    QueryDef("t_lexicon_screen",
      s"""WITH lex(term, category, weight_x100) AS (VALUES
         |    ('slow','perf',100),('merge','perf',150),
         |    ('hash','risky',250),('big','risky',50),('the','noise',10)),
         |norm AS (SELECT doc_id, trim(regexp_replace(regexp_replace(
         |    lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS n
         |  FROM documents WHERE text IS NOT NULL),
         |nt AS (SELECT doc_id, CASE WHEN n = '' THEN 0
         |    ELSE len(string_split(n, ' ')) END AS n_tokens FROM norm),
         |tok AS (SELECT doc_id, unnest(string_split(n, ' ')) AS w
         |  FROM norm WHERE n <> ''),
         |hits AS (SELECT doc_id, category,
         |    CAST(sum(weight_x100) AS BIGINT) AS score_x100
         |  FROM tok JOIN lex ON lex.term = tok.w GROUP BY doc_id, category),
         |fl AS (SELECT h.doc_id, CAST(count(*) AS BIGINT) AS n_flagged
         |  FROM hits h JOIN nt ON nt.doc_id = h.doc_id
         |  WHERE h.score_x100 * 1000 > nt.n_tokens * 2500
         |  GROUP BY h.doc_id)
         |SELECT nt.doc_id, CAST(nt.n_tokens AS BIGINT) AS n_tokens,
         |  CAST(coalesce(fl.n_flagged, 0) AS BIGINT) AS n_flagged,
         |  coalesce(fl.n_flagged, 0) = 0 AS screen_pass
         |FROM nt LEFT JOIN fl ON fl.doc_id = nt.doc_id
         |ORDER BY nt.doc_id""".stripMargin) { (s, d) =>
      import s.implicits._
      val lex = Seq(("slow", "perf", 100), ("merge", "perf", 150),
        ("hash", "risky", 250), ("big", "risky", 50), ("the", "noise", 10))
        .toDF("term", "category", "weight_x100")
      TextAnalysis.lexiconScreen(Tables.documents(s, d), lex,
        maxScoreX100PerKtok = 2500L)
    }.sortedBy(col("doc_id")),

    // ── URL canonicalization (crawl dedup-key normalizer): four URL
    // shapes planted per doc_id — mixed-case scheme/host + default port
    // + tracking params + fragment, bare default-port host, a non-URL
    // (must pass through UNCHANGED), and unsorted params with tracking
    // interleaved. The replay is the full 5-step law: fragment strip,
    // scheme/host lowering, default-port strip, '/' path, filtered +
    // sorted params.
    QueryDef("t_canonical_url",
      s"""WITH p AS (SELECT doc_id, CASE CAST(doc_id % 4 AS INTEGER)
         |    WHEN 0 THEN 'HTTPS://Example.COM:443/Path/' ||
         |      CAST(doc_id AS VARCHAR) || '?utm_source=x&b=2&a=1&fbclid=zz#frag'
         |    WHEN 1 THEN 'http://site.org:80'
         |    WHEN 2 THEN 'not a url ' || CAST(doc_id AS VARCHAR)
         |    ELSE 'http://Host.net/a?ref=h&z=1&utm_campaign=c&b=' ||
         |      CAST(doc_id % 7 AS VARCHAR) END AS url
         |  FROM documents),
         |s1 AS (SELECT doc_id, url, regexp_replace(url, '#.*', '') AS u
         |  FROM p),
         |s2 AS (SELECT doc_id, url, u,
         |  regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1) AS scheme,
         |  lower(regexp_extract(u, '^[^:/?#]+://([^/?#]*)', 1)) AS host0,
         |  regexp_extract(u, '^[^:/?#]+://[^/?#]*([^?#]*)', 1) AS path0,
         |  regexp_extract(u, '(?s)^[^?]*\\?(.*)', 1) AS q FROM s1),
         |s3 AS (SELECT doc_id, url, scheme, lower(scheme) AS ls,
         |  CASE WHEN lower(scheme)='http'
         |         THEN regexp_replace(host0, ':80$$', '')
         |       WHEN lower(scheme)='https'
         |         THEN regexp_replace(host0, ':443$$', '')
         |       ELSE host0 END AS host,
         |  CASE WHEN path0='' THEN '/' ELSE path0 END AS path,
         |  list_sort(list_filter(string_split(q, '&'),
         |    pp -> pp <> '' AND NOT regexp_matches(pp,
         |      '^(utm_[^=]*|fbclid|gclid|ref)(=.*)?$$'))) AS params
         |  FROM s2)
         |SELECT doc_id, url, CASE WHEN scheme='' THEN url
         |  ELSE ls || '://' || host || path ||
         |    CASE WHEN len(params) > 0
         |      THEN '?' || array_to_string(params, '&') ELSE '' END
         |  END AS canon_url FROM s3
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val planted = Tables.documents(s, d).select(col("doc_id"),
        when(col("doc_id") % 4 === 0,
          concat(lit("HTTPS://Example.COM:443/Path/"),
            col("doc_id").cast("string"),
            lit("?utm_source=x&b=2&a=1&fbclid=zz#frag")))
        .when(col("doc_id") % 4 === 1, lit("http://site.org:80"))
        .when(col("doc_id") % 4 === 2,
          concat(lit("not a url "), col("doc_id").cast("string")))
        .otherwise(concat(
          lit("http://Host.net/a?ref=h&z=1&utm_campaign=c&b="),
          (col("doc_id") % 7).cast("string"))).as("url"))
      planted.select(col("doc_id"), col("url"),
        TextAnalysis.canonicalizeUrl(col("url")).as("canon_url"))
    }.sortedBy(col("doc_id")),

    // ── URL-level dedup over the same planted shapes: every %4=1 doc
    // canonicalizes to the SAME 'http://site.org/' (only the smallest
    // doc_id keeps), the Host.net variants collide within their
    // doc_id%7 class — the cross-snapshot crawl dedup byte-exact URL
    // keys miss entirely.
    QueryDef("t_url_dedup",
      s"""WITH p AS (SELECT doc_id, CASE CAST(doc_id % 4 AS INTEGER)
         |    WHEN 0 THEN 'HTTPS://Example.COM:443/Path/' ||
         |      CAST(doc_id AS VARCHAR) || '?utm_source=x&b=2&a=1&fbclid=zz#frag'
         |    WHEN 1 THEN 'http://site.org:80'
         |    WHEN 2 THEN 'not a url ' || CAST(doc_id AS VARCHAR)
         |    ELSE 'http://Host.net/a?ref=h&z=1&utm_campaign=c&b=' ||
         |      CAST(doc_id % 7 AS VARCHAR) END AS url
         |  FROM documents),
         |s1 AS (SELECT doc_id, url, regexp_replace(url, '#.*', '') AS u
         |  FROM p),
         |s2 AS (SELECT doc_id, url, u,
         |  regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1) AS scheme,
         |  lower(regexp_extract(u, '^[^:/?#]+://([^/?#]*)', 1)) AS host0,
         |  regexp_extract(u, '^[^:/?#]+://[^/?#]*([^?#]*)', 1) AS path0,
         |  regexp_extract(u, '(?s)^[^?]*\\?(.*)', 1) AS q FROM s1),
         |s3 AS (SELECT doc_id, url, scheme, lower(scheme) AS ls,
         |  CASE WHEN lower(scheme)='http'
         |         THEN regexp_replace(host0, ':80$$', '')
         |       WHEN lower(scheme)='https'
         |         THEN regexp_replace(host0, ':443$$', '')
         |       ELSE host0 END AS host,
         |  CASE WHEN path0='' THEN '/' ELSE path0 END AS path,
         |  list_sort(list_filter(string_split(q, '&'),
         |    pp -> pp <> '' AND NOT regexp_matches(pp,
         |      '^(utm_[^=]*|fbclid|gclid|ref)(=.*)?$$'))) AS params
         |  FROM s2),
         |canon AS (SELECT doc_id, url, CASE WHEN scheme='' THEN url
         |  ELSE ls || '://' || host || path ||
         |    CASE WHEN len(params) > 0
         |      THEN '?' || array_to_string(params, '&') ELSE '' END
         |  END AS canon_url FROM s3),
         |f AS (SELECT canon_url, min(doc_id) AS fid FROM canon
         |  WHERE canon_url IS NOT NULL GROUP BY 1)
         |SELECT c.doc_id, c.url, c.canon_url,
         |  c.canon_url IS NULL OR c.doc_id = f.fid AS url_keep
         |FROM canon c LEFT JOIN f ON f.canon_url = c.canon_url
         |ORDER BY c.doc_id""".stripMargin) { (s, d) =>
      val planted = Tables.documents(s, d).select(col("doc_id"),
        when(col("doc_id") % 4 === 0,
          concat(lit("HTTPS://Example.COM:443/Path/"),
            col("doc_id").cast("string"),
            lit("?utm_source=x&b=2&a=1&fbclid=zz#frag")))
        .when(col("doc_id") % 4 === 1, lit("http://site.org:80"))
        .when(col("doc_id") % 4 === 2,
          concat(lit("not a url "), col("doc_id").cast("string")))
        .otherwise(concat(
          lit("http://Host.net/a?ref=h&z=1&utm_campaign=c&b="),
          (col("doc_id") % 7).cast("string"))).as("url"))
      Dedup.dedupByUrl(planted)
        .select(col("doc_id"), col("url"), col("canon_url"),
          col("url_keep"))
    }.sortedBy(col("doc_id")),

    // ── Winnowing fingerprints (MOSS): 4-gram hashes, 5-hash windows,
    // rightmost-tie minimum per window, consecutive duplicates
    // collapsed. The replay is RELATIONAL (window × gram join, min per
    // window, max(i) at the min = the rightmost-tie law) against the
    // engine's row-local HOF scan — two independent formulations of
    // the same integer law.
    QueryDef("t_winnow",
      s"""WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w
         |  FROM documents WHERE text IS NOT NULL),
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
         |sel AS (SELECT wg.doc_id, wg.j, max(wg.i) AS pos, mh.fp
         |  FROM wg JOIN mh ON mh.doc_id = wg.doc_id AND mh.j = wg.j
         |    AND wg.h = mh.fp
         |  GROUP BY wg.doc_id, wg.j, mh.fp)
         |SELECT DISTINCT doc_id, CAST(pos AS BIGINT) AS pos, fp
         |FROM sel ORDER BY doc_id, pos""".stripMargin) { (s, d) =>
      Dedup.winnowFingerprints(Tables.documents(s, d), k = 4, w = 5)
    }.sortedBy(col("doc_id"), col("pos")),

    // ── Winnow overlap pairs (the MOSS pair report): docs 10m/10m+1
    // (m ≡ 2 mod 5) gain a shared 8-word tail — exactly w+k−1, the
    // guarantee threshold, so every planted pair MUST share a selected
    // fingerprint; incidental same-4-gram collisions across the
    // 31-word corpus vocabulary surface identically in both engines.
    QueryDef("t_winnow_pairs", {
      val sharedSql = ('a' to 'h').map(c =>
        s"' shr' || CAST(doc_id // 10 AS VARCHAR) || '$c'").mkString(" || ")
      s"""WITH p AS (SELECT doc_id,
         |    CASE WHEN doc_id % 10 <= 1 AND (doc_id // 10) % 5 = 2
         |      THEN text || $sharedSql ELSE text END AS text
         |  FROM documents WHERE text IS NOT NULL),
         |ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM p),
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
         |wf AS (SELECT DISTINCT doc_id, fp FROM mh)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(count(*) AS BIGINT) AS shared
         |FROM wf a JOIN wf b ON b.fp = a.fp AND a.doc_id < b.doc_id
         |GROUP BY 1, 2
         |ORDER BY doc_a, doc_b""".stripMargin
    }) { (s, d) =>
      val m = expr("doc_id div 10")
      val tail = concat(('a' to 'h').map(c =>
        concat(lit(" shr"), m.cast("string"), lit(c.toString))): _*)
      val planted = Tables.documents(s, d)
        .filter(col("text").isNotNull)
        .select(col("doc_id"),
          when(col("doc_id") % 10 <= 1 && m % 5 === 2,
            concat(col("text"), tail)).otherwise(col("text")).as("text"))
      Dedup.winnowOverlap(planted, minShared = 1,
        maxBucket = 1 << 20)
    }.sortedBy(col("doc_a"), col("doc_b")),

    // ── Paragraph dedup over the same planted multiline fixture as
    // t_dedup_lines: the %5 docs' mirrored second paragraph collapses
    // to its first occurrence; the replay is the packed-key law at
    // blank-line granularity with a chr(10)||chr(10) rebuild.
    QueryDef("t_dedup_paragraphs",
      s"""WITH mlv AS (
         |  SELECT doc_id,
         |    coalesce(array_to_string(ws[1:4], ' '), '') AS l1,
         |    coalesce(array_to_string(ws[5:8], ' '), '') AS l2,
         |    CASE WHEN doc_id % 3 = 0
         |         THEN coalesce(array_to_string(ws[1:4], ' '), '')
         |         ELSE coalesce(array_to_string(ws[9:12], ' '), '')
         |    END AS l3,
         |    coalesce(array_to_string(ws[13:20], ' '), '') AS tl
         |  FROM (SELECT doc_id, string_split(text, ' ') AS ws
         |        FROM documents WHERE text IS NOT NULL)),
         |mlt AS (
         |  SELECT doc_id,
         |    l1 || chr(10) || l2 || chr(10) || l3 || chr(10) || chr(10) ||
         |    CASE WHEN doc_id % 5 = 0
         |         THEN l1 || chr(10) || l2 || chr(10) || l3
         |         ELSE tl END AS text
         |  FROM mlv),
         |gls AS (SELECT doc_id,
         |  string_split(text, chr(10) || chr(10)) AS ls FROM mlt),
         |lp AS (SELECT doc_id, unnest(list_transform(
         |    generate_series(1, len(ls)),
         |    i -> struct_pack(cid := CAST(i - 1 AS BIGINT), ct := ls[i])))
         |    AS u FROM gls),
         |ph AS (SELECT doc_id, u.cid AS cid, u.ct AS ct,
         |  ${polyhash64("u.ct")} AS h,
         |  doc_id * ${Dedup.PassageKeyBase} + u.cid AS k FROM lp),
         |f AS (SELECT h, min(k) AS mk FROM ph GROUP BY h),
         |fl AS (SELECT ph.doc_id, ph.cid, ph.ct, ph.k = f.mk AS keep
         |  FROM ph JOIN f ON f.h = ph.h),
         |agg AS (SELECT doc_id,
         |  CAST(count(*) AS BIGINT) AS np,
         |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS nk,
         |  string_agg(CASE WHEN keep THEN ct END,
         |    chr(10) || chr(10) ORDER BY cid) AS ctext
         |  FROM fl GROUP BY doc_id)
         |SELECT m.doc_id, coalesce(a.ctext, '') AS clean_text,
         |  CAST(coalesce(a.np, 0) AS BIGINT) AS n_passages,
         |  CAST(coalesce(a.nk, 0) AS BIGINT) AS n_kept
         |FROM mlt m LEFT JOIN agg a ON a.doc_id = m.doc_id
         |ORDER BY m.doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d).filter(col("text").isNotNull)
      val ws = split(col("text"), " ")
      def seg(st: Int, len: Int) = concat_ws(" ", slice(ws, st, len))
      val l1 = seg(1, 4)
      val l2 = seg(5, 4)
      val l3 = when(col("doc_id") % 3 === 0, seg(1, 4)).otherwise(seg(9, 4))
      val p1 = concat(l1, lit("\n"), l2, lit("\n"), l3)
      val planted = docs.select(col("doc_id"),
        concat(p1, lit("\n\n"),
          when(col("doc_id") % 5 === 0, p1).otherwise(seg(13, 8)))
          .as("text"))
      Dedup.dedupParagraphs(planted)
    }.sortedBy(col("doc_id")),

    // Continuation pairs (pagination splits): docs whose first 8 words
    // equal another doc's last 8 — page-two fragments PLANTED in SQL
    // both sides (doc_id < 12 gains a continuation page under a
    // shifted id). Hash equi-join + text verify on the Spark side; the
    // oracle joins on the gram text directly (same pairs).
    QueryDef("t_continuation_pairs",
      """WITH cpb AS (SELECT doc_id, text,
        |    string_split(text, ' ') AS ws,
        |    len(string_split(text, ' ')) AS n
        |  FROM documents WHERE text IS NOT NULL),
        |cpu AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL
        |  UNION ALL
        |  SELECT doc_id + 100000,
        |    array_to_string(ws[n-7:n], ' ') ||
        |    ' page two continues here with fresh words'
        |  FROM cpb WHERE doc_id < 12 AND n >= 8),
        |cpk AS (SELECT doc_id,
        |    array_to_string(string_split(text, ' ')[1:8], ' ') AS head,
        |    array_to_string(string_split(text, ' ')
        |      [len(string_split(text, ' '))-7:len(string_split(text, ' '))],
        |      ' ') AS tail
        |  FROM cpu WHERE len(string_split(text, ' ')) >= 8)
        |SELECT t.doc_id AS prev_id, h.doc_id AS next_id,
        |       t.tail AS boundary_gram
        |FROM cpk t JOIN cpk h
        |  ON t.tail = h.head AND t.doc_id <> h.doc_id
        |ORDER BY prev_id, next_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val ws = split(col("text"), " ")
      val n = size(ws)
      val pages = docs
        .filter(col("text").isNotNull && col("doc_id") < 12 && n >= 8)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(concat_ws(" ", slice(ws, -8, 8)),
            lit(" page two continues here with fresh words")).as("text"))
      Dedup.continuationPairs(docs.union(pages))
    }.sortedBy(col("prev_id"), col("next_id")),

    // Per-domain exact-dup rates: which feed ships dupes — the triage
    // number deciding where dedup effort goes.
    QueryDef("t_domain_dup_rate",
      s"""WITH ddr AS (SELECT source, ${polyhash64("text")} AS fp,
         |    CAST(count(*) AS BIGINT) AS c
         |  FROM documents WHERE text IS NOT NULL AND source IS NOT NULL
         |  GROUP BY 1, 2)
         |SELECT source, CAST(sum(c) AS BIGINT) AS n_docs,
         |  CAST(count(*) AS BIGINT) AS n_distinct,
         |  CAST(sum(c) - count(*) AS BIGINT) AS n_dups,
         |  CAST((CAST(sum(c) AS BIGINT) - count(*)) * 100
         |    // CAST(sum(c) AS BIGINT) AS BIGINT) AS dup_x100
         |FROM ddr GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      Dedup.domainDupRates(Tables.documents(s, d))
    }.sortedBy(col("source")),

    // Doc-level mirror detection: the same text under more than one
    // source — syndication named at document granularity. Mirrors are
    // PLANTED in SQL on both sides (doc_id < 15 re-appears under a
    // shifted id with a rotated source label).
    QueryDef("t_mirror_docs",
      s"""WITH mm AS (
         |  SELECT doc_id, source, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 100000,
         |         'src' || CAST((doc_id + 1) % 20 AS VARCHAR), text
         |  FROM documents WHERE doc_id < 15),
         |mg AS (SELECT ${polyhash64("text")} AS content_fp,
         |    CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
         |    CAST(count(*) AS BIGINT) AS n_copies,
         |    min(doc_id) AS keep_id
         |  FROM mm WHERE text IS NOT NULL AND source IS NOT NULL
         |  GROUP BY 1)
         |SELECT content_fp, n_sources, n_copies, keep_id FROM mg
         |WHERE n_sources > 1 ORDER BY keep_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val mirrored = docs.filter(col("doc_id") < 15)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(lit("src"), ((col("doc_id") + 1) % 20).cast("string"))
            .as("source"),
          col("text"))
      Dedup.mirrorDocs(
        docs.select("doc_id", "source", "text").union(mirrored))
    }.sortedBy(col("keep_id")),

    QueryDef("t_dedup_normalized", {
      val norm = (e: String) =>
        s"trim(regexp_replace(regexp_replace(lower($e), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))"
      s"""WITH nm AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 100000, upper(text) || ' !!'
         |  FROM documents WHERE doc_id < 20),
         |ng AS (SELECT ${polyhash64(norm("text"))} AS norm_fp,
         |         min(doc_id) AS keep_id,
         |         CAST(count(*) AS BIGINT) AS n_copies
         |       FROM nm WHERE text IS NOT NULL GROUP BY 1)
         |SELECT norm_fp, keep_id, n_copies FROM ng WHERE n_copies > 1
         |ORDER BY keep_id""".stripMargin
    }) { (s, d) =>
      val docs = Tables.documents(s, d)
      val variants = docs.filter(col("doc_id") < 20)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(upper(col("text")), lit(" !!")).as("text"))
      Dedup.normalizedDupGroups(
        docs.select("doc_id", "text").union(variants))
    }.sortedBy(col("keep_id")),

    // Contrastive training triplets: near-dup pairs at Jaccard >= 1/2
    // as (anchor, positive); the negative is the corpus doc at hash
    // rank polyhash(anchor:positive) mod n in the global hash order,
    // skipping forward past the pair itself — RNG-free, so both
    // engines mine identical triplets. Spark ranks via the decomposed
    // bucket-grouped prefix sum; the oracle's one global window is the
    // executable spec.
    QueryDef("t_contrastive_triplets",
      s"""WITH $hashesCte, $sigCte,
         |$repCollapseCtes,
         |${bandCandidatesCte()},
         |rpairs AS (
         |  SELECT doc_a, doc_b,
         |         len(list_intersect(ha.hs, hb.hs)) AS inter,
         |         len(ha.hs) + len(hb.hs)
         |           - len(list_intersect(ha.hs, hb.hs)) AS uni
         |  FROM cand
         |  JOIN hashes ha ON ha.doc_id = cand.doc_a
         |  JOIN hashes hb ON hb.doc_id = cand.doc_b),
         |pairs AS (
         |  SELECT least(ma.doc_id, mb.doc_id) AS doc_a,
         |         greatest(ma.doc_id, mb.doc_id) AS doc_b, p.inter, p.uni
         |  FROM rpairs p
         |  JOIN mem ma ON ma.rep = p.doc_a
         |  JOIN mem mb ON mb.rep = p.doc_b
         |  UNION ALL
         |  SELECT ma.doc_id, mb.doc_id, len(h.hs), len(h.hs)
         |  FROM mem ma JOIN mem mb ON ma.rep = mb.rep AND ma.doc_id < mb.doc_id
         |  JOIN hashes h ON h.doc_id = ma.rep),
         |strong AS (SELECT doc_a AS anchor_id, doc_b AS positive_id
         |  FROM pairs WHERE inter * 2 >= uni * 1),
         |ctrk AS (SELECT doc_id AS cand_id,
         |    CAST(row_number() OVER (ORDER BY
         |      ${polyhash("CAST(doc_id AS VARCHAR)")} % 10000, doc_id)
         |      AS BIGINT) AS rank
         |  FROM documents),
         |ctn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
         |ctc AS (SELECT s.anchor_id, s.positive_id, k.k,
         |    ((${polyhash(
              "CAST(s.anchor_id AS VARCHAR) || ':' || CAST(s.positive_id AS VARCHAR)")}
         |      % ctn.n) + k.k) % ctn.n + 1 AS rank
         |  FROM strong s CROSS JOIN ctn
         |  CROSS JOIN (VALUES (CAST(0 AS BIGINT)), (CAST(1 AS BIGINT)),
         |                     (CAST(2 AS BIGINT))) k(k)),
         |ctj AS (SELECT c.anchor_id, c.positive_id, c.k, r.cand_id
         |  FROM ctc c JOIN ctrk r USING (rank)
         |  WHERE r.cand_id <> c.anchor_id AND r.cand_id <> c.positive_id)
         |SELECT anchor_id, positive_id, cand_id AS negative_id
         |FROM (SELECT anchor_id, positive_id, cand_id,
         |        row_number() OVER (PARTITION BY anchor_id, positive_id
         |          ORDER BY k) AS rn FROM ctj) WHERE rn = 1
         |ORDER BY anchor_id, positive_id""".stripMargin) { (s, d) =>
      Dedup.contrastiveTriplets(Tables.documents(s, d))
    }.sortedBy(col("anchor_id"), col("positive_id")),

    // Asymmetric containment (quote/boilerplate detection): directed
    // pairs where >= 9/10 of the contained doc's kept shingle hashes
    // appear in the container. EXACT inverted-index overlap join (NOT
    // the Jaccard-tuned LSH, which misses low-Jaccard containment),
    // quadratic blowup bounded by the hot-hash guard: shingles in more
    // than 50 docs leave the universe; inter AND sizes count over the
    // kept universe so the ratio stays consistent. The oracle replays
    // the identical cut and integer cross-multiplied threshold.
    QueryDef("t_containment",
      s"""WITH $hashesCte,
         |cex AS (SELECT doc_id, unnest(hs) AS h FROM hashes
         |        WHERE hs IS NOT NULL),
         |chdf AS (SELECT h, count(*) AS hdf FROM cex GROUP BY 1),
         |ckept AS (SELECT cex.doc_id, cex.h FROM cex
         |  JOIN chdf USING (h) WHERE chdf.hdf <= 50),
         |csizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nh
         |  FROM ckept GROUP BY 1),
         |cinter AS (SELECT l.doc_id AS doc_a, r.doc_id AS doc_b,
         |    CAST(count(*) AS BIGINT) AS inter
         |  FROM ckept l JOIN ckept r ON l.h = r.h AND l.doc_id < r.doc_id
         |  GROUP BY 1, 2),
         |cj AS (SELECT i.doc_a, i.doc_b, i.inter, sa.nh AS nh_a, sb.nh AS nh_b
         |  FROM cinter i
         |  JOIN csizes sa ON sa.doc_id = i.doc_a
         |  JOIN csizes sb ON sb.doc_id = i.doc_b)
         |SELECT doc_id, container_id, inter, n_grams FROM (
         |  SELECT doc_a AS doc_id, doc_b AS container_id, inter,
         |         nh_a AS n_grams
         |  FROM cj WHERE inter * 10 >= nh_a * 9
         |  UNION ALL
         |  SELECT doc_b, doc_a, inter, nh_b
         |  FROM cj WHERE inter * 10 >= nh_b * 9) u
         |ORDER BY doc_id, container_id""".stripMargin) { (s, d) =>
      Dedup.containmentPairs(Tables.documents(s, d), num = 9,
        maxDf = 50)
    }.sortedBy(col("doc_id"), col("container_id")),

    // SimHash Hamming-ball near-dup (Manku et al., WWW'07): 60-bit
    // signature cut into 6 blocks of 10; a pair within Hamming 3 agrees
    // on >= 3 blocks, so the C(6,3) = 20 packed-combo keys find every
    // qualifying pair by equi-join. Full guarded pipeline replayed:
    // hamming-0 collapse to reps, capped combo buckets (QUALIFY), one
    // bit_count(xor) verify per candidate, exact member expansion.
    QueryDef("t_dedup_simhash",
      s"""WITH $hashesCte,
         |sims AS (SELECT doc_id,
         |  CAST(${simhashExprBits(60)} AS BIGINT) AS sim FROM hashes),
         |sgrp AS (SELECT sim, min(doc_id) AS rep FROM sims
         |         WHERE sim IS NOT NULL GROUP BY sim),
         |smem AS (SELECT s.doc_id, coalesce(g.rep, s.doc_id) AS rep, s.sim
         |         FROM sims s LEFT JOIN sgrp g ON s.sim = g.sim),
         |sbands AS (
         |  SELECT g.rep AS doc_id, c.band,
         |         ${simhashComboKeyExpr("g.sim", 10, 3)} AS bkey
         |  FROM sgrp g CROSS JOIN (VALUES
         |    ${simhashComboValues(6, 3)}) c(band, b0, b1, b2)
         |  QUALIFY count(*) OVER (PARTITION BY c.band, bkey)
         |    <= ${Dedup.DefaultMaxBucketWidth}),
         |scand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM sbands a JOIN sbands b
         |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |srpairs AS (
         |  SELECT c.doc_a, c.doc_b, bit_count(xor(sa.sim, sb.sim)) AS hamming
         |  FROM scand c
         |  JOIN sims sa ON sa.doc_id = c.doc_a
         |  JOIN sims sb ON sb.doc_id = c.doc_b
         |  WHERE bit_count(xor(sa.sim, sb.sim)) <= 3),
         |spairs AS (
         |  SELECT least(ma.doc_id, mb.doc_id) AS doc_a,
         |         greatest(ma.doc_id, mb.doc_id) AS doc_b, p.hamming
         |  FROM srpairs p
         |  JOIN smem ma ON ma.rep = p.doc_a
         |  JOIN smem mb ON mb.rep = p.doc_b
         |  UNION ALL
         |  SELECT ma.doc_id, mb.doc_id, 0
         |  FROM smem ma JOIN smem mb
         |    ON ma.rep = mb.rep AND ma.doc_id < mb.doc_id
         |  WHERE ma.sim IS NOT NULL)
         |SELECT doc_a, doc_b, CAST(hamming AS BIGINT) AS hamming
         |FROM spairs ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      Dedup.simhashNearDups(Tables.documents(s, d))
    }.sortedBy(col("doc_a"), col("doc_b")),

    // Near-dup clustering: candidate pairs → Jaccard ≥ 8/10 edges →
    // connected components (Spark: min-label propagation to fixpoint;
    // oracle: recursive reachability walk — both yield the component's
    // min member id). Every doc appears; singletons label themselves.
    QueryDef("t_dedup_clusters",
      s"""WITH RECURSIVE $hashesCte, $sigCte,
         |${clusterCtes("documents", jNum = 8, jDen = 10)}
         |SELECT doc_id, cluster_id FROM clusters
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Dedup.nearDupClusters(Tables.documents(s, d))
    }.sortedBy(col("doc_id")),

    // Same transitive closure via the ALTERNATING large-star/small-star
    // rewriting (O(log n) rounds vs O(diameter)) — both clustering
    // algorithms must land on the identical component labels, so the
    // SAME recursive-CTE oracle gates this path.
    QueryDef("t_dedup_clusters_star",
      s"""WITH RECURSIVE $hashesCte, $sigCte,
         |${clusterCtes("documents", jNum = 8, jDen = 10)}
         |SELECT doc_id, cluster_id FROM clusters
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Dedup.nearDupClustersStar(Tables.documents(s, d))
    }.sortedBy(col("doc_id")),

    // ── Label propagation over the near-dup graph ──────────────────
    // Trusted lang labels (seed = every 10th doc) spread across
    // jaccard ≥ 0.8 near-dup edges in 2 synchronized sweeps: majority
    // label among labeled neighbors, smallest label on ties, earlier
    // labels frozen. `round` = propagation distance (0 = seed).
    QueryDef("t_label_prop", {
      def sweep(i: Int, prev: String) =
        s"""v$i AS (SELECT u.b AS node, l.label, count(*) AS n
           |  FROM und u JOIN $prev l ON u.a = l.node GROUP BY 1, 2),
           |w$i AS (SELECT node, label,
           |    row_number() OVER (PARTITION BY node
           |      ORDER BY n DESC, label) AS rk
           |  FROM v$i),
           |f$i AS (SELECT w.node, w.label, $i AS round FROM w$i w
           |  WHERE rk = 1 AND NOT EXISTS
           |    (SELECT 1 FROM $prev p WHERE p.node = w.node)),
           |l$i AS (SELECT * FROM $prev UNION ALL SELECT * FROM f$i)""".stripMargin
      s"""WITH $hashesCte, $sigCte,
         |$repCollapseCtes,
         |${bandCandidatesCte()},
         |rpairs AS (
         |  SELECT doc_a, doc_b,
         |         len(list_intersect(ha.hs, hb.hs)) AS inter,
         |         len(ha.hs) + len(hb.hs)
         |           - len(list_intersect(ha.hs, hb.hs)) AS uni
         |  FROM cand
         |  JOIN hashes ha ON ha.doc_id = cand.doc_a
         |  JOIN hashes hb ON hb.doc_id = cand.doc_b),
         |pairs AS (
         |  SELECT least(ma.doc_id, mb.doc_id) AS doc_a,
         |         greatest(ma.doc_id, mb.doc_id) AS doc_b, p.inter, p.uni
         |  FROM rpairs p
         |  JOIN mem ma ON ma.rep = p.doc_a
         |  JOIN mem mb ON mb.rep = p.doc_b
         |  UNION ALL
         |  SELECT ma.doc_id, mb.doc_id, len(h.hs), len(h.hs)
         |  FROM mem ma JOIN mem mb ON ma.rep = mb.rep AND ma.doc_id < mb.doc_id
         |  JOIN hashes h ON h.doc_id = ma.rep),
         |eg AS (SELECT doc_a AS a, doc_b AS b FROM pairs
         |       WHERE inter * 10 >= uni * 8 AND doc_a <> doc_b),
         |und AS (SELECT a, b FROM eg UNION SELECT b, a FROM eg),
         |l0 AS (SELECT doc_id AS node, lang AS label, 0 AS round
         |       FROM documents WHERE doc_id % 10 = 0 AND lang IS NOT NULL),
         |${sweep(1, "l0")},
         |${sweep(2, "l1")}
         |SELECT CAST(node AS VARCHAR) AS node, label,
         |       CAST(round AS BIGINT) AS round
         |FROM l2 ORDER BY 1, 2""".stripMargin
    }) { (s, d) =>
      val docs = Tables.documents(s, d)
      val edges = Dedup.nearDupPairs(docs)
        .filter(col("inter") * 10 >= col("uni") * 8)
      val seeds = docs.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), col("lang"))
      graft.ext.Graph.labelPropagation(edges, "doc_a", "doc_b",
        seeds, "doc_id", "lang")
    }.sortedBy(col("node"), col("label")),

    // Canonical keep-list: the consumable dedup artifact — one
    // representative per cluster with its member count.
    QueryDef("t_dedup_keep",
      s"""WITH RECURSIVE $hashesCte, $sigCte,
         |${clusterCtes("documents", jNum = 8, jDen = 10)}
         |SELECT cluster_id AS keep_id, count(*) AS n_members
         |FROM clusters GROUP BY 1 ORDER BY keep_id""".stripMargin) { (s, d) =>
      Dedup.keepList(Dedup.nearDupClusters(Tables.documents(s, d)))
    }.sortedBy(col("keep_id")),

    // Quality-aware keep list: per cluster keep the HIGHEST-quality
    // member (tie: lowest id) — the cleanest serialization survives,
    // not whichever copy crawled first.
    QueryDef("t_dedup_keep_best",
      s"""WITH RECURSIVE $hashesCte, $sigCte,
         |${clusterCtes("documents", jNum = 8, jDen = 10)},
         |${qualityCtes("documents")},
         |kb AS (SELECT c.cluster_id, c.doc_id, q.quality
         |  FROM clusters c JOIN qscored q USING (doc_id)),
         |kbr AS (SELECT cluster_id, doc_id, quality,
         |    row_number() OVER (PARTITION BY cluster_id
         |      ORDER BY quality DESC, doc_id) AS rn,
         |    count(*) OVER (PARTITION BY cluster_id) AS n_members
         |  FROM kb)
         |SELECT cluster_id, doc_id AS keep_id,
         |  CAST(quality AS BIGINT) AS score,
         |  CAST(n_members AS BIGINT) AS n_members
         |FROM kbr WHERE rn = 1 ORDER BY cluster_id""".stripMargin) {
      (s, d) =>
        val docs = Tables.documents(s, d)
        val scored = docs.select(col("doc_id"),
          TextAnalysis.qualityScore(col("text")).cast("long").as("quality"))
        Dedup.keepBest(Dedup.nearDupClusters(docs), scored)
    }.sortedBy(col("cluster_id")),
  )
}
