package graft.queries

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ext.{Dedup, Multimodal, Similarity, TextAnalysis}

/** SemDeDup, fuzzy/semantic decontamination, embedding classifier/health and percentile queries.
  * Split out of the monolithic LlmQueries registry (round 20); order
  * and semantics unchanged — [[LlmQueries.defs]] concatenates the
  * families in the original sequence.
  */
private[graft] object LlmSemanticQueries {
  import LlmOracle._
  import LlmShared._

  val defs: Seq[QueryDef] = Seq(
    // ── SemDeDup (cluster-then-cosine semantic dedup) ──────────────
    // The DuckDB side retrains the same 16 k-means cells (shared
    // ivfCtes — hash-sampled seeds, one quantized-integer Lloyd step),
    // then replays the within-cell pair scan + cosine cut exactly.
    QueryDef("t_semdedup_pairs",
      s"""WITH ${ivfCtes(k = 16, nProbe = 1, queryPred = "FALSE")},
         |swidths AS (SELECT cell, count(*) AS w FROM assigned GROUP BY cell),
         |qcap AS (SELECT a.vec_id, a.cell FROM assigned a
         |  JOIN swidths sw ON sw.cell = a.cell
         |    AND sw.w <= ${Similarity.DefaultMaxCellWidth}),
         |spairs AS (
         |  SELECT id_a, id_b, cos FROM (
         |    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |           round(${cosine("ea.embedding", "eb.embedding")}, 6) AS cos
         |    FROM qcap a JOIN qcap b
         |      ON a.cell = b.cell AND a.vec_id < b.vec_id
         |    JOIN embeddings ea ON ea.vec_id = a.vec_id
         |    JOIN embeddings eb ON eb.vec_id = b.vec_id)
         |  WHERE cos >= 0.3)
         |SELECT id_a, id_b, cos FROM spairs
         |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
      Similarity.semDedupPairs(Tables.embeddings(s, d), threshold = 0.3)
    }.sortedBy(col("id_a"), col("id_b")),

    // Connected components over the SemDeDup pair graph → one label
    // per vector (recursive reachability CTE, min id per component —
    // the same walk shape as t_dedup_clusters). spairs is MATERIALIZED
    // so the recursion's per-iteration join reads a computed table
    // instead of re-evaluating the whole Lloyd chain each step.
    QueryDef("t_semdedup_clusters",
      s"""WITH RECURSIVE ${ivfCtes(k = 16, nProbe = 1, queryPred = "FALSE")},
         |swidths AS (SELECT cell, count(*) AS w FROM assigned GROUP BY cell),
         |qcap AS (SELECT a.vec_id, a.cell FROM assigned a
         |  JOIN swidths sw ON sw.cell = a.cell
         |    AND sw.w <= ${Similarity.DefaultMaxCellWidth}),
         |spairs AS MATERIALIZED (
         |  SELECT id_a, id_b FROM (
         |    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |           round(${cosine("ea.embedding", "eb.embedding")}, 6) AS cos
         |    FROM qcap a JOIN qcap b
         |      ON a.cell = b.cell AND a.vec_id < b.vec_id
         |    JOIN embeddings ea ON ea.vec_id = a.vec_id
         |    JOIN embeddings eb ON eb.vec_id = b.vec_id)
         |  WHERE cos >= 0.3),
         |sedges AS MATERIALIZED (
         |  SELECT id_a AS src, id_b AS dst FROM spairs
         |  UNION ALL
         |  SELECT id_b, id_a FROM spairs),
         |walk(id, r) AS (
         |  SELECT vec_id, vec_id FROM embeddings
         |  UNION
         |  SELECT w.id, e.dst FROM walk w JOIN sedges e ON e.src = w.r)
         |SELECT id AS vec_id, min(r) AS cluster_id FROM walk GROUP BY id
         |ORDER BY vec_id""".stripMargin) { (s, d) =>
      Similarity.semDedupClusters(Tables.embeddings(s, d), threshold = 0.3)
    }.sortedBy(col("vec_id")),

    // ── Fuzzy (MinHash-Jaccard) decontamination ────────────────────
    // Benchmark = every 7th document (a split that crosses 14 natural
    // near-dup pairs at sf0.01); corpus docs within Jaccard 0.8 of any
    // benchmark doc are reported / dropped — the lightly-edited-copy
    // case exact n-gram overlap underweights and semantic decon needs
    // embeddings for.
    QueryDef("t_fuzzy_contamination",
      s"""WITH corp AS (SELECT doc_id, text FROM documents
         |  WHERE doc_id % 7 <> 0),
         |bench AS (SELECT doc_id, text FROM documents
         |  WHERE doc_id % 7 = 0),
         |${fuzzyDeconCtes("corp", "bench", jNum = 8, jDen = 10)}
         |SELECT doc_id, bench_id, inter, uni FROM fhits
         |ORDER BY doc_id, bench_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      graft.ext.Decontamination.fuzzyContaminationReport(
        docs.filter(col("doc_id") % 7 =!= 0).select("doc_id", "text"),
        docs.filter(col("doc_id") % 7 === 0).select("doc_id", "text"))
    }.sortedBy(col("doc_id"), col("bench_id")),

    QueryDef("t_decontaminate_fuzzy",
      s"""WITH corp AS (SELECT doc_id, text FROM documents
         |  WHERE doc_id % 7 <> 0),
         |bench AS (SELECT doc_id, text FROM documents
         |  WHERE doc_id % 7 = 0),
         |${fuzzyDeconCtes("corp", "bench", jNum = 8, jDen = 10)}
         |SELECT doc_id FROM corp
         |WHERE doc_id NOT IN (SELECT doc_id FROM fhits)
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      graft.ext.Decontamination.fuzzyDecontaminate(
        docs.filter(col("doc_id") % 7 =!= 0).select("doc_id", "text"),
        docs.filter(col("doc_id") % 7 === 0).select("doc_id", "text"))
        .select("doc_id")
    }.sortedBy(col("doc_id")),

    // ── Stratified exact-N take (per-domain eval sampling) ─────────
    // Up to 5 docs per source by ascending polyhash(doc_id) order —
    // deterministic uniform-without-RNG; runs on the bounded-heap
    // TopKPerKey operator, replayed as a plain ranked window in SQL.
    QueryDef("t_stratified_sample",
      s"""WITH r AS (
         |  SELECT source, doc_id,
         |         CAST(row_number() OVER (PARTITION BY source
         |              ORDER BY ${polyhash("CAST(doc_id AS VARCHAR)")},
         |              doc_id) AS BIGINT) AS rank
         |  FROM documents)
         |SELECT source, doc_id, rank FROM r WHERE rank <= 5
         |ORDER BY source, rank""".stripMargin) { (s, d) =>
      graft.ext.Sampling.stratifiedTake(
        Tables.documents(s, d).select("source", "doc_id"),
        strataCol = "source", keyCol = "doc_id", n = 5)
    }.sortedBy(col("source"), col("rank")),

    // ── Cluster-stratified diversity sampling (coverage subset) ────
    // Up to 20 vectors per k-means cell: the same deterministic
    // 16-cell quantizer the IVF family trains (shared ivfCtes replay —
    // centroids, assignment and tiebreaks agree bit-for-bit), then the
    // stratifiedTake hash-order quota per cell.
    QueryDef("t_diversity_sample",
      s"""WITH ${ivfCtes(16, 1, "FALSE")},
         |dvr AS (SELECT vec_id, cell,
         |    CAST(row_number() OVER (PARTITION BY cell
         |         ORDER BY ${polyhash("CAST(vec_id AS VARCHAR)")}, vec_id)
         |      AS BIGINT) AS rank
         |  FROM assigned)
         |SELECT vec_id, cell, rank FROM dvr WHERE rank <= 20
         |ORDER BY cell, rank""".stripMargin) { (s, d) =>
      graft.ext.Similarity.diversitySample(Tables.embeddings(s, d), n = 20)
    }.sortedBy(col("cell"), col("rank")),

    // ── Embedding classifiers ──────────────────────────────────────
    // Rocchio nearest-centroid: per-label prototypes over the training
    // split (every vec_id % 7 <> 0), held-out seventh classified by
    // most-cosine-similar prototype. Centroid means replay the same
    // order-independent quantized-integer arithmetic as the IVF
    // quantizer oracle, so both engines agree bit-for-bit.
    QueryDef("t_rocchio_classify",
      s"""WITH train AS (SELECT * FROM embeddings WHERE vec_id % 7 <> 0),
         |upd AS (
         |  SELECT label, g.i,
         |         CAST(SUM(CAST(round(CAST(embedding[g.i] AS DOUBLE)
         |                * 1000000.0) AS BIGINT)) AS DOUBLE)
         |           / (CAST(COUNT(*) AS DOUBLE) * 1000000.0) AS c
         |  FROM train CROSS JOIN generate_series(1, 64) AS g(i)
         |  GROUP BY label, g.i),
         |cents AS (SELECT label, list(c ORDER BY i) AS cvec
         |          FROM upd GROUP BY label),
         |sc AS (
         |  SELECT e.vec_id, c.label, ${cosine("e.embedding", "c.cvec")} AS cos
         |  FROM embeddings e CROSS JOIN cents c
         |  WHERE e.vec_id % 7 = 0 AND e.embedding IS NOT NULL)
         |SELECT vec_id, label AS pred_label, round(cos, 6) AS cos
         |FROM (SELECT vec_id, label, cos,
         |        row_number() OVER (PARTITION BY vec_id
         |          ORDER BY cos DESC, label) AS rn
         |      FROM sc) WHERE rn = 1
         |ORDER BY vec_id""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      Similarity.classifyRocchio(emb.filter(col("vec_id") % 7 === 0),
        emb.filter(col("vec_id") % 7 =!= 0))
    }.sortedBy(col("vec_id")),

    // IVF-probed kNN classification of the held-out seventh: quantizer
    // trained on the training split only, candidates from a plain cell
    // equi-join (the corpus-scale-query shape — probes are NOT
    // broadcast), majority label of the 10 nearest training
    // neighbours, vote-count tiebreak toward the lowest label.
    QueryDef("t_knn_classify",
      s"""WITH ${ivfCtes(k = 16, nProbe = 4,
           queryPred = "vec_id % 7 = 0 AND vec_id IN " +
             "(SELECT vec_id FROM embeddings WHERE embedding IS NOT NULL)",
           trainRel = "(SELECT * FROM embeddings WHERE vec_id % 7 <> 0)")},
         |cand AS (
         |  SELECT p.query_id, a.vec_id AS neighbor_id
         |  FROM assigned a JOIN probes p ON a.cell = p.cell
         |  WHERE a.vec_id <> p.query_id AND a.vec_id % 7 <> 0),
         |scored AS (
         |  SELECT c.query_id, c.neighbor_id,
         |         round(${cosine("qe.embedding", "ne.embedding")}, 6) AS cos
         |  FROM cand c
         |  JOIN embeddings qe ON qe.vec_id = c.query_id
         |  JOIN embeddings ne ON ne.vec_id = c.neighbor_id),
         |knn AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |           row_number() OVER (PARTITION BY query_id
         |             ORDER BY cos DESC, neighbor_id) AS rn
         |    FROM scored) WHERE rn <= 10),
         |votes AS (
         |  SELECT k.query_id, e.label, CAST(count(*) AS BIGINT) AS votes
         |  FROM knn k JOIN embeddings e ON e.vec_id = k.neighbor_id
         |  GROUP BY 1, 2)
         |SELECT query_id AS vec_id, label AS pred_label, votes
         |FROM (SELECT query_id, label, votes,
         |        row_number() OVER (PARTITION BY query_id
         |          ORDER BY votes DESC, label) AS rn
         |      FROM votes) WHERE rn = 1
         |ORDER BY vec_id""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      Similarity.knnClassify(emb.filter(col("vec_id") % 7 =!= 0),
        emb.filter(col("vec_id") % 7 === 0), k = 10, centroids = 16)
    }.sortedBy(col("vec_id")),

    // ── Embedding-space health report ──────────────────────────────
    // One row: vector/null/zero-norm counts + p50/p90 of the quantized
    // squared norm (histogram percentile law, no corpus sort). The dot
    // fold matches the cosine oracle's list_sum order exactly.
    QueryDef("t_embed_norm_report", {
      val n2 = s"""CAST(round(list_sum(list_transform(generate_series(1, 64),
        |  i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))
        |  * 1000000.0) AS BIGINT)""".stripMargin
      s"""WITH nr AS (SELECT vec_id,
         |  CASE WHEN embedding IS NULL THEN NULL ELSE $n2 END AS n2
         |  FROM embeddings),
         |nb AS (SELECT CAST(count(*) AS BIGINT) AS n_vecs,
         |    CAST(sum(CASE WHEN n2 IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_null,
         |    CAST(sum(CASE WHEN n2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_zero
         |  FROM nr),
         |nh AS (SELECT n2 AS v, count(*) AS c FROM nr
         |       WHERE n2 IS NOT NULL GROUP BY 1),
         |nc AS (SELECT v, sum(c) OVER (ORDER BY v
         |         ROWS UNBOUNDED PRECEDING) AS cumc FROM nh),
         |nt AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM nh),
         |np50 AS (SELECT min(v) AS p50_norm2_x1e6 FROM nc CROSS JOIN nt
         |         WHERE cumc >= (n * 50 + 99) // 100),
         |np90 AS (SELECT min(v) AS p90_norm2_x1e6 FROM nc CROSS JOIN nt
         |         WHERE cumc >= (n * 90 + 99) // 100)
         |SELECT b.n_vecs, b.n_null, b.n_zero,
         |  p50.p50_norm2_x1e6, p90.p90_norm2_x1e6
         |FROM nb b CROSS JOIN np50 p50 CROSS JOIN np90 p90""".stripMargin
    }) { (s, d) =>
      Similarity.normReport(Tables.embeddings(s, d))
    },

    // ── Semantic decontamination (embedding space) ─────────────────
    // Benchmark = every 97th embedding; the corpus side must shed any
    // doc within 0.3 cosine of a benchmark vector. The engine runs a
    // map-only broadcast check (the eval set is small by definition);
    // the oracle states the raw bipartite predicate.
    QueryDef("t_embed_contamination",
      s"""WITH b AS (SELECT vec_id AS bench_id, embedding
         |  FROM embeddings WHERE vec_id % 97 = 0),
         |c AS (SELECT vec_id, embedding
         |  FROM embeddings WHERE vec_id % 97 <> 0),
         |p AS (SELECT c.vec_id, b.bench_id,
         |  round(${cosine("c.embedding", "b.embedding")}, 6) AS cos
         |  FROM c CROSS JOIN b)
         |SELECT vec_id, bench_id, cos FROM p WHERE cos >= 0.3
         |ORDER BY vec_id, bench_id""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      graft.ext.Decontamination.embeddingContaminationReport(
        emb.filter(col("vec_id") % 97 =!= 0),
        emb.filter(col("vec_id") % 97 === 0), threshold = 0.3)
    }.sortedBy(col("vec_id"), col("bench_id")),

    QueryDef("t_decontaminate_semantic",
      s"""WITH b AS (SELECT vec_id AS bench_id, embedding
         |  FROM embeddings WHERE vec_id % 97 = 0),
         |c AS (SELECT vec_id, embedding
         |  FROM embeddings WHERE vec_id % 97 <> 0),
         |bad AS (SELECT DISTINCT c.vec_id FROM c CROSS JOIN b
         |  WHERE round(${cosine("c.embedding", "b.embedding")}, 6) >= 0.3)
         |SELECT c.vec_id FROM c
         |WHERE c.vec_id NOT IN (SELECT vec_id FROM bad)
         |ORDER BY c.vec_id""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      graft.ext.Decontamination.decontaminateEmbeddings(
        emb.filter(col("vec_id") % 97 =!= 0),
        emb.filter(col("vec_id") % 97 === 0), threshold = 0.3)
        .select("vec_id")
    }.sortedBy(col("vec_id")),

    // ── Integer-exact per-domain percentiles (histogram formulation)
    // p50/p90/p99 of n_chars per source — the lower empirical quantile
    // (smallest value whose cumulative count reaches ceil(n·q/100)),
    // pure integer arithmetic, no corpus sort on either engine.
    QueryDef("t_group_percentiles",
      s"""WITH hist AS (
         |  SELECT source, CAST(n_chars AS BIGINT) AS v, count(*) AS c
         |  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1, 2),
         |cum AS (
         |  SELECT source, v, sum(c) OVER (PARTITION BY source ORDER BY v
         |         ROWS UNBOUNDED PRECEDING) AS cumc FROM hist),
         |tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n
         |        FROM hist GROUP BY 1),
         |p50 AS (SELECT c.source, min(v) AS p50 FROM cum c
         |  JOIN tot t ON t.source = c.source
         |  WHERE c.cumc >= (t.n * 50 + 99) // 100 GROUP BY 1),
         |p90 AS (SELECT c.source, min(v) AS p90 FROM cum c
         |  JOIN tot t ON t.source = c.source
         |  WHERE c.cumc >= (t.n * 90 + 99) // 100 GROUP BY 1),
         |p99 AS (SELECT c.source, min(v) AS p99 FROM cum c
         |  JOIN tot t ON t.source = c.source
         |  WHERE c.cumc >= (t.n * 99 + 99) // 100 GROUP BY 1)
         |SELECT t.source, t.n, p50.p50, p90.p90, p99.p99
         |FROM tot t
         |JOIN p50 ON p50.source = t.source
         |JOIN p90 ON p90.source = t.source
         |JOIN p99 ON p99.source = t.source
         |ORDER BY t.source""".stripMargin) { (s, d) =>
      graft.ext.Curation.groupPercentiles(Tables.documents(s, d),
        groupCol = "source", valueCol = "n_chars",
        percentiles = Seq(50, 90, 99))
    }.sortedBy(col("source")),

    // ── Multimodal exact dedup (raw-byte fingerprint groups) ───────
    // Duplicate payloads are PLANTED in SQL on both sides (a re-crawl
    // copy of every doc_id < 20 under a shifted media id), so the
    // grouping is exercised on real collisions; only multi-copy groups
    // are emitted. The fingerprint is the binary PolyHash64 — equal
    // to the string PolyHash64 on UTF-8 text (NativeExprSpec), which
    // is what the oracle computes.
    QueryDef("t_media_dup_groups",
      s"""WITH m AS (
         |  SELECT doc_id AS media_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 100000, text FROM documents WHERE doc_id < 20),
         |g AS (SELECT ${polyhash64("coalesce(text, '')")} AS content_fp,
         |        min(media_id) AS keep_id,
         |        CAST(count(*) AS BIGINT) AS n_copies
         |      FROM m GROUP BY 1)
         |SELECT content_fp, keep_id, n_copies FROM g WHERE n_copies > 1
         |ORDER BY keep_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val media = Multimodal.asMedia(docs, "doc_id", "text").union(
        Multimodal.asMedia(docs.filter(col("doc_id") < 20)
          .select((col("doc_id") + 100000).as("doc_id"), col("text")),
          "doc_id", "text"))
      Multimodal.exactDupGroups(media).filter(col("n_copies") > 1)
    }.sortedBy(col("keep_id")),

    // ── Perceptual media near-dup (dHash → Hamming-ball) ───────────
    // Re-encoded copies are PLANTED at signature level: every doc_id
    // < 20 gains a variant under a shifted id whose stub dHash differs
    // by XOR 5 (2 bits — deterministic codec noise), so the full
    // guarded Hamming machinery (collapse → C(8,5) combo banding →
    // capped buckets → bit_count verify → member expansion) is
    // exercised on real near-collisions. The REAL raster path (decode
    // PNG/BMP, 9×8 area-average, gradient bits) is spec-gated
    // (LlmOpsSpec: a re-encode hashes identically, distinct images
    // don't); the stub hash is the engine-portable arithmetic DuckDB
    // replays here.
    QueryDef("t_media_neardup", {
      val dhExpr = s"(${polyhash("coalesce(text, '')")} * 4294967296 + " +
        s"${polyhash("concat(coalesce(text, ''), '#')")})"
      s"""WITH m AS (
         |  SELECT doc_id AS media_id, $dhExpr AS dh FROM documents),
         |u AS (
         |  SELECT media_id, dh FROM m
         |  UNION ALL
         |  SELECT media_id + 100000, xor(dh, 5) FROM m WHERE media_id < 20),
         |ugrp AS (SELECT dh, min(media_id) AS rep FROM u GROUP BY dh),
         |umem AS (SELECT u.media_id, g.rep, u.dh
         |         FROM u JOIN ugrp g ON u.dh = g.dh),
         |ubands AS (
         |  SELECT g.rep AS media_id, c.band,
         |         ${simhashComboKeyExpr("g.dh", 8, 5)} AS bkey
         |  FROM ugrp g CROSS JOIN (VALUES
         |    ${simhashComboValues(8, 5)}) c(band, b0, b1, b2, b3, b4)
         |  QUALIFY count(*) OVER (PARTITION BY c.band, bkey)
         |    <= ${Dedup.DefaultMaxBucketWidth}),
         |ucand AS (SELECT DISTINCT a.media_id AS ma, b.media_id AS mb
         |  FROM ubands a JOIN ubands b
         |    ON a.band = b.band AND a.bkey = b.bkey AND a.media_id < b.media_id),
         |urp AS (
         |  SELECT c.ma, c.mb, bit_count(xor(ga.dh, gb.dh)) AS hamming
         |  FROM ucand c
         |  JOIN ugrp ga ON ga.rep = c.ma
         |  JOIN ugrp gb ON gb.rep = c.mb
         |  WHERE bit_count(xor(ga.dh, gb.dh)) <= 3),
         |upairs AS (
         |  SELECT least(ma2.media_id, mb2.media_id) AS media_a,
         |         greatest(ma2.media_id, mb2.media_id) AS media_b, p.hamming
         |  FROM urp p
         |  JOIN umem ma2 ON ma2.rep = p.ma
         |  JOIN umem mb2 ON mb2.rep = p.mb
         |  UNION ALL
         |  SELECT a.media_id, b.media_id, 0
         |  FROM umem a JOIN umem b
         |    ON a.rep = b.rep AND a.media_id < b.media_id)
         |SELECT media_a, media_b, CAST(hamming AS BIGINT) AS hamming
         |FROM upairs ORDER BY media_a, media_b""".stripMargin
    }) { (s, d) =>
      val media = Multimodal.asMedia(Tables.documents(s, d), "doc_id", "text")
      val base = Multimodal.dHash(media)
      val reenc = base.filter(col("media_id") < 20)
        .select((col("media_id") + 100000).as("media_id"),
          col("dhash").bitwiseXOR(lit(5L)).as("dhash"))
      Dedup.hammingNearDups(base.union(reenc), idCol = "media_id",
          sigCol = "dhash", bits = 64, blocks = 8)
        .select(col("doc_a").as("media_a"), col("doc_b").as("media_b"),
          col("hamming"))
    }.sortedBy(col("media_a"), col("media_b")),
  )
}
