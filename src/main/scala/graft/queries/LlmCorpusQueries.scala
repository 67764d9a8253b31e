package graft.queries

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ext.{Dedup, Multimodal, Similarity, TextAnalysis}

/** Split/sample, chunking, PII, datasheet, surprisal/perplexity and duplication-profile queries.
  * Split out of the monolithic LlmQueries registry (round 20); order
  * and semantics unchanged — [[LlmQueries.defs]] concatenates the
  * families in the original sequence.
  */
private[graft] object LlmCorpusQueries {
  import LlmOracle._
  import LlmShared._

  val defs: Seq[QueryDef] = Seq(
    // ── Deterministic split/sample (training-data pipeline core) ───
    // Assignment is polyhash(key) mod 10000 against cumulative weight
    // ranges — a pure key function, so the oracle reproduces every row's
    // split exactly (no RNG, no partitioning dependence).
    QueryDef("t_split_assign",
      s"""WITH b AS (
         |  SELECT doc_id,
         |         ${polyhash("CAST(doc_id AS VARCHAR)")} % 10000 AS bkt
         |  FROM documents)
         |SELECT doc_id,
         |       CASE WHEN bkt < 8000 THEN 'train'
         |            WHEN bkt < 9000 THEN 'val'
         |            ELSE 'test' END AS split
         |FROM b ORDER BY doc_id""".stripMargin) { (s, d) =>
      graft.ext.Sampling.assignSplit(
        Tables.documents(s, d).select("doc_id"), col("doc_id"),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    }.sortedBy(col("doc_id")),

    QueryDef("t_sample_by_key",
      s"""SELECT doc_id FROM documents
         |WHERE ${polyhash("CAST(doc_id AS VARCHAR)")} % 10000 < 2500
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      graft.ext.Sampling.sampleByKey(
        Tables.documents(s, d).select("doc_id"), col("doc_id"), 0.25)
    }.sortedBy(col("doc_id")),

    // Weighted variant: per-row keep rate (n_chars % 5)/4 — rates 0
    // (never), 1/4 … 4/4 (always) all exercised; same pure key-hash
    // law, cross-multiplied integers, shuffle-free.
    QueryDef("t_sample_weighted",
      s"""SELECT doc_id FROM documents
         |WHERE (${polyhash("CAST(doc_id AS VARCHAR)")} % 10000) * 4
         |      < 10000 * (n_chars % 5)
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      graft.ext.Sampling.sampleByRate(
        Tables.documents(s, d).select("doc_id", "n_chars"),
        col("doc_id"), col("n_chars") % 5, den = 4)
        .select("doc_id")
    }.sortedBy(col("doc_id")),

    // ── Deterministic epoch shuffle (training-order materialization) ─
    // Epoch-2 permutation into 8 shards: order key = polyhash('ep2:'
    // ++ id) — the per-epoch salt rides inside the hash, so every
    // engine replays the identical (shard, pos) coordinates. Oracle:
    // the same hash chain + one partitioned row_number.
    QueryDef("t_epoch_shuffle",
      s"""WITH t AS (SELECT doc_id,
         |  ${polyhash("'ep2:' || CAST(doc_id AS VARCHAR)")} AS ord
         |  FROM documents),
         |s AS (SELECT doc_id, ord, ord % 8 AS shard FROM t)
         |SELECT doc_id, ord, shard,
         |  CAST(row_number() OVER (PARTITION BY shard ORDER BY ord, doc_id)
         |       - 1 AS BIGINT) AS pos
         |FROM s ORDER BY doc_id""".stripMargin) { (s, d) =>
      graft.ext.Sampling.epochShuffle(
        Tables.documents(s, d).select("doc_id"), col("doc_id"),
        epoch = 2, numShards = 8)
    }.sortedBy(col("doc_id")),

    // ── Document chunking (overlapping token windows) ──────────────
    // 8-token windows every 4 tokens, final windows clipped — one row
    // per (doc, chunk). DuckDB's exclusive range(0, n, stride) equals
    // Spark's inclusive sequence(0, n-1, stride) for n > 0; empty/null
    // texts yield no chunks on both engines.
    QueryDef("t_chunk_docs",
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
         |  FROM documents WHERE text IS NOT NULL),
         |s AS (SELECT doc_id, ws,
         |  unnest(CASE WHEN len(ws) > 0 THEN range(0, len(ws), 4)
         |         ELSE [] END) AS st FROM w)
         |SELECT doc_id, CAST(st // 4 AS BIGINT) AS chunk_id,
         |       array_to_string(ws[st+1:st+8], ' ') AS chunk_text
         |FROM s ORDER BY doc_id, chunk_id""".stripMargin) { (s, d) =>
      TextAnalysis.chunkDocuments(Tables.documents(s, d),
        window = 8, stride = 4)
    }.sortedBy(col("doc_id"), col("chunk_id")),

    // ── PII redaction (engine-portable regex chain) ────────────────
    // PII is PLANTED in SQL on both sides (emails, dotted-quad IPs,
    // long digit runs derived from doc_id), so the oracle exercises
    // real replacements, not an identity pass. The nested
    // regexp_replace chain is generated from the same
    // TextAnalysis.PiiPatterns constants the Spark expression folds —
    // one source of truth, Java-regex/RE2-portable patterns.
    QueryDef("t_redact_pii", {
      val planted =
        """text || ' contact u' || CAST(doc_id AS VARCHAR) ||
          |  '@ex.com from 10.0.' || CAST(doc_id % 256 AS VARCHAR) ||
          |  '.7 acct 9001234' || CAST(doc_id + 100 AS VARCHAR)""".stripMargin
      val chain = TextAnalysis.PiiPatterns.foldLeft("text") {
        case (inner, (pat, rep)) =>
          s"regexp_replace($inner, '$pat', '$rep', 'g')"
      }
      s"""WITH planted AS (SELECT doc_id, $planted AS text FROM documents)
         |SELECT doc_id, $chain AS text FROM planted
         |ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      val planted = Tables.documents(s, d).select(col("doc_id"),
        concat(col("text"), lit(" contact u"),
          col("doc_id").cast("string"), lit("@ex.com from 10.0."),
          (col("doc_id") % 256).cast("string"), lit(".7 acct 9001234"),
          (col("doc_id") + 100).cast("string")).as("text"))
      planted.select(col("doc_id"),
        TextAnalysis.redactPii(col("text")).as("text"))
    }.sortedBy(col("doc_id")),

    // ── Per-domain PII audit ───────────────────────────────────────
    // Counts per PII type under the CHAIN order (each pattern counted
    // after its predecessors replaced — IP octets never double-count
    // as digit runs) over the same planted PII as t_redact_pii.
    QueryDef("t_pii_report", {
      val planted =
        """text || ' contact u' || CAST(doc_id AS VARCHAR) ||
          |  '@ex.com from 10.0.' || CAST(doc_id % 256 AS VARCHAR) ||
          |  '.7 acct 9001234' || CAST(doc_id + 100 AS VARCHAR)""".stripMargin
      val Seq((ePat, eRep), (iPat, iRep), (nPat, _)) =
        TextAnalysis.PiiPatterns
      s"""WITH planted AS (
         |  SELECT doc_id, source, $planted AS t0 FROM documents
         |  WHERE text IS NOT NULL AND source IS NOT NULL),
         |s1 AS (SELECT source,
         |    len(regexp_extract_all(t0, '$ePat')) AS c_email,
         |    regexp_replace(t0, '$ePat', '$eRep', 'g') AS t1 FROM planted),
         |s2 AS (SELECT source, c_email,
         |    len(regexp_extract_all(t1, '$iPat')) AS c_ip,
         |    regexp_replace(t1, '$iPat', '$iRep', 'g') AS t2 FROM s1),
         |s3 AS (SELECT source, c_email, c_ip,
         |    len(regexp_extract_all(t2, '$nPat')) AS c_num FROM s2)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(c_email) AS BIGINT) AS n_email,
         |  CAST(sum(c_ip) AS BIGINT) AS n_ip,
         |  CAST(sum(c_num) AS BIGINT) AS n_num,
         |  CAST(sum(CASE WHEN c_email + c_ip + c_num > 0 THEN 1 ELSE 0
         |      END) AS BIGINT) AS docs_with_pii
         |FROM s3 GROUP BY 1 ORDER BY 1""".stripMargin
    }) { (s, d) =>
      val planted = Tables.documents(s, d).select(col("doc_id"),
        col("source"),
        concat(col("text"), lit(" contact u"),
          col("doc_id").cast("string"), lit("@ex.com from 10.0."),
          (col("doc_id") % 256).cast("string"), lit(".7 acct 9001234"),
          (col("doc_id") + 100).cast("string")).as("text"))
      TextAnalysis.piiReport(planted)
    }.sortedBy(col("source")),

    // ── k-anonymity / l-diversity release-risk audit ───────────────
    // The formal re-identification readout next to the PII scrubbers:
    // equivalence classes over the (segment, nation) quasi tuple with
    // each class's size (its k) and its account-balance diversity
    // (its l) — pure relational aggregation, oracle-exact.
    QueryDef("t_k_anon_classes",
      """SELECT c_mktsegment, c_nationkey,
        |  CAST(count(*) AS BIGINT) AS class_size,
        |  CAST(count(DISTINCT c_acctbal) AS BIGINT) AS l_distinct
        |FROM customer GROUP BY 1, 2
        |ORDER BY c_mktsegment, c_nationkey""".stripMargin) { (s, d) =>
      graft.ext.Privacy.equivalenceClasses(Tables.customer(s, d),
        Seq("c_mktsegment", "c_nationkey"), Some("c_acctbal"))
    }.sortedBy(col("c_mktsegment"), col("c_nationkey")),

    // The one-row release verdict: the corpus's k (min class size),
    // its l (min per-class sensitive diversity), and the share of rows
    // living in classes below the k=5 policy threshold.
    QueryDef("t_k_anon_report",
      """WITH kc AS (SELECT c_mktsegment, c_nationkey,
        |    count(*) AS class_size,
        |    count(DISTINCT c_acctbal) AS l_distinct
        |  FROM customer GROUP BY 1, 2)
        |SELECT CAST(sum(class_size) AS BIGINT) AS n_rows,
        |  CAST(count(*) AS BIGINT) AS n_classes,
        |  CAST(min(class_size) AS BIGINT) AS k_anonymity,
        |  CAST(min(l_distinct) AS BIGINT) AS l_diversity,
        |  CAST(sum(CASE WHEN class_size < 5 THEN class_size ELSE 0 END)
        |    AS BIGINT) AS n_rows_at_risk,
        |  CAST(CASE WHEN sum(class_size) > 0
        |    THEN (sum(CASE WHEN class_size < 5 THEN class_size ELSE 0
        |      END) * 10000) // sum(class_size) END AS BIGINT)
        |    AS risk_x10000
        |FROM kc""".stripMargin) { (s, d) =>
      graft.ext.Privacy.kAnonymityReport(Tables.customer(s, d),
        Seq("c_mktsegment", "c_nationkey"), Some("c_acctbal"),
        kThreshold = 5L)
    },

    // The GENERALIZATION step re-audited: the high-cardinality balance
    // coarsened to 5000-wide buckets joins the quasi tuple in place of
    // nation — the k the coarsening buys is the workflow's whole
    // point, measured under the same law (floor division is
    // engine-exact on IEEE doubles).
    QueryDef("t_k_anon_generalized",
      """WITH kg AS (SELECT c_mktsegment,
        |    CAST(floor(c_acctbal / 5000.0) AS BIGINT) AS acct_bucket,
        |    count(*) AS class_size
        |  FROM customer GROUP BY 1, 2)
        |SELECT CAST(sum(class_size) AS BIGINT) AS n_rows,
        |  CAST(count(*) AS BIGINT) AS n_classes,
        |  CAST(min(class_size) AS BIGINT) AS k_anonymity,
        |  CAST(NULL AS BIGINT) AS l_diversity,
        |  CAST(sum(CASE WHEN class_size < 5 THEN class_size ELSE 0 END)
        |    AS BIGINT) AS n_rows_at_risk,
        |  CAST(CASE WHEN sum(class_size) > 0
        |    THEN (sum(CASE WHEN class_size < 5 THEN class_size ELSE 0
        |      END) * 10000) // sum(class_size) END AS BIGINT)
        |    AS risk_x10000
        |FROM kg""".stripMargin) { (s, d) =>
      val cust = Tables.customer(s, d).withColumn("acct_bucket",
        graft.ext.Privacy.generalizeNumeric(col("c_acctbal"), 5000.0))
      graft.ext.Privacy.kAnonymityReport(cust,
        Seq("c_mktsegment", "acct_bucket"), kThreshold = 5L)
    },

    // ── Per-domain DATASHEET (the data card) ───────────────────────
    // One wide row per domain joining the audit families: size +
    // language spread + exact-dup rate + quality pass rate + PII
    // matches — every column inherits its law from an already-gated
    // component query.
    QueryDef("t_datasheet", {
      val Seq((ePat, eRep), (iPat, iRep), (nPat, _)) =
        TextAnalysis.PiiPatterns
      s"""WITH ${qualityCtes("documents")},
         |db AS (SELECT * FROM documents WHERE source IS NOT NULL),
         |dcore AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN text IS NULL THEN 0
         |       ELSE len(string_split(text, ' ')) END) AS BIGINT)
         |    AS n_tokens,
         |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
         |  FROM db GROUP BY 1),
         |dqr AS (SELECT d.source,
         |  CAST(sum(CASE WHEN d.text IS NULL THEN 0
         |       WHEN q.quality >= 3 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_pass
         |  FROM db d JOIN qscored q USING (doc_id) GROUP BY 1),
         |dfp AS (SELECT source, ${polyhash64("text")} AS fp,
         |    CAST(count(*) AS BIGINT) AS c
         |  FROM db WHERE text IS NOT NULL GROUP BY 1, 2),
         |ddup AS (SELECT source,
         |  CAST(sum(c) - count(*) AS BIGINT) AS n_dups,
         |  CAST((CAST(sum(c) AS BIGINT) - count(*)) * 100
         |    // CAST(sum(c) AS BIGINT) AS BIGINT) AS dup_x100
         |  FROM dfp GROUP BY 1),
         |dp1 AS (SELECT source,
         |    len(regexp_extract_all(text, '$ePat')) AS ce,
         |    regexp_replace(text, '$ePat', '$eRep', 'g') AS t1
         |  FROM db WHERE text IS NOT NULL),
         |dp2 AS (SELECT source, ce,
         |    len(regexp_extract_all(t1, '$iPat')) AS ci,
         |    regexp_replace(t1, '$iPat', '$iRep', 'g') AS t2 FROM dp1),
         |dpii AS (SELECT source,
         |  CAST(sum(ce + ci + len(regexp_extract_all(t2, '$nPat')))
         |    AS BIGINT) AS n_pii
         |  FROM dp2 GROUP BY 1)
         |SELECT c.source, c.n_docs, c.n_tokens, c.n_langs,
         |  coalesce(d.n_dups, 0) AS n_dups,
         |  coalesce(d.dup_x100, 0) AS dup_x100,
         |  q.n_pass, q.n_pass * 100 // c.n_docs AS pass_x100,
         |  coalesce(p.n_pii, 0) AS n_pii
         |FROM dcore c JOIN dqr q USING (source)
         |LEFT JOIN ddup d USING (source)
         |LEFT JOIN dpii p USING (source)
         |ORDER BY c.source""".stripMargin
    }) { (s, d) =>
      graft.ext.Curation.dataSheet(Tables.documents(s, d))
    }.sortedBy(col("source")),

    // ── Per-domain corpus profile (mixture report) ─────────────────
    // One row per source: doc count, token/char totals, integer
    // quality-score sum — the read-before/verify-after companion to
    // t_domain_mix. The oracle reuses the proven quality CTEs.
    QueryDef("t_corpus_profile",
      s"""WITH ${qualityCtes("documents")}
         |SELECT d.source,
         |  count(*) AS n_docs,
         |  CAST(sum(CASE WHEN d.text IS NULL THEN 0
         |           ELSE len(string_split(d.text, ' ')) END) AS BIGINT) AS n_tokens,
         |  CAST(sum(CASE WHEN d.text IS NULL THEN 0
         |           ELSE length(d.text) END) AS BIGINT) AS n_chars,
         |  CAST(sum(CASE WHEN d.text IS NULL THEN 0
         |           ELSE q.quality END) AS BIGINT) AS quality_sum
         |FROM documents d JOIN qscored q ON q.doc_id = d.doc_id
         |GROUP BY d.source ORDER BY d.source""".stripMargin) { (s, d) =>
      // approx_distinct_tokens is an HLL sketch — deterministic but
      // engine-specific, so it cannot be oracle-gated cross-engine;
      // CurationSketchSpec pins its error bound against the exact
      // count instead, and the oracle keeps gating the exact columns
      graft.ext.Curation.corpusProfile(Tables.documents(s, d))
        .drop("approx_distinct_tokens")
    }.sortedBy(col("source")),

    // ── Top-share quality rejection (FineWeb-Edu cut) ─────────────
    // Keep each domain's top 30% by integral quality score: threshold
    // = the domain's k-th largest score (k = ceil(n·30/100)) from the
    // descending histogram cumulative — all ties at the threshold
    // survive, and the threshold itself is disclosed per kept row.
    QueryDef("t_keep_top_share",
      s"""WITH ${qualityCtes("documents")},
         |d AS (SELECT q.doc_id, dd.source,
         |        CAST(q.quality AS BIGINT) AS score
         |      FROM qscored q JOIN documents dd USING (doc_id)
         |      WHERE q.quality IS NOT NULL),
         |h AS (SELECT source, score, count(*) AS c FROM d GROUP BY 1, 2),
         |cum AS (SELECT source, score,
         |        sum(c) OVER (PARTITION BY source ORDER BY score DESC
         |          ROWS UNBOUNDED PRECEDING) AS ct,
         |        sum(c) OVER (PARTITION BY source) AS n
         |        FROM h),
         |thr AS (SELECT source, max(score) AS threshold FROM cum
         |        WHERE ct >= (n * 30 + 99) // 100 GROUP BY source)
         |SELECT d.doc_id, d.source, d.score, t.threshold
         |FROM d JOIN thr t USING (source)
         |WHERE d.score >= t.threshold
         |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val scored = docs.select(col("doc_id"), col("source"),
        TextAnalysis.qualityScore(col("text")).cast("long").as("score"))
      graft.ext.Curation.keepTopShare(scored, "source", "score", 30)
        .select("doc_id", "source", "score", "threshold")
    }.sortedBy(col("doc_id")),

    // ── One-row corpus health report (dataset-card headline) ───────
    // Totals + exact-dup count (distinct polyhash fingerprints) +
    // quality-pass count + language spread with dominant share — the
    // cross-engine one-row complement of the per-domain profile.
    QueryDef("t_corpus_report",
      s"""WITH ${qualityCtes("documents")},
         |crb AS (SELECT
         |    CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(CASE WHEN d.text IS NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_null_text,
         |    CAST(sum(CASE WHEN d.text IS NULL THEN 0
         |             ELSE len(string_split(d.text, ' ')) END)
         |      AS BIGINT) AS n_tokens,
         |    CAST(sum(CASE WHEN d.text IS NULL THEN 0
         |             WHEN q.quality >= 3 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_quality_pass
         |  FROM documents d JOIN qscored q ON q.doc_id = d.doc_id),
         |crd AS (SELECT
         |    CAST(count(*) - count(DISTINCT ${polyhash("text")})
         |      AS BIGINT) AS n_dup_docs
         |  FROM documents WHERE text IS NOT NULL),
         |crl AS (SELECT lang, CAST(count(*) AS BIGINT) AS c
         |  FROM documents WHERE lang IS NOT NULL GROUP BY 1),
         |crt AS (SELECT lang, c,
         |    row_number() OVER (ORDER BY c DESC, lang) AS rn FROM crl),
         |cra AS (SELECT CAST(count(*) AS BIGINT) AS n_langs,
         |    CAST(sum(c) AS BIGINT) AS nl FROM crl)
         |SELECT b.n_docs, b.n_null_text, b.n_tokens, d.n_dup_docs,
         |  b.n_quality_pass, a.n_langs, t.lang AS dom_lang,
         |  (t.c * 100 // a.nl) AS dom_lang_share_x100
         |FROM crb b CROSS JOIN crd d CROSS JOIN cra a
         |CROSS JOIN (SELECT * FROM crt WHERE rn = 1) t""".stripMargin) {
      (s, d) =>
        graft.ext.Curation.corpusReport(Tables.documents(s, d))
    },

    // ── Corpus snapshot diff (dataset versioning) ──────────────────
    // "New" snapshot simulated in SQL on both sides: drop % 13 = 5
    // (removed), append ' v2' where % 11 = 3 (changed), re-add % 17 = 2
    // under id+100000 (added). Compare by text PolyHash — membership
    // and content drift in one full-outer pass, unchanged docs omitted.
    QueryDef("t_corpus_diff",
      s"""WITH newc AS (
         |  SELECT doc_id,
         |         CASE WHEN doc_id % 11 = 3 THEN text || ' v2' ELSE text END AS text
         |  FROM documents WHERE doc_id % 13 <> 5
         |  UNION ALL
         |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 17 = 2),
         |ofp AS (SELECT doc_id, ${polyhash("text")} AS fp,
         |        ${polyhash("reverse(text)")} AS rfp FROM documents),
         |nfp AS (SELECT doc_id, ${polyhash("text")} AS fp,
         |        ${polyhash("reverse(text)")} AS rfp FROM newc),
         |j AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
         |  CASE WHEN o.doc_id IS NULL THEN 'added'
         |       WHEN n.doc_id IS NULL THEN 'removed'
         |       WHEN o.fp IS DISTINCT FROM n.fp
         |         OR o.rfp IS DISTINCT FROM n.rfp THEN 'changed' END AS status
         |  FROM ofp o FULL JOIN nfp n ON o.doc_id = n.doc_id)
         |SELECT doc_id, status FROM j WHERE status IS NOT NULL
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val newc = docs.filter("doc_id % 13 <> 5")
        .select(col("doc_id"),
          when(col("doc_id") % 11 === 3, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
        .union(docs.filter("doc_id % 17 = 2")
          .select((col("doc_id") + 100000).as("doc_id"), col("text")))
      graft.ext.Curation.corpusDiff(docs, newc)
    }.sortedBy(col("doc_id")),

    // ── Keyword extraction (integer-exact TF-IDF ranking) ──────────
    // Per doc: top-3 terms by tf·10⁶ div df (fixed-point idf — no float
    // log in the comparator, so DuckDB reproduces the ranking exactly),
    // lexicographic tiebreak. Spark runs the per-doc top-k on the
    // custom TopKPerKey operator; the oracle uses a window.
    QueryDef("t_keywords",
      s"""WITH terms AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
         |  FROM documents WHERE text IS NOT NULL),
         |tf AS (SELECT doc_id, word, count(*) AS tf FROM terms GROUP BY 1, 2),
         |df AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
         |scored AS (SELECT t.doc_id, t.word, t.tf, d.df,
         |  (t.tf * 1000000) // d.df AS score FROM tf t JOIN df d USING (word)),
         |ranked AS (SELECT doc_id, word, tf, df, score,
         |  CAST(row_number() OVER (PARTITION BY doc_id
         |       ORDER BY score DESC, word) AS BIGINT) AS rank FROM scored)
         |SELECT doc_id, word, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
         |       CAST(score AS BIGINT) AS score, rank
         |FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin) {
      (s, d) =>
        TextAnalysis.keywords(Tables.documents(s, d), k = 3)
          .select(col("doc_id"), col("word"), col("tf"), col("df"),
            col("score"), col("rank"))
    }.sortedBy(col("doc_id"), col("rank")),

    // ── Unigram surprisal (perplexity-filter analog) ───────────────
    // Integer-exact quality signal: per-occurrence surprisal is the
    // floor-log2 gap length(bin(total)) - length(bin(count)) — both
    // engines render positive ints to the same binary string, so no
    // float log enters the score.
    QueryDef("t_surprisal",
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
         |  FROM usc GROUP BY 1)
         |SELECT d.doc_id,
         |  coalesce(a.surprisal, 0) AS surprisal,
         |  coalesce(a.n_tokens, 0) AS n_tokens,
         |  CASE WHEN coalesce(a.n_tokens, 0) > 0
         |       THEN CAST((a.surprisal * 100) // a.n_tokens AS BIGINT)
         |       ELSE 0 END AS mean_bits_x100
         |FROM documents d LEFT JOIN uagg a USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      TextAnalysis.unigramSurprisal(Tables.documents(s, d))
    }.sortedBy(col("doc_id")),

    // ── Per-signal quality breakdown (threshold-tuning readout) ────
    // The four qualityScore terms as separate 0/1 columns + the sum —
    // replayed from the SAME qbase CTE the quality chain uses.
    QueryDef("t_quality_report",
      s"""WITH ${qualityCtes("documents")}
         |SELECT doc_id,
         |  CAST(CASE WHEN n_tokens BETWEEN 10 AND 1000
         |       THEN 1 ELSE 0 END AS BIGINT) AS len_ok,
         |  CAST(CASE WHEN n_stopwords > 0
         |       THEN 1 ELSE 0 END AS BIGINT) AS stopword_ok,
         |  CAST(CASE WHEN token_chars >= n_tokens * 3
         |        AND token_chars <= n_tokens * 12
         |       THEN 1 ELSE 0 END AS BIGINT) AS shape_ok,
         |  CAST(CASE WHEN n_2grams < 5 OR max_2gram_count * 5 <= n_2grams
         |       THEN 1 ELSE 0 END AS BIGINT) AS repetition_ok,
         |  $qualityExpr AS quality
         |FROM qbase ORDER BY doc_id""".stripMargin) { (s, d) =>
      TextAnalysis.qualityReport(Tables.documents(s, d))
    }.sortedBy(col("doc_id")),

    // ── Bigram (conditional) surprisal — word-order signal ─────────
    // Add-one-smoothed conditional bits per bigram occurrence,
    // L(ctx(w1)+V) − L(cnt(w1,w2)+1) — the nbModel smoothing with the
    // context word as the class; same bin-length law as t_surprisal.
    QueryDef("t_bigram_surprisal",
      s"""WITH bw AS (SELECT doc_id, string_split(text, ' ') AS ws
         |  FROM documents WHERE text IS NOT NULL),
         |bg AS (SELECT doc_id, unnest(list_transform(
         |    generate_series(2, len(ws)), i -> ws[i-1] || ' ' || ws[i]))
         |    AS bigram FROM bw),
         |btf AS (SELECT doc_id, bigram, CAST(count(*) AS BIGINT) AS tf
         |  FROM bg GROUP BY 1, 2),
         |bc2 AS (SELECT bigram, CAST(sum(tf) AS BIGINT) AS cnt,
         |    string_split(bigram, ' ')[1] AS w1 FROM btf GROUP BY 1),
         |bc1 AS (SELECT w1, CAST(sum(cnt) AS BIGINT) AS ctx
         |  FROM bc2 GROUP BY 1),
         |bv AS (SELECT CAST(count(DISTINCT word) AS BIGINT) AS v FROM (
         |    SELECT unnest(string_split(text, ' ')) AS word
         |    FROM documents WHERE text IS NOT NULL)),
         |bsc AS (SELECT t.doc_id, t.tf,
         |    CAST(length(bin(c1.ctx + v.v)) - length(bin(c2.cnt + 1))
         |      AS BIGINT) AS bits
         |  FROM btf t JOIN bc2 c2 USING (bigram)
         |  JOIN bc1 c1 ON c1.w1 = c2.w1 CROSS JOIN bv v),
         |bagg AS (SELECT doc_id, CAST(sum(tf * bits) AS BIGINT) AS surprisal,
         |    CAST(sum(tf) AS BIGINT) AS n_bigrams FROM bsc GROUP BY 1)
         |SELECT d.doc_id, coalesce(a.surprisal, 0) AS surprisal,
         |  coalesce(a.n_bigrams, 0) AS n_bigrams,
         |  CASE WHEN coalesce(a.n_bigrams, 0) > 0
         |       THEN CAST((a.surprisal * 100) // a.n_bigrams AS BIGINT)
         |       ELSE 0 END AS mean_bits_x100
         |FROM documents d LEFT JOIN bagg a USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      TextAnalysis.bigramSurprisal(Tables.documents(s, d))
    }.sortedBy(col("doc_id")),

    // ── Trigram stupid-backoff surprisal (cross-corpus LM scoring) ─
    // Model trained on the EVEN doc_ids only, scoring the WHOLE corpus
    // — odd documents hit unseen trigrams, so both backoff hops (the
    // ×2/5 penalty folded into the bin-length law: L(den·5ᵏ)−L(num·2ᵏ))
    // and the add-one unigram floor are all exercised, not just the
    // seen-trigram fast path.
    QueryDef("t_trigram_surprisal", trigramSurprisalSql) { (s, d) =>
      val docs = Tables.documents(s, d)
      TextAnalysis.trigramScoreWith(docs,
        TextAnalysis.trigramModel(docs.filter(col("doc_id") % 2 === 0)))
    }.sortedBy(col("doc_id")),

    // ── Kneser–Ney-grade absolute-discount trigram rung ────────────
    // Same split as t_trigram_surprisal (model on the even half, score
    // everything — the odd half exercises every backoff hop). Lower
    // orders use CONTINUATION counts off the distinct trigram/bigram
    // type relations; the D=3/4 discount and γ mass render as the
    // per-factor bin-length sum, every term a positive integer.
    QueryDef("t_kn_surprisal", knSurprisalSql) { (s, d) =>
      val docs = Tables.documents(s, d)
      TextAnalysis.knTrigramScoreWith(docs,
        TextAnalysis.knTrigramModel(docs.filter(col("doc_id") % 2 === 0)))
    }.sortedBy(col("doc_id")),

    // The SAME scoring chains with the model ROUND-TRIPPED THROUGH
    // DISK (writeLmModel → gram-bucketed model table + _meta(kind) →
    // loadLmModel) — the CCNet posture: the reference-perplexity model
    // trains once and every crawl scores against the same artifact.
    // One oracle per rung gates that the persisted model scores
    // bit-identically to in-session training.
    QueryDef("t_trigram_persisted", trigramSurprisalSql) { (s, d) =>
      TextAnalysis.loadLmModel(s, trigramLmFor(s, d))
        .score(Tables.documents(s, d))
    }.sortedBy(col("doc_id")),

    QueryDef("t_kn_persisted", knSurprisalSql) { (s, d) =>
      TextAnalysis.loadLmModel(s, knLmFor(s, d))
        .score(Tables.documents(s, d))
    }.sortedBy(col("doc_id")),

    // ── CCNet perplexity buckets (per-domain head/middle/tail) ─────
    // Composes two proven chains: the t_surprisal CTEs produce the
    // integer mean-bits score, the t_group_percentiles histogram CTEs
    // produce each domain's tercile cutoffs, and a CASE assigns the
    // bucket — the thresholds-then-assign decomposition (never a
    // per-domain ntile over the corpus).
    QueryDef("t_ppl_buckets",
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
         |    CAST(sum(tf) AS BIGINT) AS n_tokens FROM usc GROUP BY 1),
         |sc AS (SELECT d.doc_id, d.source,
         |    CASE WHEN coalesce(a.n_tokens, 0) > 0
         |         THEN CAST((a.surprisal * 100) // a.n_tokens AS BIGINT)
         |         ELSE CAST(0 AS BIGINT) END AS m
         |  FROM documents d LEFT JOIN uagg a USING (doc_id)),
         |bhist AS (SELECT source, m AS v, count(*) AS c FROM sc GROUP BY 1, 2),
         |bcum AS (SELECT source, v, sum(c) OVER (PARTITION BY source ORDER BY v
         |        ROWS UNBOUNDED PRECEDING) AS cumc FROM bhist),
         |btot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n
         |         FROM bhist GROUP BY 1),
         |b33 AS (SELECT c.source, min(v) AS p33 FROM bcum c
         |  JOIN btot t ON t.source = c.source
         |  WHERE c.cumc >= (t.n * 33 + 99) // 100 GROUP BY 1),
         |b67 AS (SELECT c.source, min(v) AS p67 FROM bcum c
         |  JOIN btot t ON t.source = c.source
         |  WHERE c.cumc >= (t.n * 67 + 99) // 100 GROUP BY 1)
         |SELECT s.doc_id, s.source, s.m AS mean_bits_x100,
         |  CASE WHEN b33.p33 IS NULL THEN NULL
         |       WHEN s.m <= b33.p33 THEN 'head'
         |       WHEN s.m <= b67.p67 THEN 'middle'
         |       ELSE 'tail' END AS bucket
         |FROM sc s
         |LEFT JOIN b33 ON b33.source = s.source
         |LEFT JOIN b67 ON b67.source = s.source
         |ORDER BY s.doc_id""".stripMargin) { (s, d) =>
      graft.ext.Curation.perplexityBuckets(Tables.documents(s, d))
    }.sortedBy(col("doc_id")),

    // ── Perplexity buckets under the TRIGRAM scorer ────────────────
    // The pluggable-scorer path oracle-gated: the same
    // thresholds-then-assign chain as t_ppl_buckets, driven by the
    // self-scored trigram surprisal (model over the full corpus — no
    // backoff fires; t_trigram_surprisal covers the backoff hops).
    QueryDef("t_ppl_buckets_tri",
      s"""WITH tw AS (SELECT string_split(text, ' ') AS ws
         |  FROM documents WHERE text IS NOT NULL),
         |uni AS (SELECT gram, CAST(count(*) AS BIGINT) AS cnt FROM (
         |    SELECT unnest(ws) AS gram FROM tw) GROUP BY 1),
         |bi AS (SELECT gram, CAST(count(*) AS BIGINT) AS cnt FROM (
         |    SELECT unnest(list_transform(generate_series(2, len(ws)),
         |      i -> ws[i-1] || ' ' || ws[i])) AS gram FROM tw) GROUP BY 1),
         |tri AS (SELECT gram, CAST(count(*) AS BIGINT) AS cnt FROM (
         |    SELECT unnest(list_transform(generate_series(3, len(ws)),
         |      i -> ws[i-2] || ' ' || ws[i-1] || ' ' || ws[i])) AS gram
         |    FROM tw) GROUP BY 1),
         |dw AS (SELECT doc_id, string_split(text, ' ') AS ws
         |  FROM documents WHERE text IS NOT NULL),
         |occ AS (SELECT doc_id, unnest(list_transform(
         |    generate_series(3, len(ws)),
         |    i -> ws[i-2] || ' ' || ws[i-1] || ' ' || ws[i])) AS g123
         |  FROM dw),
         |otf AS (SELECT doc_id, g123, CAST(count(*) AS BIGINT) AS tf
         |  FROM occ GROUP BY 1, 2),
         |tsc AS (SELECT o.doc_id, o.tf,
         |    CAST(length(bin(b12.cnt)) - length(bin(t.cnt)) AS BIGINT) AS bits
         |  FROM otf o
         |  JOIN tri t ON t.gram = o.g123
         |  JOIN bi b12 ON b12.gram =
         |    string_split(o.g123, ' ')[1] || ' ' || string_split(o.g123, ' ')[2]),
         |tagg AS (SELECT doc_id, CAST(sum(tf * bits) AS BIGINT) AS surprisal,
         |    CAST(sum(tf) AS BIGINT) AS n FROM tsc GROUP BY 1),
         |psc AS (SELECT d.doc_id, d.source,
         |    CASE WHEN coalesce(a.n, 0) > 0
         |         THEN CAST((a.surprisal * 100) // a.n AS BIGINT)
         |         ELSE CAST(0 AS BIGINT) END AS m
         |  FROM documents d LEFT JOIN tagg a USING (doc_id)),
         |phist AS (SELECT source, m AS v, count(*) AS c FROM psc GROUP BY 1, 2),
         |pcum AS (SELECT source, v, sum(c) OVER (PARTITION BY source ORDER BY v
         |        ROWS UNBOUNDED PRECEDING) AS cumc FROM phist),
         |ptot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n
         |         FROM phist GROUP BY 1),
         |p33 AS (SELECT c.source, min(v) AS p33 FROM pcum c
         |  JOIN ptot t ON t.source = c.source
         |  WHERE c.cumc >= (t.n * 33 + 99) // 100 GROUP BY 1),
         |p67 AS (SELECT c.source, min(v) AS p67 FROM pcum c
         |  JOIN ptot t ON t.source = c.source
         |  WHERE c.cumc >= (t.n * 67 + 99) // 100 GROUP BY 1)
         |SELECT s.doc_id, s.source, s.m AS mean_bits_x100,
         |  CASE WHEN p33.p33 IS NULL THEN NULL
         |       WHEN s.m <= p33.p33 THEN 'head'
         |       WHEN s.m <= p67.p67 THEN 'middle'
         |       ELSE 'tail' END AS bucket
         |FROM psc s
         |LEFT JOIN p33 ON p33.source = s.source
         |LEFT JOIN p67 ON p67.source = s.source
         |ORDER BY s.doc_id""".stripMargin) { (s, d) =>
      graft.ext.Curation.perplexityBuckets(Tables.documents(s, d),
        scorer = TextAnalysis.trigramSurprisal(_))
    }.sortedBy(col("doc_id")),

    // ── Duplication profile (corpus-wide boilerplate share) ────────
    // Per doc: share of its DISTINCT 3-gram shingles that occur in
    // >= 2 documents corpus-wide — the document-level readout of the
    // duplication the dedup family removes. Reuses the t_minhash hash
    // chain (same ShingleHashes constants), so the oracle replays the
    // identical shingle → PolyHash sets.
    QueryDef("t_dup_profile",
      s"""WITH $hashesCte,
         |dpx AS (SELECT doc_id, unnest(hs) AS h FROM hashes
         |        WHERE hs IS NOT NULL),
         |dpf AS (SELECT h, CAST(count(*) AS BIGINT) AS df
         |        FROM dpx GROUP BY 1),
         |dpa AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
         |    CAST(sum(CASE WHEN f.df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS dup_shingles
         |  FROM dpx x JOIN dpf f USING (h) GROUP BY 1)
         |SELECT d.doc_id,
         |  coalesce(a.n_shingles, 0) AS n_shingles,
         |  coalesce(a.dup_shingles, 0) AS dup_shingles,
         |  CASE WHEN coalesce(a.n_shingles, 0) > 0
         |       THEN CAST((a.dup_shingles * 100) // a.n_shingles AS BIGINT)
         |       ELSE 0 END AS dup_frac_x100
         |FROM documents d LEFT JOIN dpa a USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      Dedup.duplicationProfile(Tables.documents(s, d))
    }.sortedBy(col("doc_id")),

    // ── Cross-domain duplication matrix ────────────────────────────
    // For every domain pair sharing distinct 3-gram shingles: the
    // shared count and its x100 share of each side's shingle
    // vocabulary. Pair counting excludes shingles present in > 64
    // domains (the crossDomainDup boilerplate guard — vacuous on this
    // 20-domain corpus, law replayed regardless).
    QueryDef("t_cross_domain_dup",
      s"""WITH $hashesCte,
         |cdx AS (SELECT d.source AS dom, unnest(h.hs) AS h
         |  FROM hashes h JOIN documents d USING (doc_id)
         |  WHERE d.source IS NOT NULL),
         |cdd AS (SELECT DISTINCT dom, h FROM cdx),
         |cdt AS (SELECT dom, CAST(count(*) AS BIGINT) AS types
         |  FROM cdd GROUP BY 1),
         |cdw AS (SELECT h, count(*) AS nd FROM cdd GROUP BY 1),
         |cdp AS (SELECT a.dom AS domain_a, b.dom AS domain_b,
         |    CAST(count(*) AS BIGINT) AS shared
         |  FROM cdd a JOIN cdd b ON a.h = b.h AND a.dom < b.dom
         |  JOIN cdw w ON w.h = a.h AND w.nd BETWEEN 2 AND 64
         |  GROUP BY 1, 2)
         |SELECT p.domain_a, p.domain_b, p.shared AS shared_shingles,
         |  CAST(p.shared * 100 // ta.types AS BIGINT) AS share_a_x100,
         |  CAST(p.shared * 100 // tb.types AS BIGINT) AS share_b_x100
         |FROM cdp p JOIN cdt ta ON ta.dom = p.domain_a
         |JOIN cdt tb ON tb.dom = p.domain_b
         |ORDER BY p.domain_a, p.domain_b""".stripMargin) { (s, d) =>
      Dedup.crossDomainDup(Tables.documents(s, d))
    }.sortedBy(col("domain_a"), col("domain_b")),

    // ── SoftDeDup duplicate-aware reweighting (She et al. 2024) ────
    // Commonness = mean corpus df of the doc's distinct 3-gram
    // shingles; weight = its reciprocal, integer-exact
    // (weight_x100 = 10000 div ((Σdf·100) div n_shingles)).
    QueryDef("t_softdedup_weights",
      s"""WITH $hashesCte,
         |sdx AS (SELECT doc_id, unnest(hs) AS h FROM hashes
         |        WHERE hs IS NOT NULL),
         |sdf AS (SELECT h, CAST(count(*) AS BIGINT) AS df
         |        FROM sdx GROUP BY 1),
         |sda AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS ns,
         |    CAST(sum(f.df) AS BIGINT) AS sdfs
         |  FROM sdx x JOIN sdf f USING (h) GROUP BY 1)
         |SELECT d.doc_id,
         |  coalesce(a.ns, 0) AS n_shingles,
         |  coalesce(a.sdfs, 0) AS sum_df,
         |  CASE WHEN coalesce(a.ns, 0) > 0
         |       THEN CAST((a.sdfs * 100) // a.ns AS BIGINT)
         |       ELSE 0 END AS commonness_x100,
         |  CASE WHEN coalesce(a.ns, 0) > 0
         |       THEN CAST(10000 // ((a.sdfs * 100) // a.ns) AS BIGINT)
         |       ELSE 100 END AS weight_x100
         |FROM documents d LEFT JOIN sda a USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      Dedup.softDedupWeights(Tables.documents(s, d))
    }.sortedBy(col("doc_id")),

    // SoftDeDup SELECTION over a corpus with PLANTED duplicate
    // clusters (each doc_id < 20 appears 3×) — the deterministic
    // polyhash keep rule applies each doc's weight, so the planted
    // clusters contribute ~1 doc's worth of mass instead of 3.
    QueryDef("t_softdedup_sample", {
      val chain = LlmOracle.hashesCteFrom("pl")
      s"""WITH pl AS (SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 2000000, text FROM documents
         |  WHERE doc_id < 20 AND text IS NOT NULL
         |  UNION ALL
         |  SELECT doc_id + 3000000, text FROM documents
         |  WHERE doc_id < 20 AND text IS NOT NULL),
         |$chain,
         |sdx AS (SELECT doc_id, unnest(hs) AS h FROM hashes
         |        WHERE hs IS NOT NULL),
         |sdf AS (SELECT h, CAST(count(*) AS BIGINT) AS df
         |        FROM sdx GROUP BY 1),
         |sda AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS ns,
         |    CAST(sum(f.df) AS BIGINT) AS sdfs
         |  FROM sdx x JOIN sdf f USING (h) GROUP BY 1),
         |wts AS (SELECT d.doc_id,
         |  CASE WHEN coalesce(a.ns, 0) > 0
         |       THEN CAST(10000 // ((a.sdfs * 100) // a.ns) AS BIGINT)
         |       ELSE 100 END AS weight_x100
         |  FROM pl d LEFT JOIN sda a USING (doc_id))
         |SELECT doc_id, weight_x100 FROM wts
         |WHERE (${polyhash("CAST(doc_id AS VARCHAR)")} % 10000) * 100
         |      < 10000 * weight_x100
         |ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      val docs = Tables.documents(s, d)
      val dup = docs.filter(col("doc_id") < 20 && col("text").isNotNull)
      val planted = docs.select(col("doc_id"), col("text"))
        .union(dup.select((col("doc_id") + 2000000).as("doc_id"), col("text")))
        .union(dup.select((col("doc_id") + 3000000).as("doc_id"), col("text")))
      Dedup.softDedupSample(planted)
    }.sortedBy(col("doc_id")),
  )
}
