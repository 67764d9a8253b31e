package graft.queries

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ext.{Dedup, Multimodal, Similarity, TextAnalysis}

/** Shared fixtures of the LLM-ops query families: planted panels,
  * write-once persisted model/index builders (per JVM × sf dir), and
  * the DuckDB CTE generators the per-family oracle SQL is assembled
  * from. Package-visible — every `Llm*Queries` family file composes
  * from here; one source of truth for constants the Spark side and
  * the oracle side must agree on.
  */
private[graft] object LlmShared {
  import LlmOracle._


  /** The planted annotation panel shared by the majority-vote and κ
    * oracles: a1 = lang; a2 mislabels %4 as 'xx'; a3 abstains (null)
    * on %5 and labels %3 'yy'; a4 (κ only) rotates every lang — the
    * below-chance annotator whose κ is negative, exercising the
    * floor-division law where trunc-vs-floor engines diverge.
    */
  private[graft] def annotationPanel(s: org.apache.spark.sql.SparkSession,
                              d: String, withRotator: Boolean = false)
      : org.apache.spark.sql.DataFrame = {
    val base = Tables.documents(s, d).filter(col("lang").isNotNull)
    val a1 = base.select(col("doc_id").as("item_id"),
      lit("a1").as("annotator"), col("lang").as("label"))
    val a2 = base.select(col("doc_id").as("item_id"),
      lit("a2").as("annotator"),
      when(col("doc_id") % 4 === 0, lit("xx")).otherwise(col("lang"))
        .as("label"))
    val a3 = base.select(col("doc_id").as("item_id"),
      lit("a3").as("annotator"),
      when(col("doc_id") % 5 === 0, lit(null).cast("string"))
        .when(col("doc_id") % 3 === 0, lit("yy"))
        .otherwise(col("lang")).as("label"))
    val three = a1.unionByName(a2).unionByName(a3)
    if (!withRotator) three
    else three.unionByName(base.select(col("doc_id").as("item_id"),
      lit("a4").as("annotator"),
      when(col("lang") === "en", lit("zh"))
        .when(col("lang") === "zh", lit("es"))
        .when(col("lang") === "es", lit("de"))
        .when(col("lang") === "de", lit("fr"))
        .otherwise(lit("en")).as("label")))
  }

  /** Build the persisted ANN index artifacts once per (JVM, sf dir) —
    * the warehouse is per-JVM (Sessions), so a JVM-local lock closes the
    * check-then-write race. Queries then exercise the SEARCH-ONLY hot
    * path; in the bench's interleaved sweeps only the first call pays
    * the build, which is exactly the write-once/query-many lifecycle.
    */
  private[graft] val builtIndexes = scala.collection.mutable.Set[String]()

  /** Catalog-safe table-name stem for a dataset dir: the sanitized path
    * plus a stable hex hash of the RAW string, so distinct dirs that
    * sanitize identically (sf-1 vs sf_1) can never share an index.
    */
  private[graft] def dirStem(d: String): String = {
    val h = java.lang.Integer.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(d))
    d.replaceAll("[^A-Za-z0-9]", "_") + "_" + h
  }

  def ivfIndexFor(s: org.apache.spark.sql.SparkSession, d: String): String =
    synchronized {
      val name = "graft_ivf_" + dirStem(d)
      if (!builtIndexes.contains(name)) {
        Similarity.buildIvfIndex(Tables.embeddings(s, d), name, centroids = 16)
        builtIndexes += name
      }
      name
    }

  def lshIndexFor(s: org.apache.spark.sql.SparkSession, d: String): String =
    synchronized {
      val name = "graft_lsh_" + dirStem(d)
      if (!builtIndexes.contains(name)) {
        Similarity.buildLshIndex(Tables.embeddings(s, d), name,
          planes = 4, dims = 64)
        builtIndexes += name
      }
      name
    }

  /** The written-once NB language bundle per (JVM, sf dir) — the
    * train-once/classify-many model lifecycle (ANN-index memo posture):
    * the first consumer pays the training write, later consumers load
    * the persisted tables.
    */
  def nbBundleFor(s: org.apache.spark.sql.SparkSession, d: String): String =
    synchronized {
      val name = "graft_nb_" + dirStem(d)
      if (!builtIndexes.contains(name)) {
        val lab = Tables.documents(s, d)
          .select(col("doc_id"), col("lang").as("label"), col("text"))
        TextAnalysis.writeNbBundle(lab, name, labelCol = "label")
        builtIndexes += name
      }
      name
    }

  /** The persisted CHAR-TRIGRAM language-ID bundle per (JVM, sf dir) —
    * the write-once half of t_nb_langid_persisted /
    * t_code_switch_persisted ([[nbBundleFor]] with tokenizer `char3`).
    */
  def langIdBundleFor(s: org.apache.spark.sql.SparkSession,
                      d: String): String =
    synchronized {
      val name = "graft_nbl_" + dirStem(d)
      if (!builtIndexes.contains(name)) {
        val lab = Tables.documents(s, d)
          .select(col("doc_id"), col("lang").as("label"), col("text"))
        TextAnalysis.writeNbBundle(lab, name, labelCol = "label",
          tokenizer = "char3")
        builtIndexes += name
      }
      name
    }

  /** The chat-turn fixture shared by t_chat_render/t_chat_spans and
    * ScaleCheck's chat_prep probe: 4 docs per conversation (conv =
    * doc_id div 4, turn = doc_id mod 4), roles alternating
    * user/assistant by doc_id parity, content = the document text
    * (non-null only).
    */
  def chatTurnsOf(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs.filter(col("text").isNotNull)
      .select(expr("doc_id div 4").as("conv_id"),
        (col("doc_id") % 4).as("turn_idx"),
        when(col("doc_id") % 2 === 0, lit("user"))
          .otherwise(lit("assistant")).as("role"),
        col("text").as("content"))

  def chatTurns(s: org.apache.spark.sql.SparkSession,
                d: String): org.apache.spark.sql.DataFrame =
    chatTurnsOf(Tables.documents(s, d))

  /** The t_chat_prep chain as ONE shared definition (QueryDef and
    * ScaleCheck both measure exactly this): conversations → per-conv
    * token accounting (content whitespace tokens + one tag token per
    * turn; assistant share disclosed as loss_tokens) → the
    * packSequences tape at 512.
    */
  def chatPrepOf(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val perConv = chatTurnsOf(docs).groupBy(col("conv_id")).agg(
      (sum(size(split(col("content"), " ")).cast("long"))
        + count(lit(1))).as("n_tokens"),
      sum(when(col("role") === "assistant",
        size(split(col("content"), " ")).cast("long")).otherwise(0L))
        .as("loss_tokens"))
    graft.ext.Packing.packSequences(perConv, col("conv_id"),
        col("n_tokens"), 512L)
      .select(col("conv_id"), col("n_tokens"), col("loss_tokens"),
        col("pack"))
  }

  /** The t_dpo_prep chain as ONE shared definition: quality-scored
    * responses per source → [[graft.ext.Preference.dpoPairs]] → both
    * texts' whitespace token counts → the packSequences tape at 1024,
    * keyed by prompt.
    */
  def dpoPrepOf(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val nn = docs.filter(col("text").isNotNull)
    val resp = nn.select(col("source").as("prompt_id"), col("doc_id"),
      TextAnalysis.qualityScore(col("text")).cast("long").as("score"))
    val toks = nn.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("__dq_t"))
    val pairs = graft.ext.Preference
      .dpoPairs(resp, "doc_id")
      .join(toks.withColumnRenamed("doc_id", "chosen_id")
        .withColumnRenamed("__dq_t", "chosen_tokens"), "chosen_id")
      .join(toks.withColumnRenamed("doc_id", "rejected_id")
        .withColumnRenamed("__dq_t", "rejected_tokens"), "rejected_id")
    graft.ext.Packing.packSequences(pairs, col("prompt_id"),
        col("chosen_tokens") + col("rejected_tokens"), 1024L)
      .select(col("prompt_id"), col("chosen_id"), col("rejected_id"),
        col("chosen_tokens"), col("rejected_tokens"), col("pack"))
  }

  /** The persisted QUALITY-classifier bundle per (JVM, sf dir) — the
    * write-once half of t_quality_classifier_persisted, same memo
    * discipline as [[nbBundleFor]].
    */
  def qualityBundleFor(s: org.apache.spark.sql.SparkSession,
                       d: String): String =
    synchronized {
      val name = "graft_qc_" + dirStem(d)
      if (!builtIndexes.contains(name)) {
        TextAnalysis.writeQualityBundle(Tables.documents(s, d), name)
        builtIndexes += name
      }
      name
    }

  /** The learned-once unigram-LM inventory per (JVM, sf dir) — shared
    * by t_unigram_lm_train and t_unigram_lm_tokenize (the
    * [[learnedMergeTables]] discipline for the unigram family).
    */
  private[graft] val learnedUnigramInvs =
    scala.collection.mutable.Map[String, Seq[(String, Long, Long)]]()

  def learnedUnigramFor(s: org.apache.spark.sql.SparkSession,
                        d: String): Seq[(String, Long, Long)] =
    synchronized {
      learnedUnigramInvs.getOrElseUpdate(dirStem(d),
        TextAnalysis.learnUnigramLm(Tables.documents(s, d),
          vocabSize = UnigramVocab, seedSize = UnigramSeeds))
    }

  /** Unigram-LM oracle parameters: the sf0.01 corpus has ~308 distinct
    * ≤4-cp pieces and ~25 single chars, so seeds = 256 exercises the
    * seed cut and vocab = 64 exercises the likelihood-loss prune.
    */
  private[graft] val UnigramVocab = 64
  private[graft] val UnigramSeeds = 256

  /** The learned-once BPE merge table per (JVM, sf dir, n) — the two
    * tokenizer-training queries share one training run, mirroring the
    * train-once/tokenize-many lifecycle (and the ANN index memo above).
    */
  private[graft] val learnedMergeTables =
    scala.collection.mutable.Map[String, Seq[(String, String, Long)]]()

  def learnedMergesFor(s: org.apache.spark.sql.SparkSession, d: String,
                       n: Int): Seq[(String, String, Long)] =
    synchronized {
      learnedMergeTables.getOrElseUpdate(dirStem(d) + "#" + n,
        TextAnalysis.learnBpeMerges(Tables.documents(s, d), n))
    }

  /** The learned-once WordPiece table per (JVM, sf dir, n) — the
    * [[learnedMergesFor]] discipline for the likelihood-scored trainer.
    */
  private[graft] val learnedWpTables =
    scala.collection.mutable.Map[String, Seq[(String, String, Long, Long)]]()

  def learnedWordPieceFor(s: org.apache.spark.sql.SparkSession, d: String,
                          n: Int): Seq[(String, String, Long, Long)] =
    synchronized {
      learnedWpTables.getOrElseUpdate(dirStem(d) + "#" + n,
        TextAnalysis.learnWordPieceMerges(Tables.documents(s, d), n))
    }

  /** The learned-once BYTE-LEVEL WordPiece table per (JVM, sf dir, n)
    * — trained on the multibyte-planted corpus ([[plantedMbDocs]]).
    */
  def learnedByteWordPieceFor(s: org.apache.spark.sql.SparkSession,
                              d: String,
                              n: Int): Seq[(String, String, Long, Long)] =
    synchronized {
      learnedWpTables.getOrElseUpdate(dirStem(d) + "#b" + n,
        TextAnalysis.learnWordPieceMerges(plantedMbDocs(s, d), n,
          byteLevel = true))
    }

  /** Stage count for the tokenizer-training oracle pair — small enough
    * that the unrolled DuckDB replay stays cheap, large enough to learn
    * real multi-level merges (outputs of earlier merges appear as sides
    * of later ones on this corpus).
    */
  val BpeTrainMerges = 8

  /** Multibyte tail planted on every document for the BYTE-LEVEL
    * tokenizer oracles: 2-byte Latin accents (é, è) and 3-byte CJK —
    * exactly where the code-point walk and the byte walk provably
    * diverge (é is one atomic symbol there, two mergeable byte symbols
    * here). Shared verbatim with the SQL fixture.
    */
  val MultiByteTail = "café résumé 中文 élève"

  private[graft] val PlantedMbCte =
    s"""plantedmb AS (SELECT doc_id, text || ' $MultiByteTail' AS text
       |  FROM documents),
       |""".stripMargin

  def plantedMbDocs(s: org.apache.spark.sql.SparkSession,
                    d: String): org.apache.spark.sql.DataFrame =
    Tables.documents(s, d).select(col("doc_id"),
      concat(col("text"), lit(" " + MultiByteTail)).as("text"))

  /** The learned-once BYTE-LEVEL merge table per (JVM, sf dir, n) —
    * trained on the multibyte-planted corpus.
    */
  private[graft] val learnedByteTables =
    scala.collection.mutable.Map[String, Seq[(String, String, Long)]]()

  def learnedByteMergesFor(s: org.apache.spark.sql.SparkSession, d: String,
                           n: Int): Seq[(String, String, Long)] =
    synchronized {
      learnedByteTables.getOrElseUpdate(dirStem(d) + "#b" + n,
        TextAnalysis.learnBpeMerges(plantedMbDocs(s, d), n,
          byteLevel = true))
    }

  /** The learned-once BYTE-LEVEL unigram inventory per (JVM, sf dir) —
    * trained on the same multibyte-planted corpus.
    */
  private[graft] val learnedByteUnigramInvs =
    scala.collection.mutable.Map[String, Seq[(String, Long, Long)]]()

  def learnedByteUnigramFor(s: org.apache.spark.sql.SparkSession,
                            d: String): Seq[(String, Long, Long)] =
    synchronized {
      learnedByteUnigramInvs.getOrElseUpdate(dirStem(d),
        TextAnalysis.learnUnigramLm(plantedMbDocs(s, d),
          vocabSize = UnigramVocab, seedSize = UnigramSeeds,
          byteLevel = true))
    }

  /** The trigram stupid-backoff scoring oracle — shared verbatim by
    * t_trigram_surprisal (in-session model) and t_trigram_persisted
    * (model round-tripped through disk): one SQL gating that both
    * paths score identically, the nbClassifyLangSql pattern for LMs.
    */
  private[graft] lazy val trigramSurprisalSql: String =
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
         |sc AS (SELECT o.doc_id, o.tf,
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
         |tagg AS (SELECT doc_id, CAST(sum(tf * bits) AS BIGINT) AS surprisal,
         |    CAST(sum(tf) AS BIGINT) AS n_trigrams FROM sc GROUP BY 1)
         |SELECT d.doc_id, coalesce(a.surprisal, 0) AS surprisal,
         |  coalesce(a.n_trigrams, 0) AS n_trigrams,
         |  CASE WHEN coalesce(a.n_trigrams, 0) > 0
         |       THEN CAST((a.surprisal * 100) // a.n_trigrams AS BIGINT)
         |       ELSE 0 END AS mean_bits_x100
         |FROM documents d LEFT JOIN tagg a USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin

  /** The KN absolute-discount scoring oracle — shared verbatim by
    * t_kn_surprisal and t_kn_persisted ([[trigramSurprisalSql]]'s
    * discipline for the KN rung).
    */
  private[graft] lazy val knSurprisalSql: String =
    s"""WITH tw AS (SELECT string_split(text, ' ') AS ws
         |  FROM documents WHERE text IS NOT NULL AND doc_id % 2 = 0),
         |uni AS (SELECT gram, CAST(count(*) AS BIGINT) AS cnt FROM (
         |    SELECT unnest(ws) AS gram FROM tw) GROUP BY 1),
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
         |sc AS (SELECT o.doc_id, o.tf,
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
         |tagg AS (SELECT doc_id, CAST(sum(tf * bits) AS BIGINT) AS surprisal,
         |    CAST(sum(tf) AS BIGINT) AS n_trigrams FROM sc GROUP BY 1)
         |SELECT d.doc_id, coalesce(a.surprisal, 0) AS surprisal,
         |  coalesce(a.n_trigrams, 0) AS n_trigrams,
         |  CASE WHEN coalesce(a.n_trigrams, 0) > 0
         |       THEN CAST((a.surprisal * 100) // a.n_trigrams AS BIGINT)
         |       ELSE 0 END AS mean_bits_x100
         |FROM documents d LEFT JOIN tagg a USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin

  /** The PERSISTED trigram LM bundle per (JVM, sf dir): the even-half
    * model written through the writeLmModel lifecycle (the
    * [[nbBundleFor]] memo discipline) so t_trigram_persisted exercises
    * a disk round-trip, not a cache.
    */
  def trigramLmFor(s: org.apache.spark.sql.SparkSession,
                   d: String): String =
    synchronized {
      val name = "graft_lm3_" + dirStem(d)
      if (!builtIndexes.contains(name)) {
        TextAnalysis.writeLmModel(TextAnalysis.trigramModel(
          Tables.documents(s, d).filter(col("doc_id") % 2 === 0)),
          name, kind = "trigram")
        builtIndexes += name
      }
      name
    }

  /** The PERSISTED KN LM bundle per (JVM, sf dir) — [[trigramLmFor]]
    * for the absolute-discount rung.
    */
  def knLmFor(s: org.apache.spark.sql.SparkSession, d: String): String =
    synchronized {
      val name = "graft_lmkn_" + dirStem(d)
      if (!builtIndexes.contains(name)) {
        TextAnalysis.writeLmModel(TextAnalysis.knTrigramModel(
          Tables.documents(s, d).filter(col("doc_id") % 2 === 0)),
          name, kind = "kn")
        builtIndexes += name
      }
      name
    }

  /** The PERSISTED BPE tokenizer bundle per (JVM, sf dir) — writes the
    * learned-once merge table through the writeMergeTokenizer lifecycle
    * (the [[nbBundleFor]] memo discipline) so
    * t_bpe_persisted_tokenize exercises a disk round-trip, not a cache.
    */
  def bpeTokenizerFor(s: org.apache.spark.sql.SparkSession,
                      d: String): String =
    synchronized {
      val name = "graft_bpe_" + dirStem(d)
      if (!builtIndexes.contains(name)) {
        TextAnalysis.writeMergeTokenizer(s, name,
          learnedMergesFor(s, d, BpeTrainMerges))
        builtIndexes += name
      }
      name
    }

  /** The PERSISTED unigram-LM tokenizer bundle per (JVM, sf dir) —
    * [[bpeTokenizerFor]] for the unigram family.
    */
  def unigramTokenizerFor(s: org.apache.spark.sql.SparkSession,
                          d: String): String =
    synchronized {
      val name = "graft_ug_" + dirStem(d)
      if (!builtIndexes.contains(name)) {
        TextAnalysis.writeUnigramTokenizer(s, name, learnedUnigramFor(s, d))
        builtIndexes += name
      }
      name
    }

  /** Query-term fixture for the sparse-retrieval oracle — mixed
    * document frequencies from this corpus's vocabulary, multi-term
    * bags so the per-(query, doc) score aggregation is exercised.
    */
  val SearchQueries: Seq[(Long, String)] = Seq(
    0L -> "query", 0L -> "window",
    1L -> "stream", 1L -> "join", 1L -> "sort",
    2L -> "spark", 2L -> "hash")

  /** The sparse-retrieval CTE chain (s-prefixed names so the hybrid
    * oracle can compose it beside the dense chain): integer tf-idf
    * scoring of documents against the [[SearchQueries]] term bags,
    * ending in `sranked` (query_id, doc_id, score, n_terms, rank).
    */
  /** The tf-idf scoring half of the sparse chain, parameterized by the
    * query relation and prefix — shared by the first-pass oracle
    * (prefix `s` over `sq`) and the PRF second pass (prefix `x` over
    * the expanded term relation), both reading the one corpus tf CTE.
    */
  private[graft] def searchScoreCtes(p: String, queryRel: String,
                              tfRel: String): String =
    s"""${p}mt AS (SELECT t0.doc_id, t0.word, t0.tf FROM $tfRel t0
       |  JOIN (SELECT DISTINCT term FROM $queryRel) t ON t0.word = t.term),
       |${p}df AS (SELECT word, count(*) AS df FROM ${p}mt GROUP BY 1),
       |${p}sc AS (SELECT m.doc_id, m.word, (m.tf * 1000000) // d.df AS tscore
       |  FROM ${p}mt m JOIN ${p}df d USING (word)),
       |${p}pq AS (SELECT q.query_id, s.doc_id,
       |  CAST(sum(s.tscore) AS BIGINT) AS score,
       |  CAST(count(*) AS BIGINT) AS n_terms
       |  FROM ${p}sc s
       |  JOIN (SELECT DISTINCT query_id, term FROM $queryRel) q
       |    ON q.term = s.word GROUP BY 1, 2),
       |${p}ranked AS (SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
       |  score, n_terms,
       |  CAST(row_number() OVER (PARTITION BY query_id
       |       ORDER BY score DESC, doc_id) AS BIGINT) AS rank FROM ${p}pq)""".stripMargin

  private[graft] def searchDocsCtes: String = {
    val qRows = SearchQueries
      .map { case (q, t) => s"($q, '${t.replace("'", "''")}')" }
      .mkString(", ")
    s"""sq(query_id, term) AS (VALUES $qRows),
       |sterms AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
       |  FROM documents WHERE text IS NOT NULL),
       |stf AS (SELECT doc_id, word, count(*) AS tf FROM sterms GROUP BY 1, 2),
       |${searchScoreCtes("s", "sq", "stf")}""".stripMargin
  }

  /** The PRF feedback/expansion CTEs over the first-pass chain:
    * per-query top-`kFirst` docs → tf·score term weights → original
    * terms excluded → top-`nExpand` per query as `pexp`.
    */
  private[graft] def prfCtes(kFirst: Int, nExpand: Int): String =
    s"""ptop AS (SELECT query_id, doc_id, score FROM sranked
       |  WHERE rank <= $kFirst),
       |pfb AS (SELECT t.query_id, s.word,
       |    CAST(sum(s.tf * t.score) AS BIGINT) AS weight
       |  FROM stf s JOIN ptop t USING (doc_id) GROUP BY 1, 2),
       |pcand AS (SELECT f.query_id, f.word, f.weight FROM pfb f
       |  LEFT JOIN (SELECT DISTINCT query_id, term FROM sq) q
       |    ON q.query_id = f.query_id AND q.term = f.word
       |  WHERE q.term IS NULL),
       |pexp AS (SELECT query_id, word AS term, weight,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY weight DESC, word) AS BIGINT) AS rank
       |  FROM pcand)""".stripMargin

  /** Term-coverage qrels replay
    * ([[graft.ext.Retrieval.termCoverageQrels]]): distinct query terms
    * present per doc (stf is one row per (doc, word), so count(*) IS
    * the distinct-match count), rel = 2 on full coverage, 1 on ≥ half.
    * Composes after [[searchDocsCtes]]; yields `qrels`.
    */
  private[graft] val qrelsCtes: String =
    s"""qn AS (SELECT query_id, CAST(count(DISTINCT term) AS BIGINT) AS nq
       |  FROM sq GROUP BY 1),
       |qm AS (SELECT q.query_id, t.doc_id, CAST(count(*) AS BIGINT) AS m
       |  FROM stf t JOIN (SELECT DISTINCT query_id, term FROM sq) q
       |    ON t.word = q.term GROUP BY 1, 2),
       |qrels AS (SELECT qm.query_id, qm.doc_id,
       |    CAST(CASE WHEN m = nq THEN 2 ELSE 1 END AS BIGINT) AS rel
       |  FROM qm JOIN qn USING (query_id) WHERE 2 * m >= nq)""".stripMargin

  /** The [[graft.ext.Eval.rankEval]] replay over run relation `runRel`
    * (query_id, doc_id, rank) cut at `k`, against `qrels`: lcm-scaled
    * harmonic sums (`L = lcm(1..k+1)` inlined as a literal — the same
    * constant the engine derives), trec P@k / R@k / AP / RR and the
    * harmonic-discount nDCG@k. Yields `${p}metrics`, one row per run
    * query.
    */
  private[graft] def rankEvalCtes(p: String, runRel: String, k: Int,
                           L: Long): String =
    s"""${p}run AS (SELECT query_id, doc_id, rank FROM $runRel
       |  WHERE rank <= $k),
       |${p}rj AS (SELECT r.query_id, r.doc_id, r.rank,
       |    coalesce(q.rel, 0) AS g
       |  FROM ${p}run r LEFT JOIN qrels q USING (query_id, doc_id)),
       |${p}rh AS (SELECT query_id, rank, g,
       |    sum(CASE WHEN g > 0 THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY query_id ORDER BY rank) AS h
       |  FROM ${p}rj),
       |${p}pq AS (SELECT query_id,
       |    CAST(count(*) AS BIGINT) AS n_ret,
       |    CAST(sum(CASE WHEN g > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_rel_ret,
       |    min(CASE WHEN g > 0 THEN rank END) AS frr,
       |    CAST(sum(CASE WHEN g > 0 THEN h * ($L // rank) ELSE 0 END)
       |      AS BIGINT) AS apn,
       |    CAST(sum(g * ($L // (rank + 1))) AS BIGINT) AS dcgn
       |  FROM ${p}rh GROUP BY 1),
       |${p}nr AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_rel
       |  FROM qrels GROUP BY 1),
       |${p}id AS (SELECT query_id,
       |    CAST(sum(rel * ($L // (i + 1))) AS BIGINT) AS idcgn
       |  FROM (SELECT query_id, rel, row_number() OVER (
       |          PARTITION BY query_id ORDER BY rel DESC, doc_id) AS i
       |        FROM qrels) x
       |  WHERE i <= $k GROUP BY 1),
       |${p}metrics AS (SELECT q.query_id,
       |    q.n_ret, coalesce(n.n_rel, 0) AS n_rel, q.n_rel_ret,
       |    CAST(q.frr AS BIGINT) AS first_rel_rank,
       |    CAST(coalesce(10000 // q.frr, 0) AS BIGINT) AS rr_x10000,
       |    CAST((q.n_rel_ret * 10000) // $k AS BIGINT) AS precision_x10000,
       |    CAST(CASE WHEN coalesce(n.n_rel, 0) > 0
       |         THEN (q.n_rel_ret * 10000) // n.n_rel END AS BIGINT)
       |      AS recall_x10000,
       |    CAST(CASE WHEN coalesce(n.n_rel, 0) > 0
       |         THEN (q.apn * 10000) // ($L * n.n_rel) END AS BIGINT)
       |      AS ap_x10000,
       |    CAST(CASE WHEN coalesce(i.idcgn, 0) > 0
       |         THEN (q.dcgn * 10000) // i.idcgn END AS BIGINT)
       |      AS ndcg_x10000
       |  FROM ${p}pq q LEFT JOIN ${p}nr n USING (query_id)
       |  LEFT JOIN ${p}id i USING (query_id))""".stripMargin

  /** The tri-arm fusion CTE chain (dense cosine arm + the tf-idf/BM25
    * arms' 20-cuts → integer RRF → `tr3`) — shared by the t_hybrid_tri
    * oracle and the retrieval leaderboard so the two formulations can
    * never drift. Requires [[searchDocsCtes]] and [[bm25Ctes]] in
    * scope.
    */
  private[graft] lazy val hybridTriCtes: String = {
    val qIds = SearchQueries.map(_._1).distinct.sorted.mkString(", ")
    s"""dq AS (
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
       |tids AS (
       |  SELECT DISTINCT query_id, doc_id FROM (
       |    SELECT query_id, doc_id FROM sranked WHERE rank <= 20
       |    UNION ALL
       |    SELECT query_id, doc_id FROM branked WHERE rank <= 20
       |    UNION ALL
       |    SELECT query_id, neighbor_id FROM dranked WHERE rank <= 20)),
       |tf3 AS (
       |  SELECT i.query_id, i.doc_id,
       |    CAST(coalesce(1000000 // (60 + s.rank), 0)
       |       + coalesce(1000000 // (60 + b.rank), 0)
       |       + coalesce(1000000 // (60 + d.rank), 0) AS BIGINT) AS rrf,
       |    s.rank AS tfidf_rank, b.rank AS bm25_rank,
       |    d.rank AS dense_rank
       |  FROM tids i
       |  LEFT JOIN (SELECT * FROM sranked WHERE rank <= 20) s
       |    ON s.query_id = i.query_id AND s.doc_id = i.doc_id
       |  LEFT JOIN (SELECT * FROM branked WHERE rank <= 20) b
       |    ON b.query_id = i.query_id AND b.doc_id = i.doc_id
       |  LEFT JOIN (SELECT * FROM dranked WHERE rank <= 20) d
       |    ON d.query_id = i.query_id AND d.neighbor_id = i.doc_id),
       |tr3 AS (
       |  SELECT query_id, doc_id, rrf,
       |         tfidf_rank, bm25_rank, dense_rank,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |              ORDER BY rrf DESC, doc_id) AS BIGINT) AS rank
       |  FROM tf3)""".stripMargin
  }

  /** One system's leaderboard row over a `${p}metrics` relation
    * ([[rankEvalCtes]]) — the t_ir_report rollup parameterized so the
    * retrieval leaderboard can UNION one row per system.
    */
  private[graft] def irReportSelect(p: String, system: String, k: Int,
                             L: Long): String =
    s"""SELECT '$system' AS system,
       |  CAST(count(*) AS BIGINT) AS n_queries,
       |  CAST(sum(CASE WHEN n_rel > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_with_rel,
       |  CAST(CASE WHEN count(*) > 0 THEN
       |    (sum(coalesce($L // first_rel_rank, 0)) * 10000)
       |      // ($L * count(*)) END AS BIGINT) AS mrr_x10000,
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
       |FROM ${p}metrics""".stripMargin

  /** BM25 replay: the same integer arithmetic as
    * [[graft.ext.TextAnalysis.searchDocsBm25]] — floor-log2 idf via
    * length(bin(x)), ×100 fixed-point k1/b, cross-multiplied length
    * norm, one truncating division per term contribution. dlen is the
    * split-size token count (`len(string_split)`), which equals the
    * WordTfs tf-sum by the keep-empties law — mirroring the engine's
    * cheap stats path.
    */
  private[graft] def bm25Ctes(k1X100: Int, bX100: Int): String = {
    val qRows = SearchQueries
      .map { case (q, t) => s"($q, '${t.replace("'", "''")}')" }
      .mkString(", ")
    s"""bsq(query_id, term) AS (VALUES $qRows),
       |bterms AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
       |  FROM documents WHERE text IS NOT NULL),
       |btf AS (SELECT doc_id, word, count(*) AS tf FROM bterms GROUP BY 1, 2),
       |bdl AS (SELECT doc_id,
       |  CAST(len(string_split(text, ' ')) AS BIGINT) AS dlen
       |  FROM documents WHERE text IS NOT NULL),
       |bst AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(dlen) AS BIGINT) AS tot_len FROM bdl),
       |bmt AS (SELECT btf.doc_id, btf.word, btf.tf FROM btf
       |  JOIN (SELECT DISTINCT term FROM bsq) t ON btf.word = t.term),
       |bdf AS (SELECT word, count(*) AS df FROM bmt GROUP BY 1),
       |bsc AS (SELECT m.doc_id, m.word,
       |  (CAST(length(bin(s.n_docs)) - length(bin(d.df)) AS BIGINT)
       |     * m.tf * ($k1X100 + 100) * 100000000)
       |  // (m.tf * 10000 + $k1X100 *
       |      (100 - $bX100 + ($bX100 * l.dlen * s.n_docs) // s.tot_len))
       |    AS contrib
       |  FROM bmt m JOIN bdf d USING (word) JOIN bdl l USING (doc_id)
       |  CROSS JOIN bst s),
       |bpq AS (SELECT q.query_id, s.doc_id,
       |  CAST(sum(s.contrib) AS BIGINT) AS score,
       |  CAST(count(*) AS BIGINT) AS n_terms
       |  FROM bsc s
       |  JOIN (SELECT DISTINCT query_id, term FROM bsq) q
       |    ON q.term = s.word GROUP BY 1, 2),
       |branked AS (SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
       |  score, n_terms,
       |  CAST(row_number() OVER (PARTITION BY query_id
       |       ORDER BY score DESC, doc_id) AS BIGINT) AS rank FROM bpq)""".stripMargin
  }

  /** Shared by t_ann_lsh and t_ann_lsh_indexed — the persisted index
    * must be bit-identical to inline bucketing, so one oracle serves
    * both.
    */
  private[graft] val annLshSql: String =
    s"""WITH ${lshBucketsCte(tables = 8, planes = 4, dims = 64)},
       |q AS (
       |  SELECT tbl, bucket, vec_id AS query_id
       |  FROM buckets WHERE vec_id < 5),
       |cand AS (
       |  SELECT DISTINCT q.query_id, b.vec_id AS neighbor_id
       |  FROM buckets b JOIN q ON b.tbl = q.tbl AND b.bucket = q.bucket
       |  WHERE b.vec_id <> q.query_id),
       |scored AS (
       |  SELECT c.query_id, c.neighbor_id,
       |         round(${cosine("qe.embedding", "ne.embedding")}, 6) AS cos
       |  FROM cand c
       |  JOIN embeddings qe ON qe.vec_id = c.query_id
       |  JOIN embeddings ne ON ne.vec_id = c.neighbor_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cos,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |              ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
       |  FROM scored)
       |SELECT * FROM ranked WHERE rank <= 10
       |ORDER BY query_id, rank""".stripMargin

  /** Multi-probe variant of [[annLshSql]]: the probe set per (query,
    * table) is the bucket itself plus every 1-bit flip — and, at
    * `probeBits = 2`, every C(planes, 2) 2-bit flip — the same
    * list_prepend/xor expansion the Spark side explodes. The CTE chain
    * (ending at `ranked`) is exposed separately so the hybrid-indexed
    * oracle can compose it beside the BM25 chain; `idPred` selects the
    * query vectors.
    */
  private[graft] def annLshMultiProbeSqlFor(probeBits: Int): String =
    s"""WITH ${annLshMultiProbeCtes(probeBits)}
       |SELECT * FROM ranked WHERE rank <= 10
       |ORDER BY query_id, rank""".stripMargin

  private[graft] def annLshMultiProbeCtes(probeBits: Int,
                                   idPred: String = "vec_id < 5"): String = {
    val oneBitList =
      """list_prepend(bucket,
        |           list_transform(generate_series(0, 3),
        |             i -> xor(bucket, CAST(1 AS BIGINT) << i)))""".stripMargin
    val probeList =
      if (probeBits < 2) oneBitList
      else s"""list_concat($oneBitList,
        |           flatten(list_transform(generate_series(0, 2),
        |             i -> list_transform(generate_series(i + 1, 3),
        |               j -> xor(bucket, (CAST(1 AS BIGINT) << i)
        |                                + (CAST(1 AS BIGINT) << j))))))""".stripMargin
    s"""${lshBucketsCte(tables = 8, planes = 4, dims = 64)},
       |q AS (
       |  SELECT tbl, bucket, vec_id AS query_id
       |  FROM buckets WHERE $idPred),
       |probes AS (
       |  SELECT tbl,
       |         unnest($probeList) AS bucket,
       |         query_id
       |  FROM q),
       |cand AS (
       |  SELECT DISTINCT p.query_id, b.vec_id AS neighbor_id
       |  FROM buckets b JOIN probes p ON b.tbl = p.tbl AND b.bucket = p.bucket
       |  WHERE b.vec_id <> p.query_id),
       |scored AS (
       |  SELECT c.query_id, c.neighbor_id,
       |         round(${cosine("qe.embedding", "ne.embedding")}, 6) AS cos
       |  FROM cand c
       |  JOIN embeddings qe ON qe.vec_id = c.query_id
       |  JOIN embeddings ne ON ne.vec_id = c.neighbor_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cos,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |              ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
       |  FROM scored)""".stripMargin
  }

  /** BPE tokenizer TRAINING replayed in SQL — the Sennrich loop
    * UNROLLED into `n` chained stages (a recursive CTE cannot aggregate
    * over the whole corpus per step, but the oracle SQL is GENERATED,
    * so the loop unrolls at generation time): stage k re-tokenizes the
    * weighted pre-token vocabulary under the k merges learned so far
    * (the same per-rank fixpoint-replace walk as t_token_bpe_merges,
    * parameterized by the mg_k RELATION instead of literal VALUES),
    * counts adjacent pairs weighted by pre-token frequency, and takes
    * the (count DESC, lhs, rhs) argmax as merge k. Exact under the same
    * caveat as the replay oracle: no learned merge may have lhs = rhs
    * (replace() would group an odd run differently than the engine's
    * left-to-right pass) — asserted against this corpus in LlmOpsSpec.
    *
    * Every chain CTE is AS MATERIALIZED: DuckDB inlines CTEs by
    * default, and a recursive walk whose step joins an INLINED mg_k
    * re-evaluates mg_k — and therefore the ENTIRE previous stage's
    * recursion — once per iteration, an exponential blowup that hangs
    * the oracle (measured: >10 min inlined vs 0.2 s materialized at
    * sf0.001). Materialization pins each stage to run exactly once.
    */
  /** Shared by the BPE and WordPiece training oracles: identical
    * walk/pair machinery, ONE substitution in `best$k` — raw-count
    * argmax (BPE) vs the 10¹²-fixed-point likelihood score
    * `n·10¹² // (cₐ·c_b)` over the iteration's symbol counts
    * (WordPiece, `scored = true`).
    */
  /** DuckDB replay of [[graft.functions.ByteLevel]]: the symbol LIST of
    * an expression's UTF-8 bytes under the GPT-2 bytes_to_unicode table
    * — ord() per code point, the arithmetic UTF-8 byte expansion, then
    * the three printable-range CASEs (non-printables 0–32 → 256+b,
    * 127–160 → b+162, 173 → 323: the same increasing-byte-order
    * assignment the Scala table builds).
    */
  private[graft] def byteSymSql(e: String): String =
    s"""list_transform(flatten(list_transform(
       |    regexp_extract_all($e, '[\\s\\S]'),
       |    gch -> CASE WHEN ord(gch) < 128 THEN [ord(gch)]
       |      WHEN ord(gch) < 2048
       |        THEN [192 + ord(gch) // 64, 128 + ord(gch) % 64]
       |      WHEN ord(gch) < 65536 THEN [224 + ord(gch) // 4096,
       |        128 + (ord(gch) // 64) % 64, 128 + ord(gch) % 64]
       |      ELSE [240 + ord(gch) // 262144, 128 + (ord(gch) // 4096) % 64,
       |        128 + (ord(gch) // 64) % 64, 128 + ord(gch) % 64] END)),
       |  gb -> CASE WHEN (gb BETWEEN 33 AND 126) OR (gb BETWEEN 161 AND 172)
       |      OR (gb BETWEEN 174 AND 255) THEN chr(gb)
       |    WHEN gb <= 32 THEN chr(256 + gb)
       |    WHEN gb = 173 THEN chr(323)
       |    ELSE chr(gb + 162) END)""".stripMargin

  /** The delimited starting-symbol string of a pre-token expression:
    * per code point (the engine's default walk) or per GPT-2-mapped
    * UTF-8 byte (`byteLevel`).
    */
  private[graft] def symStringSql(e: String, byteLevel: Boolean): String = {
    val anyChar = "[\\s\\S]"
    val lst = if (byteLevel) byteSymSql(e)
              else s"regexp_extract_all($e, '$anyChar')"
    s"chr(1) || array_to_string($lst, chr(1)) || chr(1)"
  }

  private[graft] def bpeTrainCtes(n: Int, scored: Boolean = false,
                           rel: String = "documents",
                           byteLevel: Boolean = false): String = {
    val pat = TextAnalysis.BpePattern.replace("'", "''")
    val sb = new StringBuilder
    sb.append(
      s"""vocabpt AS MATERIALIZED (
         |  SELECT pt, CAST(count(*) AS BIGINT) AS w FROM (
         |    SELECT unnest(regexp_extract_all(text, '$pat')) AS pt
         |    FROM $rel WHERE text IS NOT NULL) u GROUP BY pt),
         |tbase AS MATERIALIZED (
         |  SELECT pt, w,
         |         ${symStringSql("pt", byteLevel)} AS s
         |  FROM vocabpt),
         |mg0(rank, a, b) AS MATERIALIZED (SELECT 0, '', '' WHERE 1 = 0)""".stripMargin)
    for (k <- 0 until n) {
      sb.append(",\n")
      val bestK =
        if (!scored)
          s"""best$k AS MATERIALIZED (SELECT a, b, n FROM pairs$k ORDER BY n DESC, a, b LIMIT 1)"""
        else
          s"""uni$k AS (SELECT sym, CAST(sum(w) AS BIGINT) AS c FROM (
             |    SELECT w, unnest(toks) AS sym FROM fin$k) q GROUP BY sym),
             |best$k AS MATERIALIZED (
             |  SELECT a, b, n, s FROM (
             |    SELECT p.a, p.b, p.n, (p.n * 1000000000000) // (ua.c * ub.c) AS s
             |    FROM pairs$k p
             |    JOIN uni$k ua ON ua.sym = p.a
             |    JOIN uni$k ub ON ub.sym = p.b) z
             |  ORDER BY s DESC, n DESC, a, b LIMIT 1)""".stripMargin
      sb.append(
        s"""walk$k(pt, w, s, rank) AS (
           |  SELECT pt, w, s, 0 FROM tbase
           |  UNION ALL
           |  SELECT pt, w, new_s,
           |         CASE WHEN new_s = s THEN rank + 1 ELSE rank END
           |  FROM (SELECT wk.pt, wk.w, wk.s, wk.rank,
           |               replace(wk.s, chr(1) || m.a || chr(1) || m.b || chr(1),
           |                             chr(1) || m.a || m.b || chr(1)) AS new_s
           |        FROM walk$k wk JOIN mg$k m ON m.rank = wk.rank
           |        WHERE wk.rank < $k) t),
           |fin$k AS MATERIALIZED (SELECT w, string_split(trim(s, chr(1)), chr(1)) AS toks
           |          FROM walk$k WHERE rank = $k),
           |pairs$k AS (
           |  SELECT p.a AS a, p.b AS b, CAST(sum(w) AS BIGINT) AS n FROM (
           |    SELECT w, unnest(list_transform(generate_series(1, len(toks) - 1),
           |           idx -> struct_pack(a := toks[idx], b := toks[idx + 1]))) AS p
           |    FROM fin$k WHERE len(toks) >= 2) q
           |  GROUP BY p.a, p.b),
           |$bestK,
           |mg${k + 1}(rank, a, b) AS MATERIALIZED (
           |  SELECT rank, a, b FROM mg$k
           |  UNION ALL SELECT $k, a, b FROM best$k)""".stripMargin)
    }
    sb.toString
  }

  /** Unrolled DuckDB replay of [[TextAnalysis.learnUnigramLm]] — the
    * unigram-LM (SentencePiece-style) training loop, bit-for-bit:
    * weighted pre-token vocabulary → block cut → seed substring counts
    * (top `seeds` ∪ all single chars) → per EM round, integer
    * surprisal bits (the NB bit law), an exact suffix-distance Viterbi
    * DP unrolled to [[TextAnalysis.UnigramBlockLen]] levels with the
    * engine's tie-break (`ORDER BY cost ASC, l DESC`), a recursive
    * walk that re-reads the chosen piece chain, and weighted usage
    * recounts — with the char-fallback likelihood-loss prune between
    * rounds. `withFinalSeg` additionally runs the inference DP under
    * the FINAL bits and emits `usegF(block, pos, piece)` — the
    * tokenize oracle's per-block segmentation relation.
    */
  /** Exact suffix-distance Viterbi DP + walk under tag `t`'s bits
    * relations (`ubits$t`/`uunk$t`) over `blocksRel` (a relation with a
    * block column `b`) → `useg$t(block, pos, piece)`. Extracted from
    * [[unigramCtes]] so inference can run over blocks BEYOND the
    * training corpus (the t_tokenizer_coverage planted-OOV corpus).
    */
  private[graft] def unigramDpCtes(t: String,
                            blocksRel: String = "ublocks"): String = {
    val L = 4
    val K = TextAnalysis.UnigramBlockLen
    val levels = (1 to K).map { d =>
      val branches = (1 to math.min(L, d)).map { l =>
        val pieceExpr = s"substr(bl.b, length(bl.b) - $d + 1, $l)"
        if (l == 1)
          s"""      SELECT bl.b AS block, coalesce(bb.bits, uu.bits) + pv.cost AS cost,
             |             1 AS l, $pieceExpr AS piece
             |      FROM $blocksRel bl CROSS JOIN uunk$t uu
             |      LEFT JOIN ubits$t bb ON bb.piece = $pieceExpr
             |      JOIN udp${t}_${d - 1} pv ON pv.block = bl.b
             |      WHERE length(bl.b) >= $d""".stripMargin
        else
          s"""      SELECT bl.b AS block, bb.bits + pv.cost AS cost,
             |             $l AS l, $pieceExpr AS piece
             |      FROM $blocksRel bl
             |      JOIN ubits$t bb ON bb.piece = $pieceExpr
             |      JOIN udp${t}_${d - l} pv ON pv.block = bl.b
             |      WHERE length(bl.b) >= $d""".stripMargin
      }.mkString("\n      UNION ALL\n")
      s"""udp${t}_$d AS MATERIALIZED (
         |  SELECT block, cost, l, piece FROM (
         |    SELECT q.*, row_number() OVER (PARTITION BY q.block
         |             ORDER BY q.cost ASC, q.l DESC) AS rn FROM (
         |$branches
         |    ) q) z WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""udp${t}_0 AS (SELECT b AS block, CAST(0 AS BIGINT) AS cost FROM $blocksRel),
       |$levels,
       |udpall$t AS MATERIALIZED (
       |${(1 to K).map(d => s"  SELECT block, $d AS d, l, piece FROM udp${t}_$d")
           .mkString("\n  UNION ALL\n")}),
       |uwalk$t(block, d, piece, pos) AS (
       |  SELECT b, length(b), CAST(NULL AS VARCHAR), CAST(0 AS BIGINT) FROM $blocksRel
       |  UNION ALL
       |  SELECT w.block, w.d - a.l, a.piece,
       |         CAST(length(w.block) - w.d AS BIGINT)
       |  FROM uwalk$t w JOIN udpall$t a ON a.block = w.block AND a.d = w.d
       |  WHERE w.d > 0),
       |useg$t AS MATERIALIZED (
       |  SELECT block, pos, piece FROM uwalk$t WHERE piece IS NOT NULL)""".stripMargin
  }

  /** The pre-token expression of the unigram chain: raw, or GPT-2
    * byte-encoded (each UTF-8 byte one mapped char, [[byteSymSql]]
    * joined back to a string) so every downstream substr/length counts
    * byte symbols.
    */
  private[graft] def uniPtExpr(e: String, byteLevel: Boolean): String =
    if (byteLevel) s"array_to_string(${byteSymSql(e)}, '')" else e

  private[graft] def unigramCtes(seeds: Int, vocab: Int, withFinalSeg: Boolean,
                          rel: String = "documents",
                          byteLevel: Boolean = false): String = {
    val pat = TextAnalysis.BpePattern.replace("'", "''")
    val L = 4
    val K = TextAnalysis.UnigramBlockLen
    val sb = new StringBuilder
    sb.append(
      s"""vocabpt AS MATERIALIZED (
         |  SELECT pt, CAST(count(*) AS BIGINT) AS w FROM (
         |    SELECT ${uniPtExpr("pt0", byteLevel)} AS pt FROM (
         |      SELECT unnest(regexp_extract_all(text, '$pat')) AS pt0
         |      FROM $rel WHERE text IS NOT NULL) u0) u GROUP BY pt),
         |ublocks AS MATERIALIZED (
         |  SELECT b, CAST(sum(w) AS BIGINT) AS w FROM (
         |    SELECT unnest(list_transform(generate_series(0, (length(pt) - 1) // $K),
         |           bi -> substr(pt, bi * $K + 1, $K))) AS b, w
         |    FROM vocabpt) u GROUP BY b),
         |usubs AS MATERIALIZED (
         |  SELECT piece, CAST(sum(w) AS BIGINT) AS cnt FROM (
         |    SELECT w, unnest(flatten(list_transform(generate_series(1, length(b)),
         |           p -> list_transform(generate_series(1, least($L, length(b) - p + 1)),
         |                l -> substr(b, p, l))))) AS piece
         |    FROM ublocks) u GROUP BY piece),
         |useeds AS (SELECT piece, cnt FROM usubs ORDER BY cnt DESC, piece LIMIT $seeds),
         |uchars AS (SELECT piece, cnt FROM usubs WHERE length(piece) = 1),
         |uinv0 AS MATERIALIZED (SELECT DISTINCT piece, cnt FROM (
         |  SELECT * FROM useeds UNION ALL SELECT * FROM uchars) z)""".stripMargin)

    // bits + unk of an inventory relation, under tag `t`
    def bitsCtes(t: String, invRel: String): String =
      s"""utot$t AS (SELECT CAST(sum(cnt) + count(*) AS BIGINT) AS t FROM $invRel),
         |ubits$t AS MATERIALIZED (
         |  SELECT piece, CAST(length(bin(tt.t)) - length(bin(cnt + 1)) AS BIGINT) AS bits
         |  FROM $invRel CROSS JOIN utot$t tt),
         |uunk$t AS (SELECT CAST(length(bin(t)) AS BIGINT) AS bits FROM utot$t)""".stripMargin

    def dpCtes(t: String): String = unigramDpCtes(t)

    def countCtes(t: String): String =
      s"""ucnt$t AS (SELECT s.piece, CAST(sum(bl.w) AS BIGINT) AS cnt
         |  FROM useg$t s JOIN ublocks bl ON bl.b = s.block GROUP BY s.piece)""".stripMargin

    // round 1: bits from uinv0, E-step, M-step, PRUNE → uinv1
    sb.append(",\n").append(bitsCtes("1", "uinv0"))
    sb.append(",\n").append(dpCtes("1"))
    sb.append(",\n").append(countCtes("1"))
    sb.append(",\n").append(
      s"""uinvm1 AS MATERIALIZED (
         |  SELECT i.piece, CAST(coalesce(c.cnt, 0) AS BIGINT) AS cnt
         |  FROM uinv0 i LEFT JOIN ucnt1 c USING (piece)),
         |upch AS (SELECT piece, unnest(list_transform(generate_series(1, length(piece)),
         |    i -> substr(piece, i, 1))) AS ch FROM uinvm1 WHERE length(piece) > 1),
         |upcb AS (SELECT p.piece, CAST(sum(coalesce(b2.bits, u.bits)) AS BIGINT) AS charbits
         |  FROM upch p CROSS JOIN uunk1 u
         |  LEFT JOIN ubits1 b2 ON b2.piece = p.ch GROUP BY p.piece),
         |uloss AS (SELECT m.piece, m.cnt, m.cnt * (cb.charbits - b1.bits) AS loss
         |  FROM uinvm1 m JOIN upcb cb USING (piece)
         |  JOIN ubits1 b1 ON b1.piece = m.piece),
         |ukeepn AS (SELECT CAST($vocab AS BIGINT) - count(*) AS n
         |  FROM uinvm1 WHERE length(piece) = 1),
         |ukept AS (SELECT piece, cnt FROM (
         |    SELECT piece, cnt, row_number() OVER (ORDER BY loss DESC, cnt DESC, piece) AS rn
         |    FROM uloss) z CROSS JOIN ukeepn WHERE rn <= n),
         |uinv1 AS MATERIALIZED (
         |  SELECT piece, cnt FROM uinvm1 WHERE length(piece) = 1
         |  UNION ALL SELECT piece, cnt FROM ukept)""".stripMargin)
    // round 2: bits from uinv1, E-step, M-step → uinv2 (final counts)
    sb.append(",\n").append(bitsCtes("2", "uinv1"))
    sb.append(",\n").append(dpCtes("2"))
    sb.append(",\n").append(countCtes("2"))
    sb.append(",\n").append(
      s"""uinv2 AS MATERIALIZED (
         |  SELECT i.piece, CAST(coalesce(c.cnt, 0) AS BIGINT) AS cnt
         |  FROM uinv1 i LEFT JOIN ucnt2 c USING (piece))""".stripMargin)
    // final bits (the returned inventory's), + optional inference DP
    sb.append(",\n").append(bitsCtes("F", "uinv2"))
    if (withFinalSeg) sb.append(",\n").append(dpCtes("F"))
    sb.toString
  }

  private[graft] def unigramTrainSql(rel: String = "documents",
                              byteLevel: Boolean = false,
                              prefixCtes: String = ""): String =
    s"""WITH RECURSIVE $prefixCtes${unigramCtes(UnigramSeeds, UnigramVocab,
           withFinalSeg = false, rel, byteLevel)}
       |SELECT CAST(row_number() OVER (ORDER BY f.cnt DESC, f.piece) - 1 AS BIGINT) AS rank,
       |       f.piece, f.cnt, b.bits
       |FROM uinv2 f JOIN ubitsF b USING (piece)
       |ORDER BY rank""".stripMargin

  private[graft] def unigramTokenizeSql(rel: String = "documents",
                                 byteLevel: Boolean = false,
                                 prefixCtes: String = ""): String = {
    val pat = TextAnalysis.BpePattern.replace("'", "''")
    val K = TextAnalysis.UnigramBlockLen
    s"""WITH RECURSIVE $prefixCtes${unigramCtes(UnigramSeeds, UnigramVocab,
           withFinalSeg = true, rel, byteLevel)},
       |udpts AS (
       |  SELECT doc_id, x.i AS i, ${uniPtExpr("x.pt", byteLevel)} AS pt
       |  FROM (SELECT doc_id,
       |          unnest(list_transform(regexp_extract_all(text, '$pat'),
       |                 (y, ii) -> struct_pack(pt := y, i := ii))) AS x
       |        FROM $rel) s),
       |udblk AS (
       |  SELECT doc_id, i, bi, substr(pt, bi * $K + 1, $K) AS b
       |  FROM (SELECT doc_id, i, pt,
       |          unnest(generate_series(0, (length(pt) - 1) // $K)) AS bi
       |        FROM udpts) t),
       |uper_doc AS (
       |  SELECT doc_id,
       |         string_agg(piece, chr(1) ORDER BY i, bi, pos) AS learned_tokens,
       |         CAST(count(*) AS BIGINT) AS n FROM (
       |    SELECT d.doc_id, d.i, d.bi, s.pos, s.piece
       |    FROM udblk d JOIN usegF s ON s.block = d.b) q
       |  GROUP BY doc_id)
       |SELECT d.doc_id,
       |       coalesce(p.learned_tokens, '') AS learned_tokens,
       |       CAST(coalesce(p.n, 0) AS BIGINT) AS n_learned_tokens
       |FROM documents d LEFT JOIN uper_doc p ON p.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Per-domain OOV coverage under the learned unigram inventory, over
    * a corpus with PLANTED out-of-alphabet chars (' ~~~' appended to
    * every 5th doc — '~' never occurs in the corpus, so each planted
    * doc yields exactly 3 unknown-fallback pieces). The final-bits
    * Viterbi DP runs over the MEASURED corpus's distinct blocks
    * (unigramDpCtes with a custom blocks relation), not the training
    * blocks — inference and training corpora differ here by design.
    */
  private[graft] def tokenizerCoverageSql: String = {
    val pat = TextAnalysis.BpePattern.replace("'", "''")
    val K = TextAnalysis.UnigramBlockLen
    s"""WITH RECURSIVE ${unigramCtes(UnigramSeeds, UnigramVocab, withFinalSeg = false)},
       |cvdocs AS (SELECT source,
       |    CASE WHEN doc_id % 5 = 0 THEN text || ' ~~~' ELSE text END AS text
       |  FROM documents WHERE text IS NOT NULL AND source IS NOT NULL),
       |cvblk AS (
       |  SELECT source, substr(pt, bi * $K + 1, $K) AS b
       |  FROM (SELECT source, pt,
       |          unnest(generate_series(0, (length(pt) - 1) // $K)) AS bi
       |        FROM (SELECT source,
       |                unnest(regexp_extract_all(text, '$pat')) AS pt
       |              FROM cvdocs) p) t),
       |cvball AS (SELECT DISTINCT b FROM cvblk),
       |${unigramDpCtes("F", "cvball")},
       |cvo AS (SELECT c.source,
       |    CASE WHEN v.piece IS NULL THEN 1 ELSE 0 END AS oov
       |  FROM cvblk c JOIN usegF s ON s.block = c.b
       |  LEFT JOIN uinv2 v ON v.piece = s.piece)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_pieces,
       |  CAST(sum(oov) AS BIGINT) AS n_oov,
       |  CAST(sum(oov) * 1000000 // count(*) AS BIGINT) AS oov_ppm
       |FROM cvo GROUP BY source ORDER BY source""".stripMargin
  }

  private[graft] def bpeTrainSql(n: Int, rel: String = "documents",
                          byteLevel: Boolean = false,
                          prefixCtes: String = ""): String = {
    val learned = (0 until n).map(k =>
      s"SELECT CAST($k AS BIGINT) AS rank, a AS lhs, b AS rhs, n FROM best$k")
      .mkString("\nUNION ALL\n")
    s"""WITH RECURSIVE $prefixCtes${bpeTrainCtes(n, scored = false, rel, byteLevel)}
       |SELECT * FROM (
       |$learned
       |) ORDER BY rank""".stripMargin
  }

  private[graft] def wordPieceTrainSql(n: Int, rel: String = "documents",
                                byteLevel: Boolean = false,
                                prefixCtes: String = ""): String = {
    val learned = (0 until n).map(k =>
      s"SELECT CAST($k AS BIGINT) AS rank, a AS lhs, b AS rhs, n, s AS score_fp FROM best$k")
      .mkString("\nUNION ALL\n")
    s"""WITH RECURSIVE $prefixCtes${bpeTrainCtes(n, scored = true, rel, byteLevel)}
       |SELECT * FROM (
       |$learned
       |) ORDER BY rank""".stripMargin
  }

  /** Tokenize the corpus under the TRAINED table (mg_n as the walk's
    * merge relation over full documents) — proves the learn → tokenize
    * composition end to end, the full tokenizer lifecycle.
    */
  private[graft] def bpeTrainTokenizeSql(n: Int, scored: Boolean = false,
                                  rel: String = "documents",
                                  byteLevel: Boolean = false,
                                  prefixCtes: String = ""): String = {
    val pat = TextAnalysis.BpePattern.replace("'", "''")
    s"""WITH RECURSIVE $prefixCtes${bpeTrainCtes(n, scored, rel, byteLevel)},
       |dpts AS (
       |  SELECT doc_id, x.i AS i, x.pt AS pt
       |  FROM (SELECT doc_id,
       |          unnest(list_transform(regexp_extract_all(text, '$pat'),
       |                 (y, ii) -> struct_pack(pt := y, i := ii))) AS x
       |        FROM $rel) s),
       |dwalk(doc_id, i, s, rank) AS (
       |  SELECT doc_id, i,
       |         ${symStringSql("pt", byteLevel)},
       |         0
       |  FROM dpts
       |  UNION ALL
       |  SELECT doc_id, i, new_s,
       |         CASE WHEN new_s = s THEN rank + 1 ELSE rank END
       |  FROM (SELECT wk.doc_id, wk.i, wk.s, wk.rank,
       |               replace(wk.s, chr(1) || m.a || chr(1) || m.b || chr(1),
       |                             chr(1) || m.a || m.b || chr(1)) AS new_s
       |        FROM dwalk wk JOIN mg$n m ON m.rank = wk.rank
       |        WHERE wk.rank < $n) t),
       |dfin AS (SELECT doc_id, i, trim(s, chr(1)) AS toks
       |         FROM dwalk WHERE rank = $n),
       |per_doc AS (
       |  SELECT doc_id,
       |         string_agg(toks, chr(1) ORDER BY i) AS learned_tokens,
       |         CAST(sum(len(string_split(toks, chr(1)))) AS BIGINT) AS n_learned_tokens
       |  FROM dfin GROUP BY doc_id)
       |SELECT d.doc_id,
       |       coalesce(p.learned_tokens, '') AS learned_tokens,
       |       CAST(coalesce(p.n_learned_tokens, 0) AS BIGINT) AS n_learned_tokens
       |FROM $rel d LEFT JOIN per_doc p ON p.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Shared by t_ann_ivf and t_ann_ivf_indexed — ditto: the persisted
    * quantizer + inverted lists round-trip parquet exactly.
    * `trainRel` parameterizes the quantizer's training relation so the
    * append-lifecycle oracle (frozen quantizer trained on the initial
    * half, delta assigned later) replays the same arithmetic.
    */
  private[graft] def annIvfSqlFor(trainRel: String): String =
    s"""WITH ${ivfCtes(k = 16, nProbe = 6, queryPred = "vec_id < 5", trainRel)},
       |cand AS (
       |  SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
       |  FROM assigned a JOIN probes p ON a.cell = p.cell
       |  WHERE a.vec_id <> p.query_id),
       |scored AS (
       |  SELECT c.query_id, c.neighbor_id,
       |         round(${cosine("qe.embedding", "ne.embedding")}, 6) AS cos
       |  FROM cand c
       |  JOIN embeddings qe ON qe.vec_id = c.query_id
       |  JOIN embeddings ne ON ne.vec_id = c.neighbor_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cos,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |              ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
       |  FROM scored)
       |SELECT * FROM ranked WHERE rank <= 10
       |ORDER BY query_id, rank""".stripMargin

  private[graft] val annIvfSql: String = annIvfSqlFor("embeddings")

  /** The append-lifecycle cut: index built on the first half of the
    * corpus, the rest appended as a delta (LSH: pure re-bucketing; IVF:
    * frozen quantizer trained on the first half only).
    */
  private[graft] val AppendCut = 250L

  def lshAppendIndexFor(s: org.apache.spark.sql.SparkSession, d: String): String =
    synchronized {
      val name = "graft_lshap_" + dirStem(d)
      if (!builtIndexes.contains(name)) {
        val emb = Tables.embeddings(s, d)
        Similarity.buildLshIndex(emb.filter(col("vec_id") < AppendCut), name,
          planes = 4, dims = 64)
        Similarity.appendToLshIndex(emb.filter(col("vec_id") >= AppendCut), name,
          planes = 4, dims = 64)
        builtIndexes += name
      }
      name
    }

  def ivfAppendIndexFor(s: org.apache.spark.sql.SparkSession, d: String): String =
    synchronized {
      val name = "graft_ivfap_" + dirStem(d)
      if (!builtIndexes.contains(name)) {
        val emb = Tables.embeddings(s, d)
        Similarity.buildIvfIndex(emb.filter(col("vec_id") < AppendCut), name,
          centroids = 16)
        Similarity.appendToIvfIndex(emb.filter(col("vec_id") >= AppendCut), name)
        builtIndexes += name
      }
      name
    }

  /** The gate-oracle split: the store is seeded (through the gate's own
    * admit pipeline) from EVEN doc ids; the probed batch is a 10% slice
    * of odd ids (micro-batch-sized, as the gate runs in production)
    * plus a few redelivered evens so the id-anti-join path is
    * exercised.
    */
  private[graft] val GateStorePred = "doc_id % 2 = 0"
  private[graft] val GateBatchPred = "doc_id % 10 = 1 OR doc_id <= 4"

  def gateStoreFor(s: org.apache.spark.sql.SparkSession, d: String): String =
    synchronized {
      val name = "graft_gate_" + dirStem(d)
      if (!builtIndexes.contains(name)) {
        val seed = Tables.documents(s, d).filter(expr(GateStorePred))
        graft.streaming.IngestDedupGate.appendToStore(
          graft.streaming.IngestDedupGate.filterNovel(seed, name), name)
        builtIndexes += name
      }
      name
    }

  /** The closed 4-batch EVAL-COUNTER log per (JVM, sf dir): the quality
    * classifier's preds vs the rule teacher, folded through
    * [[graft.streaming.EvalStream.mergeBatch]] in hash "arrival order"
    * (Sampling.bucket decorrelates batches from source), with epoch 2
    * REDELIVERED mid-log — the skip law must drop it (required fail-
    * loud), so the maintained cells equal ONE single-pass aggregation
    * over the closed log, which is exactly what the t_eval_stream /
    * t_eval_stream_confusion oracles compute in SQL.
    */
  def evalCellsFor(s: org.apache.spark.sql.SparkSession, d: String): String =
    synchronized {
      val name = "graft_evalc_" + dirStem(d)
      if (!builtIndexes.contains(name)) {
        val docs = Tables.documents(s, d)
        val cls = TextAnalysis.classifyWith(docs,
          TextAnalysis.loadNbBundle(s, qualityBundleFor(s, d)))
        val scored = docs.filter(col("text").isNotNull)
          .select(col("doc_id"), col("source"),
            when(TextAnalysis.qualityScore(col("text")) >= 3, lit("good"))
              .otherwise(lit("bad")).as("ref"))
          .join(cls.select(col("doc_id"), col("pred")), "doc_id")
          .withColumn("__eb", graft.ext.Sampling.bucket(col("doc_id")) % 4)
        Seq(0L -> "merged", 1L -> "merged", 2L -> "merged",
          2L -> "skipped_replay", 3L -> "merged").foreach { case (e, want) =>
          val ev = graft.streaming.EvalStream.mergeBatch(
            scored.filter(col("__eb") === e).drop("__eb"), name, e)
          require(ev.action == want,
            s"evalCellsFor: epoch $e expected $want, got ${ev.action}")
        }
        builtIndexes += name
      }
      name
    }

  /** The closed 4-batch CMS log per (JVM, sf dir) — the
    * [[evalCellsFor]] fixture for
    * [[graft.streaming.SketchStream.mergeCmsBatch]]: same hash-order
    * batches, same mid-log redelivery of epoch 2 (the sum-merge's skip
    * law must drop it or t_cms_stream's mass invariant breaks by
    * exactly that batch's token count).
    */
  def cmsStreamFor(s: org.apache.spark.sql.SparkSession, d: String): String =
    synchronized {
      val name = "graft_cmsst_" + dirStem(d)
      if (!builtIndexes.contains(name)) {
        val docs = Tables.documents(s, d)
          .withColumn("__cb", graft.ext.Sampling.bucket(col("doc_id")) % 4)
        Seq(0L -> "merged", 1L -> "merged", 2L -> "merged",
          2L -> "skipped_replay", 3L -> "merged").foreach { case (e, want) =>
          val ev = graft.streaming.SketchStream.mergeCmsBatch(
            docs.filter(col("__cb") === e).drop("__cb"), name, e)
          require(ev.action == want,
            s"cmsStreamFor: epoch $e expected $want, got ${ev.action}")
        }
        builtIndexes += name
      }
      name
    }

  /** Per-(JVM, fixture) ManifestStore temp dirs for the streaming prep
    * builders — dirs, not catalog tables, so they memoize separately
    * from [[builtIndexes]].
    */
  private val streamStoreDirs = scala.collection.mutable.Map[String, String]()

  /** The closed 4-batch DPO-response log per (JVM, sf dir), folded
    * through [[graft.streaming.PreferenceStream.mergeDpoBatch]] — the
    * t_dpo_pairs fixture (source = prompt, quality = score) in hash
    * "arrival order", with epoch 2 REDELIVERED mid-log (the epoch-keyed
    * store overwrites its own rows — idempotent by construction, which
    * t_dpo_stream's hash equality with the one-pass oracle proves).
    */
  def dpoStreamFor(s: org.apache.spark.sql.SparkSession, d: String): String =
    synchronized {
      streamStoreDirs.getOrElseUpdate("dpo_" + dirStem(d), {
        val dir = java.nio.file.Files
          .createTempDirectory("graft_dpostream_").toString
        val resp = Tables.documents(s, d).filter(col("text").isNotNull)
          .select(col("source").as("prompt_id"), col("doc_id"),
            TextAnalysis.qualityScore(col("text")).cast("long").as("score"))
          .withColumn("__b", graft.ext.Sampling.bucket(col("doc_id")) % 4)
        Seq(0L, 1L, 2L, 2L, 3L).foreach { e =>
          graft.streaming.PreferenceStream.mergeDpoBatch(
            resp.filter(col("__b") === e).drop("__b"), dir, e, "doc_id")
        }
        dir
      })
    }

  /** The closed chat-turn log per (JVM, sf dir), folded through
    * [[graft.streaming.PreferenceStream.mergeChatBatch]]: the
    * t_chat_render fixture split into 4 hash-order batches, epoch 2
    * redelivered, plus an EDIT batch (epoch 4) re-sending turn 0 of
    * every 7th conversation with an 'EDITED ' prefix — the
    * latest-epoch-wins law t_chat_stream's oracle replays as a CASE.
    */
  def chatStreamFor(s: org.apache.spark.sql.SparkSession, d: String): String =
    synchronized {
      streamStoreDirs.getOrElseUpdate("chat_" + dirStem(d), {
        val dir = java.nio.file.Files
          .createTempDirectory("graft_chatstream_").toString
        val docs = Tables.documents(s, d)
          .withColumn("__b", graft.ext.Sampling.bucket(col("doc_id")) % 4)
        Seq(0L, 1L, 2L, 2L, 3L).foreach { e =>
          graft.streaming.PreferenceStream.mergeChatBatch(
            chatTurnsOf(docs.filter(col("__b") === e).drop("__b")),
            dir, e)
        }
        graft.streaming.PreferenceStream.mergeChatBatch(
          chatTurnsOf(Tables.documents(s, d)
            .filter(col("doc_id") % 28 === 0)
            .withColumn("text", concat(lit("EDITED "), col("text")))),
          dir, 4L)
        dir
      })
    }

  def pqIndexFor(s: org.apache.spark.sql.SparkSession, d: String): String =
    synchronized {
      val name = "graft_pq_" + dirStem(d)
      if (!builtIndexes.contains(name)) {
        Similarity.buildPqIndex(Tables.embeddings(s, d), name,
          m = 8, codebookSize = 16, dims = 64)
        builtIndexes += name
      }
      name
    }

  def pqAppendIndexFor(s: org.apache.spark.sql.SparkSession, d: String): String =
    synchronized {
      val name = "graft_pqap_" + dirStem(d)
      if (!builtIndexes.contains(name)) {
        val emb = Tables.embeddings(s, d)
        Similarity.buildPqIndex(emb.filter(col("vec_id") < AppendCut), name,
          m = 8, codebookSize = 16, dims = 64)
        Similarity.appendToPqIndex(emb.filter(col("vec_id") >= AppendCut), name,
          m = 8, dims = 64)
        builtIndexes += name
      }
      name
    }

  def ivfPqIndexFor(s: org.apache.spark.sql.SparkSession, d: String): String =
    synchronized {
      val name = "graft_ivfpq_" + dirStem(d)
      if (!builtIndexes.contains(name)) {
        Similarity.buildIvfPqIndex(Tables.embeddings(s, d), name,
          centroids = 16, m = 8, codebookSize = 16, dims = 64)
        builtIndexes += name
      }
      name
    }

  def ivfPqAppendIndexFor(s: org.apache.spark.sql.SparkSession, d: String): String =
    synchronized {
      val name = "graft_ivfpqap_" + dirStem(d)
      if (!builtIndexes.contains(name)) {
        val emb = Tables.embeddings(s, d)
        Similarity.buildIvfPqIndex(emb.filter(col("vec_id") < AppendCut), name,
          centroids = 16, m = 8, codebookSize = 16, dims = 64)
        Similarity.appendToIvfPqIndex(emb.filter(col("vec_id") >= AppendCut),
          name, m = 8, dims = 64)
        builtIndexes += name
      }
      name
    }

  /** Shared by t_ann_pq / t_ann_pq_indexed / t_ann_pq_appended: the
    * oracle retrains the m codebooks on `trainRel` (the full corpus for
    * build-at-once, the pre-append half for the frozen-codebook append
    * replay), re-encodes the WHOLE corpus and replays every quantized
    * score.
    */
  private[graft] def annPqSqlFor(trainRel: String): String =
    s"""WITH ${pqCtes(m = 8, sub = 8, k = 16, queryPred = "q.vec_id < 5",
                      trainRel = trainRel)},
       |scores AS (
       |  SELECT query_id, vec_id AS neighbor_id,
       |         CAST(SUM(pd) AS BIGINT) AS score
       |  FROM pqparts WHERE query_id <> vec_id GROUP BY 1, 2),
       |ranked AS (
       |  SELECT query_id, neighbor_id, score,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |              ORDER BY score DESC, neighbor_id) AS BIGINT) AS rank
       |  FROM scores)
       |SELECT * FROM ranked WHERE rank <= 10
       |ORDER BY query_id, rank""".stripMargin

  private[graft] val annPqSql: String = annPqSqlFor("embeddings")

  /** t_ann_pq_rerank: the proven PQ CTE chain selects the ADC top-30
    * window (score-desc, neighbor-id tiebreak — the exact rule
    * rankTopK applies), then the window's true vectors join back for
    * the round-6 exact-cosine rerank.
    */
  private[graft] val annPqRerankSql: String =
    s"""WITH ${pqCtes(m = 8, sub = 8, k = 16, queryPred = "q.vec_id < 5",
                      trainRel = "embeddings")},
       |scores AS (
       |  SELECT query_id, vec_id AS neighbor_id,
       |         CAST(SUM(pd) AS BIGINT) AS score
       |  FROM pqparts WHERE query_id <> vec_id GROUP BY 1, 2),
       |window_cand AS (
       |  SELECT query_id, neighbor_id,
       |         row_number() OVER (PARTITION BY query_id
       |              ORDER BY score DESC, neighbor_id) AS arank
       |  FROM scores),
       |exact AS (
       |  SELECT c.query_id, c.neighbor_id,
       |         round(${cosine("qe.embedding", "ne.embedding")}, 6) AS cos
       |  FROM window_cand c
       |  JOIN embeddings qe ON qe.vec_id = c.query_id
       |  JOIN embeddings ne ON ne.vec_id = c.neighbor_id
       |  WHERE c.arank <= 30),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cos,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |              ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
       |  FROM exact)
       |SELECT * FROM ranked WHERE rank <= 10
       |ORDER BY query_id, rank""".stripMargin

  /** Shared by t_ann_ivfpq / t_ann_ivfpq_indexed / t_ann_ivfpq_appended:
    * the composite of the two proven CTE generators (prefix-isolated),
    * with BOTH quantizers trained on `trainRel`.
    */
  private[graft] def annIvfPqSqlFor(trainRel: String): String =
    s"""WITH ${ivfCtes(k = 16, nProbe = 6, queryPred = "vec_id < 5", trainRel)},
       |${pqCtes(m = 8, sub = 8, k = 16, queryPred = "q.vec_id < 5",
                 prefix = "x", trainRel = trainRel)},
       |cand AS (
       |  SELECT DISTINCT p.query_id, a.vec_id
       |  FROM assigned a JOIN probes p ON a.cell = p.cell
       |  WHERE a.vec_id <> p.query_id),
       |scores AS (
       |  SELECT c.query_id, c.vec_id AS neighbor_id,
       |         CAST(SUM(pp.pd) AS BIGINT) AS score
       |  FROM cand c JOIN xpqparts pp
       |    ON pp.query_id = c.query_id AND pp.vec_id = c.vec_id
       |  GROUP BY 1, 2),
       |ranked AS (
       |  SELECT query_id, neighbor_id, score,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |              ORDER BY score DESC, neighbor_id) AS BIGINT) AS rank
       |  FROM scores)
       |SELECT * FROM ranked WHERE rank <= 10
       |ORDER BY query_id, rank""".stripMargin

  private[graft] val annIvfPqSql: String = annIvfPqSqlFor("embeddings")

  /** t_ann_ivfpq_rerank: the composite CTE chain selects the ADC top-30
    * window per query over the probe-pruned candidates (score-desc,
    * neighbor-id tiebreak — rankTopK's rule), then only the window's
    * true vectors join back for the round-6 exact-cosine rerank.
    */
  private[graft] val annIvfPqRerankSql: String =
    s"""WITH ${ivfCtes(k = 16, nProbe = 6, queryPred = "vec_id < 5", "embeddings")},
       |${pqCtes(m = 8, sub = 8, k = 16, queryPred = "q.vec_id < 5",
                 prefix = "x", trainRel = "embeddings")},
       |cand AS (
       |  SELECT DISTINCT p.query_id, a.vec_id
       |  FROM assigned a JOIN probes p ON a.cell = p.cell
       |  WHERE a.vec_id <> p.query_id),
       |scores AS (
       |  SELECT c.query_id, c.vec_id AS neighbor_id,
       |         CAST(SUM(pp.pd) AS BIGINT) AS score
       |  FROM cand c JOIN xpqparts pp
       |    ON pp.query_id = c.query_id AND pp.vec_id = c.vec_id
       |  GROUP BY 1, 2),
       |window_cand AS (
       |  SELECT query_id, neighbor_id,
       |         row_number() OVER (PARTITION BY query_id
       |              ORDER BY score DESC, neighbor_id) AS arank
       |  FROM scores),
       |exact AS (
       |  SELECT c.query_id, c.neighbor_id,
       |         round(${cosine("qe.embedding", "ne.embedding")}, 6) AS cos
       |  FROM window_cand c
       |  JOIN embeddings qe ON qe.vec_id = c.query_id
       |  JOIN embeddings ne ON ne.vec_id = c.neighbor_id
       |  WHERE c.arank <= 30),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cos,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |              ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
       |  FROM exact)
       |SELECT * FROM ranked WHERE rank <= 10
       |ORDER BY query_id, rank""".stripMargin

  private[graft] val HalfCorpus = s"(SELECT * FROM embeddings WHERE vec_id < $AppendCut)"

  /** CTE chain of the char-trigram NB language-ID classifier over
    * `documents` (shared by t_nb_langid and t_lang_mix): re-encoded
    * code-point trigrams, add-one-smoothed per-label model, ranked
    * per-doc labels in `nrk` (rn = 1 is the argmin) and the
    * prior-only ranking `npk` for the null-text fallback.
    */
  private[graft] def nbLangIdCtes: String = nbLangIdCtesFor("documents", "doc_id")

  /** Shared verbatim by t_nb_langid (in-session training) and
    * t_nb_langid_persisted (char3 bundle round-tripped through disk) —
    * one SQL gating that both paths classify identically, the
    * nbClassifyLangSql pattern for the char-trigram space.
    */
  private[graft] lazy val nbLangIdSql: String =
    s"""WITH $nbLangIdCtes
       |SELECT d.doc_id,
       |  coalesce(r.label, p.label) AS pred,
       |  CAST(coalesce(r.bits, p.prior_bits) AS BIGINT) AS bits,
       |  CAST(CASE WHEN r.doc_id IS NOT NULL
       |            THEN coalesce(r.nxt - r.bits, 0)
       |            ELSE coalesce(p.nxt - p.prior_bits, 0) END AS BIGINT)
       |    AS margin,
       |  coalesce(r.n_tokens, 0) AS n_tokens
       |FROM documents d
       |LEFT JOIN (SELECT * FROM nrk WHERE rn = 1) r USING (doc_id)
       |CROSS JOIN (SELECT * FROM npk WHERE rn = 1) p
       |ORDER BY d.doc_id""".stripMargin

  /** Shared by t_domain_lang_mix and its persisted-bundle twin. */
  private[graft] lazy val domainLangMixSql: String =
    s"""WITH $nbLangIdCtes,
       |dlp AS (SELECT d.doc_id, d.source,
       |    coalesce(r.label, p.label) AS pred
       |  FROM documents d
       |  LEFT JOIN (SELECT * FROM nrk WHERE rn = 1) r USING (doc_id)
       |  CROSS JOIN (SELECT * FROM npk WHERE rn = 1) p
       |  WHERE d.source IS NOT NULL),
       |dlc AS (SELECT source, pred, CAST(count(*) AS BIGINT) AS c
       |  FROM dlp GROUP BY 1, 2),
       |dlr AS (SELECT source, pred, c,
       |    row_number() OVER (PARTITION BY source
       |      ORDER BY c DESC, pred) AS rn FROM dlc),
       |dla AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_docs,
       |    CAST(count(*) AS BIGINT) AS n_langs FROM dlc GROUP BY 1)
       |SELECT a.source, a.n_docs, a.n_langs, t.pred AS dom_lang,
       |  (t.c * 100 // a.n_docs) AS dom_share_x100
       |FROM dla a JOIN (SELECT * FROM dlr WHERE rn = 1) t USING (source)
       |ORDER BY a.source""".stripMargin

  /** Shared by t_lang_mix and its persisted-bundle twin. */
  private[graft] lazy val langMixSql: String =
    s"""WITH $nbLangIdCtes,
       |lmp AS (SELECT d.doc_id, coalesce(r.label, p.label) AS lang_pred
       |  FROM documents d
       |  LEFT JOIN (SELECT * FROM nrk WHERE rn = 1) r USING (doc_id)
       |  CROSS JOIN (SELECT * FROM npk WHERE rn = 1) p),
       |lmc AS (SELECT lang_pred, count(*) AS c FROM lmp GROUP BY 1),
       |lmm AS (SELECT min(c) AS cm FROM lmc),
       |lmt AS (SELECT lang_pred,
       |          (CAST(floor(sqrt(CAST(c * cm AS DOUBLE))) AS BIGINT)
       |             * 10000 // c) AS keep_thr
       |        FROM lmc CROSS JOIN lmm)
       |SELECT p.doc_id, p.lang_pred FROM lmp p JOIN lmt USING (lang_pred)
       |WHERE ${polyhash("CAST(p.doc_id AS VARCHAR)")} % 10000 < keep_thr
       |ORDER BY p.doc_id""".stripMargin

  /** Ditto for t_code_switch / t_code_switch_persisted. */
  private[graft] lazy val codeSwitchSql: String =
    s"""WITH cch AS (
       |  SELECT CAST(doc_id AS VARCHAR) || ':' ||
       |         CAST(st // 30 AS VARCHAR) AS ckey,
       |         array_to_string(ws[st+1:st+30], ' ') AS text
       |  FROM (SELECT doc_id, ws,
       |          unnest(CASE WHEN len(ws) > 0 THEN range(0, len(ws), 30)
       |                 ELSE [] END) AS st
       |        FROM (SELECT doc_id, string_split(text, ' ') AS ws
       |              FROM documents WHERE text IS NOT NULL) w) s),
       |${nbLangIdCtesFor("cch", "ckey")},
       |cpred AS (SELECT c.ckey, coalesce(r.label, p.label) AS pred
       |  FROM cch c
       |  LEFT JOIN (SELECT * FROM nrk WHERE rn = 1) r
       |    ON r.doc_id = c.ckey
       |  CROSS JOIN (SELECT * FROM npk WHERE rn = 1) p),
       |cvotes AS (SELECT CAST(split_part(ckey, ':', 1) AS BIGINT)
       |    AS doc_id, pred, CAST(count(*) AS BIGINT) AS c
       |  FROM cpred GROUP BY 1, 2),
       |crk AS (SELECT doc_id, pred, c,
       |    row_number() OVER (PARTITION BY doc_id
       |      ORDER BY c DESC, pred) AS rn
       |  FROM cvotes),
       |cagg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_chunks,
       |    CAST(count(*) AS BIGINT) AS n_langs
       |  FROM cvotes GROUP BY 1)
       |SELECT d.doc_id,
       |  coalesce(a.n_chunks, 0) AS n_chunks,
       |  coalesce(a.n_langs, 0) AS n_langs,
       |  k.pred AS dom_lang,
       |  coalesce(k.c * 100 // a.n_chunks, 0) AS dom_share_x100,
       |  CAST(CASE WHEN coalesce(a.n_langs, 0) > 1 THEN 1 ELSE 0 END
       |    AS BIGINT) AS switched
       |FROM documents d
       |LEFT JOIN cagg a USING (doc_id)
       |LEFT JOIN (SELECT * FROM crk WHERE rn = 1) k USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  /** The char-trigram NB language-ID chain with a parameterized SCORING
    * relation: training always reads `documents.lang`, but the rows
    * being classified come from `scoreRel` (exposing `scoreKey` + text)
    * — `documents` itself for t_nb_langid/t_lang_mix, the chunk
    * relation for t_code_switch. The scoring key is aliased `doc_id`
    * throughout the chain so the nrk/npk tail stays shared.
    */
  private[graft] def nbLangIdCtesFor(scoreRel: String, scoreKey: String): String =
    s"""lre AS (SELECT doc_id, lang, replace(text, ' ', '_') AS s
         |  FROM documents WHERE text IS NOT NULL),
         |lg AS (SELECT doc_id, lang,
         |    CASE WHEN length(s) >= 3
         |         THEN list_transform(generate_series(1, length(s) - 2),
         |                i -> s[i:i+2])
         |         ELSE [s] END AS gs FROM lre),
         |vtf0 AS (SELECT doc_id, lang AS label, unnest(gs) AS word
         |  FROM lg WHERE lang IS NOT NULL),
         |sre AS (SELECT $scoreKey AS doc_id, replace(text, ' ', '_') AS s
         |  FROM $scoreRel WHERE text IS NOT NULL),
         |sg AS (SELECT doc_id,
         |    CASE WHEN length(s) >= 3
         |         THEN list_transform(generate_series(1, length(s) - 2),
         |                i -> s[i:i+2])
         |         ELSE [s] END AS gs FROM sre),
         |ntf AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, unnest(gs) AS word FROM sg) u GROUP BY 1, 2),
         |vwc AS (SELECT label, word, CAST(count(*) AS BIGINT) AS cnt
         |  FROM vtf0 GROUP BY 1, 2),
         |vv AS (SELECT CAST(count(DISTINCT word) AS BIGINT) AS v FROM vwc),
         |vprior AS (SELECT lang AS label, CAST(count(*) AS BIGINT) AS n_docs
         |  FROM documents WHERE lang IS NOT NULL GROUP BY 1),
         |vn AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n FROM vprior),
         |vtok AS (SELECT label, CAST(sum(cnt) AS BIGINT) AS tok
         |  FROM vwc GROUP BY 1),
         |vcls AS (SELECT p.label,
         |    CAST(coalesce(t.tok, 0) + vv.v AS BIGINT) AS denom,
         |    CAST(length(bin(vn.n)) - length(bin(p.n_docs)) AS BIGINT)
         |      AS prior_bits
         |  FROM vprior p LEFT JOIN vtok t USING (label)
         |  CROSS JOIN vn CROSS JOIN vv),
         |vcls2 AS (SELECT label, prior_bits,
         |    CAST(length(bin(denom)) - 1 AS BIGINT) AS default_bits, denom
         |  FROM vcls),
         |vmodel AS (SELECT w.label, w.word,
         |    CAST(length(bin(c.denom)) - length(bin(w.cnt + 1)) AS BIGINT)
         |      AS bits
         |  FROM vwc w JOIN vcls2 c USING (label)),
         |nmatched AS (SELECT t.doc_id, t.word, t.tf FROM ntf t
         |  WHERE t.word IN (SELECT DISTINCT word FROM vwc)),
         |nsc AS (SELECT m.doc_id, c.label, c.prior_bits,
         |    CAST(sum(m.tf * coalesce(md.bits, c.default_bits)) AS BIGINT)
         |      AS evid,
         |    CAST(sum(m.tf) AS BIGINT) AS n_tokens
         |  FROM nmatched m CROSS JOIN vcls2 c
         |  LEFT JOIN vmodel md ON md.word = m.word AND md.label = c.label
         |  GROUP BY 1, 2, 3),
         |nrk AS (SELECT doc_id, label,
         |    CAST(prior_bits + evid AS BIGINT) AS bits, n_tokens,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY prior_bits + evid, label) AS rn,
         |    lead(prior_bits + evid) OVER (PARTITION BY doc_id
         |      ORDER BY prior_bits + evid, label) AS nxt
         |  FROM nsc),
         |npk AS (SELECT label, prior_bits,
         |    row_number() OVER (ORDER BY prior_bits, label) AS rn,
         |    lead(prior_bits) OVER (ORDER BY prior_bits, label) AS nxt
         |  FROM vcls2)"""
      .stripMargin

  /** The language-teacher NB classification oracle — shared verbatim by
    * t_nb_classify (in-session training) and t_nb_classify_persisted
    * (bundle round-tripped through disk): one SQL gating that both
    * paths produce the identical result.
    */
  private[graft] lazy val nbClassifyLangSql: String =
    s"""WITH nblab AS (SELECT doc_id, lang AS label, text FROM documents),
       |${nbWordCtes("nblab")}
       |SELECT d.doc_id,
       |  coalesce(r.label, p.label) AS pred,
       |  CAST(coalesce(r.bits, p.prior_bits) AS BIGINT) AS bits,
       |  CAST(CASE WHEN r.doc_id IS NOT NULL
       |            THEN coalesce(r.nxt - r.bits, 0)
       |            ELSE coalesce(p.nxt - p.prior_bits, 0) END AS BIGINT)
       |    AS margin,
       |  coalesce(r.n_tokens, 0) AS n_tokens
       |FROM documents d
       |LEFT JOIN (SELECT * FROM nrk WHERE rn = 1) r USING (doc_id)
       |CROSS JOIN (SELECT * FROM npk WHERE rn = 1) p
       |ORDER BY d.doc_id""".stripMargin

  /** The quality-teacher NB classification oracle — shared verbatim by
    * t_quality_classifier (in-session training) and
    * t_quality_classifier_persisted (bundle round-tripped through
    * disk): one SQL gating that both paths produce the identical
    * result, the [[nbClassifyLangSql]] pattern for the quality teacher.
    */
  private[graft] lazy val qualityNbCtes: String =
    s"""${qualityCtes("documents")},
       |nblab AS (SELECT doc_id,
       |    CASE WHEN quality >= 3 THEN 'good' ELSE 'bad' END AS label,
       |    text FROM qscored WHERE text IS NOT NULL),
       |${nbWordCtes("nblab")},
       |qcls AS (SELECT d.doc_id,
       |    coalesce(r.label, p.label) AS pred,
       |    CAST(coalesce(r.bits, p.prior_bits) AS BIGINT) AS bits,
       |    CAST(CASE WHEN r.doc_id IS NOT NULL
       |              THEN coalesce(r.nxt - r.bits, 0)
       |              ELSE coalesce(p.nxt - p.prior_bits, 0) END AS BIGINT)
       |      AS margin,
       |    coalesce(r.n_tokens, 0) AS n_tokens
       |  FROM documents d
       |  LEFT JOIN (SELECT * FROM nrk WHERE rn = 1) r USING (doc_id)
       |  CROSS JOIN (SELECT * FROM npk WHERE rn = 1) p)""".stripMargin

  private[graft] lazy val qualityClassifySql: String =
    s"""WITH $qualityNbCtes
       |SELECT doc_id, pred, bits, margin, n_tokens
       |FROM qcls ORDER BY doc_id""".stripMargin

  /** CTE chain of the word-unigram NB classifier: trained on
    * `labeledRel` (must expose doc_id, label, text), scoring every
    * `documents` row; ends with `nrk` (per-doc ranked labels) and
    * `npk` (prior-only fallback ranking). Shared by t_nb_classify
    * and t_quality_classifier.
    */
  private[graft] def nbWordCtes(labeledRel: String): String =
    s"""vtf0 AS (SELECT doc_id, label,
         |    unnest(string_split(text, ' ')) AS word
         |  FROM $labeledRel WHERE label IS NOT NULL AND text IS NOT NULL),
         |ntf AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
         |        FROM documents WHERE text IS NOT NULL) u GROUP BY 1, 2),
         |vwc AS (SELECT label, word, CAST(count(*) AS BIGINT) AS cnt
         |  FROM vtf0 GROUP BY 1, 2),
         |vv AS (SELECT CAST(count(DISTINCT word) AS BIGINT) AS v FROM vwc),
         |vprior AS (SELECT label, CAST(count(*) AS BIGINT) AS n_docs
         |  FROM $labeledRel WHERE label IS NOT NULL GROUP BY 1),
         |vn AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n FROM vprior),
         |vtok AS (SELECT label, CAST(sum(cnt) AS BIGINT) AS tok
         |  FROM vwc GROUP BY 1),
         |vcls AS (SELECT p.label,
         |    CAST(coalesce(t.tok, 0) + vv.v AS BIGINT) AS denom,
         |    CAST(length(bin(vn.n)) - length(bin(p.n_docs)) AS BIGINT)
         |      AS prior_bits
         |  FROM vprior p LEFT JOIN vtok t USING (label)
         |  CROSS JOIN vn CROSS JOIN vv),
         |vcls2 AS (SELECT label, prior_bits,
         |    CAST(length(bin(denom)) - 1 AS BIGINT) AS default_bits, denom
         |  FROM vcls),
         |vmodel AS (SELECT w.label, w.word,
         |    CAST(length(bin(c.denom)) - length(bin(w.cnt + 1)) AS BIGINT)
         |      AS bits
         |  FROM vwc w JOIN vcls2 c USING (label)),
         |nmatched AS (SELECT t.doc_id, t.word, t.tf FROM ntf t
         |  WHERE t.word IN (SELECT DISTINCT word FROM vwc)),
         |nsc AS (SELECT m.doc_id, c.label, c.prior_bits,
         |    CAST(sum(m.tf * coalesce(md.bits, c.default_bits)) AS BIGINT)
         |      AS evid,
         |    CAST(sum(m.tf) AS BIGINT) AS n_tokens
         |  FROM nmatched m CROSS JOIN vcls2 c
         |  LEFT JOIN vmodel md ON md.word = m.word AND md.label = c.label
         |  GROUP BY 1, 2, 3),
         |nrk AS (SELECT doc_id, label,
         |    CAST(prior_bits + evid AS BIGINT) AS bits, n_tokens,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY prior_bits + evid, label) AS rn,
         |    lead(prior_bits + evid) OVER (PARTITION BY doc_id
         |      ORDER BY prior_bits + evid, label) AS nxt
         |  FROM nsc),
         |npk AS (SELECT label, prior_bits,
         |    row_number() OVER (ORDER BY prior_bits, label) AS rn,
         |    lead(prior_bits) OVER (ORDER BY prior_bits, label) AS nxt
         |  FROM vcls2)"""
      .stripMargin

}
