package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Pin._

/** Benchmark decontamination for training corpora: drop (or report)
  * corpus documents that share word n-grams with a held-out benchmark /
  * evaluation set, so the training data cannot memorize the test set
  * (the GPT-3 appendix-C / The-Pile style n-gram overlap rule; the
  * reference pipeline has no analog — this is part of the LLM-ops
  * mandate, same family as [[Dedup]]).
  *
  * 100 TB posture:
  *  - the benchmark side is, by definition, orders of magnitude smaller
  *    than the corpus (an eval set, not a crawl). Its DISTINCT n-gram
  *    hash set is reduced first and then BROADCAST, so the corpus —
  *    the 100 TB side — is never shuffled: the scan → shingle-hash →
  *    explode → broadcast-hash-join chain is all map-side. The only
  *    shuffled rows are the contaminated (doc_id, hit) pairs, a set
  *    bounded by actual contamination, not corpus size;
  *  - `broadcastBench = false` drops the hint for the rare huge-
  *    benchmark case (decontaminating against another corpus) — then
  *    it's a plain shuffled semi-ish join and AQE sizes it;
  *  - n-gram hashing is the same codegen'd [[Dedup.shingleHashes]]
  *    PolyHash chain the dedup family uses (one source of truth, and
  *    the DuckDB oracle replays it bit-exactly);
  *  - null-text rows hash to a null shingle set on both sides: they
  *    contribute no benchmark grams and can never be flagged
  *    contaminated (explode drops the null array).
  */
object Decontamination {

  /** Distinct n-gram hash set of the benchmark relation — the
    * contamination filter. One column `gram`.
    */
  def benchmarkGrams(bench: DataFrame, textCol: String = "text",
                     n: Int = 3): DataFrame =
    bench.select(explode(Dedup.shingleHashes(col(textCol), n)).as("gram"))
      .distinct()

  /** Contamination report against a PRECOMPUTED gram set (one `gram`
    * column, e.g. [[benchmarkGrams]] cached once for a stream that
    * probes every micro-batch): one row per corpus document sharing at
    * least `minOverlap` DISTINCT n-grams — (idCol, overlap_grams). A
    * document's shingle hash set is already distinct, so the per-doc
    * join-hit count IS the distinct overlap.
    */
  def contaminationReportAgainst(corpus: DataFrame, grams: DataFrame,
                                 idCol: String = "doc_id",
                                 textCol: String = "text", n: Int = 3,
                                 minOverlap: Int = 1): DataFrame = {
    require(minOverlap >= 1, s"minOverlap must be >= 1, got $minOverlap")
    corpus.select(col(idCol),
        explode(Dedup.shingleHashes(col(textCol), n)).as("gram"))
      .join(grams, "gram")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("overlap_grams"))
      .filter(col("overlap_grams") >= minOverlap)
  }

  /** [[contaminationReportAgainst]] with the gram set derived from the
    * benchmark relation inline.
    */
  def contaminationReport(corpus: DataFrame, bench: DataFrame,
                          idCol: String = "doc_id", textCol: String = "text",
                          n: Int = 3, minOverlap: Int = 1,
                          broadcastBench: Boolean = true): DataFrame = {
    val grams0 = benchmarkGrams(bench, textCol, n)
    val grams = if (broadcastBench) broadcast(grams0) else grams0
    contaminationReportAgainst(corpus, grams, idCol, textCol, n, minOverlap)
  }

  /** The corpus minus documents contaminated vs a precomputed gram set
    * (anti-join on the report). Column set is the corpus's, unchanged.
    */
  def decontaminateAgainst(corpus: DataFrame, grams: DataFrame,
                           idCol: String = "doc_id", textCol: String = "text",
                           n: Int = 3, minOverlap: Int = 1): DataFrame = {
    val report = contaminationReportAgainst(corpus, grams, idCol, textCol,
      n, minOverlap)
    corpus.join(report.select(col(idCol)), Seq(idCol), "left_anti")
  }

  /** The corpus minus contaminated documents. Column set is the
    * corpus's, unchanged.
    */
  def decontaminate(corpus: DataFrame, bench: DataFrame,
                    idCol: String = "doc_id", textCol: String = "text",
                    n: Int = 3, minOverlap: Int = 1,
                    broadcastBench: Boolean = true): DataFrame = {
    val grams0 = benchmarkGrams(bench, textCol, n)
    val grams = if (broadcastBench) broadcast(grams0) else grams0
    decontaminateAgainst(corpus, grams, idCol, textCol, n, minOverlap)
  }

  /** N-gram NOVELTY score against a reference gram set — the positive
    * complement of decontamination: instead of dropping overlapping
    * documents, score each by how much of it the reference corpus has
    * NOT seen (data-selection pipelines upweight novel text and
    * downweight boilerplate the previous snapshot already carried).
    * Per document: `n_grams` (distinct shingle hashes), `n_seen`
    * (grams present in the reference), and the filterable
    * `novelty_x100 = (n_grams − n_seen)·100 div n_grams` — 100 for
    * gram-less (null-text) documents: no evidence of overlap.
    *
    * Scale shape: the corpus side is one explode + per-doc count (the
    * per-doc hash array is already distinct, so join hits ARE the
    * distinct overlap); the reference gram set joins broadcast when
    * eval-sized, or swap in [[BloomGate.mightContain]] ahead of the
    * join when the reference is itself corpus-sized.
    */
  def noveltyReport(corpus: DataFrame, grams: DataFrame,
                    idCol: String = "doc_id", textCol: String = "text",
                    n: Int = 3): DataFrame = {
    val agg = corpus.select(col(idCol),
        explode(Dedup.shingleHashes(col(textCol), n)).as("gram"))
      .join(grams.select(col("gram"), lit(1L).as("seen")),
        Seq("gram"), "left_outer")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("seen"), lit(0L))).as("n_seen"))
    corpus.select(col(idCol)).join(agg, Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_seen"), lit(0L)).as("n_seen"))
      .withColumn("novelty_x100",
        when(col("n_grams") > 0,
          expr("(n_grams - n_seen) * 100 div n_grams"))
          .otherwise(lit(100L)))
  }

  /** [[noveltyReport]] with the gram set derived from a reference
    * relation inline (distinct shingle hashes, broadcast).
    */
  def novelty(corpus: DataFrame, reference: DataFrame,
              idCol: String = "doc_id", textCol: String = "text",
              n: Int = 3): DataFrame =
    noveltyReport(corpus, broadcast(benchmarkGrams(reference, textCol, n)),
      idCol, textCol, n)

  // ── FUZZY decontamination (MinHash-LSH Jaccard) ────────────────────
  // Completes the trilogy: EXACT n-gram overlap (above) misses
  // lightly-edited copies, SEMANTIC cosine (below) needs embeddings —
  // fuzzy Jaccard catches the rewritten-but-mostly-verbatim eval item
  // with text alone, at near-dup fidelity (the same shingle/minhash/
  // band machinery as [[Dedup]], bipartite). The benchmark's band keys
  // and hash sets BROADCAST (eval-set-sized); the corpus side computes
  // bands map-side and is cut by the broadcast join, so only candidate
  // (corpus, bench) pairs — bounded by actual band collisions — carry
  // hash sets into the exact-Jaccard verify. A boilerplate-degenerate
  // benchmark (near-empty docs bucketing everywhere) widens candidates;
  // quality-gate the benchmark first, as any eval set should be.

  /** One row per (corpus doc, benchmark doc) candidate pair whose exact
    * shingle Jaccard reaches `jaccardNum/jaccardDen` — (idCol,
    * bench_id, inter, uni), the auditable evidence behind
    * [[fuzzyDecontaminate]]. Recall is LSH-banded (a pair missing every
    * band escapes — the standard near-dup trade, in the same fixed
    * layout as [[Dedup.nearDupPairs]]).
    */
  def fuzzyContaminationReport(corpus: DataFrame, bench: DataFrame,
                               jaccardNum: Int = 8, jaccardDen: Int = 10,
                               idCol: String = "doc_id",
                               textCol: String = "text"): DataFrame = {
    require(jaccardNum > 0 && jaccardDen > 0 && jaccardNum <= jaccardDen,
      s"jaccard threshold must be a ratio in (0, 1], got " +
        s"$jaccardNum/$jaccardDen")
    // both sides materialized once: bands and the verify hash-attach
    // each read them, and Catalyst has no cross-branch subexpression
    // reuse — without the checkpoint the corpus shingle/minhash stage
    // would run twice per call (the repLevelPairs pattern)
    val cf = Dedup.features(corpus, idCol, textCol).pin()
    val bf = Dedup.features(bench, idCol, textCol).pin()
    val cb = Dedup.bands(cf, idCol)
      .filter(col("bkey").isNotNull)
    val bb = Dedup.bands(bf, idCol)
      .filter(col("bkey").isNotNull)
      .select(col("band"), col("bkey"), col(idCol).as("bench_id"))
    val cand = cb.join(broadcast(bb), Seq("band", "bkey"))
      .select(col(idCol), col("bench_id")).distinct()
    Dedup.withJaccard(cand, idCol, "bench_id", cf, bf, idCol)
      .filter(Dedup.jaccardAtLeast(jaccardNum, jaccardDen))
      .select(col(idCol), col("bench_id"), col("inter"), col("uni"))
  }

  /** The corpus minus every document within fuzzy-Jaccard range of any
    * benchmark document. Column set is the corpus's, unchanged.
    */
  def fuzzyDecontaminate(corpus: DataFrame, bench: DataFrame,
                         jaccardNum: Int = 8, jaccardDen: Int = 10,
                         idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame =
    corpus.join(
      fuzzyContaminationReport(corpus, bench, jaccardNum, jaccardDen,
        idCol, textCol)
        .select(col(idCol)).distinct(),
      Seq(idCol), "left_anti")

  // ── SEMANTIC decontamination (embedding space) ─────────────────────
  // The n-gram rule misses paraphrases; the embedding rule catches a
  // training document that *means* the same as an eval item. Same
  // asymmetry as above: the benchmark side is small by definition, so
  // it is BROADCAST whole and the check is one map-only pass over the
  // corpus embeddings — a BroadcastNestedLoopJoin is the *intended*
  // plan here (exact bipartite threshold check against a broadcast
  // relation; nothing shuffles, the anti side short-circuits on the
  // first hit per row). Cosine is the family's round(cos, 6) contract.

  /** One row per (corpus doc, benchmark item) pair with
    * `round(cos, 6) >= threshold` — (idCol, bench_id, cos), the
    * auditable evidence behind [[decontaminateEmbeddings]]. Null
    * vectors on either side never pair.
    */
  def embeddingContaminationReport(corpus: DataFrame, bench: DataFrame,
                                   threshold: Double,
                                   idCol: String = "vec_id",
                                   vecCol: String = "embedding",
                                   benchIdCol: String = "vec_id",
                                   benchVecCol: String = "embedding"): DataFrame = {
    val b = bench.filter(col(benchVecCol).isNotNull)
      .select(col(benchIdCol).as("bench_id"), col(benchVecCol).as("__sb_v"))
    corpus.filter(col(vecCol).isNotNull)
      .select(col(idCol), col(vecCol))
      .crossJoin(broadcast(b))
      .withColumn("cos", round(Similarity.cosine(col(vecCol), col("__sb_v")), 6))
      .filter(col("cos") >= threshold)
      .select(col(idCol), col("bench_id"), col("cos"))
  }

  /** The corpus minus every document whose embedding is within
    * `threshold` cosine of ANY benchmark embedding. Column set is the
    * corpus's, unchanged; a null-vector corpus row is never flagged and
    * passes through. The anti-join evaluates the threshold predicate
    * directly against the broadcast benchmark — per corpus row it
    * stops at the first matching benchmark vector.
    */
  def decontaminateEmbeddings(corpus: DataFrame, bench: DataFrame,
                              threshold: Double,
                              vecCol: String = "embedding",
                              benchVecCol: String = "embedding"): DataFrame = {
    val b = bench.filter(col(benchVecCol).isNotNull)
      .select(col(benchVecCol).as("__sb_v"))
    corpus.join(broadcast(b),
      col(vecCol).isNotNull &&
        round(Similarity.cosine(col(vecCol), col("__sb_v")), 6) >= threshold,
      "left_anti")
  }
}
