package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Pin._
import graft.functions.{leveledWordGrams, polyFingerprint, wordGrams}

/** Text-analysis operators for a large-scale training-data pipeline
  * (BASELINE north star; beyond the reference surface, SURVEY §0). All
  * pure Column expressions — whole-stage-codegen'd, no UDFs, no shuffle:
  * at 100 TB these run as a single map stage over the document scan.
  */
object TextAnalysis {

  /** Tiny english stopword list: deterministic, shared with the DuckDB
    * oracle (LlmOracle). A production list is a config concern; the
    * operator shape is identical.
    */
  val Stopwords: Seq[String] =
    Seq("the", "a", "of", "and", "to", "in", "is", "it", "that", "for")

  /** Whitespace tokenization — the corpus is single-space separated. */
  def tokens(text: Column): Column = split(text, " ")

  /** BPE-ish pre-tokenization (the GPT-2-style pattern shape: common
    * contractions, letter runs, digit runs, punctuation runs, each with
    * optional leading space). No lookarounds, so the same pattern runs
    * in Java regex and RE2 (the DuckDB oracle).
    */
  val BpePattern: String =
    "'(?:s|d|m|t|ll|ve|re)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+"

  /** Token count under the BPE-ish pattern. */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(BpePattern), lit(0)))

  /** A real (if compact) subword vocabulary for greedy longest-match
    * tokenization: frequent English words (with leading-space variants
    * for the top few, GPT-style), productive prefixes/suffixes, and
    * single-character fallbacks. Production would load a trained merge
    * list from config; the operator and its cross-engine contract are
    * identical. Shared verbatim with the DuckDB oracle (one source of
    * truth, like Dedup.Perms).
    */
  val Vocab: Seq[String] = Seq(
    // frequent whole words
    "the", "of", "and", "to", "in", "is", "it", "that", "for", "on",
    "was", "with", "as", "at", "by", "be", "this", "had", "not", "are",
    "but", "from", "or", "have", "an", "they", "which", "one", "you",
    "were", "her", "all", "she", "there", "would", "their", "we", "him",
    "been", "has", "when", "who", "will", "more", "no", "if", "out",
    "so", "said", "what", "up", "its", "about", "into", "than", "them",
    "can", "only", "other", "new", "some", "could", "time", "these",
    "two", "may", "then", "do", "first", "any", "my", "now", "such",
    "like", "our", "over", "man", "me", "even", "most", "made", "after",
    "also", "did", "many", "before", "must", "through",
    // leading-space variants of the top words (pre-tokens carry the space)
    " the", " of", " and", " to", " in", " is", " it", " that", " for",
    " on", " was", " with", " as", " at", " by", " be", " a", " an",
    // productive prefixes / suffixes / merges
    "ing", "tion", "sion", "ness", "ment", "able", "ible", "ed", "er",
    "est", "ly", "ity", "ous", "ive", "al", "ic", "ful", "less",
    "ation", "es", "re", "un", "dis", "pre", "con", "com", "per",
    "sub", "inter", "trans", "ex", "en", "de", "qu", "th", "ch", "sh",
    // single-character fallbacks
    " ") ++
    ('a' to 'z').map(_.toString) ++ ('A' to 'Z').map(_.toString) ++
    ('0' to '9').map(_.toString) ++
    Seq(".", ",", "!", "?", ";", ":", "'", "\"", "-", "(", ")")

  /** Greedy longest-match token count against [[Vocab]] over the
    * [[BpePattern]] pre-tokens — the real-vocabulary counterpart of
    * [[bpeTokenCount]], as one native codegen'd expression
    * ([[graft.functions.VocabTokenCount]]).
    */
  def vocabTokenCount(text: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.functions.VocabTokenCount(
        org.apache.spark.sql.graft.Bridge.expression(text), Vocab, BpePattern))

  /** A compact learned-style BPE merge table, rank-ordered (index =
    * rank, lower merges first) and WELL-FORMED: each side is a single
    * character or an earlier merge's output — the invariant a real
    * learned table satisfies by construction, and the precondition for
    * the rank-order-replay oracle (see [[graft.functions.BpeMergeTokens]]).
    * Space-prefixed merges rank early, GPT-2 style (pre-tokens carry
    * their leading space). Production loads a trained table from
    * config; the operator and its cross-engine contract are identical.
    * Shared verbatim with the DuckDB oracle (one source of truth, like
    * [[Vocab]]).
    */
  val Merges: Seq[(String, String)] = Seq(
    " " -> "t", " " -> "a", " " -> "i", " " -> "o", " " -> "w",
    "t" -> "h", "h" -> "e", " t" -> "he",
    "i" -> "n", "e" -> "r", "a" -> "n", "r" -> "e", "t" -> "i",
    "e" -> "n", " a" -> "n", "a" -> "t", "e" -> "s", "a" -> "s",
    "o" -> "r", "o" -> "n", "s" -> "t", "a" -> "r", "a" -> "l",
    "e" -> "d", "i" -> "t", "i" -> "s", "o" -> "u", "l" -> "e",
    "o" -> "m", "c" -> "h", "s" -> "h", "q" -> "u",
    "th" -> "e", "in" -> "g", "an" -> "d", " an" -> "d",
    "ti" -> "on", "a" -> "tion", "en" -> "t", "c" -> "om",
    "b" -> "le", "'" -> "s",
    " i" -> "s", " i" -> "n", " o" -> "f", " w" -> "as")

  /** Merge-based BPE tokens of a text (the GPT-2 inference loop over
    * [[Merges]]) — the tokenizer real training pipelines count and pack
    * budgets with. One native codegen'd expression
    * ([[graft.functions.BpeMergeTokens]]); count = [[bpeMergeTokenCount]].
    */
  def bpeMergeTokens(text: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.functions.BpeMergeTokens(
        org.apache.spark.sql.graft.Bridge.expression(text), Merges, BpePattern))

  /** Token count under merge-based BPE ([[bpeMergeTokens]]). */
  def bpeMergeTokenCount(text: Column): Column =
    size(bpeMergeTokens(text)).cast("long")

  /** [[bpeMergeTokens]] under a CALLER-SUPPLIED merge table — the
    * companion of [[learnBpeMerges]]: tokenize with the table you just
    * trained (or loaded from config). `byteLevel = true` starts each
    * pre-token from its GPT-2-mapped UTF-8 bytes instead of code points
    * ([[graft.functions.ByteLevel]]) — use with a table learned under
    * the same mode.
    */
  def bpeMergeTokensWith(text: Column, merges: Seq[(String, String)],
                         byteLevel: Boolean = false): Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.functions.BpeMergeTokens(
        org.apache.spark.sql.graft.Bridge.expression(text), merges,
        BpePattern, byteLevel))

  /** TRAIN a BPE merge table on a corpus — the Sennrich/GPT-2 learning
    * loop, distributed: pre-tokenize, collapse to DISTINCT pre-tokens
    * weighted by frequency (the classic trick — every iteration then
    * costs |pre-token vocabulary|, not |corpus|), and repeatedly take
    * the adjacent symbol pair with the highest weighted count (ties:
    * count DESC, then lexicographic pair — deterministic and
    * engine-reproducible), re-tokenizing the pre-token vocabulary under
    * the merges learned so far via the same [[graft.functions.BpeMergeTokens]]
    * expression that later tokenizes with the result. Returns
    * (lhs, rhs, weighted count) in rank order; stops early when the
    * best pair's count falls below `minPairCount`.
    *
    * Scale shape: ONE corpus-sized explode + aggregation builds the
    * weighted pre-token vocabulary (pinned — iterations
    * never re-read the corpus); each of the `nMerges` iterations is one
    * map (re-tokenize the vocabulary, codegen'd) + one partial-
    * aggregated pair-count shuffle + a TakeOrdered(1) argmax. Real
    * pipelines train the tokenizer on a bounded SAMPLE of the corpus
    * ([[graft.ext.Sampling.sampleByKey]]) — pass the sample as `docs`;
    * the learned table is driver-sized by definition (it IS the
    * tokenizer config).
    *
    * The learned table is well-formed by construction (each side exists
    * as a symbol when its merge is learned), so it satisfies
    * [[graft.functions.BpeMergeTokens]]'s construction check and the
    * rank-order-replay oracle equivalence.
    *
    * `byteLevel = true` trains over UTF-8 byte symbols (the GPT-2
    * bytes_to_unicode rendering, [[graft.functions.ByteLevel]]) instead
    * of code points: the weighted pre-token vocabulary is built from the
    * SAME raw pre-tokens (the byte mapping is injective, so the distinct
    * collapse is identical), only the iteration's symbol split changes —
    * merges can then join the bytes of a multibyte character, which the
    * code-point mode structurally cannot. Tokenize the result with
    * `bpeMergeTokensWith(_, table, byteLevel = true)`.
    */
  def learnBpeMerges(docs: DataFrame, nMerges: Int,
                     textCol: String = "text",
                     minPairCount: Long = 2L,
                     byteLevel: Boolean = false): Seq[(String, String, Long)] = {
    require(nMerges >= 1 && nMerges <= 4096,
      s"nMerges must be in [1, 4096], got $nMerges")
    require(minPairCount >= 1, s"minPairCount must be >= 1, got $minPairCount")
    val vocabPt = docs.filter(col(textCol).isNotNull)
      .select(explode(regexp_extract_all(col(textCol), lit(BpePattern),
        lit(0))).as("pt"))
      .groupBy("pt").agg(count(lit(1)).as("w"))
      .pin()
    val learned = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var go = true
    while (go && learned.size < nMerges) {
      val toks = bpeMergeTokensWith(col("pt"),
        learned.toSeq.map(m => (m._1, m._2)), byteLevel)
      val top = vocabPt
        .select(toks.as("t"), col("w"))
        .filter(size(col("t")) >= 2)
        .select(explode(zip_with(
          slice(col("t"), lit(1), size(col("t")) - 1),
          slice(col("t"), lit(2), size(col("t")) - 1),
          (x, y) => struct(x.as("lhs"), y.as("rhs")))).as("p"), col("w"))
        .groupBy(col("p.lhs"), col("p.rhs"))
        .agg(sum(col("w")).as("n"))
        .orderBy(col("n").desc, col("lhs"), col("rhs"))
        .limit(1).collect()
      if (top.isEmpty || top(0).getLong(2) < minPairCount) go = false
      else learned += ((top(0).getString(0), top(0).getString(1),
        top(0).getLong(2)))
    }
    learned.toSeq
  }

  /** TRAIN a WordPiece merge table — the BERT-lineage learning loop
    * (Schuster & Nakajima 2012; Wu et al. 2016), distributed over the
    * same weighted distinct pre-token vocabulary as
    * [[learnBpeMerges]]: identical iteration shape, ONE substitution —
    * the next merge maximizes the LIKELIHOOD score
    * `count(ab) / (count(a) · count(b))` instead of the raw pair
    * count, so a pair of RARE symbols that always co-occur outranks a
    * frequent pair of independently-frequent symbols (the property
    * that makes WordPiece vocabularies morpheme-shaped). The score is
    * integer-exact as a 10¹²-fixed-point floor division
    * (`n·10¹² div (cₐ·c_b)`), with deterministic tie-break
    * (score DESC, count DESC, lexicographic pair) — replayed verbatim
    * by the DuckDB oracle. Returns (lhs, rhs, weighted count,
    * score_fp) in rank order; stops when the best pair's count falls
    * below `minPairCount`.
    *
    * Tokenize-with is [[bpeMergeTokensWith]] — a WordPiece-learned
    * table is well-formed by construction and applies with the same
    * rank-ordered merge rule (the HuggingFace-BPE inference rule; the
    * WORDPIECE part is the training objective).
    *
    * The fixed-point law needs `n · 10¹²` inside Long, so training
    * requires total weighted symbol count ≤ ~9·10⁶ — train on a
    * bounded sample (real pipelines always do; the learned table is
    * the driver-sized tokenizer config).
    *
    * `byteLevel = true` trains over UTF-8 byte symbols (the
    * [[learnBpeMerges]] mode): pre-tokens are byte-encoded before the
    * merge walk, so likelihood-scored merges can span a multibyte
    * character's bytes; tokenize-with
    * `bpeMergeTokensWith(_, table, byteLevel = true)`.
    */
  def learnWordPieceMerges(docs: DataFrame, nMerges: Int,
                           textCol: String = "text",
                           minPairCount: Long = 2L,
                           byteLevel: Boolean = false): Seq[(String, String, Long, Long)] = {
    require(nMerges >= 1 && nMerges <= 4096,
      s"nMerges must be in [1, 4096], got $nMerges")
    require(minPairCount >= 1, s"minPairCount must be >= 1, got $minPairCount")
    val Scale = 1000000000000L
    val vocabPt = docs.filter(col(textCol).isNotNull)
      .select(explode(regexp_extract_all(col(textCol), lit(BpePattern),
        lit(0))).as("pt"))
      .groupBy("pt").agg(count(lit(1)).as("w"))
      .pin()
    // byte-level symbols are UTF-8 bytes, so the fixed-point guard
    // counts bytes, not code points
    val symLen = if (byteLevel) octet_length(col("pt")) else length(col("pt"))
    val totalSyms = vocabPt.agg(sum(col("w") * symLen))
      .head.getLong(0)
    require(totalSyms <= 9000000L,
      s"learnWordPieceMerges: corpus has $totalSyms weighted symbols — the " +
        "10^12 fixed-point score law needs <= 9e6; train on a bounded sample")
    val learned =
      scala.collection.mutable.ArrayBuffer.empty[(String, String, Long, Long)]
    var go = true
    while (go && learned.size < nMerges) {
      val toks = bpeMergeTokensWith(col("pt"),
        learned.toSeq.map(m => (m._1, m._2)), byteLevel)
      // pinned: the pair-count and symbol-count aggregations both read
      // the tokenized vocabulary — one tokenization pass, not two
      val tokd = vocabPt.select(toks.as("t"), col("w")).pin()
      val pairs = tokd.filter(size(col("t")) >= 2)
        .select(explode(zip_with(
          slice(col("t"), lit(1), size(col("t")) - 1),
          slice(col("t"), lit(2), size(col("t")) - 1),
          (x, y) => struct(x.as("lhs"), y.as("rhs")))).as("p"), col("w"))
        .groupBy(col("p.lhs"), col("p.rhs"))
        .agg(sum(col("w")).as("n"))
      val uni = tokd.select(explode(col("t")).as("sym"), col("w"))
        .groupBy("sym").agg(sum(col("w")).as("c"))
      val top = pairs
        .join(uni.select(col("sym").as("lhs"), col("c").as("ca")), "lhs")
        .join(uni.select(col("sym").as("rhs"), col("c").as("cb")), "rhs")
        .withColumn("s", expr(s"(n * ${Scale}L) div (ca * cb)"))
        .orderBy(col("s").desc, col("n").desc, col("lhs"), col("rhs"))
        .limit(1).select("lhs", "rhs", "n", "s").collect()
      if (top.isEmpty || top(0).getLong(2) < minPairCount) go = false
      else learned += ((top(0).getString(0), top(0).getString(1),
        top(0).getLong(2), top(0).getLong(3)))
    }
    learned.toSeq
  }

  /** Code-point block length for unigram-LM segmentation: pre-tokens
    * longer than this are cut into consecutive blocks segmented
    * independently (SentencePiece's max-sentence-length analog). Bounds
    * the Viterbi DP — and the oracle's unrolled DP level count — by a
    * constant, shared verbatim with the DuckDB replay.
    */
  val UnigramBlockLen: Int = 16

  /** TRAIN a unigram-LM (SentencePiece-style) piece inventory on a
    * corpus — the Kudo (2018) lifecycle, distributed and INTEGER-EXACT
    * so the DuckDB oracle replays it bit-for-bit:
    *
    *  1. SEED: the weighted pre-token vocabulary (the [[learnBpeMerges]]
    *     collapse — iterations cost |vocabulary|, not |corpus|) is cut
    *     into [[UnigramBlockLen]]-code-point blocks; every ≤
    *     `maxPieceLen`-code-point substring is counted (weighted), and
    *     the top `seedSize` by (count DESC, piece ASC) — plus ALL
    *     single characters, for coverage — form the seed inventory.
    *  2. HARD EM (`emRounds`): piece costs are integer surprisal bits
    *     under add-one smoothing (`bitlen(total + |V|) − bitlen(cnt +
    *     1)` — the NB-classifier bit law); the E-step Viterbi-segments
    *     the block vocabulary under those costs
    *     ([[graft.functions.UnigramLmTokens]], one codegen'd map over
    *     the pinned vocabulary) and recounts weighted piece usage; the
    *     M-step recomputes bits from the new counts.
    *  3. PRUNE (after round 1): single characters always survive;
    *     multi-character pieces keep the top `vocabSize − |chars|`
    *     slots by integer likelihood LOSS — `cnt × (Σ char bits −
    *     piece bits)`, the exact extra bits paid if the piece's
    *     occurrences fell back to single characters (ties: count DESC,
    *     piece ASC). The final E-step reassigns counts under the
    *     pruned inventory.
    *
    * Returns (piece, weighted count, final bits) in (count DESC, piece
    * ASC) order. Scale shape: ONE corpus-sized explode builds the
    * pinned vocabulary; each round is a codegen'd map + one partial-
    * aggregated piece-count shuffle; every driver materialization is
    * inventory-sized (the tokenizer config itself), never corpus-sized.
    * Real pipelines train on a bounded sample — pass it as `docs`.
    *
    * `byteLevel = true` trains over UTF-8 byte symbols: pre-tokens are
    * [[byteLevelEncode]]d before block-cutting, so blocks, substring
    * pieces and the Viterbi DP all count byte symbols (each encoded
    * char IS one byte) — pieces can then span a multibyte character's
    * bytes, the SentencePiece byte_fallback-adjacent behavior the
    * code-point walk cannot learn. Tokenize the result with
    * `unigramTokensWith(_, inv, byteLevel = true)`.
    */
  def learnUnigramLm(docs: DataFrame, vocabSize: Int = 200,
                     seedSize: Int = 400, maxPieceLen: Int = 4,
                     emRounds: Int = 2,
                     textCol: String = "text",
                     byteLevel: Boolean = false): Seq[(String, Long, Long)] = {
    require(vocabSize >= 1 && vocabSize <= 8192,
      s"vocabSize must be in [1, 8192], got $vocabSize")
    require(seedSize >= vocabSize,
      s"seedSize ($seedSize) must be >= vocabSize ($vocabSize)")
    require(maxPieceLen >= 1 && maxPieceLen <= UnigramBlockLen,
      s"maxPieceLen must be in [1, $UnigramBlockLen], got $maxPieceLen")
    require(emRounds >= 1 && emRounds <= 4,
      s"emRounds must be in [1, 4], got $emRounds")
    def bitlen(x: Long): Long = 64L - java.lang.Long.numberOfLeadingZeros(x)
    def cpLen(s: String): Int = s.codePointCount(0, s.length)

    val rawPts = docs.filter(col(textCol).isNotNull)
      .select(explode(regexp_extract_all(col(textCol), lit(BpePattern),
        lit(0))).as("pt"))
    val vocabPt = (if (byteLevel)
        rawPts.select(byteLevelEncode(col("pt")).as("pt"))
      else rawPts)
      .groupBy("pt").agg(count(lit(1)).as("w"))
      .pin()
    val blocks = vocabPt.select(
      explode(transform(
        sequence(lit(0),
          ((length(col("pt")) - 1) / lit(UnigramBlockLen)).cast("int")),
        bi => col("pt").substr(bi * UnigramBlockLen + 1,
          lit(UnigramBlockLen)))).as("b"),
      col("w"))

    // seed counts: one aggregation over all ≤ maxPieceLen-cp substrings
    val seedCounts = blocks.select(
      explode(flatten(transform(sequence(lit(1), length(col("b"))),
        p => transform(
          sequence(lit(1), least(lit(maxPieceLen),
            length(col("b")) - p + 1)),
          l => col("b").substr(p, l))))).as("piece"),
      col("w"))
      .groupBy("piece").agg(sum("w").as("cnt"))
      .pin()
    val top = seedCounts.orderBy(col("cnt").desc, col("piece"))
      .limit(seedSize).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    val charRows = seedCounts.filter(length(col("piece")) === 1).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    var inv: Seq[(String, Long)] = {
      val m = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      (top ++ charRows).foreach { case (p, c) => m.getOrElseUpdate(p, c) }
      m.toSeq
    }

    (1 to emRounds).foreach { r =>
      val total = inv.map(_._2).sum + inv.size
      val bits = inv.map { case (p, c) =>
        p -> (bitlen(total) - bitlen(c + 1)) }
      val unkBits = bitlen(total)
      val tok = org.apache.spark.sql.graft.Bridge.column(
        graft.functions.UnigramLmTokens(
          org.apache.spark.sql.graft.Bridge.expression(col("b")),
          bits, unkBits, maxPieceLen, UnigramBlockLen, pattern = None))
      val counts = blocks.select(explode(tok).as("piece"), col("w"))
        .groupBy("piece").agg(sum("w").as("cnt")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      inv = inv.map { case (p, _) => p -> counts.getOrElse(p, 0L) }
      if (r == 1 && emRounds > 1) {
        val bmap = bits.toMap
        val (chars, multi) = inv.partition { case (p, _) => cpLen(p) == 1 }
        val keepN = math.max(0, vocabSize - chars.size)
        val kept = multi.map { case (p, c) =>
          val charBits = p.codePoints().toArray.map(cp =>
            bmap.getOrElse(new String(Character.toChars(cp)), unkBits)).sum
          (p, c, c * (charBits - bmap(p)))
        }.sortBy { case (p, c, loss) => (-loss, -c, p) }
          .take(keepN)
        inv = chars ++ kept.map { case (p, c, _) => (p, c) }
      }
    }
    val totalF = inv.map(_._2).sum + inv.size
    inv.sortBy { case (p, c) => (-c, p) }
      .map { case (p, c) => (p, c, bitlen(totalF) - bitlen(c + 1)) }
  }

  /** Viterbi-tokenize under a TRAINED unigram-LM inventory
    * ([[learnUnigramLm]]'s output) — the companion of
    * [[bpeMergeTokensWith]] for the unigram family: pre-tokenize with
    * [[BpePattern]], block-cut, segment each block by the same integer
    * DP the trainer's E-step ran. Unknown single characters cost the
    * smoothed-denominator bitlen, so tokenization is total on any
    * input.
    */
  def unigramTokensWith(text: Column, inv: Seq[(String, Long, Long)],
                        maxPieceLen: Int = 4,
                        byteLevel: Boolean = false): Column = {
    val total = inv.map(_._2).sum + inv.size
    org.apache.spark.sql.graft.Bridge.column(
      graft.functions.UnigramLmTokens(
        org.apache.spark.sql.graft.Bridge.expression(text),
        inv.map(t => (t._1, t._3)),
        unkBits = 64L - java.lang.Long.numberOfLeadingZeros(total),
        maxPieceLen, UnigramBlockLen, pattern = Some(BpePattern),
        byteLevel))
  }

  /** [[graft.functions.ByteLevelEncode]] as a Column — each UTF-8 byte
    * of the input becomes one GPT-2-mapped char.
    */
  def byteLevelEncode(text: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.functions.ByteLevelEncode(
        org.apache.spark.sql.graft.Bridge.expression(text)))

  /** Per-domain tokenizer coverage under a TRAINED unigram inventory:
    * how many pieces the tokenizer emits per domain and how many of
    * them are OUT-OF-VOCABULARY single-char fallbacks (the smoothed
    * unknown path of [[unigramTokensWith]]) — the "which domain breaks
    * my tokenizer" readout that decides a retrain before token counts,
    * packing and budgets silently skew. `oov_ppm` is integer-exact
    * (parts per million, floor).
    *
    * Scale shape: one codegen'd tokenize+explode map over the scan,
    * one BROADCAST join against the inventory (vocab is bounded by the
    * trainer's cap), one partial-agg groupBy — the corpus never
    * shuffles by piece.
    */
  def tokenizerCoverage(docs: DataFrame, inv: Seq[(String, Long, Long)],
                        domainCol: String = "source",
                        textCol: String = "text",
                        maxPieceLen: Int = 4): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val vocab = inv.map(_._1).distinct.toDF("piece")
      .withColumn("__tc_known", lit(1))
    docs.filter(col(textCol).isNotNull && col(domainCol).isNotNull)
      .select(col(domainCol),
        explode(unigramTokensWith(col(textCol), inv, maxPieceLen))
          .as("piece"))
      .join(broadcast(vocab), Seq("piece"), "left")
      .groupBy(col(domainCol))
      .agg(count(lit(1)).as("n_pieces"),
        sum(when(col("__tc_known").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_ppm", expr("n_oov * 1000000 div n_pieces"))
  }

  // ── Persisted tokenizer bundles ────────────────────────────────────

  /** A loaded tokenizer artifact: `kind` ∈ {bpe, wordpiece, unigram}
    * and the tokenize Column it applies ([[bpeMergeTokensWith]] for the
    * merge kinds, [[unigramTokensWith]] for unigram). */
  final case class TokenizerBundle(kind: String, tokens: Column => Column) {
    def tokenCount(text: Column): Column =
      coalesce(size(tokens(text)).cast("long"), lit(0L))
  }

  /** PERSIST a trained merge tokenizer ([[learnBpeMerges]] /
    * [[learnWordPieceMerges]] output) — the [[writeNbBundle]] lifecycle
    * for tokenizers: a tokenizer trains ONCE (on a bounded sample) and
    * every downstream job — token counting, packing, budget selection,
    * fertility reports — must use the IDENTICAL artifact, across JVMs
    * and sessions; a silently retrained tokenizer changes every token
    * count in the pipeline. Two tiny relations:
    *
    *  - `<name>_vocab(rank, lhs, rhs, piece, n, bits)` — one row per
    *    merge in learned order (piece/bits null for merge kinds);
    *  - `<name>_meta(kind, max_piece_len)` — the application rule,
    *    checked on load.
    *
    * Both are driver-sized by definition (the table IS the tokenizer
    * config — a GPT-2-scale vocabulary is 50k rows, KBs on disk).
    * WordPiece's training-time likelihood score is a diagnostic, not
    * part of the applied artifact — the inference rule for both merge
    * kinds is the rank-ordered merge walk.
    */
  def writeMergeTokenizer(spark: org.apache.spark.sql.SparkSession,
                          name: String,
                          merges: Seq[(String, String, Long)],
                          kind: String = "bpe"): Unit = {
    require(kind == "bpe" || kind == "wordpiece",
      s"merge tokenizer kind must be bpe|wordpiece, got '$kind'")
    require(merges.nonEmpty, "refusing to persist an EMPTY merge table " +
      "— a no-op tokenizer is a training failure, not an artifact")
    import spark.implicits._
    val vocab = merges.zipWithIndex
      .map { case ((a, b, n), i) => (i.toLong, a, b, n) }
      .toDF("rank", "lhs", "rhs", "n")
      .withColumn("piece", lit(null).cast("string"))
      .withColumn("bits", lit(null).cast("long"))
      .select("rank", "lhs", "rhs", "piece", "n", "bits")
    graft.core.Layout.writeBucketed(vocab, s"${name}_vocab", "rank", 1)
    graft.core.Layout.writeBucketed(
      Seq((kind, 0L)).toDF("kind", "max_piece_len"), s"${name}_meta",
      "kind", 1)
  }

  /** PERSIST a trained unigram-LM inventory ([[learnUnigramLm]]
    * output): counts ride along so the loaded artifact re-derives the
    * smoothing denominator exactly as [[unigramTokensWith]] does —
    * bit-identical segmentation. `maxPieceLen` is part of the
    * application rule (it bounds the DP), so it pins in `_meta`.
    */
  def writeUnigramTokenizer(spark: org.apache.spark.sql.SparkSession,
                            name: String, inv: Seq[(String, Long, Long)],
                            maxPieceLen: Int = 4): Unit = {
    require(inv.nonEmpty, "refusing to persist an EMPTY piece inventory")
    require(maxPieceLen >= 1 && maxPieceLen <= UnigramBlockLen,
      s"maxPieceLen must be in [1, $UnigramBlockLen], got $maxPieceLen")
    import spark.implicits._
    val vocab = inv.zipWithIndex
      .map { case ((p, c, b), i) => (i.toLong, p, c, b) }
      .toDF("rank", "piece", "n", "bits")
      .withColumn("lhs", lit(null).cast("string"))
      .withColumn("rhs", lit(null).cast("string"))
      .select("rank", "lhs", "rhs", "piece", "n", "bits")
    graft.core.Layout.writeBucketed(vocab, s"${name}_vocab", "rank", 1)
    graft.core.Layout.writeBucketed(
      Seq(("unigram", maxPieceLen.toLong)).toDF("kind", "max_piece_len"),
      s"${name}_meta", "kind", 1)
  }

  /** Load a persisted tokenizer: the vocab table read back in rank
    * order (a driver-sized config read, not a corpus scan), the
    * application rule resolved from `_meta`. A loaded bundle tokenizes
    * bit-identically to the in-session trainer output it was written
    * from (spec-gated, plus the t_bpe_persisted_tokenize /
    * t_unigram_persisted_tokenize oracles).
    */
  def loadTokenizer(spark: org.apache.spark.sql.SparkSession,
                    name: String): TokenizerBundle = {
    val meta = spark.table(s"${name}_meta").head()
    val kind = meta.getAs[String]("kind")
    val rows = spark.table(s"${name}_vocab").orderBy("rank").collect()
    require(rows.nonEmpty, s"tokenizer bundle '$name' has an empty vocab " +
      "table — the artifact is corrupt, refusing a no-op tokenizer")
    kind match {
      case "bpe" | "wordpiece" =>
        val merges = rows.map(r =>
          (r.getAs[String]("lhs"), r.getAs[String]("rhs"))).toSeq
        require(merges.forall(m => m._1 != null && m._2 != null),
          s"bundle '$name' (kind $kind) has null merge sides")
        TokenizerBundle(kind, t => bpeMergeTokensWith(t, merges))
      case "unigram" =>
        val inv = rows.map(r => (r.getAs[String]("piece"),
          r.getAs[Long]("n"), r.getAs[Long]("bits"))).toSeq
        require(inv.forall(_._1 != null),
          s"bundle '$name' (kind unigram) has null pieces")
        val mpl = meta.getAs[Long]("max_piece_len").toInt
        TokenizerBundle(kind, t => unigramTokensWith(t, inv, mpl))
      case other => throw new IllegalStateException(
        s"bundle '$name' has unknown tokenizer kind '$other' — this " +
          "build applies bpe|wordpiece|unigram")
    }
  }

  def tokenCount(text: Column): Column = size(tokens(text))

  def charLen(text: Column): Column = length(text)

  /** CODE-POINT length — the named contract shared by
    * [[scriptProfile]] and [[Packing.renderChat]]'s span math so every
    * cross-engine character offset means the same thing. Spark SQL
    * strings are UTF8String and `length()` counts CODE POINTS (an
    * astral emoji is 1, not its UTF-16 surrogate pair — unlike
    * `java.lang.String.length`), which is exactly DuckDB/ANSI
    * `length()` semantics; the multi-astral agreement is PINNED by
    * spec (NativeExprSpec's script-profile astral case and
    * OpsPropertySpec's chat-span slices), so a regression in either
    * engine's convention fails loudly instead of skewing spans.
    */
  def codePointLen(text: Column): Column = length(text).cast("long")

  /** Count of sentence-ish punctuation characters. */
  def punctCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "[.!?,;:]", ""))

  def stopwordCount(text: Column): Column = {
    val sw = array(Stopwords.map(lit): _*)
    size(filter(tokens(text), t => array_contains(sw, t)))
  }

  /** Total characters inside tokens (so avg token length = totalTokenChars
    * / tokenCount stays exactly representable as two integer outputs —
    * engine-independent, no float division in the verified surface).
    */
  def totalTokenChars(text: Column): Column =
    aggregate(tokens(text), lit(0L), (acc, t) => acc + length(t))

  /** Language-ID heuristic: integer-arithmetic stopword density test —
    * ≥ 3% stopword tokens classifies as english. An n-gram profile model
    * drops into the same column shape.
    */
  /** The BMP script ranges [[scriptProfile]] counts — (name, regex
    * character class), every range strictly inside the Basic
    * Multilingual Plane so Java (UTF-16 code units) and RE2 (code
    * points) count identically; one definition so the engine and any
    * SQL replay move together.
    */
  val ScriptRanges: Seq[(String, String)] = Seq(
    "latin" -> "A-Za-z",
    "digit" -> "0-9",
    "cyrillic" -> "\\u0400-\\u04FF",
    "greek" -> "\\u0370-\\u03FF",
    "arabic" -> "\\u0600-\\u06FF",
    "cjk" -> "\\u4E00-\\u9FFF",
    "hangul" -> "\\uAC00-\\uD7A3")

  /** Per-document Unicode-SCRIPT histogram — the orthographic routing
    * signal that needs no model at all (the char-trigram NB's
    * evidence-free complement: a Cyrillic page IS Cyrillic before any
    * classifier runs): per [[ScriptRanges]] entry the code-point count
    * via the length delta of a strip-regex (`length(s) −
    * length(regexp_replace(s, "[range]", ""))` — pure codegen'd string
    * ops, zero shuffle), total characters, the dominant script
    * (most-counted, ties to the lexicographically smallest name, zero
    * counts → 'none'), and its ×100 share. Null text yields zero
    * counts and 'none' — one output row per input row.
    *
    * `n_chars` counts CODE POINTS (the DuckDB/ANSI `length()`
    * convention) via [[codePointLen]] — Spark's UTF8String `length()`
    * already counts code points, and the astral agreement is
    * spec-pinned there, so emoji and supplementary-CJK text cannot
    * skew `dominant_share_x100` against the oracle.
    */
  def scriptProfile(docs: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    val s = coalesce(col(textCol), lit(""))
    val counted = docs.select(Seq(col(idCol),
      codePointLen(s).as("n_chars")) ++
      ScriptRanges.map { case (name, range) =>
        (length(s) - length(regexp_replace(s, s"[$range]", "")))
          .cast("long").as(s"n_$name")
      }: _*)
    // dominant via min over struct(-count, name): most counted first,
    // smallest name on ties — the majorityVote argmax law
    val top = ScriptRanges.map { case (name, _) =>
      struct((-col(s"n_$name")).as("nc"), lit(name).as("nm"))
    }
    counted
      .withColumn("__sp_top", least(top: _*))
      .select(Seq(col(idCol), col("n_chars")) ++
        ScriptRanges.map { case (name, _) => col(s"n_$name") } ++ Seq(
        when(col("__sp_top.nc") === 0L, lit("none"))
          .otherwise(col("__sp_top.nm")).as("dominant_script"),
        when(col("__sp_top.nc") === 0L, lit(0L))
          .otherwise(expr("(-__sp_top.nc * 100) div n_chars"))
          .as("dominant_share_x100")): _*)
  }

  def langId(text: Column): Column =
    when(stopwordCount(text) * 1000 >= tokenCount(text) * 30, lit("en"))
      .otherwise(lit("und"))

  /** Quality score 0–4 (length band, stopword presence, token-shape
    * band, 2-gram repetition band) — all integer predicates, matching
    * the oracle exactly. The repetition term is the Gopher-style spam
    * cut: a document whose most frequent word 2-gram covers more than
    * 1/5 of its 2-gram occurrences loses the point (docs with fewer
    * than 5 2-grams are too short for the fraction to mean anything and
    * keep it).
    */
  def qualityScore(text: Column): Column = {
    val nTok = tokenCount(text)
    val lenOk = when(nTok.between(10, 1000), 1).otherwise(0)
    val swOk = when(stopwordCount(text) > 0, 1).otherwise(0)
    // avg token length in [3, 12] via cross-multiplication (no division)
    val shapeOk = when(totalTokenChars(text) >= nTok * 3 &&
      totalTokenChars(text) <= nTok * 12, 1).otherwise(0)
    // null text coalesces to the zero-gram shape BEFORE the predicate:
    // the DuckDB replay's gram list is `[]` for null text (ELSE branch
    // of the CASE), so its n_2grams is 0 and the term scores 1 — an
    // uncoalesced null here would score 0 and break the cross-engine
    // hash on any corpus containing a null text
    val nG = coalesce(gramCount(text), lit(0L))
    val repOk = when(nG < 5 ||
      coalesce(maxGramCount(text), lit(0L)) * 5 <= nG, 1).otherwise(0)
    (lenOk + swOk + shapeOk + repOk).as("quality")
  }

  /** Per-SIGNAL quality breakdown — [[qualityScore]]'s four 0/1 terms
    * as separate columns plus the summed score, one row per input doc.
    * The debugging/threshold-tuning readout every filter pipeline needs:
    * "quality dropped 30%" is unactionable until you know WHICH rule
    * fired (did the crawl change length distribution, or did a spam
    * wave trip the repetition cut?). Same integer predicates and null
    * semantics as the score (null text: only the repetition term holds
    * — its gram universe is empty); a pure codegen'd map over the scan,
    * zero shuffles.
    */
  def qualityReport(docs: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    val text = col(textCol)
    val nTok = tokenCount(text)
    val nG = coalesce(gramCount(text), lit(0L))
    docs.select(col(idCol),
      when(nTok.between(10, 1000), 1L).otherwise(0L).as("len_ok"),
      when(stopwordCount(text) > 0, 1L).otherwise(0L).as("stopword_ok"),
      when(totalTokenChars(text) >= nTok * 3 &&
        totalTokenChars(text) <= nTok * 12, 1L).otherwise(0L).as("shape_ok"),
      when(nG < 5 || coalesce(maxGramCount(text), lit(0L)) * 5 <= nG, 1L)
        .otherwise(0L).as("repetition_ok"),
      qualityScore(text).cast("long").as("quality"))
  }

  /** Document fingerprint: the codegen'd PolyHash rolling hash
    * (graft.functions.PolyHash) over the whole text.
    */
  def fingerprint(text: Column): Column = polyFingerprint(text)

  /** The word 2-gram occurrence array of a text column (empty when the
    * document has fewer than 2 tokens — and for null text, whose null
    * token array fails the size predicate the same way).
    */
  private def grams(text: Column): Column = {
    val ws = tokens(text)
    when(size(ws) >= 2,
      transform(sequence(lit(0), size(ws) - 2),
        i => concat_ws(" ", element_at(ws, i + 1), element_at(ws, i + 2))))
      .otherwise(array())
  }

  /** One [[graft.functions.RepetitionStats]] evaluation: the native
    * single-pass struct(n_2grams, max_2gram_count, n_dup_2grams). The
    * per-field accessors below all read this one call — codegen
    * subexpression elimination collapses the repeated subtree.
    */
  private def repStats(text: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.functions.RepetitionStats(
        org.apache.spark.sql.graft.Bridge.expression(text)))

  /** Run-length scan over the SORTED gram array: identical grams are
    * adjacent after the sort, so one left-to-right `aggregate` pass
    * yields per-gram frequencies with no explode and no aggregation
    * shuffle. This is the DECLARATIVE SPEC of the native expression
    * (tested against it in NativeExprSpec) — interpreted per element,
    * ~1 ms/doc, so the query surface uses [[repStats]] instead.
    * `finish` projects the wanted counter out of the (prev, run, max,
    * dup) accumulator.
    */
  private def runLengthScan(text: Column,
                            finish: Column => Column): Column = {
    val acc0 = struct(lit("").as("prev"), lit(0L).as("run"),
      lit(0L).as("mx"), lit(0L).as("dup"))
    aggregate(array_sort(grams(text)), acc0,
      (acc, g) => {
        val same = acc.getField("run") > 0 && acc.getField("prev") === g
        val run = when(same, acc.getField("run") + 1).otherwise(lit(1L))
        // a run of length L contributes L duplicated occurrences once
        // L ≥ 2: +2 when the run first repeats, +1 for each extension
        val dup = acc.getField("dup") + when(same,
          when(acc.getField("run") === 1, lit(2L)).otherwise(lit(1L)))
          .otherwise(lit(0L))
        struct(g.as("prev"), run.as("run"),
          greatest(acc.getField("mx"), run).as("mx"), dup.as("dup"))
      },
      finish)
  }

  /** Total word-2-gram occurrences of a document. */
  def gramCount(text: Column): Column = repStats(text).getField("n_2grams")

  /** The most frequent word-2-gram's occurrence count. */
  def maxGramCount(text: Column): Column =
    repStats(text).getField("max_2gram_count")

  /** Occurrences whose 2-gram appears more than once in the document. */
  def dupGramCount(text: Column): Column =
    repStats(text).getField("n_dup_2grams")

  /** HOF spec twins of the native accessors (see [[runLengthScan]]). */
  def gramCountHof(text: Column): Column = size(grams(text)).cast("long")
  def maxGramCountHof(text: Column): Column =
    runLengthScan(text, acc => acc.getField("mx"))
  def dupGramCountHof(text: Column): Column =
    runLengthScan(text, acc => acc.getField("dup"))

  /** Word 2-gram repetition stats per document — the Gopher-style
    * repetition filter signals, as INTEGER counts (engine-exact, no
    * float fractions in the verified surface): total 2-grams, the most
    * frequent 2-gram's count, and the number of 2-gram occurrences
    * whose gram appears more than once. A repeated-content spam doc has
    * max_2gram_count ≈ n_2grams; clean prose stays near 1. Documents
    * with fewer than 2 tokens emit (0, 0, 0).
    *
    * Shape: ONE native single-pass expression per row
    * ([[graft.functions.RepetitionStats]]) — ZERO exchanges, asserted
    * by the plan guard in LlmOpsSpec. The round-6 formulation exploded
    * every gram occurrence through two corpus-wide hash aggregations
    * and was the most expensive query in the bench; a per-document
    * statistic never needs the corpus shuffled.
    */
  def repetitionStats(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    docs.select(col(idCol),
      coalesce(gramCount(t), lit(0L)).as("n_2grams"),
      coalesce(maxGramCount(t), lit(0L)).as("max_2gram_count"),
      coalesce(dupGramCount(t), lit(0L)).as("n_dup_2grams"))
  }

  /** Gopher repetition-rule thresholds ×100 (Rae et al. 2021, Table
    * A1): a document is removed when any fraction EXCEEDS its
    * threshold — top-{2,3,4}-gram char fraction over 20/18/16%,
    * dup-{5..10}-gram char fraction over 15/14/13/12/11/10%.
    */
  val GopherThresholdsX100: Seq[Int] = Seq(20, 18, 16, 15, 14, 13, 12, 11, 10)

  /** The FULL Gopher word-n-gram repetition rule set (Rae et al. 2021
    * — [[repetitionStats]] is the 2-gram precursor): per document, the
    * x100 char fraction of the most repetition-heavy single n-gram for
    * n = 2,3,4 and of all duplicated n-grams for n = 5..10, plus
    * `gopher_pass` — 1 iff every fraction is at or under its paper
    * threshold (`thresholdsX100`, default [[GopherThresholdsX100]]).
    * Fractions are exact integers: (chars · 100) div byte-length; a
    * null or empty text scores all zeros and passes (repetition rules
    * judge repetition — emptiness is the length gate's job).
    *
    * Shape: ONE native single-pass expression per row
    * ([[graft.functions.GopherRepetition]] — all nine n sizes share
    * one word-boundary scan) + codegen'd integer arithmetic; ZERO
    * exchanges, the [[repetitionStats]] plan-guard posture.
    */
  def gopherStats(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text",
                  thresholdsX100: Seq[Int] = GopherThresholdsX100): DataFrame = {
    val names = GopherFields
    require(thresholdsX100.length == names.length,
      s"need ${names.length} thresholds (${names.mkString(", ")}), " +
        s"got ${thresholdsX100.length}")
    val g = org.apache.spark.sql.graft.Bridge.column(
      graft.functions.GopherRepetition(
        org.apache.spark.sql.graft.Bridge.expression(col(textCol))))
    val nChars = coalesce(length(col(textCol)).cast("long"), lit(0L))
    val withRaw = docs.select(col(idCol) +: nChars.as("n_chars") +:
      names.map(f => coalesce(g.getField(f), lit(0L)).as(s"__go_$f")): _*)
    val fracs = names.map(f =>
      when(col("n_chars") > 0, expr(s"(__go_$f * 100) div n_chars"))
        .otherwise(lit(0L)).as(s"${f}_frac_x100"))
    val passed = names.zip(thresholdsX100).map { case (f, thr) =>
      col(s"${f}_frac_x100") <= thr
    }.reduce(_ && _)
    withRaw.select(col(idCol) +: col("n_chars") +: fracs: _*)
      .withColumn("gopher_pass", when(passed, lit(1L)).otherwise(lit(0L)))
  }

  /** [[gopherStats]]' pass flag as a single boolean COLUMN — the form
    * a streaming gate or composed filter consumes (one native
    * single-pass expression, zero shuffles). Division-free: frac ≤ t
    * ⇔ chars·100 < (t+1)·n_chars under floor division, so the whole
    * gate is cross-multiplied integer comparisons (the sampleByRate
    * posture). Null/empty text passes — length gates are a different
    * signal's job. Agrees with `gopherStats(...).gopher_pass` by
    * construction (asserted in the spec).
    */
  def gopherPass(text: Column,
                 thresholdsX100: Seq[Int] = GopherThresholdsX100): Column = {
    require(thresholdsX100.length == GopherFields.length,
      s"need ${GopherFields.length} thresholds, got ${thresholdsX100.length}")
    val g = org.apache.spark.sql.graft.Bridge.column(
      graft.functions.GopherRepetition(
        org.apache.spark.sql.graft.Bridge.expression(text)))
    val nChars = coalesce(length(text).cast("long"), lit(0L))
    val ok = GopherFields.zip(thresholdsX100).map { case (f, t) =>
      coalesce(g.getField(f), lit(0L)) * 100 < (lit(t.toLong) + 1L) * nChars
    }.reduce(_ && _)
    when(nChars === 0, lit(true)).otherwise(ok)
  }

  /** Thresholds ×100 for the LINE/PARAGRAPH Gopher rules (Rae et al.
    * 2021, Table A1's remaining rows): duplicate line fraction 30%,
    * duplicate line CHARACTER fraction 20%, duplicate paragraph
    * fraction 30%, duplicate paragraph character fraction 20%.
    */
  val GopherLineThresholdsX100: Seq[Int] = Seq(30, 20, 30, 20)

  /** The LINE/PARAGRAPH half of the Gopher rule set, completing
    * [[gopherStats]]' n-gram half: per document the x100 fraction of
    * duplicate lines / paragraphs (all-but-first occurrences of each
    * repeated unit — exactly `n − n_distinct`) and of the CHARACTERS
    * those duplicate occurrences contain, plus `gopher_lines_pass`
    * (1 iff every fraction is at or under its threshold). Lines split
    * on `\n`, paragraphs on `\n\n`; the char denominators are the
    * unit-char totals (separators excluded — both engines then count
    * the same bytes). Null text scores zeros and passes (repetition
    * rules judge repetition; emptiness is the length gate's job).
    * Empty units (blank lines) count like any other — deterministic
    * and engine-portable; strip them upstream if a corpus makes them
    * meaningless.
    *
    * Shape: pure row-local HOF arithmetic (split / array_distinct /
    * aggregate-of-lengths), codegen'd, ZERO exchanges. The split
    * arrays and char sums are STAGED through materialized columns —
    * the CDC-chunker lesson: an array expression referenced by several
    * HOFs re-evaluates per reference when inlined.
    */
  def gopherLineStats(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text",
                      thresholdsX100: Seq[Int] = GopherLineThresholdsX100)
      : DataFrame = {
    require(thresholdsX100.length == 4,
      s"need 4 thresholds (dup_line, dup_line_char, dup_para, " +
        s"dup_para_char), got ${thresholdsX100.length}")
    val reserved = docs.columns.filter(_.startsWith("__gl_"))
    require(reserved.isEmpty,
      s"column(s) ${reserved.mkString(", ")} collide with " +
        "gopherLineStats' reserved prefix '__gl_'")
    def charSum(arr: Column): Column =
      coalesce(aggregate(transform(arr, u => length(u).cast("long")),
        lit(0L), (acc, x) => acc + x), lit(0L))
    val staged = docs
      .withColumn("__gl_ls", split(col(textCol), "\n"))
      .withColumn("__gl_ps", split(col(textCol), "\n\n"))
      .withColumn("__gl_ln", coalesce(size(col("__gl_ls")), lit(0))
        .cast("long"))
      .withColumn("__gl_ld",
        coalesce(size(array_distinct(col("__gl_ls"))), lit(0)).cast("long"))
      .withColumn("__gl_lc", charSum(col("__gl_ls")))
      .withColumn("__gl_lcd", charSum(array_distinct(col("__gl_ls"))))
      .withColumn("__gl_pn", coalesce(size(col("__gl_ps")), lit(0))
        .cast("long"))
      .withColumn("__gl_pd",
        coalesce(size(array_distinct(col("__gl_ps"))), lit(0)).cast("long"))
      .withColumn("__gl_pc", charSum(col("__gl_ps")))
      .withColumn("__gl_pcd", charSum(array_distinct(col("__gl_ps"))))
    val out = staged.select(col(idCol),
      col("__gl_ln").as("n_lines"), col("__gl_pn").as("n_paras"),
      when(col("__gl_ln") > 0,
        expr("((__gl_ln - __gl_ld) * 100) div __gl_ln"))
        .otherwise(lit(0L)).as("dup_line_frac_x100"),
      when(col("__gl_lc") > 0,
        expr("((__gl_lc - __gl_lcd) * 100) div __gl_lc"))
        .otherwise(lit(0L)).as("dup_line_char_frac_x100"),
      when(col("__gl_pn") > 0,
        expr("((__gl_pn - __gl_pd) * 100) div __gl_pn"))
        .otherwise(lit(0L)).as("dup_para_frac_x100"),
      when(col("__gl_pc") > 0,
        expr("((__gl_pc - __gl_pcd) * 100) div __gl_pc"))
        .otherwise(lit(0L)).as("dup_para_char_frac_x100"))
    val names = Seq("dup_line_frac_x100", "dup_line_char_frac_x100",
      "dup_para_frac_x100", "dup_para_char_frac_x100")
    val passed = names.zip(thresholdsX100)
      .map { case (f, thr) => col(f) <= thr }.reduce(_ && _)
    out.withColumn("gopher_lines_pass",
      when(passed, lit(1L)).otherwise(lit(0L)))
  }

  /** Field order of [[graft.functions.GopherRepetition]]'s struct. */
  private val GopherFields: Seq[String] =
    graft.functions.GopherRepetition.TopNs.map(n => s"top$n") ++
      graft.functions.GopherRepetition.DupNs.map(n => s"dup$n")

  /** The full per-document stats projection. */
  def stats(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    docs.select(col("doc_id"),
      charLen(t).as("n_chars"),
      tokenCount(t).cast("long").as("n_tokens"),
      totalTokenChars(t).as("token_chars"),
      punctCount(t).cast("long").as("n_punct"),
      stopwordCount(t).cast("long").as("n_stopwords"),
      langId(t).as("lang_id"),
      qualityScore(t).cast("long").as("quality"),
      fingerprint(t).as("fingerprint"))
  }

  /** Overlapping-window document chunking — the embedding/RAG
    * preprocessing step: one row per (doc, chunk) with `chunk_id` and
    * the `window`-token chunk text starting at every `stride` tokens
    * (the final windows clip at the document end; a null text yields no
    * chunks, while an EMPTY text — one empty token under the
    * split-keeping-empties contract — yields a single empty chunk, as
    * LlmOpsSpec asserts). Pure per-row expression — explode + codegen'd
    * array ops, no shuffle: at 100 TB this is a map stage over the
    * scan, and chunk rows land where their document was.
    */
  def chunkDocuments(docs: DataFrame, window: Int, stride: Int,
                     idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    require(window > 0, s"window must be positive, got $window")
    require(stride > 0 && stride <= window,
      s"stride must be in [1, window=$window], got $stride")
    val ws = tokens(col(textCol))
    val starts = when(col(textCol).isNotNull && size(ws) > 0,
      sequence(lit(0), size(ws) - 1, lit(stride))).otherwise(array())
    docs.select(col(idCol), ws.as("__ck_ws"),
        explode(starts).as("__ck_start"))
      .select(col(idCol),
        expr(s"__ck_start div $stride").cast("long").as("chunk_id"),
        concat_ws(" ",
          slice(col("__ck_ws"), col("__ck_start") + 1, lit(window)))
          .as("chunk_text"))
  }

  /** PII redaction patterns — like [[BpePattern]], no lookarounds or
    * backreferences, so each pattern compiles identically under Java
    * regex (Spark) and RE2 (the DuckDB oracle). Deliberately
    * conservative: emails, dotted-quad IPs, and long (≥9) digit runs
    * (account/SSN-shaped ids). A production deployment swaps in its
    * compliance list; the operator shape — ordered, engine-portable
    * regexp_replace chain, one codegen'd map over the scan — is what
    * the engine provides.
    */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b" -> "<IP>",
    "\\b\\d{9,}\\b" -> "<NUM>")

  /** Apply the [[PiiPatterns]] chain in order (IPs are matched before
    * bare digit runs can eat their octets — order is part of the
    * contract). Null text stays null.
    */
  def redactPii(text: Column): Column =
    PiiPatterns.foldLeft(text) { case (c, (pat, rep)) =>
      regexp_replace(c, pat, rep)
    }

  /** Per-document compression stats — the Gopher/Dolma compression-
    * ratio quality signal: boilerplate/template spam compresses far
    * harder than natural prose. Output: (idCol, n_bytes, deflate_len,
    * ratio_x1000) with `ratio_x1000 = deflate_len · 1000 div n_bytes`
    * (lower = more repetitive). Null/empty text → 0 bytes, null ratio.
    * One codegen'd map over the scan ([[graft.functions.DeflateLen]]).
    * SPEC-gated, not oracle-gated: no SQL engine replays zlib — the
    * gated laws are ratio ORDERING (repetitive ≪ diverse) and
    * run-to-run determinism.
    */
  def compressionStats(docs: DataFrame, idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    val nBytes = octet_length(col(textCol)).cast("long")
    docs.select(col(idCol), coalesce(nBytes, lit(0L)).as("n_bytes"),
        coalesce(graft.functions.deflateLen(col(textCol)), lit(0L))
          .as("deflate_len"))
      .withColumn("ratio_x1000",
        when(col("n_bytes") > 0,
          expr("deflate_len * 1000 div n_bytes")))
  }

  /** Per-domain rollup of [[compressionStats]]: corpus-mass ratio per
    * domain (total deflate bytes ×1000 div total bytes) — the one-row-
    * per-domain readout a curation pass thresholds on.
    */
  def compressionReport(docs: DataFrame, domainCol: String = "source",
                        textCol: String = "text"): DataFrame =
    docs.filter(col(textCol).isNotNull && col(domainCol).isNotNull)
      .select(col(domainCol),
        octet_length(col(textCol)).cast("long").as("__cr_b"),
        graft.functions.deflateLen(col(textCol)).as("__cr_d"))
      .groupBy(col(domainCol))
      .agg(count(lit(1)).as("n_docs"), sum("__cr_b").as("n_bytes"),
        sum("__cr_d").as("deflate_bytes"))
      .withColumn("ratio_x1000",
        when(col("n_bytes") > 0,
          expr("deflate_bytes * 1000 div n_bytes")))

  /** Mojibake repair pairs — the highest-frequency UTF-8-read-as-
    * Latin-1 double-encoding artifacts of web crawls (the ftfy top of
    * the distribution): smart quotes/dashes ("â€™" → "'"), accented
    * Latin letters ("Ã©" → "é"), and non-breaking-space artifacts
    * ("Â"+U+00A0 → " " — U+00A0 read as Latin-1 renders as Â followed
    * by a REAL NBSP, not an ASCII space; the r16 advice fix — the old
    * "Â "+space pair never fired on real NBSP mojibake and instead
    * rewrote legitimate Â+space sequences). LITERAL replacements in
    * longest-first order (every
    * 3-byte artifact repairs before any 2-byte prefix of it could),
    * deliberately conservative: ambiguous tails (a bare "â€" with its
    * final byte mangled) are NOT repaired — a wrong guess corrupts
    * clean text, a skipped repair only leaves mojibake.
    */
  val MojibakePairs: Seq[(String, String)] = Seq(
    "â€™" -> "'", "â€˜" -> "'", "â€œ" -> "\"",
    "â€“" -> "–", "â€”" -> "—", "â€¦" -> "…",
    "Ã©" -> "é", "Ã¨" -> "è", "Ã¡" -> "á", "Ã³" -> "ó",
    "Ã±" -> "ñ", "Ã¼" -> "ü", "Ã¶" -> "ö", "Ã¤" -> "ä",
    "Ã§" -> "ç", "Â°" -> "°", "Â·" -> "·", "Â " -> " ")

  /** Apply the [[MojibakePairs]] chain in order — the encoding-repair
    * rung of text cleaning (run BEFORE [[normalizeText]]: mojibake
    * survives normalization as spurious tokens and poisons dedup
    * shingles). Pure literal `replace`, no regex engine: one codegen'd
    * map over the scan, identical in any engine. Null stays null.
    */
  def fixMojibake(text: Column): Column =
    MojibakePairs.foldLeft(text) { case (c, (pat, rep)) =>
      replace(c, lit(pat), lit(rep))
    }

  /** Per-domain PII audit — the readout a compliance pass reads BEFORE
    * redaction ships: for each domain, how many matches of each
    * [[PiiPatterns]] type exist and how many documents carry any.
    * Counts follow the chain ORDER exactly (each pattern is counted in
    * the text AFTER its predecessors were replaced — so an IP's octets
    * are never double-counted as digit runs): the numbers are the
    * replacements [[redactPii]] actually performs, not naive
    * independent scans. One codegen'd map over the scan + one
    * partial-agg groupBy; null text/domain rows are excluded.
    *
    * Output: (domain, n_docs, n_email, n_ip, n_num, docs_with_pii).
    */
  def piiReport(docs: DataFrame, domainCol: String = "source",
                textCol: String = "text"): DataFrame = {
    val names = Seq("email", "ip", "num")
    val staged = PiiPatterns.zip(names).zipWithIndex.foldLeft(
      docs.filter(col(textCol).isNotNull && col(domainCol).isNotNull)
        .withColumn("__pii_t0", col(textCol))) {
      case (df, (((pat, rep), nm), i)) =>
        df.withColumn(s"__pii_c_$nm",
            regexp_count(col(s"__pii_t$i"), lit(pat)).cast("long"))
          .withColumn(s"__pii_t${i + 1}",
            regexp_replace(col(s"__pii_t$i"), pat, rep))
    }
    val anyPii = names.map(nm => col(s"__pii_c_$nm")).reduce(_ + _) > 0
    staged.groupBy(col(domainCol))
      .agg(count(lit(1)).as("n_docs"),
        sum("__pii_c_email").as("n_email"),
        sum("__pii_c_ip").as("n_ip"),
        sum("__pii_c_num").as("n_num"),
        sum(when(anyPii, 1L).otherwise(0L)).as("docs_with_pii"))
  }

  /** Canonical text normalization for robust dedup/matching — the
    * preprocessing every C4/RefinedWeb-style pipeline applies before
    * shingling: lowercase, non-alphanumerics to spaces, runs of spaces
    * collapsed, ends trimmed. Engine-portable (plain character classes,
    * no lookarounds — Java regex and RE2 agree), a pure codegen'd
    * per-row map; null stays null, a fully-punctuation text normalizes
    * to ''. Deliberately ASCII-scoped like the tokenizer family; a
    * Unicode NFKC pass is a locale decision layered above.
    */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9 ]", " "),
      " +", " "))

  /** URL canonicalization — the dedup-key normalizer every crawl
    * pipeline runs before URL-level dedup and blocklist joins (the
    * same page arrives as `HTTP://Site.com:80/a?utm_source=x` and
    * `http://site.com/a` across snapshots). The law, chosen to be
    * deterministic and replayable in any engine (no URL library):
    *
    *  1. drop the fragment (`#...` never reaches the server);
    *  2. lowercase scheme and host (RFC 3986 §6.2.2.1) — path and
    *     query stay case-sensitive;
    *  3. strip the scheme's DEFAULT port (`:80` http, `:443` https);
    *  4. empty path → `/`;
    *  5. drop tracking params (`utm_*`, `fbclid`, `gclid`, `ref`) and
    *     sort the rest byte-lexicographically (param order is
    *     semantically irrelevant but breaks byte-equal dedup).
    *
    * A value with no `scheme://` prefix is returned UNCHANGED — a
    * canonicalizer must never corrupt a non-URL; null stays null.
    * Pure codegen'd string/HOF expressions over the scan — zero
    * shuffle, zero UDF.
    */
  def canonicalizeUrl(url: Column): Column = {
    val u = regexp_replace(url, "#.*", "")
    val scheme = regexp_extract(u, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1)
    val ls = lower(scheme)
    val host0 = lower(regexp_extract(u, "^[^:/?#]+://([^/?#]*)", 1))
    val host = when(ls === "http", regexp_replace(host0, ":80$", ""))
      .when(ls === "https", regexp_replace(host0, ":443$", ""))
      .otherwise(host0)
    val path0 = regexp_extract(u, "^[^:/?#]+://[^/?#]*([^?#]*)", 1)
    val path = when(path0 === "", lit("/")).otherwise(path0)
    // (?s): the query runs to END-OF-STRING, not end-of-line — the
    // native fused pass (functions/CanonicalUrl.scala) takes the
    // substring after '?', so a newline-bearing query must canonicalize
    // identically in both formulations
    val q = regexp_extract(u, "(?s)^[^?]*\\?(.*)", 1)
    val params = array_sort(filter(split(q, "&"), p =>
      p =!= "" && !p.rlike("^(utm_[^=]*|fbclid|gclid|ref)(=.*)?$")))
    val qpart = when(size(params) > 0,
      concat(lit("?"), array_join(params, "&"))).otherwise(lit(""))
    when(scheme === "", url)
      .otherwise(concat(ls, lit("://"), host, path, qpart))
  }

  /** Weighted-lexicon hit relation — the list-based safety/NSFW screen
    * every major corpus release runs before model-based filters (C4's
    * blocklist cut; Dolma layers lists under fasttext): tokens
    * ([[normalizeText]] law, so "BAD!" matches "bad") are joined
    * against a user-supplied lexicon `(term, category, weight_x100)`
    * and summed per (document, category). Weights are ×100 integers —
    * severity grading ("damn" 25, slurs 400) with NO float anywhere,
    * so the DuckDB oracle replays the arithmetic exactly.
    *
    * Output: (idCol, category, hits, score_x100), one row per (doc,
    * category) with ≥ 1 matched occurrence — the tall audit relation a
    * reviewer reads; [[lexiconScreen]] folds it into a verdict.
    *
    * Scale shape: the lexicon is broadcast (a word list is KBs); the
    * token explode is row-local inside the scan; one (doc, category)
    * partial-agg shuffle. The corpus is read once, map-only until the
    * final aggregation.
    */
  def lexiconHits(docs: DataFrame, lexicon: DataFrame,
                  idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    val toks = docs.filter(col(textCol).isNotNull)
      .select(col(idCol),
        explode(split(normalizeText(col(textCol)), " ")).as("__lx_w"))
      .filter(col("__lx_w") =!= "")
    toks.join(
        broadcast(lexicon.select(col("term").as("__lx_w"),
          col("category"), col("weight_x100"))),
        "__lx_w")
      .groupBy(col(idCol), col("category"))
      .agg(count(lit(1)).as("hits"),
        sum(col("weight_x100").cast("long")).as("score_x100"))
  }

  /** Per-document lexicon screen VERDICT over [[lexiconHits]]: a
    * category flags when its weighted score exceeds the per-mille
    * token budget — `score_x100 · 1000 > maxScoreX100PerKtok ·
    * n_tokens`, integer cross-multiplied (a 10-token comment and a
    * 10k-token article get the same DENSITY bar, not the same raw
    * count — raw-count screens systematically over-drop long
    * documents). Docs with zero tokens have nothing to screen and
    * pass.
    *
    * Output: (idCol, n_tokens, n_flagged, screen_pass) for EVERY
    * non-null-text document — the gate relation a curation pipeline
    * joins on, with the flag count kept for audit (which docs were
    * borderline vs saturated).
    */
  def lexiconScreen(docs: DataFrame, lexicon: DataFrame,
                    maxScoreX100PerKtok: Long,
                    idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    require(maxScoreX100PerKtok >= 0,
      s"maxScoreX100PerKtok must be >= 0, got $maxScoreX100PerKtok")
    val norm = normalizeText(col(textCol))
    val nTok = docs.filter(col(textCol).isNotNull)
      .select(col(idCol),
        when(norm === "", lit(0L))
          .otherwise(size(split(norm, " ")).cast("long")).as("n_tokens"))
    val flagged = lexiconHits(docs, lexicon, idCol, textCol)
      .join(nTok, idCol)
      .filter(col("score_x100") * 1000L >
        col("n_tokens") * maxScoreX100PerKtok)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_flagged"))
    nTok.join(flagged, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("n_flagged"), lit(0L)).as("n_flagged"),
        (coalesce(col("n_flagged"), lit(0L)) === 0L).as("screen_pass"))
  }

  /** Per-document term frequencies `(idCol, word, tf)` — the shared
    * zero-shuffle base of the keywords / surprisal / retrieval family:
    * the native [[graft.functions.WordTfs]] expression computes the
    * per-doc (word, tf) array inside the scan's map stage and explodes
    * it row-locally. One definition so the tokenization and null
    * contracts of the whole family move together.
    */
  private[ext] def tfRelation(docs: DataFrame, idCol: String, textCol: String,
                              tfs: Column => Column =
                                graft.functions.wordTfs): DataFrame =
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol), explode(tfs(col(textCol))).as("wt"))
      .select(col(idCol), col("wt.word").as("word"), col("wt.tf").as("tf"))

  /** TF-IDF-style keyword extraction, integer-exact: per document, the
    * top-`k` terms by `score = tf·10⁶ div df` (term frequency weighted
    * against corpus-wide document frequency — the idf in fixed-point
    * integer form, so the ranking is bit-reproducible in any engine; no
    * float log ever enters the comparator). Ties break lexicographically
    * — a total order, so top-k is deterministic.
    *
    * Scale shape (round 11 — formerly a corpus-wide (doc, word)
    * aggregation exchange): tf is a ROW-LOCAL statistic — every word of
    * a document lives inside its own row — so the native
    * [[graft.functions.WordTfs]] expression computes the per-doc
    * (word, tf) array inside the scan's map stage and explodes it with
    * ZERO shuffle. The only corpus-scale exchange left is df: one
    * partial-aggregated (map tasks emit ≤ vocab rows, skew-safe)
    * word-keyed shuffle, joined back (AQE broadcasts it when small);
    * the per-doc top-k runs on the custom [[graft.plans.TopKPerKey]]
    * operator — bounded per-partition heaps, at most k rows per key
    * enter the final exchange, never a full window sort of every
    * (doc, term) pair.
    */
  def keywords(docs: DataFrame, k: Int = 3, idCol: String = "doc_id",
               textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.graft.Bridge
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending, SortOrder}
    import org.apache.spark.sql.expressions.Window
    // tf is deliberately NOT pinned although dfreq and the scoring join
    // both read it: WordTfs is a cheap codegen'd map pipelined straight
    // into each consumer's aggregation, and a measured sf0.1 A/B showed
    // pinning the corpus-sized explode costs ~25%
    // (0.67→0.88 s) — two pipelined columnar scans beat writing the
    // row blow-up. Pinning pays only for BOUNDED or post-aggregation
    // relations (searchDocs' query-cut `matched`, nbParts' vocab-sized
    // `wc`, bigramSurprisal's aggregated `bp`).
    val tf = tfRelation(docs, idCol, textCol)
    val dfreq = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val scored = tf.join(dfreq, "word")
      .withColumn("score", expr("(tf * 1000000) div df"))
      .select(col(idCol), col("word"), col("tf"), col("df"), col("score"))
    val top = graft.plans.TopKPerKey(
      Seq(UnresolvedAttribute(idCol)),
      Seq(SortOrder(UnresolvedAttribute("score"), Descending),
        SortOrder(UnresolvedAttribute("word"), Ascending)),
      k, Bridge.logicalPlan(scored))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("word"))
    Bridge.ofRows(docs.sparkSession, top)
      .withColumn("rank", row_number().over(w).cast("long"))
  }

  /** Unigram SURPRISAL — the perplexity-filter analog (CCNet-style
    * quality signal: gibberish and boilerplate sit at the surprisal
    * extremes), integer-exact: per-occurrence surprisal is the
    * floor-log2 gap `L(total) − L(count_w)` where `L(x) =
    * length(bin(x))` — both engines render positive integers to the
    * same binary string, so no float log enters the score. Output per
    * document: summed `surprisal`, `n_tokens`, and the filterable
    * `mean_bits_x100 = surprisal·100 div n_tokens` (0 for null/empty
    * text, via the left join back to the corpus).
    *
    * Scale shape: tf is the zero-shuffle [[graft.functions.WordTfs]]
    * map; the unigram model is ONE partial-aggregated word-keyed
    * shuffle (≤ vocab rows out), its 1-row total broadcast-crossed
    * back; scoring re-joins counts on the word (AQE broadcasts a small
    * vocab) and the per-doc sum partial-aggregates before its
    * exchange. Two corpus-derived shuffles total, both vocab- or
    * doc-bounded.
    */
  def unigramSurprisal(docs: DataFrame, idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    // tf deliberately NOT pinned (the keywords rationale: a cheap
    // codegen'd explode pipelined into two consumers beats
    // materializing the corpus-sized intermediate — measured 0.75→0.94 s
    // at sf0.1 with the pin)
    val tf = tfRelation(docs, idCol, textCol)
    val counts = tf.groupBy("word").agg(sum("tf").as("cnt"))
    val total = counts.agg(sum("cnt").as("total"))
    val agg = tf.join(counts, "word")
      .crossJoin(broadcast(total))
      .withColumn("bits",
        (length(bin(col("total"))) - length(bin(col("cnt")))).cast("long"))
      .groupBy(col(idCol))
      .agg(sum(col("tf") * col("bits")).as("surprisal"),
        sum(col("tf")).as("n_tokens"))
    docs.select(col(idCol)).join(agg, Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("surprisal"), lit(0L)).as("surprisal"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        when(coalesce(col("n_tokens"), lit(0L)) > 0,
          expr("(surprisal * 100) div n_tokens"))
          .otherwise(lit(0L)).as("mean_bits_x100"))
  }

  /** BIGRAM (conditional) surprisal — the next step up the n-gram-LM
    * ladder from [[unigramSurprisal]] (CCNet's actual filter is a
    * 5-gram KenLM; the bigram captures the word-ORDER signal a unigram
    * model is blind to: "the the the the" is unigram-cheap but
    * bigram-expensive in natural text). Integer-exact, add-one
    * smoothed: for each bigram occurrence (w1, w2),
    *
    *   bits = L(ctx(w1) + V) − L(cnt(w1,w2) + 1),   L(x) = length(bin(x))
    *
    * (the [[nbModel]] smoothing with w1 as the class) where `ctx(w1)` =
    * corpus occurrences of w1 as a bigram CONTEXT and `V` = distinct
    * unigram vocabulary size — the same floor-log2 bin-length law both
    * engines render identically, so no float log enters the score.
    * Output per document: summed `surprisal`, `n_bigrams`, and the
    * filterable `mean_bits_x100` (0 for null/empty/single-token text,
    * via the left join back to the corpus).
    *
    * Scale shape: bigram strings derive ROW-LOCALLY from the scan (the
    * native [[graft.functions.WordGrams]] pass the n-gram LM family
    * shares, via [[ngramArray]]); then ONE
    * (doc, bigram) partial-agg shuffle, a bigram-vocab-bounded count
    * aggregation with its context rollup, a 1-row V broadcast, and the
    * doc-keyed scoring sum — every exchange vocab- or doc-bounded,
    * never corpus-quadratic.
    */
  def bigramSurprisal(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
    // input contract: a backticked column name is rejected up front
    require(!textCol.contains("`"),
      s"bigramSurprisal: textCol must not contain a backtick, got '$textCol'")
    // per-doc bigram occurrence counts; single-token docs yield none
    val bp = docs.filter(col(textCol).isNotNull)
      .select(col(idCol), explode(ngramArray(textCol, 2)).as("bigram"))
      .groupBy(col(idCol), col("bigram"))
      .agg(count(lit(1)).as("tf"))
      // pinned: the corpus-wide counts AND the scoring join both read
      // bp — without the pin the scan + bigram explode runs twice (the
      // duplicationProfile lesson, ADVICE r12; re-examined round 22 —
      // the no-pin initial plan shows 10 parquet scans and no
      // ReusedExchange, so the pin stays)
      .pin()
    val c2 = bp.groupBy("bigram").agg(sum("tf").as("cnt"))
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
    val c1 = c2.groupBy("w1").agg(sum("cnt").as("ctx"))
    val vocab = tfRelation(docs, idCol, textCol)
      .agg(count_distinct(col("word")).as("v"))
    val agg = bp
      .join(c2.select("bigram", "cnt", "w1"), "bigram")
      .join(c1, "w1")
      .crossJoin(broadcast(vocab))
      .withColumn("bits",
        (length(bin(col("ctx") + col("v"))) -
          length(bin(col("cnt") + 1))).cast("long"))
      .groupBy(col(idCol))
      .agg(sum(col("tf") * col("bits")).as("surprisal"),
        sum(col("tf")).as("n_bigrams"))
    docs.select(col(idCol)).join(agg, Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("surprisal"), lit(0L)).as("surprisal"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        when(coalesce(col("n_bigrams"), lit(0L)) > 0,
          expr("(surprisal * 100) div n_bigrams"))
          .otherwise(lit(0L)).as("mean_bits_x100"))
  }

  /** Array of word `n`-grams of `textCol` (space-joined strings, in
    * position order) from the native one-pass
    * [[graft.functions.WordGrams]] — empty for docs with fewer than `n`
    * words, null for a null text (both explode to no rows). Shared by
    * the n-gram LM family.
    */
  private def ngramArray(textCol: String, n: Int): Column =
    wordGrams(col(textCol), n)

  /** Per-document LEXICAL DIVERSITY: distinct words, total words, and
    * the integer type-token ratio ×100 — the classic richness signal
    * (templated/spun text scores low; a TTR floor is a cheap quality
    * cut beside the repetition gates). Pure row-local array ops, zero
    * shuffles; null text scores zeros.
    */
  def lexicalDiversity(docs: DataFrame, idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    require(!textCol.contains("`"),
      s"lexicalDiversity: textCol must not contain a backtick, got '$textCol'")
    val ws = tokens(col(textCol))
    val nTok = size(ws).cast("long")
    val nTypes = size(array_distinct(ws)).cast("long")
    docs.select(col(idCol),
      when(col(textCol).isNull, 0L).otherwise(nTok).as("n_tokens"),
      when(col(textCol).isNull, 0L).otherwise(nTypes).as("n_types"),
      when(col(textCol).isNull || nTok === 0L, 0L)
        .otherwise(expr(
          s"size(array_distinct(split(`$textCol`, ' '))) * 100L" +
            s" div size(split(`$textCol`, ' '))"))
        .as("ttr_x100"))
  }

  /** Per-DOMAIN lexical profile: exact vocabulary size and the hapax
    * share (words seen exactly once in the domain — the
    * vocabulary-richness number corpus linguistics leads with; a
    * boilerplate-heavy domain has few hapaxes, an OCR-noise domain has
    * too many). One (domain, word) partial-agg shuffle, vocab-bounded.
    */
  def domainLexicalProfile(docs: DataFrame, domainCol: String = "source",
                           textCol: String = "text"): DataFrame =
    docs.filter(col(textCol).isNotNull && col(domainCol).isNotNull)
      .select(col(domainCol), explode(graft.functions.wordTfs(col(textCol))).as("wt"))
      .groupBy(col(domainCol), col("wt.word").as("word"))
      .agg(sum("wt.tf").as("cnt"))
      .groupBy(domainCol)
      .agg(count(lit(1)).as("vocab_size"),
        sum(when(col("cnt") === 1L, 1L).otherwise(0L)).as("hapax_count"))
      .withColumn("hapax_x100", expr("hapax_count * 100 div vocab_size"))

  /** Corpus-driven STOPWORD discovery: words whose document frequency
    * reaches `minDfX100`% of the corpus (exact df, integer
    * cross-multiplied — df·100 ≥ threshold·n_docs). The standard way a
    * stopword list is built for a language/domain the curated lists
    * don't cover; feed the output to [[stopwordCount]]-style signals
    * or retrieval term filtering. Output: (word, df, df_x100), every
    * qualifying word.
    *
    * Scale shape: the per-doc distinct-word relation partial-aggs into
    * one vocab-bounded (word, df) shuffle; the corpus count is a 1-row
    * broadcast attachment.
    */
  def discoverStopwords(docs: DataFrame, minDfX100: Long = 40L,
                        textCol: String = "text"): DataFrame = {
    require(minDfX100 >= 1 && minDfX100 <= 100,
      s"minDfX100 must be in [1, 100], got $minDfX100")
    val n = docs.filter(col(textCol).isNotNull)
      .agg(count(lit(1)).as("__sw_n"))
    docs.filter(col(textCol).isNotNull)
      .select(explode(graft.functions.wordTfs(col(textCol))).as("wt"))
      .groupBy(col("wt.word").as("word"))
      .agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(n))
      .filter(col("df") * 100 >= lit(minDfX100) * col("__sw_n"))
      .select(col("word"), col("df"),
        expr("df * 100 div __sw_n").as("df_x100"))
  }

  /** Per-domain top-k n-grams — the corpus-profiling staple ("what
    * does each source actually say"): total n-gram occurrence counts
    * per (domain, gram), cut to the k most frequent per domain
    * (count DESC, gram ASC tiebreak) on the bounded-heap
    * [[graft.plans.TopKPerKey]] operator. Output: (domainCol, gram,
    * cnt, rank).
    *
    * Scale shape: the gram explode map-side-combines into one
    * (domain, gram) partial-agg shuffle (vocab-bounded, never
    * corpus-sized), then the TopKPerKey cut carries ≤ k rows per
    * (partition, domain) into the final exchange — no per-domain
    * vocabulary sort.
    */
  def domainTopNgrams(docs: DataFrame, k: Int = 5, n: Int = 2,
                      domainCol: String = "source",
                      textCol: String = "text"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(n > 0, s"n must be positive, got $n")
    import org.apache.spark.sql.graft.Bridge
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending, SortOrder}
    import org.apache.spark.sql.expressions.Window
    val counts = docs
      .filter(col(textCol).isNotNull && col(domainCol).isNotNull)
      .select(col(domainCol), explode(ngramArray(textCol, n)).as("gram"))
      .groupBy(domainCol, "gram").agg(count(lit(1)).as("cnt"))
    val top = graft.plans.TopKPerKey(
      Seq(UnresolvedAttribute(domainCol)),
      Seq(SortOrder(UnresolvedAttribute("cnt"), Descending),
        SortOrder(UnresolvedAttribute("gram"), Ascending)),
      k, Bridge.logicalPlan(counts))
    val w = Window.partitionBy(col(domainCol))
      .orderBy(col("cnt").desc, col("gram"))
    Bridge.ofRows(docs.sparkSession, top)
      .withColumn("rank", row_number().over(w).cast("long"))
  }

  /** HTML → text extraction — the FIRST stage of every crawl pipeline
    * (everything downstream, dedup shingles included, sees what this
    * emits). A deterministic ordered regex/literal chain, chosen so
    * BOTH engines replay it byte-for-byte (no lookahead, no
    * backreferences — the RE2 subset):
    *
    *  1. script blocks out, 2. style blocks out (non-greedy,
    *     case-insensitive, dot-matches-newline),
    *  3. block-level tags (p/br/div/li/h1–6/tr) → newline (paragraph
    *     structure survives for the line/paragraph dedup stages),
    *  4. every remaining tag → space,
    *  5. the six highest-frequency entities decoded literally —
    *     `&amp;` LAST so `&amp;lt;` decodes to the literal `&lt;` the
    *     author wrote, never double-decodes,
    *  6. horizontal whitespace collapsed, blank-ish line runs → one
    *     newline, trimmed.
    *
    * Deliberately a BASELINE extractor (the readability/trafilatura
    * class of content pickers is a model, not a law); conservative on
    * anything it doesn't recognize. Null stays null.
    */
  def htmlToText(html: Column): Column = {
    val noScript = regexp_replace(html,
      "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript,
      "(?is)<style[^>]*>.*?</style>", " ")
    val blocks = regexp_replace(noStyle,
      "(?i)</?(p|br|div|li|h[1-6]|tr)[^>]*>", "\n")
    val noTags = regexp_replace(blocks, "<[^>]*>", " ")
    val entities = Seq("&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
      "&quot;" -> "\"", "&#39;" -> "'", "&amp;" -> "&")
    val decoded = entities.foldLeft(noTags) { case (c, (pat, rep)) =>
      replace(c, lit(pat), lit(rep))
    }
    trim(regexp_replace(regexp_replace(regexp_replace(decoded,
      "[ \t]+", " "), " ?\n[ \n]*", "\n"), "^\n+|\n+$", ""))
  }

  /** CODE-file screening statistics (The Stack / StarCoder lineage,
    * Kocetkov et al. 2022): the rule set code corpora apply where
    * prose corpora apply C4/Gopher — minified bundles and data blobs
    * have enormous lines and near-zero alphabetic share, while real
    * source has short lines and a steady comment presence. Per doc:
    *
    *  - `n_lines`, `max_line_len`,
    *    `avg_line_len_x100` = Σ len(line)·100 div n_lines,
    *  - `alpha_frac_x1000` = alphabetic chars ·1000 div chars,
    *  - `comment_frac_x1000` = lines whose first non-space chars open
    *    a comment (hash, double-slash, double-dash, slash-star or a
    *    block-continuation star) ·1000 div n_lines,
    *  - `code_pass` under the StarCoder defaults: avg line ≤ 100,
    *    max line ≤ 1000, alphabetic share ≥ 25%.
    *
    * Entirely row-local codegen'd HOFs over the line array — zero
    * shuffle; every ratio integer cross-multiplied (the DuckDB oracle
    * replays each). Empty text: zero lines of zero length — fails the
    * alpha floor, as an empty file should. Null text excluded.
    */
  def codeStats(docs: DataFrame, idCol: String = "doc_id",
                textCol: String = "text"): DataFrame = {
    val lines = split(col(textCol), "\n")
    val nLines = size(lines).cast("long")
    val lens = transform(lines, l => length(l).cast("long"))
    val sumLen = aggregate(lens, lit(0L), (a, v) => a + v)
    val maxLen = coalesce(array_max(lens), lit(0L))
    val nAlpha = length(regexp_replace(col(textCol), "[^A-Za-z]", ""))
      .cast("long")
    val nChars = length(col(textCol)).cast("long")
    val nComment = size(filter(lines,
      l => ltrim(l).rlike("^(#|//|--|/\\*|\\*)"))).cast("long")
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol), nLines.as("n_lines"), maxLen.as("max_line_len"),
        sumLen.as("__cs_sum"),
        nAlpha.as("__cs_alpha"), nChars.as("__cs_chars"),
        nComment.as("__cs_comment"))
      .select(col(idCol), col("n_lines"), col("max_line_len"),
        expr("(__cs_sum * 100) div n_lines").as("avg_line_len_x100"),
        when(col("__cs_chars") > 0L,
          expr("(__cs_alpha * 1000) div __cs_chars")).otherwise(lit(0L))
          .as("alpha_frac_x1000"),
        expr("(__cs_comment * 1000) div n_lines")
          .as("comment_frac_x1000"))
      .withColumn("code_pass",
        when(col("avg_line_len_x100") <= 10000L &&
          col("max_line_len") <= 1000L &&
          col("alpha_frac_x1000") >= 250L, 1L).otherwise(0L))
  }

  /** C4 page-cleaning statistics (Raffel et al. 2020 §2.2) per
    * document: line-filter results (`clean_text`, `n_lines`, `n_kept`,
    * `n_sentences`) plus the page flags (`has_lorem`, `has_brace`,
    * `has_badword`) and the derived `c4_pass` under the ≥5-sentence
    * rule — the classic rule-based web-page cleaner alongside the
    * Gopher repetition gate. One row-local codegen'd expression
    * ([[graft.functions.C4Stats]]), zero shuffles; null text coalesces
    * to the empty page (pass = 0).
    */
  def c4Stats(docs: DataFrame, idCol: String = "doc_id",
              textCol: String = "text"): DataFrame =
    docs.select(col(idCol),
        graft.functions.c4Stats(col(textCol)).as("c4"))
      .select(col(idCol),
        coalesce(col("c4.clean"), lit("")).as("clean_text"),
        coalesce(col("c4.n_lines"), lit(0L)).as("n_lines"),
        coalesce(col("c4.n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("c4.n_sentences"), lit(0L)).as("n_sentences"),
        coalesce(col("c4.has_lorem"), lit(0L)).as("has_lorem"),
        coalesce(col("c4.has_brace"), lit(0L)).as("has_brace"),
        coalesce(col("c4.has_badword"), lit(0L)).as("has_badword"))
      .withColumn("c4_pass",
        when(col("n_sentences") >= graft.functions.C4Stats.MinSentences &&
          col("has_lorem") === 0L && col("has_brace") === 0L &&
          col("has_badword") === 0L, 1L).otherwise(0L))

  /** The C4 page REWRITE: surviving pages only (`c4_pass` = 1), text
    * replaced by the line-filtered `clean_text` — the shape a curation
    * pipeline feeds downstream. Same zero-shuffle scan as [[c4Stats]].
    */
  def c4Clean(docs: DataFrame, idCol: String = "doc_id",
              textCol: String = "text"): DataFrame =
    c4Stats(docs, idCol, textCol)
      .filter(col("c4_pass") === 1L)
      .select(col(idCol), col("clean_text"), col("n_kept"),
        col("n_sentences"))

  /** PMI collocation mining (Church & Hanks 1990): corpus-wide bigram
    * association strength — the classic "which word pairs co-occur far
    * more than chance" signal a curation pipeline uses to spot
    * boilerplate phrases, template spans, and multi-word entities.
    * Integer-exact: with `L(x) = length(bin(x))` (floor-log2 + 1) the
    * score is the overflow-safe per-factor decomposition
    *
    *   pmi_bits = (L(c(w1 w2)) − L(c(w1))) + (L(N) − L(c(w2)))
    *
    * of `log2(c(w1 w2)·N / (c(w1)·c(w2)))` — the products `c·N` and
    * `c·c` that the textbook form needs overflow int64 at 100 TB token
    * counts (~10¹² tokens squared), so each factor enters through its
    * own bin length and nothing is ever multiplied. Both engines render
    * positive ints to the same binary string, so no float log enters
    * the score. `minCount` drops the unstable low-frequency tail
    * (standard PMI practice — a 1-occurrence pair maximizes PMI by
    * construction).
    *
    * Scale shape: ONE corpus bigram explode partial-aggregated into a
    * vocab²-bounded pair relation (pinned — the N scalar and the output
    * both read it); unigram counts are a vocab-bounded relation AQE
    * broadcasts into the two attach joins; N is a 1-row broadcast
    * cross. No corpus-sized exchange anywhere.
    */
  def pmiCollocations(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text",
                      minCount: Long = 5L): DataFrame = {
    // vocab²-bounded, read twice (N scalar + the filtered output) → pinned
    val pairs = docs.filter(col(textCol).isNotNull)
      .select(explode(ngramArray(textCol, 2)).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).cast("long").as("n_pair"))
      .pin()
    val uni = tfRelation(docs, idCol, textCol)
      .groupBy("word").agg(sum("tf").cast("long").as("cnt"))
    val tot = pairs.agg(sum("n_pair").cast("long").as("n_total"))
    pairs.filter(col("n_pair") >= minCount)
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
      .withColumn("w2", substring_index(col("bigram"), " ", -1))
      .join(uni.select(col("word").as("w1"), col("cnt").as("n_w1")), "w1")
      .join(uni.select(col("word").as("w2"), col("cnt").as("n_w2")), "w2")
      .crossJoin(broadcast(tot))
      .select(col("w1"), col("w2"), col("n_pair"), col("n_w1"),
        col("n_w2"), col("n_total"),
        ((length(bin(col("n_pair"))) - length(bin(col("n_w1")))) +
          (length(bin(col("n_total"))) - length(bin(col("n_w2")))))
          .cast("long").as("pmi_bits"))
  }

  /** Train a TRIGRAM stupid-backoff model (Brants et al. 2007, "Large
    * Language Models in Machine Translation") from a corpus: one
    * unified relation (`level`, `gram`, `cnt`) holding the raw n-gram
    * counts [[trigramScoreWith]] consumes —
    *
    *  - level 3: trigram "w1 w2 w3" occurrence counts;
    *  - level 2: bigram counts (both the trigram denominators and the
    *    first-backoff numerators);
    *  - level 1: unigram counts (second-backoff numerators and bigram
    *    denominators);
    *  - level 0: the single smoothing scalar `N + V` (total tokens +
    *    vocabulary size, gram = "") for the add-one unigram floor.
    *
    * A model is just a DataFrame: persist it to parquet for reuse (the
    * ANN-index lifecycle pattern) or feed it straight to the scorer.
    *
    * Scale shape: ONE map-side level-tagged n-gram explode over the
    * training scan, partial-aggregated into a single vocab-bounded
    * (level, gram) count relation — no corpus-sized exchange; that
    * relation is pinned because the level rows and the N+V scalar both
    * read it.
    */
  def trigramModel(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    val live = docs.filter(col(textCol).isNotNull)
    // ONE corpus pass (round 22, guide §2.3): all three orders are
    // emitted level-tagged from the same tokenization and
    // partial-aggregated through ONE (level, gram) exchange —
    // previously three separate corpus explode+aggregate passes plus a
    // second barrier pin for the unigram level. vocab-bounded, read by
    // the level-0 scalar and the model rows → pinned.
    val counts = live
      .select(explode(leveledGrams(textCol)).as("lg"))
      .select(col("lg.level").as("level"), col("lg.gram").as("gram"))
      .groupBy("level", "gram").agg(count(lit(1)).cast("long").as("cnt"))
      .pin()
    val nv = counts.filter(col("level") === 1)
      .agg((sum("cnt") + count(lit(1))).cast("long").as("cnt"))
      .select(lit(0).as("level"), lit("").as("gram"), col("cnt"))
    counts.select(col("level"), col("gram"), col("cnt")).unionByName(nv)
  }

  /** All of `orders`' n-grams of a text column, level-tagged, in ONE
    * row-local expression — the leveled face of
    * [[graft.functions.WordGrams]]: one word scan per row emits every
    * order's grams, so a single explode (and a single corpus scan) feeds
    * every level of an n-gram model at once.
    */
  private def leveledGrams(textCol: String,
                           orders: Seq[Int] = Seq(1, 2, 3)): Column =
    leveledWordGrams(col(textCol), orders: _*)

  /** TRIGRAM surprisal under a stupid-backoff model ([[trigramModel]])
    * — the third rung of the n-gram-LM ladder (unigram → bigram →
    * trigram; CCNet's production filter is a 5-gram KenLM) and the
    * first that can score a corpus the model has NEVER seen: an unseen
    * trigram backs off to the bigram, an unseen bigram to the add-one
    * unigram floor, each hop paying the fixed ×0.4 = 2/5 stupid-backoff
    * penalty. Integer-exact throughout — the 2/5 rational folds INTO
    * the bin-length law instead of entering as a float: with
    * `L(x) = length(bin(x))` (floor-log2 + 1), per trigram occurrence
    *
    *   seen trigram:      bits = L(cnt₂(w1 w2))        − L(cnt₃(w1 w2 w3))
    *   backoff to bigram: bits = L(cnt₁(w2)·5)         − L(cnt₂(w2 w3)·2)
    *   unigram floor:     bits = L((N+V)·25)           − L((cnt₁(w3)+1)·4)
    *
    * i.e. `S = (2/5)ᵏ·num/den` rendered as `L(den·5ᵏ) − L(num·2ᵏ)` —
    * every quantity a positive integer, so any engine reproduces the
    * score bit-for-bit. Output per input document: summed `surprisal`,
    * `n_trigrams`, filterable `mean_bits_x100` (0 for null/short text,
    * via the left join back to the corpus).
    *
    * Scale shape: trigram occurrences derive row-locally from the
    * scoring scan; ONE (doc, trigram) partial-agg shuffle; five
    * gram-keyed joins against the vocab-bounded model (AQE broadcasts
    * the small levels; the model is pinned once here because the five
    * level-filters would otherwise recompute an inline training
    * pipeline five times); a 1-row N+V broadcast; one doc-keyed sum.
    * Nothing corpus-quadratic, no corpus sort.
    */
  def trigramScoreWith(docs: DataFrame, model: DataFrame,
                       idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    val m = model.pin()
    def lvl(n: Int, cntAs: String): DataFrame = m
      .filter(col("level") === n).select(col("gram"), col("cnt").as(cntAs))
    val nv = m.filter(col("level") === 0)
      .select(col("cnt").as("nv"))
    val occ = docs.filter(col(textCol).isNotNull)
      .select(col(idCol), explode(ngramArray(textCol, 3)).as("g123"))
      .groupBy(col(idCol), col("g123"))
      .agg(count(lit(1)).cast("long").as("tf"))
      .withColumn("w2", element_at(split(col("g123"), " "), 2))
      .withColumn("w3", element_at(split(col("g123"), " "), 3))
      .withColumn("g12",
        concat_ws(" ", element_at(split(col("g123"), " "), 1), col("w2")))
      .withColumn("g23", concat_ws(" ", col("w2"), col("w3")))
    val L: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      x => length(bin(x))
    val agg = occ
      .join(lvl(3, "c3").withColumnRenamed("gram", "g123"), Seq("g123"), "left_outer")
      .join(lvl(2, "c12").withColumnRenamed("gram", "g12"), Seq("g12"), "left_outer")
      .join(lvl(2, "c23").withColumnRenamed("gram", "g23"), Seq("g23"), "left_outer")
      .join(lvl(1, "c2").withColumnRenamed("gram", "w2"), Seq("w2"), "left_outer")
      .join(lvl(1, "c1").withColumnRenamed("gram", "w3"), Seq("w3"), "left_outer")
      .crossJoin(broadcast(nv))
      // the c12/c2 guards cover a hand-built inconsistent model (a
      // trigram whose prefix bigram is absent falls through to the next
      // backoff level instead of producing a null score)
      .withColumn("bits",
        when(col("c3").isNotNull && col("c12").isNotNull,
          L(col("c12")) - L(col("c3")))
          .when(col("c23").isNotNull && col("c2").isNotNull,
            L(col("c2") * 5) - L(col("c23") * 2))
          .otherwise(L(col("nv") * 25) -
            L((coalesce(col("c1"), lit(0L)) + 1) * 4))
          .cast("long"))
      .groupBy(col(idCol))
      .agg(sum(col("tf") * col("bits")).as("surprisal"),
        sum(col("tf")).as("n_trigrams"))
    docs.select(col(idCol)).join(agg, Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("surprisal"), lit(0L)).as("surprisal"),
        coalesce(col("n_trigrams"), lit(0L)).as("n_trigrams"),
        when(coalesce(col("n_trigrams"), lit(0L)) > 0,
          expr("(surprisal * 100) div n_trigrams"))
          .otherwise(lit(0L)).as("mean_bits_x100"))
  }

  /** Self-scored convenience: [[trigramScoreWith]] under a model
    * trained on the same corpus (every trigram seen → no backoff fires;
    * the in-corpus perplexity signal, same contract as
    * [[unigramSurprisal]]/[[bigramSurprisal]] and a drop-in scorer for
    * [[graft.ext.Curation.perplexityBuckets]]).
    */
  def trigramSurprisal(docs: DataFrame, idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame =
    trigramScoreWith(docs, trigramModel(docs, idCol, textCol), idCol, textCol)

  /** Train a KNESER–NEY-grade ABSOLUTE-DISCOUNT trigram model — the
    * smoothing rung above stupid backoff ([[trigramModel]]): lower
    * orders use CONTINUATION counts ("how many distinct contexts has
    * this n-gram completed", Kneser & Ney 1995) rather than raw
    * frequency, so a word that is frequent only inside one fixed phrase
    * ("Francisco") stops inflating its own backoff probability. Same
    * unified (`level`, `gram`, `cnt`) relation shape as the backoff
    * model (persist like any model table; feed [[knTrigramScoreWith]]):
    *
    *  - level 3:  trigram counts c₃(w1 w2 w3);
    *  - level 2:  raw bigram counts c₂(w1 w2) — the trigram denominators;
    *  - level 12: N₁₊(w1 w2 ·) — distinct followers per bigram context
    *    (the discount-mass numerator γ needs);
    *  - level 23: continuation counts N₁₊(· w2 w3) — distinct w1 the
    *    trigram level observed before "w2 w3";
    *  - level 21: their per-w2 total N₁₊(· w2 ·) (the KN bigram
    *    denominator);
    *  - level 22: N₁₊kn(w2 ·) — distinct w3 the KN bigram level knows
    *    after w2 (the second discount-mass numerator);
    *  - level 1:  unigram continuation counts N₁₊(· w3) over distinct
    *    bigram types;
    *  - level 0:  the add-one floor scalar B + U (distinct bigram types
    *    + distinct unigram types, gram = "").
    *
    * Scale shape: ONE map-side level-tagged explode over the training
    * scan partial-aggregated into a single pinned vocab-bounded
    * (level, gram) relation; every derived level is a further
    * vocab-bounded aggregation over that pin (the shared kn23
    * aggregation deduped by exchange reuse); no corpus-sized exchange.
    */
  def knTrigramModel(docs: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    val live = docs.filter(col(textCol).isNotNull)
    // ONE corpus pass + ONE pin (round 22, guide §2.3/§2.6): the raw
    // 1/2/3-gram counts arrive in a single level-tagged explode
    // (previously three corpus explodes behind three eager pins), and
    // every derived KN level is a vocab-bounded aggregation over the
    // pinned base — the branches sharing the kn23 aggregation reuse one
    // exchange (ReuseExchange), so the scorer's model pin materializes
    // the whole model without touching the corpus again.
    val base = live
      .select(explode(leveledGrams(textCol)).as("lg"))
      .select(col("lg.level").as("level"), col("lg.gram").as("gram"))
      .groupBy("level", "gram").agg(count(lit(1)).cast("long").as("cnt"))
      .pin()
    val tri = base.filter(col("level") === 3).select("gram", "cnt")
    val big = base.filter(col("level") === 2).select("gram", "cnt")
    val uni = base.filter(col("level") === 1).select("gram", "cnt")
    def w(i: Int, of: Column = col("gram")) = element_at(split(of, " "), i)
    val lvl3 = tri.select(lit(3).as("level"), col("gram"), col("cnt"))
    val lvl2 = big.select(lit(2).as("level"), col("gram"), col("cnt"))
    // distinct-follower / continuation aggregates all read the DISTINCT
    // trigram rows (each tri row IS one distinct trigram type)
    val lvl12 = tri
      .groupBy(concat_ws(" ", w(1), w(2)).as("gram"))
      .agg(count(lit(1)).cast("long").as("cnt"))
      .select(lit(12).as("level"), col("gram"), col("cnt"))
    val kn23 = tri
      .groupBy(concat_ws(" ", w(2), w(3)).as("gram"))
      .agg(count(lit(1)).cast("long").as("cnt"))
    val lvl23 = kn23.select(lit(23).as("level"), col("gram"), col("cnt"))
    // N₁₊(· w2 ·) and N₁₊kn(w2 ·) share ONE aggregation over kn23:
    // levels 21 and 22 explode out of a single (sum, count) pass
    // (previously two separate aggregations over an eagerly-pinned kn23)
    val lvl2122 = kn23
      .groupBy(w(1).as("gram"))
      .agg(sum("cnt").cast("long").as("s"),
        count(lit(1)).cast("long").as("c"))
      .select(col("gram"), explode(array(
        struct(lit(21).as("level"), col("s").as("cnt")),
        struct(lit(22).as("level"), col("c").as("cnt")))).as("lc"))
      .select(col("lc.level").as("level"), col("gram"),
        col("lc.cnt").as("cnt"))
    val lvl1 = big
      .groupBy(w(2).as("gram"))
      .agg(count(lit(1)).cast("long").as("cnt"))
      .select(lit(1).as("level"), col("gram"), col("cnt"))
    val bu = big.agg(count(lit(1)).as("b"))
      .crossJoin(uni.agg(count(lit(1)).as("u")))
      .select(lit(0).as("level"), lit("").as("gram"),
        (col("b") + col("u")).cast("long").as("cnt"))
    bu.unionByName(lvl1).unionByName(lvl2).unionByName(lvl3)
      .unionByName(lvl12).unionByName(lvl23).unionByName(lvl2122)
  }

  /** Score documents under a [[knTrigramModel]] — absolute-discount
    * BACKOFF with discount D = 3/4, integer-exact via the per-factor
    * bin-length law: a backed-off probability is a PRODUCT of rationals
    * (discounted ratio · discount-mass γ hops), so its bits render as
    * the SUM of each factor's `L(den) − L(num)` with
    * `L(x) = length(bin(x))` — every quantity a positive integer, every
    * term provably ≥ 0 (numerators are bounded by their denominators),
    * any engine replays the score bit-for-bit. Per trigram occurrence:
    *
    *   seen trigram:  bits = L(c₂(w1w2)·4) − L(c₃·4 − 3)
    *   γ to bigram:   + L(c₂(w1w2)·4) − L(N₁₊(w1w2·)·3)   (0 if context unseen)
    *   seen KN bigram: + L(N₁₊(·w2·)·4) − L(N₁₊(·w2w3)·4 − 3)
    *   γ to unigram:  + L(N₁₊(·w2·)·4) − L(N₁₊kn(w2·)·3)  (0 if w2 unseen)
    *   unigram floor: + L(B + U) − L(N₁₊(·w3) + 1)
    *
    * An unseen CONTEXT carries no discount mass to renormalize, so its
    * hop is penalty-free (γ = 1) — the standard backoff convention,
    * documented here because the oracle replays it. Output contract
    * identical to [[trigramScoreWith]] (surprisal, n_trigrams,
    * mean_bits_x100) — a drop-in second scorer for
    * [[graft.ext.Curation.perplexityBuckets]].
    *
    * Scale shape: the [[trigramScoreWith]] posture — row-local trigram
    * derivation, ONE (doc, trigram) partial-agg shuffle, seven
    * gram-keyed joins against vocab-bounded model levels (AQE
    * broadcasts the small ones), a 1-row scalar broadcast, one
    * doc-keyed sum.
    */
  def knTrigramScoreWith(docs: DataFrame, model: DataFrame,
                         idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame = {
    val m = model.pin()
    def lvl(n: Int, key: String, cntAs: String): DataFrame = m
      .filter(col("level") === n)
      .select(col("gram").as(key), col("cnt").as(cntAs))
    val bu = m.filter(col("level") === 0).select(col("cnt").as("bu"))
    val occ = docs.filter(col(textCol).isNotNull)
      .select(col(idCol), explode(ngramArray(textCol, 3)).as("g123"))
      .groupBy(col(idCol), col("g123"))
      .agg(count(lit(1)).cast("long").as("tf"))
      .withColumn("w2", element_at(split(col("g123"), " "), 2))
      .withColumn("w3", element_at(split(col("g123"), " "), 3))
      .withColumn("g12",
        concat_ws(" ", element_at(split(col("g123"), " "), 1), col("w2")))
      .withColumn("g23", concat_ws(" ", col("w2"), col("w3")))
    val L: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      x => length(bin(x))
    val seen3 = col("c3").isNotNull && col("c12").isNotNull
    val seen2 = col("ck23").isNotNull && col("ckd2").isNotNull
    val p12 = when(col("c12").isNotNull && col("n12").isNotNull,
      L(col("c12") * 4) - L(col("n12") * 3)).otherwise(lit(0L))
    val p2 = when(col("ckd2").isNotNull && col("nk2").isNotNull,
      L(col("ckd2") * 4) - L(col("nk2") * 3)).otherwise(lit(0L))
    val floor1 = L(col("bu")) - L(coalesce(col("ck1"), lit(0L)) + 1)
    val agg = occ
      .join(lvl(3, "g123", "c3"), Seq("g123"), "left_outer")
      .join(lvl(2, "g12", "c12"), Seq("g12"), "left_outer")
      .join(lvl(12, "g12", "n12"), Seq("g12"), "left_outer")
      .join(lvl(23, "g23", "ck23"), Seq("g23"), "left_outer")
      .join(lvl(21, "w2", "ckd2"), Seq("w2"), "left_outer")
      .join(lvl(22, "w2", "nk2"), Seq("w2"), "left_outer")
      .join(lvl(1, "w3", "ck1"), Seq("w3"), "left_outer")
      .crossJoin(broadcast(bu))
      .withColumn("bits",
        when(seen3, L(col("c12") * 4) - L(col("c3") * 4 - 3))
          .when(seen2, p12 + L(col("ckd2") * 4) - L(col("ck23") * 4 - 3))
          .otherwise(p12 + p2 + floor1)
          .cast("long"))
      .groupBy(col(idCol))
      .agg(sum(col("tf") * col("bits")).as("surprisal"),
        sum(col("tf")).as("n_trigrams"))
    docs.select(col(idCol)).join(agg, Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("surprisal"), lit(0L)).as("surprisal"),
        coalesce(col("n_trigrams"), lit(0L)).as("n_trigrams"),
        when(coalesce(col("n_trigrams"), lit(0L)) > 0,
          expr("(surprisal * 100) div n_trigrams"))
          .otherwise(lit(0L)).as("mean_bits_x100"))
  }

  /** Self-scored convenience for the KN rung — the
    * [[trigramSurprisal]] contract under [[knTrigramModel]] smoothing;
    * a drop-in scorer for [[graft.ext.Curation.perplexityBuckets]].
    */
  def knTrigramSurprisal(docs: DataFrame, idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame =
    knTrigramScoreWith(docs, knTrigramModel(docs, idCol, textCol),
      idCol, textCol)

  // ── Persisted n-gram LM bundles ────────────────────────────────────

  /** A loaded n-gram LM artifact: the unified (level, gram, cnt) model
    * relation plus the smoothing rule that interprets it (`trigram` =
    * stupid backoff, `kn` = Kneser–Ney-grade absolute discount — the
    * two relations share a SCHEMA but not a level vocabulary, so
    * applying one under the other's rule would silently mis-score;
    * `kind` makes that impossible). */
  final case class LmBundle(kind: String, model: DataFrame) {
    def score(docs: DataFrame, idCol: String = "doc_id",
              textCol: String = "text"): DataFrame = kind match {
      case "trigram" => trigramScoreWith(docs, model, idCol, textCol)
      case "kn" => knTrigramScoreWith(docs, model, idCol, textCol)
      case other => throw new IllegalStateException(
        s"LmBundle has unknown kind '$other'") // unreachable via load
    }
  }

  /** PERSIST a trained LM model relation ([[trigramModel]] /
    * [[knTrigramModel]] output) — the CCNet production posture: the
    * reference-perplexity model trains ONCE on the trusted corpus and
    * every later crawl scores against the SAME artifact (retraining on
    * each crawl would move every perplexity threshold). The model
    * table buckets by `gram` — the key every scoring join probes — so
    * a persisted-model score plan co-locates with the bucketed read;
    * `_meta(kind)` pins the smoothing rule.
    */
  def writeLmModel(model: DataFrame, name: String, kind: String,
                   buckets: Int = 8): Unit = {
    require(kind == "trigram" || kind == "kn",
      s"LM kind must be trigram|kn, got '$kind'")
    require(!model.filter(col("level") === 0).isEmpty,
      "refusing to persist an LM model with no level-0 scalar row — " +
        "the relation is not a trigramModel/knTrigramModel output")
    graft.core.Layout.writeBucketed(model, s"${name}_model", "gram", buckets)
    val spark = model.sparkSession
    import spark.implicits._
    graft.core.Layout.writeBucketed(Seq(kind).toDF("kind"),
      s"${name}_meta", "kind", 1)
  }

  /** Load a persisted LM bundle: the model read straight from the
    * bucketed table, the smoothing rule resolved (and validated) from
    * `_meta`. A loaded bundle scores bit-identically to the in-session
    * model it was written from (spec-gated, plus the
    * t_trigram_persisted / t_kn_persisted oracles).
    */
  def loadLmModel(spark: org.apache.spark.sql.SparkSession,
                  name: String): LmBundle = {
    val kind = spark.table(s"${name}_meta").head().getString(0)
    if (kind != "trigram" && kind != "kn")
      throw new IllegalStateException(
        s"LM bundle '$name' has unknown kind '$kind' — this build " +
          "scores trigram|kn")
    LmBundle(kind, spark.table(s"${name}_model"))
  }

  /** Sparse keyword RETRIEVAL — the lexical complement of the dense ANN
    * family ([[graft.ext.Similarity]]): per query (a bag of terms), the
    * top-`k` documents by summed integer tf-idf, `score =
    * Σ_t tf(t,d)·10⁶ div df(t)` — the same fixed-point arithmetic as
    * [[keywords]], so ranking is bit-reproducible in any engine (ties:
    * score DESC, then doc id — a total order). `queries` is a RELATION
    * (`queryIdCol`, `termCol`); duplicate (query, term) pairs are
    * deduplicated so a repeated term cannot double-count. `n_terms` =
    * how many of the query's terms the document matched.
    *
    * Scale shape: the corpus side is the zero-shuffle
    * [[graft.functions.WordTfs]] map over the scan, immediately cut by
    * a BROADCAST join on the distinct query terms — everything after
    * that is bounded by MATCHED rows, not the corpus: df is one
    * partial-aggregated shuffle over matched (term) rows, per-(query,
    * doc) scores one more over matched pairs, and the per-query top-k
    * runs on the bounded-heap [[graft.plans.TopKPerKey]] operator. At
    * 100 TB a keyword search costs one corpus scan + matched-sized
    * shuffles.
    */
  def searchDocs(docs: DataFrame, queries: DataFrame, k: Int = 10,
                 idCol: String = "doc_id", textCol: String = "text",
                 queryIdCol: String = "query_id",
                 termCol: String = "term"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val terms = queries
      .select(col(queryIdCol).as("query_id"), col(termCol).as("word"))
      .distinct()
    val tf = tfRelation(docs, idCol, textCol)
    // restrict to query terms FIRST: df of a term is identical computed
    // before or after the cut, and everything downstream is then
    // matched-sized, not corpus-sized. Materialized — df AND scoring
    // both read it, and without the checkpoint each would replay the
    // corpus scan (plan-audited: two Scan parquet nodes → one)
    val matched = tf.join(broadcast(terms.select("word").distinct()), "word")
      .pin()
    searchDocsFromMatched(matched, queries, k, idCol, queryIdCol, termCol)
  }

  /** The query-term-matched corpus tf relation the MULTI-ARM retrieval
    * queries share: `(idCol, dlen, word, tf)`, one row per (document,
    * query term present), pinned. ONE corpus scan feeds
    * the tf-idf arm ([[searchDocsFromMatched]]), the BM25 arm
    * ([[searchDocsBm25FromMatched]]) AND the term-coverage qrels
    * ([[graft.ext.Retrieval.termCoverageQrelsFromMatched]]) — before
    * round 22 each consumer ran (and pinned) its own corpus scan, so a
    * two-arm-plus-qrels query paid the scan three times. `dlen` (the
    * token count BM25's length norm reads) rides along; the tf-idf arm
    * and the qrels ignore it. Per-arm scoring is bit-identical to the
    * standalone entry points: the matched ROWS are the same relation,
    * and every downstream statistic (df, tf, coverage counts) is a
    * function of those rows alone.
    */
  def searchMatched(docs: DataFrame, queries: DataFrame,
                    idCol: String = "doc_id", textCol: String = "text",
                    queryIdCol: String = "query_id",
                    termCol: String = "term"): DataFrame = {
    val words = queries.select(col(termCol).as("word")).distinct()
    val base = docs.filter(col(textCol).isNotNull)
      .select(col(idCol), graft.functions.wordTfs(col(textCol)).as("__wt"),
        size(tokens(col(textCol))).cast("long").as("dlen"))
    base
      .select(col(idCol), col("dlen"), explode(col("__wt")).as("wt"))
      .select(col(idCol), col("dlen"),
        col("wt.word").as("word"), col("wt.tf").as("tf"))
      .join(broadcast(words), "word")
      .pin()
  }

  /** [[searchDocs]]' scoring over an already-pinned matched-tf relation
    * (`(idCol, word, tf)`; extra columns such as [[searchMatched]]'s
    * `dlen` ride along unread). Same integer tf-idf law, same
    * bounded-heap top-k — [[searchDocs]] itself delegates here, so the
    * two paths cannot drift.
    */
  def searchDocsFromMatched(matched: DataFrame, queries: DataFrame,
                            k: Int = 10, idCol: String = "doc_id",
                            queryIdCol: String = "query_id",
                            termCol: String = "term"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    import org.apache.spark.sql.graft.Bridge
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending, SortOrder}
    import org.apache.spark.sql.expressions.Window
    val terms = queries
      .select(col(queryIdCol).as("query_id"), col(termCol).as("word"))
      .distinct()
    val dfreq = matched.groupBy("word").agg(count(lit(1)).as("df"))
    val perQuery = matched.join(broadcast(dfreq), "word")
      .withColumn("tscore", expr("(tf * 1000000) div df"))
      .join(broadcast(terms), "word")
      .groupBy(col("query_id"), col(idCol))
      .agg(sum("tscore").as("score"), count(lit(1)).as("n_terms"))
    val top = graft.plans.TopKPerKey(
      Seq(UnresolvedAttribute("query_id")),
      Seq(SortOrder(UnresolvedAttribute("score"), Descending),
        SortOrder(UnresolvedAttribute(idCol), Ascending)),
      k, Bridge.logicalPlan(perQuery))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col(idCol))
    Bridge.ofRows(matched.sparkSession, top)
      .withColumn("rank", row_number().over(w).cast("long"))
  }

  /** Pseudo-relevance-feedback EXPANSION (the RM1/Rocchio-shaped
    * second-stage every lexical retrieval stack grows): run
    * [[searchDocs]] once, treat each query's top-`kFirst` documents as
    * relevance feedback, and score every term of those documents by
    * the exact integer weight
    *
    *   weight(q, t) = Σ_{d ∈ top(q)} tf(t, d) · score(q, d)
    *
    * (term mass weighted by how relevant its document ranked — RM1's
    * P(t|d)·P(d|q) with both factors in the engine's own integer
    * forms). Terms already in the query are excluded; per query the
    * top `nExpand` by (weight DESC, term ASC) come back as
    * (query_id, term, weight, rank) — feed them to [[searchDocsPrf]]
    * or inspect them (the "what does the corpus think this query
    * means" audit).
    *
    * Scale shape: the first pass is [[searchDocs]]'s broadcast-cut
    * scan; the feedback relation (kFirst × |queries| rows) broadcasts
    * against the corpus tf map — one more corpus scan, matched-sized
    * aggregation keyed by (query, term), bounded-heap top-k. Weights
    * stay in Long for feedback sets up to ~10⁷ term occurrences per
    * query (score ≤ |terms|·10⁶·max tf).
    */
  def prfExpandTerms(docs: DataFrame, queries: DataFrame,
                     kFirst: Int = 10, nExpand: Int = 5,
                     idCol: String = "doc_id", textCol: String = "text",
                     queryIdCol: String = "query_id",
                     termCol: String = "term"): DataFrame = {
    require(kFirst > 0, s"kFirst must be positive, got $kFirst")
    require(nExpand > 0, s"nExpand must be positive, got $nExpand")
    import org.apache.spark.sql.graft.Bridge
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending, SortOrder}
    import org.apache.spark.sql.expressions.Window
    // query-bounded feedback: kFirst × |queries| (id, score) rows
    val top = searchDocs(docs, queries, kFirst, idCol, textCol,
        queryIdCol, termCol)
      .select(col("query_id"), col(idCol), col("score"))
      .pin()
    val fb = tfRelation(docs, idCol, textCol)
      .join(broadcast(top), Seq(idCol))
      .groupBy(col("query_id"), col("word"))
      .agg(sum(col("tf") * col("score")).as("weight"))
    val orig = queries.select(col(queryIdCol).as("query_id"),
      col(termCol).as("word")).distinct()
    val cand = fb.join(orig, Seq("query_id", "word"), "left_anti")
    val topTerms = graft.plans.TopKPerKey(
      Seq(UnresolvedAttribute("query_id")),
      Seq(SortOrder(UnresolvedAttribute("weight"), Descending),
        SortOrder(UnresolvedAttribute("word"), Ascending)),
      nExpand, Bridge.logicalPlan(cand))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("weight").desc, col("word"))
    Bridge.ofRows(docs.sparkSession, topTerms)
      .withColumn("rank", row_number().over(w).cast("long"))
      .select(col("query_id"), col("word").as("term"), col("weight"),
        col("rank"))
  }

  /** [[searchDocs]] with PRF expansion folded in: first pass, expand
    * ([[prfExpandTerms]]), then ONE second pass over the union of
    * original + expansion terms — same ranked output shape, recall
    * widened by what the feedback documents talk about. The df side of
    * the second pass is computed over the expanded term set (the
    * engine's own searchDocs law, replayed verbatim by the oracle).
    */
  def searchDocsPrf(docs: DataFrame, queries: DataFrame, k: Int = 10,
                    kFirst: Int = 10, nExpand: Int = 5,
                    idCol: String = "doc_id", textCol: String = "text",
                    queryIdCol: String = "query_id",
                    termCol: String = "term"): DataFrame = {
    val exp = prfExpandTerms(docs, queries, kFirst, nExpand, idCol,
        textCol, queryIdCol, termCol)
      .select(col("query_id").as(queryIdCol), col("term").as(termCol))
    val expanded = queries.select(col(queryIdCol), col(termCol))
      .unionByName(exp).distinct()
    searchDocs(docs, expanded, k, idCol, textCol, queryIdCol, termCol)
  }

  /** BM25-SHAPED ranked retrieval — [[searchDocs]]'s raw tf·idf scoring
    * upgraded with the three BM25 ingredients: tf SATURATION
    * (`tf·(k1+1)/(tf + k1·…)` — the 100th occurrence of a term adds
    * almost nothing), LENGTH normalization (long documents stop winning
    * by volume; `b` dials it), and a rarity (idf) weight. Integer-exact
    * adaptation so the ranking is order-independent and engine-portable:
    * idf is the floor-log2 gap `L(N) − L(df)` via `length(bin(x))` (the
    * [[unigramSurprisal]] trick — no float log), k1/b ride as ×100
    * fixed-point, the length norm keeps ratios exact by
    * cross-multiplying corpus totals (`dlen·N div totLen`), and each
    * term's contribution is ONE truncating division to ×10⁶, summed per
    * (query, doc) as exact integers. The floor-log2 idf and truncating
    * divisions deviate from textbook BM25 deterministically — the
    * SHAPE is the contract. Bounds: contributions stay in Long for
    * corpora up to ~10¹¹ docs × ~10⁵-token documents.
    *
    * Scale shape identical to [[searchDocs]] (broadcast term cut → one
    * corpus scan, matched-sized shuffles, TopKPerKey), plus one 1-row
    * corpus-stats aggregate (N, total length) broadcast-crossed in;
    * per-doc length is computed ROW-LOCALLY from the [[graft.functions.WordTfs]]
    * array — no extra shuffle.
    */
  def searchDocsBm25(docs: DataFrame, queries: DataFrame, k: Int = 10,
                     k1X100: Int = 120, bX100: Int = 75,
                     idCol: String = "doc_id", textCol: String = "text",
                     queryIdCol: String = "query_id",
                     termCol: String = "term"): DataFrame = {
    val matched = searchMatched(docs, queries, idCol, textCol,
      queryIdCol, termCol)
    searchDocsBm25FromMatched(docs, matched, queries, k, k1X100, bX100,
      idCol, textCol, queryIdCol, termCol)
  }

  /** [[searchDocsBm25]]' scoring over an already-pinned
    * [[searchMatched]] relation (`(idCol, dlen, word, tf)`); `docs` is
    * still read for the 1-row corpus stats aggregate (N, total length
    * — corpus-wide, so it cannot come from the matched cut), a cheap
    * split-size scan. [[searchDocsBm25]] itself delegates here.
    */
  def searchDocsBm25FromMatched(docs: DataFrame, matched: DataFrame,
                                queries: DataFrame, k: Int = 10,
                                k1X100: Int = 120, bX100: Int = 75,
                                idCol: String = "doc_id",
                                textCol: String = "text",
                                queryIdCol: String = "query_id",
                                termCol: String = "term"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(k1X100 >= 0, s"k1X100 must be >= 0, got $k1X100")
    require(bX100 >= 0 && bX100 <= 100,
      s"bX100 must be in [0, 100], got $bX100")
    import org.apache.spark.sql.graft.Bridge
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending, SortOrder}
    import org.apache.spark.sql.expressions.Window
    val terms = queries
      .select(col(queryIdCol).as("query_id"), col(termCol).as("word"))
      .distinct()
    // dlen is the token count — size(split) equals the WordTfs tf-sum
    // (the keep-empties law, NativeExprSpec), and keeps the 1-row stats
    // aggregate a cheap split-size scan instead of a second WordTfs
    // evaluation over the corpus
    val stats = docs.filter(col(textCol).isNotNull)
      .agg(count(lit(1)).as("n_docs"),
        sum(size(tokens(col(textCol))).cast("long")).as("tot_len"))
    val dfreq = matched.groupBy("word").agg(count(lit(1)).as("df"))
    val perQuery = matched.join(broadcast(dfreq), "word")
      .crossJoin(broadcast(stats))
      .withColumn("idf_bits",
        expr("length(bin(n_docs)) - length(bin(df))").cast("long"))
      .withColumn("lennorm_x100",
        expr(s"100 - $bX100 + ($bX100 * dlen * n_docs) div tot_len"))
      .withColumn("contrib",
        expr(s"(idf_bits * tf * ($k1X100 + 100) * 100000000) div " +
          s"(tf * 10000 + $k1X100 * lennorm_x100)"))
      .join(broadcast(terms), "word")
      .groupBy(col("query_id"), col(idCol))
      .agg(sum("contrib").as("score"), count(lit(1)).as("n_terms"))
    val top = graft.plans.TopKPerKey(
      Seq(UnresolvedAttribute("query_id")),
      Seq(SortOrder(UnresolvedAttribute("score"), Descending),
        SortOrder(UnresolvedAttribute(idCol), Ascending)),
      k, Bridge.logicalPlan(perQuery))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col(idCol))
    Bridge.ofRows(docs.sparkSession, top)
      .withColumn("rank", row_number().over(w).cast("long"))
  }

  /** Internal: the trained multinomial-NB relations. `wc` = per
    * (label, word) token counts (pinned — vocab, classes AND
    * the model all read it; without the pin each consumer would replay
    * the labeled-corpus scan); `classes` = per-label stats (n_docs,
    * denom, prior_bits, default_bits); `model` = per (label, word)
    * evidence bits. All integer-exact: every "log" is the floor-log2
    * `L(x) = length(bin(x))` of [[unigramSurprisal]], so any engine
    * reproduces the scores bit-for-bit.
    */
  private def nbParts(labeled: DataFrame, labelCol: String,
                      textCol: String,
                      tfs: Column => Column = graft.functions.wordTfs)
      : (DataFrame, DataFrame, DataFrame) = {
    val lab = labeled.filter(col(labelCol).isNotNull)
      .select(col(labelCol).cast("string").as("label"),
        col(textCol).as("__text"))
    // priors count EVERY labeled row — a null-text document still
    // evidences its class frequency
    val priors = lab.groupBy("label").agg(count(lit(1)).as("n_docs"))
    val total = priors.agg(sum("n_docs").as("n"))
    // (label, word) counts explode per-row tf arrays directly off the
    // (label, text) projection — the label rides the row, so NO
    // doc-keyed join ever touches token-level data
    val wc = lab.filter(col("__text").isNotNull)
      .select(col("label"), explode(tfs(col("__text"))).as("wt"))
      .select(col("label"), col("wt.word").as("word"), col("wt.tf").as("tf"))
      .groupBy("label", "word").agg(sum("tf").as("cnt"))
      .pin()
    val vocabN = wc.agg(countDistinct("word").as("v"))
    val toks = wc.groupBy("label").agg(sum("cnt").as("tok"))
    val classes = priors.join(toks, Seq("label"), "left_outer")
      .crossJoin(broadcast(total)).crossJoin(broadcast(vocabN))
      .withColumn("denom", coalesce(col("tok"), lit(0L)) + col("v"))
      .withColumn("prior_bits",
        expr("length(bin(n)) - length(bin(n_docs))").cast("long"))
      .withColumn("default_bits",
        expr("length(bin(denom)) - 1").cast("long"))
      .select("label", "n_docs", "denom", "prior_bits", "default_bits")
    val model = wc.join(classes.select("label", "denom"), "label")
      .withColumn("bits",
        expr("length(bin(denom)) - length(bin(cnt + 1))").cast("long"))
      .select("label", "word", "cnt", "bits")
    (wc, classes, model)
  }

  /** Multinomial Naive Bayes MODEL trained distributed from a labeled
    * corpus — the model-based quality/domain/language filter every
    * CCNet-style curation pipeline runs (fastText-classifier analog;
    * e.g. train on `lang` for a learned language ID that [[langId]]'s
    * heuristic can't match). Integer-exact: evidence for word w in
    * class c is the floor-log2 bits of add-one-smoothed likelihood,
    * `bits = L(tok_c + V) − L(cnt_{w,c} + 1)` with `L(x) =
    * length(bin(x))` — no float log, so DuckDB replays the model
    * bit-for-bit. Output: (label, word, cnt, bits), one row per SEEN
    * (class, word) pair — vocab×classes bounded, never corpus-sized.
    *
    * Scale shape: ONE (label, word)-keyed partial-aggregated shuffle
    * over token counts (map tasks emit ≤ vocab·C rows); V and the class
    * totals are vocab-bounded aggregates of that result. The corpus is
    * scanned once, map-only ([[graft.functions.WordTfs]] zero-shuffle
    * tf arrays).
    */
  def nbModel(labeled: DataFrame, labelCol: String = "lang",
              textCol: String = "text"): DataFrame =
    nbParts(labeled, labelCol, textCol)._3

  /** Classify `docs` under a multinomial-NB model trained from
    * `labeled` (see [[nbModel]]): per document the minimum-total-bits
    * class, `total = prior_bits(c) + Σ_w tf(w)·bits(w,c)` with in-vocab
    * words unseen in class c contributing the smoothed default
    * `L(denom_c) − 1` and out-of-vocab words DROPPED (standard NB
    * practice — no training evidence either way). Ties break on label
    * ascending — a total order, so the argmin is deterministic in any
    * engine. Output per input row: `pred` (winning label), `bits` (its
    * total), `margin` (runner-up total − winner; 0 when only one class
    * is trained — the confidence signal to threshold on), `n_tokens`
    * (in-vocab evidence tokens). Documents with no in-vocab evidence
    * (null/empty text, all-OOV) fall back to the PRIOR argmin — the
    * correct no-evidence posterior — so every input row appears in the
    * output exactly once.
    *
    * Scale shape: training as [[nbModel]]; classification is the
    * zero-shuffle tf map over the corpus scan, cut to in-vocab words by
    * a vocab join, expanded ×C by a BROADCAST of the C-row class table,
    * evidence attached by a (word, label)-keyed join against the
    * vocab·C-bounded model (AQE broadcasts it when small), then ONE
    * per-(doc, class) partial-aggregated exchange and a C-row-per-doc
    * window for the argmin. No corpus-sized sort, no driver collect.
    */
  def classifyNaiveBayes(docs: DataFrame, labeled: DataFrame,
                         labelCol: String = "lang", idCol: String = "doc_id",
                         textCol: String = "text",
                         tfs: Column => Column =
                           graft.functions.wordTfs): DataFrame = {
    val (wc, classes, model) = nbParts(labeled, labelCol, textCol, tfs)
    applyNaiveBayes(docs, wc, classes, model, idCol, textCol, tfs)
  }

  /** A trained NB model pinned for REPEATED application — the streaming
    * / per-batch shape: the three model relations are pinned, so each
    * [[classifyWith]] call pays only the scoring plan, never a training
    * re-aggregation of the labeled corpus. `tfs` rides along so the
    * applying side is guaranteed the same tokenizer the model trained
    * under.
    */
  final case class NbBundle(wc: DataFrame, classes: DataFrame,
                            model: DataFrame, tfs: Column => Column)

  /** Train once, pin, reuse: the [[classifyNaiveBayes]] training half
    * as a [[NbBundle]]. `tfs = graft.functions.charTrigramTfs` gives
    * the language-ID model ([[classifyLangId]]'s space).
    */
  def trainNbBundle(labeled: DataFrame, labelCol: String = "lang",
                    textCol: String = "text",
                    tfs: Column => Column =
                      graft.functions.wordTfs): NbBundle = {
    val (wc, classes, model) = nbParts(labeled, labelCol, textCol, tfs)
    NbBundle(wc, classes.pin(), model.pin(), tfs)
  }

  /** Apply a pinned [[NbBundle]] — identical semantics to
    * [[classifyNaiveBayes]], zero training work.
    */
  def classifyWith(docs: DataFrame, bundle: NbBundle,
                   idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame =
    applyNaiveBayes(docs, bundle.wc, bundle.classes, bundle.model,
      idCol, textCol, bundle.tfs)

  /** Named tokenizer registry for PERSISTED NB bundles: the tokenizer
    * must survive a JVM restart, so a written bundle records a name
    * resolved here on load — never a closure. `word` is the
    * whitespace-word space ([[classifyNaiveBayes]]'s default), `char3`
    * the padded char-trigram space ([[classifyLangId]]'s).
    */
  val NbTokenizers: Map[String, Column => Column] = Map(
    "word" -> (graft.functions.wordTfs(_)),
    "char3" -> (graft.functions.charTrigramTfs(_)))

  /** Train an NB model and PERSIST it — the 100 TB model lifecycle: a
    * language/quality classifier trains ONCE over the labeled corpus
    * and is reused (and audited) across jobs and sessions, exactly like
    * the ANN indexes' write-once Layout tables. Three bucketed
    * relations + a 1-row `_meta`:
    *
    *  - `<name>_wc(label, word, cnt)` — seen-pair counts, bucketed by
    *    `word` (the vocab-join key the scoring plan probes);
    *  - `<name>_classes(label, n_docs, denom, prior_bits,
    *    default_bits)` — C rows, one bucket;
    *  - `<name>_model(label, word, cnt, bits)` — smoothed evidence,
    *    bucketed by `word`;
    *  - `<name>_meta(tokenizer)` — the [[NbTokenizers]] name, checked
    *    on load so a classifier can never score under a different
    *    tokenizer than it trained under.
    *
    * Everything persisted is vocab·C-bounded — KBs-to-MBs for a real
    * vocabulary, never corpus-sized.
    */
  def writeNbBundle(labeled: DataFrame, name: String,
                    labelCol: String = "lang", textCol: String = "text",
                    tokenizer: String = "word", buckets: Int = 8): Unit = {
    val tfs = NbTokenizers.getOrElse(tokenizer,
      throw new IllegalArgumentException(
        s"unknown tokenizer '$tokenizer' — register it in " +
          s"TextAnalysis.NbTokenizers (have: ${NbTokenizers.keys.mkString(", ")})"))
    // nbParts pins wc, so the three writes share one
    // training aggregation — the labeled corpus is scanned once
    val (wc, classes, model) = nbParts(labeled, labelCol, textCol, tfs)
    graft.core.Layout.writeBucketed(wc, s"${name}_wc", "word", buckets)
    graft.core.Layout.writeBucketed(classes, s"${name}_classes", "label", 1)
    graft.core.Layout.writeBucketed(
      model, s"${name}_model", "word", buckets)
    val spark = labeled.sparkSession
    import spark.implicits._
    graft.core.Layout.writeBucketed(
      Seq(tokenizer).toDF("tokenizer"), s"${name}_meta", "tokenizer", 1)
  }

  /** Load a persisted NB bundle written by [[writeNbBundle]]: the three
    * model relations read straight from the bucketed tables (no
    * training work, no pin — the tables ARE the pinned
    * form), the tokenizer resolved from `_meta`. A loaded bundle
    * classifies bit-identically to the in-session one it was written
    * from (spec-gated, plus the t_nb_classify_persisted oracle).
    */
  def loadNbBundle(spark: org.apache.spark.sql.SparkSession,
                   name: String): NbBundle = {
    val tok = spark.table(s"${name}_meta").head().getString(0)
    val tfs = NbTokenizers.getOrElse(tok,
      throw new IllegalStateException(
        s"bundle '$name' trained under tokenizer '$tok', which this " +
          "build does not register in TextAnalysis.NbTokenizers"))
    NbBundle(spark.table(s"${name}_wc"), spark.table(s"${name}_classes"),
      spark.table(s"${name}_model"), tfs)
  }

  /** Class-cardinality cap for the DENSE scoring plan (below): above
    * this, the per-row expression tree (C conditional aggregates + a
    * C-element struct sort) would bloat codegen, so the legacy
    * row-expanded plan runs instead. Real label spaces here are tiny
    * (quality teacher: 2, language ID: dozens).
    */
  private val DenseClassCap = 64

  /** The shared NB scoring plan (round 22, guide §2.3/§2.4): per-word
    * evidence is attached DENSE — one column per class, built
    * vocab-side — so the corpus-scale flow is
    *
    *   tf explode → ONE word-keyed join (the in-vocab cut and the
    *   evidence attach in the same probe) → ONE doc-keyed exchange
    *   shipping C+1 longs per doc → a per-row C-struct `array_sort`
    *   argmin.
    *
    * vs. the previous shape (vocab semi-join, ×C broadcast expansion,
    * (word, label) model join, a docs×C-row exchange, and a per-doc
    * WINDOW for the argmin): the exchange shrinks from C rows per doc
    * (each carrying a label string) to one, and the corpus-sized window
    * sort disappears — the (tot ASC, label ASC) argmin/runner-up law is
    * a sorted C-element struct array in one codegen'd projection,
    * bit-identical to the window's (rn = 1, lead) pair because the
    * classes enter the array in ascending-label order.
    *
    * The C class rows are collected once (a bounded driver action on
    * the vocab-bounded training aggregate — same action class as the
    * isEmpty probe this replaces); they also supply the prior-only
    * fallback as literals, removing the old C-row window + crossJoin.
    */
  private def applyNaiveBayes(docs: DataFrame, wc: DataFrame,
                              classes: DataFrame, model: DataFrame,
                              idCol: String, textCol: String,
                              tfs: Column => Column): DataFrame = {
    // bounded probe: DenseClassCap+1 rows at most cross to the driver.
    // An empty trained class set would make the prior fallback drop
    // EVERY doc row — a silent violation of the one-row-per-input
    // contract (and the DuckDB oracle shares the shape, so parity tests
    // can't catch it). Fail loud instead.
    val clsProbe = classes
      .select(col("label"), col("prior_bits").cast("long"),
        col("default_bits").cast("long"))
      .limit(DenseClassCap + 1).collect()
    require(clsProbe.nonEmpty,
      "classifyNaiveBayes: `labeled` has no non-null labels — train on " +
        "at least one labeled row (an untrained model cannot classify)")
    if (clsProbe.length > DenseClassCap)
      return applyNaiveBayesWide(docs, wc, classes, model, idCol, textCol,
        tfs)
    // ≤ cap ⇒ the probe holds ALL classes; ascending-label order makes
    // the per-row struct sort reproduce the window's tie-break exactly
    val cls = clsProbe
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val c = cls.length
    // prior-only fallback argmin (prior_bits ASC, label ASC) — literals
    val pSorted = cls.map { case (l, p, _) => (p, l) }.sorted
    val (pbits, ppred) = pSorted.head
    val pmargin = if (c > 1) pSorted(1)._1 - pbits else 0L
    // dense per-word evidence: model (one row per SEEN (label, word))
    // pivots to one bits column per class — vocab-bounded work; unseen
    // (in-vocab) classes fill with their add-one default at the sum
    val labelIdx = cls.zipWithIndex.foldLeft(lit(-1)) {
      case (acc, ((l, _, _), i)) =>
        when(col("label") === lit(l), lit(i)).otherwise(acc)
    }
    val denseAggs = (0 until c).map(i =>
      max(when(col("__i") === i, col("__b"))).as(s"__b$i"))
    val dense = model
      .select(col("word"), labelIdx.as("__i"),
        col("bits").cast("long").as("__b"))
      .groupBy("word")
      .agg(denseAggs.head, denseAggs.tail: _*)
    val tf = tfRelation(docs, idCol, textCol, tfs)
    val evids = (0 until c).map(i =>
      sum(col("tf") * coalesce(col(s"__b$i"), lit(cls(i)._3))).as(s"__e$i"))
    val scores = tf.join(dense, Seq("word"))
      .groupBy(col(idCol))
      .agg(sum(col("tf")).as("__ntok"), evids: _*)
    val totArr = array((0 until c).map(i =>
      struct((lit(cls(i)._2) + col(s"__e$i")).cast("long").as("t"),
        lit(i).as("i"))): _*)
    val labelsArr = array(cls.map(r => lit(r._1)): _*)
    val best = scores
      .withColumn("__srt", array_sort(totArr))
      .select(col(idCol),
        element_at(labelsArr, element_at(col("__srt"), 1)("i") + 1)
          .as("__pred"),
        element_at(col("__srt"), 1)("t").as("__bits"),
        (if (c > 1)
          element_at(col("__srt"), 2)("t") - element_at(col("__srt"), 1)("t")
        else lit(0L)).as("__margin"),
        col("__ntok"))
    docs.select(col(idCol))
      .join(best, Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("__pred"), lit(ppred)).as("pred"),
        coalesce(col("__bits"), lit(pbits)).as("bits"),
        coalesce(col("__margin"), lit(pmargin)).as("margin"),
        coalesce(col("__ntok"), lit(0L)).as("n_tokens"))
  }

  /** The legacy row-expanded scoring plan, kept for class spaces past
    * [[DenseClassCap]] (where the dense plan's C-column expression tree
    * would bloat codegen): ×C expansion, (word, label) model join, a
    * docs×C exchange and a per-doc window argmin. Semantics identical
    * to the dense plan.
    */
  private def applyNaiveBayesWide(docs: DataFrame, wc: DataFrame,
                                  classes: DataFrame, model: DataFrame,
                                  idCol: String, textCol: String,
                                  tfs: Column => Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vocab = wc.select("word").distinct()
    val tf = tfRelation(docs, idCol, textCol, tfs)
    val matched = tf.join(vocab, "word")
    val scores = matched
      .crossJoin(broadcast(
        classes.select("label", "prior_bits", "default_bits")))
      .join(model.select("label", "word", "bits"),
        Seq("word", "label"), "left_outer")
      .withColumn("b", coalesce(col("bits"), col("default_bits")))
      .groupBy(col(idCol), col("label"), col("prior_bits"))
      .agg(sum(col("tf") * col("b")).as("evid"),
        sum("tf").as("n_tokens"))
      .withColumn("tot", col("prior_bits") + col("evid"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("tot").asc, col("label").asc)
    val best = scores
      .withColumn("rn", row_number().over(w))
      .withColumn("nxt", lead(col("tot"), 1).over(w))
      .filter(col("rn") === 1)
      .select(col(idCol), col("label").as("__pred"), col("tot").as("__bits"),
        coalesce(col("nxt") - col("tot"), lit(0L)).as("__margin"),
        col("n_tokens").as("__ntok"))
    // prior-only fallback winner: C rows → 1; the unpartitioned window
    // is bounded by class cardinality (the Packing.scala posture)
    val pw = Window.orderBy(col("prior_bits").asc, col("label").asc)
    val pbest = classes.select("label", "prior_bits")
      .withColumn("rn", row_number().over(pw))
      .withColumn("nxt", lead(col("prior_bits"), 1).over(pw))
      .filter(col("rn") === 1)
      .select(col("label").as("__ppred"), col("prior_bits").as("__pbits"),
        coalesce(col("nxt") - col("prior_bits"), lit(0L)).as("__pmargin"))
    docs.select(col(idCol))
      .join(best, Seq(idCol), "left_outer")
      .crossJoin(broadcast(pbest))
      .select(col(idCol),
        coalesce(col("__pred"), col("__ppred")).as("pred"),
        coalesce(col("__bits"), col("__pbits")).as("bits"),
        coalesce(col("__margin"), col("__pmargin")).as("margin"),
        coalesce(col("__ntok"), lit(0L)).as("n_tokens"))
  }

  /** Character-TRIGRAM re-encoding of a text column: spaces become
    * `_` (so grams never collide with the whitespace tokenizer), every
    * 3-char substring is emitted in order, space-joined — "the cat"
    * → "the he_ e_c _ca cat". Texts shorter than 3 chars survive as
    * their single collapsed form; empty text encodes to the empty
    * string (zero grams on both engines); null stays null. A pure
    * codegen'd per-row map — zero shuffle.
    *
    * This is the representation bridge that turns the word-token NB
    * machinery into a character-n-gram model: char 3-grams carry the
    * orthographic signal (suffixes, diacritic patterns, script
    * mixtures) that makes fastText-style language ID work where a
    * word-unigram model sees only OOV.
    */
  def charTrigrams(text: Column): Column = {
    val s = regexp_replace(text, " ", "_")
    when(text.isNull, lit(null).cast("string"))
      .when(length(s) >= 3,
        concat_ws(" ",
          transform(sequence(lit(1), length(s) - 2),
            i => s.substr(i, lit(3)))))
      .otherwise(s)
  }

  /** Model-based LANGUAGE ID: the multinomial NB ([[nbModel]] /
    * [[classifyNaiveBayes]]) trained on character trigrams — the
    * fastText-analog upgrade over the [[langId]] stopword heuristic
    * (which only knows English). Both the training corpus and the
    * classified corpus pass through the SAME [[charTrigrams]]
    * re-encoding, so model vocabulary and document evidence live in
    * one gram space. Output per input doc: (idCol, pred, bits, margin,
    * n_tokens) — `pred` drops into the same column shape as the
    * heuristic, so a quality gate can consume either.
    *
    * Scale shape: identical to [[classifyNaiveBayes]] (the re-encoding
    * is a codegen'd map folded into the scan); char-trigram vocabulary
    * is alphabet³-bounded — typically SMALLER than a word vocab, so
    * the (gram, label) model relation broadcasts even more readily.
    */
  def classifyLangId(docs: DataFrame, labeled: DataFrame,
                     labelCol: String = "lang", idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame =
    // the tokenizer hook, not a text re-encode: CharTrigramTfs emits
    // the gram tf pairs in ONE native pass — the re-encode + re-split
    // formulation measured 25 s at sf0.1 (the 4× intermediate string
    // and a String per gram position dominated); semantics identical
    // (NativeExprSpec pins the twin)
    classifyNaiveBayes(docs, labeled, labelCol, idCol, textCol,
      tfs = graft.functions.charTrigramTfs)

  /** Per-document language-MIXTURE (code-switch) profile: cut each doc
    * into non-overlapping `window`-token chunks ([[chunkDocuments]]),
    * language-ID every chunk with the char-trigram NB model
    * ([[classifyLangId]], trained on `labeled`), and roll the chunk
    * predictions up per document — how many chunks, how many distinct
    * predicted languages, the dominant language and its share, and a
    * 0/1 `switched` flag (more than one language detected). The signal
    * multilingual-corpus curation filters on: a doc whose halves
    * disagree is code-switched (or a scraped template) and routes to a
    * different pipeline than its doc-level majority label suggests.
    *
    * Chunk identity is the string key `docId:chunkId` (so the NB
    * machinery stays key-type-agnostic); `idCol` must be integral —
    * the rollup recovers it by splitting the key. Null-text docs have
    * zero chunks: zero counts, null dominant language, not switched.
    * Dominant-language tiebreak: highest chunk count, then lowest
    * label (the same (count DESC, label ASC) law as kNN voting).
    *
    * Scale shape: inherits the audited NB plan (broadcast model
    * joins, one (key, word) tf shuffle over chunks ≈ tokens/window ×
    * docs rows), then two bounded per-doc aggregations. No windows
    * over the corpus, no driver materialization.
    */
  def codeSwitch(docs: DataFrame, labeled: DataFrame, window: Int = 30,
                 labelCol: String = "lang", idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame =
    codeSwitchRollup(docs, window, idCol, textCol,
      classifyLangId(_, labeled, labelCol, "__cs_key", textCol))

  /** The chunk → per-chunk prediction → per-doc vote/rollup core shared
    * by [[codeSwitch]] and [[codeSwitchWith]] — ONE definition of the
    * chunk keying, the (count DESC, label ASC) dominant-language law
    * and the switched flag, so the two paths can never drift.
    */
  private def codeSwitchRollup(docs: DataFrame, window: Int, idCol: String,
                               textCol: String,
                               classify: DataFrame => DataFrame): DataFrame = {
    require(window > 0, s"window must be positive, got $window")
    val chunks = chunkDocuments(docs.filter(col(textCol).isNotNull),
        window, window, idCol, textCol)
      .select(concat(col(idCol).cast("string"), lit(":"),
        col("chunk_id").cast("string")).as("__cs_key"),
        col("chunk_text").as(textCol))
    val preds = classify(chunks)
    val votes = preds
      .select(substring_index(col("__cs_key"), ":", 1).cast("long")
        .as(idCol), col("pred"))
      .groupBy(idCol, "pred").agg(count(lit(1)).as("__cs_c"))
    val agg = votes.groupBy(idCol)
      .agg(sum("__cs_c").as("n_chunks"),
        count(lit(1)).as("n_langs"),
        min(struct((-col("__cs_c")).as("negc"), col("pred").as("l")))
          .as("__cs_top"))
    docs.select(col(idCol)).join(agg, Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("n_langs"), lit(0L)).as("n_langs"),
        col("__cs_top.l").as("dom_lang"),
        coalesce(expr("(-__cs_top.negc) * 100 div n_chunks"), lit(0L))
          .as("dom_share_x100"),
        when(coalesce(col("n_langs"), lit(0L)) > 1, 1L).otherwise(0L)
          .as("switched"))
  }

  /** [[codeSwitch]] under a PINNED/PERSISTED model — the train-once
    * production path (the ANN `*Indexed` / classifyWith precedent):
    * identical chunk/vote/rollup semantics, zero training work; the
    * bundle must be char-trigram (`char3`) trained, which the bundle's
    * own tokenizer field guarantees when loaded via [[loadNbBundle]].
    */
  def codeSwitchWith(docs: DataFrame, bundle: NbBundle, window: Int = 30,
                     idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame =
    codeSwitchRollup(docs, window, idCol, textCol,
      classifyWith(_, bundle, "__cs_key", textCol))

  /** Model-based QUALITY classifier — the GPT-3/LLaMA-pipeline "quality
    * classifier" stage (a learned filter distilled from a trusted
    * signal) with the rule gate as the teacher: documents are labeled
    * good/bad by [[qualityScore]] ≥ `minQuality`, the multinomial NB
    * trains on those labels in word space, and EVERY document is
    * scored by the model. The model generalizes past the rules —
    * vocabulary that co-occurs with rule-passing text raises a
    * document the rules alone would miss (and `margin` gives the
    * graded confidence a hard rule never could; filter on
    * `pred = 'good'` or rank by margin). Output: the
    * [[classifyNaiveBayes]] shape (idCol, pred, bits, margin,
    * n_tokens).
    *
    * Scale shape: one codegen'd quality map labels the training side
    * (no extra shuffle over the classifier's own (label, word)
    * aggregation); the rest is the audited NB plan — 2-row class
    * table, broadcast model joins.
    */
  def qualityClassifier(docs: DataFrame, minQuality: Int = 3,
                        idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    classifyNaiveBayes(docs, qualityLabeled(docs, minQuality, idCol, textCol),
      labelCol = "__qc_label", idCol, textCol)
  }

  /** The rule-teacher labeling half of [[qualityClassifier]], shared
    * with [[writeQualityBundle]] so the in-session and persisted
    * classifiers train on the identical labeled relation.
    */
  private def qualityLabeled(docs: DataFrame, minQuality: Int,
                             idCol: String, textCol: String): DataFrame = {
    require(minQuality >= 1 && minQuality <= 4,
      s"minQuality must be in [1, 4], got $minQuality")
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol), col(textCol),
        when(qualityScore(col(textCol)) >= minQuality, lit("good"))
          .otherwise(lit("bad")).as("__qc_label"))
  }

  /** Train the model-based quality classifier ONCE and PERSIST it
    * through the [[writeNbBundle]] lifecycle (bucketed model tables +
    * `_meta`-pinned tokenizer): the 100 TB shape for the learned
    * quality filter — one batch job labels a trusted snapshot with the
    * rule gate and trains, every later job (and every stream restart —
    * [[graft.streaming.CurationStream]]'s model quality gate) loads
    * the same audited artifact via [[loadNbBundle]] and scores
    * bit-identically (spec-gated, plus the
    * t_quality_classifier_persisted oracle).
    */
  def writeQualityBundle(docs: DataFrame, name: String, minQuality: Int = 3,
                         idCol: String = "doc_id", textCol: String = "text",
                         buckets: Int = 8): Unit =
    writeNbBundle(qualityLabeled(docs, minQuality, idCol, textCol), name,
      labelCol = "__qc_label", textCol = textCol, tokenizer = "word",
      buckets = buckets)
}
