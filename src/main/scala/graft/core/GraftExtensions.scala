package graft.core

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{BpeMergeTokens, CosineSim, DeflateLen, LshBuckets, MinHashSig, PolyHash, PolyHash64, ShingleHashes, SimHash, VocabTokenCount, WordTfs}

/** SparkSessionExtensions hook registering the engine's native
  * expressions as SQL functions, so `spark.sql("SELECT polyhash(text),
  * cosine_sim(a, b) ...")` works exactly like the Column API — the
  * idiomatic way to extend Spark's function surface (injected via
  * `spark.sql.extensions`, see Sessions.build). The full dedup/ANN
  * signature chain is SQL-reachable: shingle_hashes → minhash_sig /
  * simhash, and lsh_buckets for the hyperplane path — so the REST/SQL
  * console runs the same fused expressions as the Column API.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  /** A constant-foldable int argument (the SQL analog of a Scala
    * parameter like `bits` or `planes`) — evaluated at resolution time.
    * Accepts any integral literal width (a SQL generator may emit
    * `CAST(16 AS BIGINT)`), range-checked into Int.
    */
  private def intArg(e: Expression, what: String): Int = {
    require(e.foldable, s"$what must be a literal integer")
    e.eval() match {
      case i: Int   => i
      case s: Short => s.toInt
      case b: Byte  => b.toInt
      case l: Long =>
        require(l >= Int.MinValue && l <= Int.MaxValue,
          s"$what out of int range: $l")
        l.toInt
      case other => throw new IllegalArgumentException(
        s"$what must be an integral literal, got $other")
    }
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    // whole-operator extension: plans graft.plans.TopKPerKey logical
    // nodes as the two-phase bounded-heap physical operator
    ext.injectPlannerStrategy(_ => graft.plans.TopKPerKeyStrategy)
    ext.injectFunction((
      FunctionIdentifier("polyhash"),
      new ExpressionInfo(classOf[PolyHash].getName, "polyhash"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "polyhash(str) takes 1 argument")
        PolyHash(children.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("polyhash64"),
      new ExpressionInfo(classOf[PolyHash64].getName, "polyhash64"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "polyhash64(str) takes 1 argument")
        PolyHash64(children.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSim].getName, "cosine_sim"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "cosine_sim(a, b) takes 2 arguments")
        CosineSim(children.head, children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("pcm_fingerprint"),
      new ExpressionInfo(classOf[graft.functions.PcmFingerprint].getName,
        "pcm_fingerprint"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          "pcm_fingerprint(bytes) takes 1 argument")
        graft.functions.PcmFingerprint(children.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("shingle_hashes"),
      new ExpressionInfo(classOf[ShingleHashes].getName, "shingle_hashes"),
      (children: Seq[Expression]) => {
        require(children.length == 1 || children.length == 2,
          "shingle_hashes(text[, n]) takes 1-2 arguments")
        val n = if (children.length == 2) intArg(children(1), "n")
          else graft.ext.Dedup.ShingleN
        ShingleHashes(children.head, n)
      }))
    ext.injectFunction((
      FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "minhash_sig(hashes) takes 1 argument")
        MinHashSig(children.head, graft.ext.Dedup.Perms)
      }))
    ext.injectFunction((
      FunctionIdentifier("simhash"),
      new ExpressionInfo(classOf[SimHash].getName, "simhash"),
      (children: Seq[Expression]) => {
        require(children.length == 1 || children.length == 2,
          "simhash(hashes[, bits]) takes 1-2 arguments")
        val bits = if (children.length == 2) intArg(children(1), "bits") else 16
        SimHash(children.head, bits)
      }))
    ext.injectFunction((
      FunctionIdentifier("lsh_buckets"),
      new ExpressionInfo(classOf[LshBuckets].getName, "lsh_buckets"),
      (children: Seq[Expression]) => {
        require(children.length == 4,
          "lsh_buckets(vec, tables, planes, dims) takes 4 arguments")
        LshBuckets(children.head, intArg(children(1), "tables"),
          intArg(children(2), "planes"), intArg(children(3), "dims"))
      }))
    ext.injectFunction((
      FunctionIdentifier("vocab_token_count"),
      new ExpressionInfo(classOf[VocabTokenCount].getName, "vocab_token_count"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "vocab_token_count(text) takes 1 argument")
        VocabTokenCount(children.head, graft.ext.TextAnalysis.Vocab,
          graft.ext.TextAnalysis.BpePattern)
      }))
    // bpe_merge_tokens(text): the true merge-loop tokenizer over the
    // same TextAnalysis.Merges table the Column API embeds
    ext.injectFunction((
      FunctionIdentifier("bpe_merge_tokens"),
      new ExpressionInfo(classOf[BpeMergeTokens].getName, "bpe_merge_tokens"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "bpe_merge_tokens(text) takes 1 argument")
        BpeMergeTokens(children.head, graft.ext.TextAnalysis.Merges,
          graft.ext.TextAnalysis.BpePattern)
      }))
    ext.injectFunction((
      FunctionIdentifier("word_tfs"),
      new ExpressionInfo(classOf[WordTfs].getName, "word_tfs"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "word_tfs(text) takes 1 argument")
        WordTfs(children.head)
      }))
    // redact_pii(text): the same ordered RegExpReplace fold as
    // TextAnalysis.redactPii, built from the same PiiPatterns constants
    ext.injectFunction((
      FunctionIdentifier("redact_pii"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.RegExpReplace].getName,
        "redact_pii"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "redact_pii(text) takes 1 argument")
        import org.apache.spark.sql.catalyst.expressions.{Literal, RegExpReplace}
        graft.ext.TextAnalysis.PiiPatterns.foldLeft(children.head) {
          case (e, (pat, rep)) => RegExpReplace(e, Literal(pat), Literal(rep))
        }
      }))
    // deflate_len(text|binary): the compression-ratio signal's kernel
    ext.injectFunction((
      FunctionIdentifier("deflate_len"),
      new ExpressionInfo(classOf[DeflateLen].getName, "deflate_len"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "deflate_len(text) takes 1 argument")
        DeflateLen(children.head)
      }))
    // fix_mojibake(text): the same longest-first literal StringReplace
    // fold as TextAnalysis.fixMojibake, from the same MojibakePairs
    ext.injectFunction((
      FunctionIdentifier("fix_mojibake"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.StringReplace].getName,
        "fix_mojibake"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "fix_mojibake(text) takes 1 argument")
        import org.apache.spark.sql.catalyst.expressions.{Literal, StringReplace}
        graft.ext.TextAnalysis.MojibakePairs.foldLeft(children.head) {
          case (e, (pat, rep)) => StringReplace(e, Literal(pat), Literal(rep))
        }
      }))
    // html_to_text(html): the same 6-step extraction chain as
    // TextAnalysis.htmlToText, via the Column API bridge at plan time
    // is unavailable here — rebuilt from the same regex/entity
    // constants as a catalyst fold
    ext.injectFunction((
      FunctionIdentifier("html_to_text"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.RegExpReplace].getName,
        "html_to_text"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "html_to_text(html) takes 1 argument")
        import org.apache.spark.sql.catalyst.expressions.{Literal, RegExpReplace, StringReplace, StringTrim}
        def re(e: Expression, pat: String, rep: String): Expression =
          RegExpReplace(e, Literal(pat), Literal(rep))
        val noScript = re(children.head,
          "(?is)<script[^>]*>.*?</script>", " ")
        val noStyle = re(noScript, "(?is)<style[^>]*>.*?</style>", " ")
        val blocks = re(noStyle,
          "(?i)</?(p|br|div|li|h[1-6]|tr)[^>]*>", "\n")
        val noTags = re(blocks, "<[^>]*>", " ")
        val decoded = Seq("&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
          "&quot;" -> "\"", "&#39;" -> "'", "&amp;" -> "&")
          .foldLeft(noTags) { case (e, (pat, rep)) =>
            StringReplace(e, Literal(pat), Literal(rep))
          }
        StringTrim(re(re(re(decoded, "[ \t]+", " "),
          " ?\n[ \n]*", "\n"), "^\n+|\n+$", ""))
      }))
    // winnow_fps(text[, k, w]): the fused MOSS fingerprint selection
    // (defaults k=4, w=5 — the t_winnow law)
    ext.injectFunction((
      FunctionIdentifier("winnow_fps"),
      new ExpressionInfo(classOf[graft.functions.WinnowFps].getName,
        "winnow_fps"),
      (children: Seq[Expression]) => {
        require(children.length == 1 || children.length == 3,
          "winnow_fps(text[, k, w]) takes 1 or 3 arguments")
        if (children.length == 1) graft.functions.WinnowFps(children.head, 4, 5)
        else graft.functions.WinnowFps(children.head,
          intArg(children(1), "winnow_fps: k"),
          intArg(children(2), "winnow_fps: w"))
      }))
    // canonical_url(text): the fused native form of the 5-step URL
    // normalization law (TextAnalysis.canonicalizeUrl is the
    // executable spec it is tested against)
    ext.injectFunction((
      FunctionIdentifier("canonical_url"),
      new ExpressionInfo(classOf[graft.functions.CanonicalUrl].getName,
        "canonical_url"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "canonical_url(url) takes 1 argument")
        graft.functions.CanonicalUrl(children.head)
      }))
    // byte_level_encode(text): the GPT-2 bytes_to_unicode rendering —
    // each UTF-8 byte one mapped char (the byteLevel tokenizer modes'
    // encode, exposed for SQL-side inspection and dedup keys)
    ext.injectFunction((
      FunctionIdentifier("byte_level_encode"),
      new ExpressionInfo(classOf[graft.functions.ByteLevelEncode].getName,
        "byte_level_encode"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          "byte_level_encode(text) takes 1 argument")
        graft.functions.ByteLevelEncode(children.head)
      }))
    // lcs_len(a, b): longest-common-subsequence length of two string
    // arrays (the ROUGE-L kernel)
    ext.injectFunction((
      FunctionIdentifier("lcs_len"),
      new ExpressionInfo(classOf[graft.functions.LcsLen].getName,
        "lcs_len"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "lcs_len(a, b) takes 2 arguments")
        graft.functions.LcsLen(children.head, children(1))
      }))
    // edit_dist(a, b): token-level Levenshtein distance of two string
    // arrays (the WER kernel)
    ext.injectFunction((
      FunctionIdentifier("edit_dist"),
      new ExpressionInfo(classOf[graft.functions.EditDist].getName,
        "edit_dist"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "edit_dist(a, b) takes 2 arguments")
        graft.functions.EditDist(children.head, children(1))
      }))
    // roc_auc(score, label): exact AUC as a SQL AGGREGATE — the M4
    // reach for Eval.rocAuc/rocAucBy (GROUP BY source replicates the
    // per-domain face); returns the batch operator's row as a struct
    ext.injectFunction((
      FunctionIdentifier("roc_auc"),
      new ExpressionInfo(classOf[graft.functions.RocAucAgg].getName,
        "roc_auc"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          "roc_auc(score, label) takes 2 arguments")
        graft.functions.RocAucAgg(children.head, children(1))
      }))
    // rrf_weight(rank[, rrfK]): THE engine's reciprocal-rank-fusion
    // weight (10⁶ div (rrfK + rank)) — pins the integer grain so SQL-
    // side fusion reproduces Retrieval.rrfFuseAll bit-exactly instead
    // of hand-rolling the constant
    ext.injectFunction((
      FunctionIdentifier("rrf_weight"),
      new ExpressionInfo(classOf[org.apache.spark.sql.catalyst.expressions.IntegralDivide].getName,
        "rrf_weight"),
      (children: Seq[Expression]) => {
        require(children.length == 1 || children.length == 2,
          "rrf_weight(rank[, rrfK]) takes 1-2 arguments")
        val rrfK = if (children.length == 2) intArg(children(1), "rrfK") else 60
        require(rrfK >= 1, s"rrfK must be >= 1, got $rrfK")
        import org.apache.spark.sql.catalyst.expressions.{Add, Cast, IntegralDivide, Literal}
        IntegralDivide(Literal(1000000L),
          Add(Literal(rrfK.toLong),
            Cast(children.head, org.apache.spark.sql.types.LongType)))
      }))
  }
}
