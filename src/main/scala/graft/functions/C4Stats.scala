package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The C4 heuristic page-cleaning rule set (Raffel et al. 2020, §2.2)
  * as ONE native expression over a newline-delimited page:
  *
  *  line level (a line survives only if ALL hold):
  *   - ends in a terminal punctuation mark (`.` `!` `?` `"`);
  *   - contains at least 3 non-empty space-separated words;
  *   - does not contain the word "javascript" (case-insensitive).
  *
  *  page level (flags for the caller's page drop — C4 removes pages
  *  with < 5 sentences, a "lorem ipsum" phrase, a `{` character, or a
  *  bad-word hit; [[C4Stats.BadWords]] is a small deterministic
  *  placeholder for the production blocklist):
  *   - `clean`: the surviving lines rejoined with `\n`;
  *   - `n_lines` / `n_kept`: total and surviving line counts;
  *   - `n_sentences`: terminal `.` `!` `?` marks in the CLEAN text
  *     (the sentence-count proxy the ≥5-sentence rule filters on);
  *   - `has_lorem` / `has_brace` / `has_badword`: 0/1 page flags,
  *     evaluated on the ORIGINAL page (a dirty line must still poison
  *     the page even though the line filter would drop it).
  *
  * One byte-level pass per concern, zero allocation beyond the clean
  * buffer; ASCII case-fold via `| 0x20` (exact on this corpus — the
  * oracle's `lower()` agrees byte-for-byte). Null text → null; the
  * query layer coalesces and derives the pass flag so the thresholds
  * stay visible in SQL.
  */
case class C4Stats(child: Expression) extends NativeUnary[UTF8String] {

  override def dataType: DataType = StructType(Seq(
    StructField("clean", StringType, nullable = false),
    StructField("n_lines", LongType, nullable = false),
    StructField("n_kept", LongType, nullable = false),
    StructField("n_sentences", LongType, nullable = false),
    StructField("has_lorem", LongType, nullable = false),
    StructField("has_brace", LongType, nullable = false),
    StructField("has_badword", LongType, nullable = false)))

  override def inputTypes = Seq(StringType)

  /** Case-insensitive ASCII substring search: `pat` must be lowercase;
    * a text byte matches when `(b | 0x20) == p` — exact for letters,
    * and for non-letters only the byte itself (or, for 0x20, NUL) maps
    * onto the pattern, which cannot occur in this ASCII corpus.
    */
  private def containsFolded(b: Array[Byte], from: Int, until: Int,
                             pat: Array[Byte]): Boolean = {
    val n = pat.length
    var i = from
    while (i <= until - n) {
      var j = 0
      while (j < n && ((b(i + j) | 0x20).toByte == pat(j))) j += 1
      if (j == n) return true
      i += 1
    }
    false
  }

  def compute(text: UTF8String): InternalRow = {
    val b = text.getBytes
    // ── page-level flags over the ORIGINAL bytes ───────────────────
    var hasBrace = 0L
    var i = 0
    while (i < b.length && hasBrace == 0L) {
      if (b(i) == '{') hasBrace = 1L
      i += 1
    }
    val hasLorem =
      if (containsFolded(b, 0, b.length, C4Stats.LoremBytes)) 1L else 0L
    // bad-word scan: lowercase [a-z0-9]+ token runs vs the blocklist
    var hasBad = 0L
    i = 0
    while (i < b.length && hasBad == 0L) {
      val lo = (b(i) | 0x20).toByte
      val alnum = (lo >= 'a' && lo <= 'z') || (b(i) >= '0' && b(i) <= '9')
      if (alnum) {
        val start = i
        var end = i
        while (end < b.length && {
          val l2 = (b(end) | 0x20).toByte
          (l2 >= 'a' && l2 <= 'z') || (b(end) >= '0' && b(end) <= '9')
        }) end += 1
        var w = 0
        while (w < C4Stats.BadWords.length && hasBad == 0L) {
          val bw = C4Stats.BadWords(w)
          if (bw.length == end - start) {
            var j = 0
            while (j < bw.length && (b(start + j) | 0x20).toByte == bw(j)) j += 1
            if (j == bw.length) hasBad = 1L
          }
          w += 1
        }
        i = end
      } else i += 1
    }
    // ── line loop: filter, rebuild, count sentences ────────────────
    val clean = new java.io.ByteArrayOutputStream(b.length)
    var nLines = 0L
    var nKept = 0L
    var nSentences = 0L
    var lineStart = 0
    var pos = 0
    while (pos <= b.length) {
      if (pos == b.length || b(pos) == '\n') {
        nLines += 1L
        if (pos > lineStart) {
          val last = b(pos - 1)
          val terminal = last == '.' || last == '!' || last == '?' || last == '"'
          if (terminal) {
            var words = 0
            var inWord = false
            var k = lineStart
            while (k < pos) {
              if (b(k) == 0x20) inWord = false
              else if (!inWord) { words += 1; inWord = true }
              k += 1
            }
            if (words >= 3 &&
                !containsFolded(b, lineStart, pos, C4Stats.JsBytes)) {
              if (nKept > 0L) clean.write('\n')
              clean.write(b, lineStart, pos - lineStart)
              nKept += 1L
              k = lineStart
              while (k < pos) {
                val c = b(k)
                if (c == '.' || c == '!' || c == '?') nSentences += 1L
                k += 1
              }
            }
          }
        }
        lineStart = pos + 1
      }
      pos += 1
    }
    new GenericInternalRow(Array[Any](
      UTF8String.fromBytes(clean.toByteArray), nLines, nKept, nSentences,
      hasLorem, hasBrace, hasBad))
  }

  override protected def withNewChildInternal(newChild: Expression): C4Stats =
    copy(child = newChild)
}

object C4Stats {
  private[functions] val LoremBytes = "lorem ipsum".getBytes
  private[functions] val JsBytes = "javascript".getBytes

  /** Deterministic placeholder for C4's production bad-word blocklist
    * (the real list is external content; the RULE — word-level match on
    * lowercased alphanumeric tokens — is what's implemented).
    */
  val BadWords: Array[Array[Byte]] =
    Array("hell", "damn", "shit").map(_.getBytes)

  /** The ≥5-sentence page threshold (Raffel et al. 2020 §2.2). */
  val MinSentences = 5L
}
