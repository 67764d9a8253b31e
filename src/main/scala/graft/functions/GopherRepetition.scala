package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The full Gopher word-n-gram repetition vector (Rae et al. 2021,
  * Table A1) as ONE native expression: per document,
  *
  *  - `topN` (n = 2, 3, 4): the maximum over n-grams of
  *    count · byte-length — the characters covered by the most
  *    repetition-heavy single n-gram (ties between distinct grams
  *    resolve to the larger product, so the statistic is the max
  *    char-fraction numerator itself, deterministic with no
  *    lexicographic tiebreak);
  *  - `dupN` (n = 5..10): Σ count · byte-length over n-grams occurring
  *    ≥ 2 times — the characters inside duplicated n-grams.
  *
  * The query layer divides by the document's byte length for the
  * filterable x100 fractions. Gram identity and length are exact gram
  * BYTES (the contiguous [[Words]] range `words[w..w+n)` — byte
  * length == char length on the ASCII corpus, matching the oracle's
  * `length()`).
  *
  * Like [[RepetitionStats]] (the 2-gram-only precursor kept for its
  * query surface), this exists because the `aggregate`-HOF formulation
  * runs in Catalyst's lambda interpreter at ~1 ms/doc·n; here all nine
  * n-sizes share ONE word-boundary scan and nine zero-copy counting
  * passes at byte speed.
  *
  * Fewer than n words → that size's counters are 0; null text → null
  * (the query layer coalesces).
  */
case class GopherRepetition(child: Expression)
    extends NativeUnary[UTF8String] {

  override def dataType: DataType = StructType(
    GopherRepetition.TopNs.map(n =>
      StructField(s"top$n", LongType, nullable = false)) ++
      GopherRepetition.DupNs.map(n =>
        StructField(s"dup$n", LongType, nullable = false)))

  override def inputTypes = Seq(StringType)

  def compute(text: UTF8String): InternalRow = {
    val bytes = text.getBytes
    val starts = Words.starts(bytes)
    val nWords = starts.length - 1
    val out = new Array[Any](GopherRepetition.TopNs.length +
      GopherRepetition.DupNs.length)
    var slot = 0
    (GopherRepetition.TopNs ++ GopherRepetition.DupNs).foreach { n =>
      val wantTop = n <= GopherRepetition.TopNs.last
      var stat = 0L
      if (nWords >= n) {
        val counts = new java.util.HashMap[UTF8String, java.lang.Long]
        var w = 0
        while (w <= nWords - n) {
          val g = Words.slice(bytes, starts, w, w + n)
          val prev = counts.get(g)
          counts.put(g, if (prev == null) 1L else prev + 1L)
          w += 1
        }
        val it = counts.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          val chars = e.getValue.longValue() * e.getKey.numBytes()
          if (wantTop) { if (chars > stat) stat = chars }
          else if (e.getValue.longValue() >= 2L) stat += chars
        }
      }
      out(slot) = stat
      slot += 1
    }
    new GenericInternalRow(out)
  }

  override protected def withNewChildInternal(newChild: Expression): GopherRepetition =
    copy(child = newChild)
}

object GopherRepetition {
  /** top-n-gram char sizes (max single gram) and dup sizes (Σ over
    * duplicated grams) — the Gopher Table A1 n ranges.
    */
  val TopNs: Seq[Int] = Seq(2, 3, 4)
  val DupNs: Seq[Int] = Seq(5, 6, 7, 8, 9, 10)
}
