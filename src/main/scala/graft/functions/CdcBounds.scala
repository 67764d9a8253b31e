package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Content-defined chunk texts ([[graft.ext.Dedup.cdcChunks]]' law) in
  * ONE native pass over the text bytes — the fused form of the
  * declarative HOF chain kept as the executable spec
  * ([[graft.ext.Dedup.cdcChunksHof]], the [[WinnowFps]] precedent):
  *
  *  1. words are [[Words]] (empty words kept), so a trailing
  *     `window`-word shingle's joined string is byte-identical to the
  *     original span and its [[PolyFold.h31]] folds directly over the
  *     byte range;
  *  2. a boundary falls AFTER 1-based word `i` (for i in
  *     window..nWords−1) exactly when that shingle hash ≡ 0 mod
  *     `divisor`;
  *  3. chunks are the word ranges between consecutive bounds
  *     (0, cuts…, nWords), each chunk again a byte slice of the input.
  *
  * Output: `array<string>` of chunk texts in order (a document shorter
  * than window+1 words is one chunk; empty text is one empty chunk).
  * The HOF chain built a window-word string per boundary CANDIDATE
  * (O(tokens·window) interpreted allocation); this pass allocates
  * only the output slices.
  */
case class CdcChunksExpr(child: Expression, window: Int, divisor: Int)
    extends NativeUnary[UTF8String] {
  require(window >= 1, s"window must be >= 1, got $window")
  require(divisor > 1, s"divisor must be > 1, got $divisor")

  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)

  override def inputTypes = Seq(StringType)

  def compute(s: UTF8String): ArrayData = {
    val bytes = s.getBytes
    val starts = Words.starts(bytes)
    val nWords = starts.length - 1
    // bounds in 1-based word counts: 0, every qualifying cut, nWords.
    // Candidates c = window..nWords-1: shingle = words c-window+1..c
    // (1-based) = 0-based words c-window..c-1
    val bounds = new Array[Int](nWords + 1)
    var nBounds = 1
    var c = window
    while (c <= nWords - 1) {
      if (PolyFold.h31(bytes, starts(c - window), Words.end(starts, c - 1)) %
          divisor == 0L) {
        bounds(nBounds) = c
        nBounds += 1
      }
      c += 1
    }
    bounds(nBounds) = nWords
    val out = new Array[Any](nBounds)
    var j = 1
    while (j <= nBounds) {
      out(j - 1) = Words.slice(bytes, starts, bounds(j - 1), bounds(j)).copy()
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): CdcChunksExpr =
    copy(child = newChild)
}
