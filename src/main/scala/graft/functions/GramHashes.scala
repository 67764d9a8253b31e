package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Every stride-1 `k`-word-window [[PolyHash64]] of a text in ONE
  * native pass — the hashing front half of [[WinnowFps]] without the
  * winnowing selection, for the ExactSubstr span-dedup family
  * ([[graft.ext.Dedup.dupSpanStats]]/removeDupSpans): output
  * `array<struct<pos: long, fp: long>>` with pos the 0-BASED window
  * start (matching the family's `sequence(0, n − minLen)` positions),
  * one entry per window, in order; fewer than `k` words → empty array.
  *
  * Identical by construction to
  * `polyFingerprint64(concat_ws(" ", slice(split(text, " "), pos + 1, k)))`
  * (spec-asserted): [[Words]] keeps empty words, so a window's joined
  * string is byte-identical to the original span and the hash folds
  * DIRECTLY over the byte range with zero per-window allocation. The
  * HOF formulation this replaces built a k-word string per TOKEN (O(tokens·k) interpreted
  * allocation inside the scan); this is one byte pass per row.
  */
case class GramHashes(child: Expression, k: Int)
    extends NativeUnary[UTF8String] {
  require(k >= 1, s"k (window width) must be >= 1, got $k")

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("pos", LongType, nullable = false),
      StructField("fp", LongType, nullable = false))),
    containsNull = false)

  override def inputTypes = Seq(StringType)

  def compute(s: UTF8String): ArrayData = {
    val bytes = s.getBytes
    val starts = Words.starts(bytes)
    val nGrams = starts.length - 1 - (k - 1) // nWords − (k − 1)
    if (nGrams < 1) return new GenericArrayData(Array.empty[Any])
    val rows = new Array[Any](nGrams)
    var g = 0
    while (g < nGrams) {
      rows(g) = InternalRow(g.toLong,
        PolyFold.h64(bytes, starts(g), Words.end(starts, g + k - 1)))
      g += 1
    }
    new GenericArrayData(rows)
  }

  override protected def withNewChildInternal(newChild: Expression): GramHashes =
    copy(child = newChild)
}
