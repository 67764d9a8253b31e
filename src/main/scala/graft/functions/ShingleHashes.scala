package graft.functions

import scala.collection.mutable
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Distinct word-n-gram shingle PolyHash set of a text — the dedup
  * pipeline's hot path as ONE native single-pass expression instead of
  * an interpreted higher-order-function chain
  * (split → transform(concat_ws) → transform(polyhash) → array_distinct),
  * which costs ~1 ms/document in Catalyst's lambda interpreter. At
  * 100 TB text dedup this map stage IS the workload.
  *
  * Value semantics match the declarative chain exactly (asserted
  * bitwise in NativeExprSpec): shingle = n consecutive [[Words]],
  * hash = [[PolyFold.h31]] over the shingle's UTF-8 bytes with 0x20
  * between words, distinct preserving first occurrence; fewer than n
  * words → the whole text is the single shingle; null text → null
  * (the HOF spec wraps itself in an isNotNull guard to agree).
  *
  * The eval operates on the UTF8String's raw bytes — no String
  * round-trip, no per-word allocation, and identical hashes to
  * PolyHash for any byte content (a String detour would substitute
  * U+FFFD on invalid UTF-8 and hash differently).
  */
case class ShingleHashes(child: Expression, n: Int)
  extends NativeUnary[UTF8String] {

  require(n >= 1, s"shingle width must be >= 1, got $n")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def inputTypes = Seq(StringType)

  def compute(text: UTF8String): ArrayData = {
    val bytes = text.getBytes
    val starts = Words.starts(bytes)
    val nWords = starts.length - 1
    val out = new mutable.LinkedHashSet[Long]
    if (nWords < n) {
      out += PolyFold.h31(bytes)
    } else {
      var w = 0
      while (w <= nWords - n) {
        out += PolyFold.h31(bytes, starts(w), Words.end(starts, w + n - 1))
        w += 1
      }
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}
