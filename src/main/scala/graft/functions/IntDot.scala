package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._

/** Integer dot product of two int/long vectors as a [[NativeBinary]]:
  * one fused multiply-accumulate loop, pure 64-bit integer arithmetic —
  * the scoring kernel of the INT8-quantized similarity path
  * ([[graft.ext.Similarity.int8TopK]]).
  *
  * Quantized search is how billion-vector corpora are actually scanned
  * (int8 SIMD beats float32 ~4× on memory bandwidth alone); on this
  * engine the win is different but real — an integer score is EXACT in
  * every engine (no fold-order or FMA variance), so ranking is
  * bit-reproducible by construction.
  *
  * Overflow: int8-range elements (|q| ≤ 127) keep the accumulator under
  * 127²·n — safe in a Long for any n < 5.7·10¹⁴; inputs are NOT
  * range-checked here (the quantizer guarantees the range).
  *
  * Null semantics: null if either vector is null or if lengths differ.
  */
case class IntDot(left: Expression, right: Expression)
  extends NativeBinary[ArrayData, ArrayData] {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def inputTypes =
    Seq.fill(2)(Bridge.anyOf(ArrayType(IntegerType), ArrayType(LongType)))

  private def ints(e: Expression) =
    e.dataType.asInstanceOf[ArrayType].elementType == IntegerType
  private lazy val leftInt = ints(left)
  private lazy val rightInt = ints(right)

  def compute(a: ArrayData, b: ArrayData): Any = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var dot = 0L
    var i = 0
    while (i < n) {
      dot += (if (leftInt) a.getInt(i).toLong else a.getLong(i)) *
        (if (rightInt) b.getInt(i).toLong else b.getLong(i))
      i += 1
    }
    dot
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IntDot =
    copy(left = newLeft, right = newRight)
}
