package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._

/** Integer dot product of two int/long vectors as a native Catalyst
  * expression with whole-stage codegen: one fused multiply-accumulate
  * loop, pure 64-bit integer arithmetic — the scoring kernel of the
  * INT8-quantized similarity path ([[graft.ext.Similarity.int8TopK]]).
  *
  * Quantized search is how billion-vector corpora are actually scanned
  * (int8 SIMD beats float32 ~4× on memory bandwidth alone); on this
  * engine the win is different but real — an integer score is EXACT in
  * every engine (no fold-order or FMA variance), so ranking is
  * bit-reproducible by construction, and the fused loop stays inside
  * whole-stage codegen like [[CosineSim]].
  *
  * Overflow: int8-range elements (|q| ≤ 127) keep the accumulator under
  * 127²·n — safe in a Long for any n < 5.7·10¹⁴; inputs are NOT
  * range-checked here (the quantizer guarantees the range).
  *
  * Null semantics: null if either vector is null (BinaryExpression
  * default) or if lengths differ.
  */
case class IntDot(left: Expression, right: Expression)
  extends BinaryExpression with ExpectsInputTypes {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def inputTypes =
    Seq.fill(2)(Bridge.anyOf(ArrayType(IntegerType), ArrayType(LongType)))

  private def get(arr: ArrayData, i: Int, t: DataType): Long = t match {
    case IntegerType => arr.getInt(i).toLong
    case _ => arr.getLong(i)
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    if (a.numElements() != b.numElements()) return null
    val (lt, rt) = (elemType(left), elemType(right))
    var dot = 0L
    var i = 0
    val n = a.numElements()
    while (i < n) {
      dot += get(a, i, lt) * get(b, i, rt)
      i += 1
    }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      def getter(arr: String, i: String, t: DataType): String = t match {
        case IntegerType => s"(long) $arr.getInt($i)"
        case _ => s"$arr.getLong($i)"
      }
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) { ${ev.isNull} = true; }
         |else {
         |  long $dot = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $dot += ${getter(a, i, elemType(left))} * ${getter(b, i, elemType(right))};
         |  }
         |  ${ev.value} = $dot;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IntDot =
    copy(left = newLeft, right = newRight)
}
