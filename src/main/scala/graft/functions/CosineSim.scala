package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._

/** Cosine similarity of two float/double vectors as a [[NativeBinary]]:
  * one fused loop computing dot, |a|² and |b|² — no lambda-function
  * interpretation, no boxed arrays.
  *
  * The higher-order-function formulation (`aggregate(zip_with(...))`)
  * is semantically identical but interpreted per row; on the 100 TB
  * similarity path (ANN rerank over billions of vectors) the fused
  * loop is the difference between scan-bound and CPU-bound.
  *
  * Numerics: accumulates in double, left-to-right over indices — the
  * exact fold order of both the HOF version and DuckDB's
  * `list_sum(list_transform(...))`, so results stay bit-identical to
  * the oracle (verified by t_similarity_topk).
  *
  * Null semantics: null if either vector is null or if lengths differ /
  * either norm is zero.
  */
case class CosineSim(left: Expression, right: Expression)
  extends NativeBinary[ArrayData, ArrayData] {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def inputTypes =
    Seq.fill(2)(Bridge.anyOf(ArrayType(FloatType), ArrayType(DoubleType)))

  private def floats(e: Expression) =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType
  private lazy val leftFloat = floats(left)
  private lazy val rightFloat = floats(right)

  def compute(a: ArrayData, b: ArrayData): Any = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = if (leftFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (rightFloat) b.getFloat(i).toDouble else b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) null
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}
