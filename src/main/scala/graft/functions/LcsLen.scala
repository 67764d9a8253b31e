package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Longest-common-subsequence LENGTH of two string arrays as one native
  * Catalyst expression — the row-local kernel of ROUGE-L
  * ([[graft.ext.Eval.rougeL]]): the classic two-row DP, O(|a|·|b|) time
  * and O(|b|) space, entirely inside whole-stage codegen
  * ([[NativeExpr]]). Pure integer — the score is bit-reproducible in
  * any engine, which is what lets the DuckDB oracle replay it (as a
  * recursive-CTE row carry) exactly.
  *
  * The recurrence used is the relaxed max-of-three form
  * `L[i][j] = max(L[i-1][j], L[i][j-1], L[i-1][j-1] + eq)` — equivalent
  * to the textbook case split (each extra term is dominated when eq,
  * and `L[i-1][j-1] ≤` both others when not), and the form the SQL
  * replay's running-max expansion mirrors.
  *
  * Null semantics: null if either array is null (BinaryExpression
  * default); an element that is null matches nothing. Empty → 0.
  */
case class LcsLen(left: Expression, right: Expression)
  extends NativeBinary[ArrayData, ArrayData] {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def inputTypes = Seq(ArrayType(StringType), ArrayType(StringType))

  def compute(a: ArrayData, b: ArrayData): Long = {
    val n = a.numElements()
    val m = b.numElements()
    if (n == 0 || m == 0) return 0L
    // materialize b once (UTF8String equals is a byte compare)
    val bs = new Array[UTF8String](m)
    var j = 0
    while (j < m) {
      bs(j) = if (b.isNullAt(j)) null else b.getUTF8String(j)
      j += 1
    }
    var prev = new Array[Long](m + 1)
    var cur = new Array[Long](m + 1)
    var i = 0
    while (i < n) {
      val ai = if (a.isNullAt(i)) null else a.getUTF8String(i)
      j = 0
      while (j < m) {
        val eq = ai != null && bs(j) != null && ai.equals(bs(j))
        var v = prev(j + 1) // L[i-1][j]
        if (cur(j) > v) v = cur(j) // L[i][j-1]
        val d = prev(j) + (if (eq) 1L else 0L) // L[i-1][j-1] + eq
        if (d > v) v = d
        cur(j + 1) = v
        j += 1
      }
      val t = prev; prev = cur; cur = t
      java.util.Arrays.fill(cur, 0L)
      i += 1
    }
    prev(m)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LcsLen =
    copy(left = newLeft, right = newRight)
}
