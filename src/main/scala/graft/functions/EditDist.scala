package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Levenshtein EDIT DISTANCE of two string arrays (token-level:
  * insertions + deletions + substitutions, unit cost) as one native
  * Catalyst expression — the row-local kernel of WER
  * ([[graft.ext.Eval.wer]]), on the [[LcsLen]] precedent: the classic
  * two-row DP, O(|a|·|b|) time and O(|b|) space, entirely inside
  * whole-stage codegen via the reference-object pattern. Pure integer
  * — bit-reproducible in any engine, which is what lets the DuckDB
  * oracle replay it as a recursive-CTE row carry (the running-MIN
  * expansion: with c[j] = min(D[i][j−1] + neq, D[i][j] + 1) and
  * c[0] = i+1, the within-row dependency D[i+1][j] =
  * min(c[j], D[i+1][j−1] + 1) telescopes to
  * D[i+1][j] = j + min_{j' ≤ j}(c[j'] − j')).
  *
  * Null semantics: null if either array is null (BinaryExpression
  * default); a null ELEMENT matches nothing (substitution still costs
  * 1 — [[LcsLen]]'s element law). Empty vs n tokens → n.
  */
case class EditDist(left: Expression, right: Expression)
  extends NativeBinary[ArrayData, ArrayData] {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def inputTypes = Seq(ArrayType(StringType), ArrayType(StringType))

  def compute(a: ArrayData, b: ArrayData): Long = {
    val n = a.numElements()
    val m = b.numElements()
    if (n == 0) return m.toLong
    if (m == 0) return n.toLong
    // materialize b once (UTF8String equals is a byte compare)
    val bs = new Array[UTF8String](m)
    var j = 0
    while (j < m) {
      bs(j) = if (b.isNullAt(j)) null else b.getUTF8String(j)
      j += 1
    }
    var prev = new Array[Long](m + 1)
    var cur = new Array[Long](m + 1)
    j = 0
    while (j <= m) { prev(j) = j.toLong; j += 1 }
    var i = 0
    while (i < n) {
      val ai = if (a.isNullAt(i)) null else a.getUTF8String(i)
      cur(0) = i + 1L
      j = 0
      while (j < m) {
        val eq = ai != null && bs(j) != null && ai.equals(bs(j))
        var v = prev(j) + (if (eq) 0L else 1L) // D[i][j-1] + neq
        val del = prev(j + 1) + 1L // D[i][j] + 1
        if (del < v) v = del
        val ins = cur(j) + 1L // D[i+1][j-1] + 1
        if (ins < v) v = ins
        cur(j + 1) = v
        j += 1
      }
      val t = prev; prev = cur; cur = t
      i += 1
    }
    prev(m)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): EditDist =
    copy(left = newLeft, right = newRight)
}
