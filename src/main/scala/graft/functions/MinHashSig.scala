package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** MinHash signature of a shingle-hash set: per permutation (a, b),
  * min over hashes of (a·h + b) mod P, P = [[PolyFold.P31]] — one fused
  * pass over the input array computing all permutations, instead of
  * `perms` separate interpreted `transform`/`array_min` passes. Empty
  * input → P per slot (matches the declarative coalesce fallback).
  *
  * Together with [[ShingleHashes]] this makes the whole dedup
  * signature path native: text → hash set → signature with no Catalyst
  * lambda interpretation. Values are identical to the HOF formulation
  * (asserted bitwise in NativeExprSpec) and to the DuckDB oracle
  * (t_minhash_sig).
  */
case class MinHashSig(child: Expression, perms: Seq[(Long, Long)])
  extends NativeUnary[ArrayData] {

  private val as = perms.map(_._1).toArray
  private val bs = perms.map(_._2).toArray

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def inputTypes = Seq(ArrayType(LongType))

  def compute(hashes: ArrayData): ArrayData = {
    val k = as.length
    val mins = Array.fill(k)(PolyFold.P31)
    var i = 0
    val n = hashes.numElements()
    while (i < n) {
      val h = hashes.getLong(i)
      var j = 0
      while (j < k) {
        val v = (as(j) * h + bs(j)) % PolyFold.P31
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}
