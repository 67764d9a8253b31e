package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** All random-hyperplane LSH buckets of a vector in ONE fused pass:
  * element t of the output is the sign-bucket of the vector under
  * `planes` hyperplanes of hash table t (bit p = sign of ⟨plane_tp, v⟩).
  *
  * Replaces `tables × planes` interpreted `aggregate(zip_with(...))`
  * folds per row (the round-2 bench's hottest path: 56 interpreted
  * 64-dim folds per row for the 7-plane × 8-table near-dup query) with
  * a single compiled loop over the vector that feeds every (table,
  * plane) accumulator — same multiply-add count, zero interpretation
  * overhead, and one traversal of the unsafe array data.
  *
  * Numerics: each projection accumulates in double, left-to-right over
  * dims — the exact fold order of the HOF spec
  * ([[graft.ext.Similarity.lshBucketHof]]) and of the DuckDB oracle's
  * `list_sum(list_transform(...))`, so buckets are reproducible
  * cross-engine (the weights are ±1, and `v * ±1.0` is exact).
  *
  * Null/shape semantics mirror the HOF formulation exactly: a null
  * vector → null; a vector whose length ≠ `dims`, or containing a null
  * element, makes every projection null, which the HOF's
  * `when(proj >= 0, …).otherwise(0)` collapses to bucket 0 in every
  * table — so this expression returns all-zero buckets for those rows.
  */
case class LshBuckets(child: Expression, tables: Int, planes: Int, dims: Int)
  extends NativeUnary[ArrayData] {

  require(tables >= 1 && planes >= 1 && planes <= 63 && dims >= 1,
    s"need tables >= 1, 1 <= planes <= 63, dims >= 1; " +
      s"got tables=$tables planes=$planes dims=$dims")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def inputTypes =
    Seq(Bridge.anyOf(ArrayType(FloatType), ArrayType(DoubleType)))

  @transient private lazy val isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  /** Flattened ±1 hyperplane weights, [(t·planes + p)·dims + d]. Built
    * once per executor (transient lazy), ~tables·planes·dims doubles.
    */
  @transient private lazy val weights: Array[Double] = {
    val w = new Array[Double](tables * planes * dims)
    var t = 0
    var i = 0
    while (t < tables) {
      var p = 0
      while (p < planes) {
        var d = 0
        while (d < dims) {
          w(i) = LshBuckets.planeWeight(t, p, d)
          i += 1; d += 1
        }
        p += 1
      }
      t += 1
    }
    w
  }

  def compute(vec: ArrayData): ArrayData = {
    val tp = tables * planes
    if (vec.numElements() != dims) return LshBuckets.zeros(tables)
    val acc = new Array[Double](tp)
    var d = 0
    while (d < dims) {
      if (vec.isNullAt(d)) return LshBuckets.zeros(tables)
      val v = if (isFloat) vec.getFloat(d).toDouble else vec.getDouble(d)
      var j = 0
      while (j < tp) {
        acc(j) += v * weights(j * dims + d)
        j += 1
      }
      d += 1
    }
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var bucket = 0L
      var p = 0
      while (p < planes) {
        // NaN counts as >= 0: Spark SQL (and DuckDB) order NaN above
        // every value, so the HOF's `when(proj >= 0, ...)` is TRUE for a
        // NaN projection — Java's `NaN >= 0.0 == false` must not diverge
        val a = acc(t * planes + p)
        if (a >= 0.0 || java.lang.Double.isNaN(a)) bucket |= 1L << p
        p += 1
      }
      out(t) = bucket
      t += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): LshBuckets =
    copy(child = newChild)
}

object LshBuckets {

  /** Deterministic pseudo-random hyperplane weight for (table, plane,
    * dim): ±1 from the parity of a 64-bit finalizer-style mix —
    * reproducible anywhere (incl. the DuckDB oracle, which inlines the
    * materialized weights), no RNG state. Single source of truth for
    * the native expression, the HOF spec, and the oracle SQL generator.
    */
  def planeWeight(table: Int, plane: Int, dim: Int): Double = {
    var h = 1125899906842597L
    h = h * 31 + table; h = h * 31 + plane; h = h * 31 + dim
    h = h ^ (h >>> 33); h = h * 0xff51afd7ed558ccdL; h = h ^ (h >>> 33)
    if ((h & 1L) == 0L) 1.0 else -1.0
  }

  private def zeros(tables: Int): ArrayData =
    new GenericArrayData(new Array[Long](tables))
}
