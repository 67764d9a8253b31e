package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, XXH64}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Count-min sketch cell arithmetic (Cormode & Muthukrishnan 2005)
  * shared by the build and probe sides — both route through
  * [[CmsSketch.cell]] (XXH64 over the token's bytes, one seed per row)
  * so an estimate can never read a cell the build didn't write.
  */
object CmsSketch {
  /** Cell index of `word` in row `i` of a `d`×`w` sketch. */
  def cell(word: UTF8String, i: Int, w: Int): Int = {
    val h = XXH64.hashUnsafeBytes(word.getBaseObject, word.getBaseOffset,
      word.numBytes, 0x5DEECE66DL + i)
    ((h & Long.MaxValue) % w).toInt
  }

  /** Per-row error bound: P[est − true > (e/w)·N] ≤ e^(−d). */
  def epsilon(w: Int): Double = math.E / w
}

/** Build-side expression: the d flat cell positions (`i·w + cell_i`)
  * of a token — exploded with the token's weight and sum-aggregated
  * into the ≤ d·w-cell table by [[graft.ext.FreqSketch.buildCms]].
  */
case class CmsPositions(child: Expression, d: Int, w: Int)
  extends NativeUnary[UTF8String] {
  require(d > 0 && w > 0, s"d=$d w=$w must be positive")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def inputTypes = Seq(StringType)

  def compute(word: UTF8String): GenericArrayData = {
    val out = new Array[Long](d)
    var i = 0
    while (i < d) {
      out(i) = i.toLong * w + CmsSketch.cell(word, i, w)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): CmsPositions =
    copy(child = newChild)
}

/** Probe-side expression: the count-min estimate (min over the d row
  * cells) of a token against a built table carried as a task-shipped
  * reference object — map-side, codegen'd, zero shuffle. The estimate
  * NEVER undercounts (each cell ≥ the true count), which is what makes
  * it a safe pruning gate in front of an exact aggregation.
  */
case class CmsEstimate(child: Expression, table: Array[Long], d: Int, w: Int)
  extends NativeUnary[UTF8String] {
  require(table.length == d * w,
    s"table has ${table.length} cells, want ${d * w}")

  override def dataType: DataType = LongType

  override def inputTypes = Seq(StringType)

  def compute(word: UTF8String): Long = {
    var m = Long.MaxValue
    var i = 0
    while (i < d) {
      val c = table(i * w + CmsSketch.cell(word, i, w))
      if (c < m) m = c
      i += 1
    }
    m
  }

  override protected def withNewChildInternal(newChild: Expression): CmsEstimate =
    copy(child = newChild)
}
