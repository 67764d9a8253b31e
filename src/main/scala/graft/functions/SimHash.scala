package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** SimHash of a shingle-hash set in ONE fused pass: bit b of the result
  * is the majority vote of bit b across the set (ties → 1, matching the
  * HOF spec's `ones * 2 >= size`). Replaces `bits` interpreted
  * `size(filter(...))` passes per row (the declarative round-2 shape,
  * kept as [[graft.ext.Dedup.simhashHof]], the executable spec this is
  * bitwise-tested against) with a single compiled loop that counts all
  * bit positions per element.
  *
  * Empty set: `ones * 2 >= size` is 0 ≥ 0 = true for every bit, so the
  * HOF sets ALL bits — reproduced exactly here. Null input → null.
  */
case class SimHash(child: Expression, bits: Int)
    extends NativeUnary[ArrayData] {

  require(bits >= 1 && bits <= 63, s"need 1 <= bits <= 63, got $bits")

  override def dataType: DataType = LongType

  override def inputTypes = Seq(ArrayType(LongType))

  def compute(hashes: ArrayData): Long = {
    val counts = new Array[Int](bits)
    val n = hashes.numElements()
    var i = 0
    while (i < n) {
      val h = hashes.getLong(i)
      var b = 0
      while (b < bits) {
        counts(b) += ((h >>> b) & 1L).toInt
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < bits) {
      if (2 * counts(b) >= n) out |= 1L << b
      b += 1
    }
    out
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash =
    copy(child = newChild)
}
