package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The word n-grams of a text for each of `orders`, in ONE native pass:
  * all grams of the first order, then all of the second, and so on,
  * each order's grams in position order. A gram is `n` consecutive
  * [[Words]] joined by single spaces, i.e. a [[Words.slice]] of the
  * text's bytes, so output is byte-identical (spec-asserted) to the HOF
  * formulation it replaces — a `transform` lambda over
  * `sequence(n, size(split(text, ' ')))` joining
  * `element_at(split(text, ' '), i - j)` for j = n − 1 … 0: empty words
  * are kept, a text of fewer than `n` words has no `n`-grams, a null
  * text gives null (which explodes to no rows). That formulation is
  * interpreted (`ArrayTransform` is a CodegenFallback) and re-splits the
  * text `n` times per gram, O(n·W²) per W-word text; this is one word
  * scan plus one slice per gram.
  *
  * Two faces of the one body: plain, `array<string>` (the n-gram LM
  * family's per-order arrays), and `leveled`,
  * `array<struct<level: int, gram: string>>` with each gram's order as
  * its level (one explode feeds every level of an n-gram model). The
  * text is copied once per row and the grams are views of that copy,
  * so they outlive the input row.
  */
case class WordGrams(child: Expression, orders: Seq[Int], leveled: Boolean)
    extends NativeUnary[UTF8String] {
  require(orders.nonEmpty && orders.forall(_ >= 1),
    s"orders must be non-empty and >= 1, got $orders")

  private val ns = orders.toArray

  override def dataType: DataType = ArrayType(
    if (leveled) StructType(Seq(
      StructField("level", IntegerType, nullable = false),
      StructField("gram", StringType, nullable = false)))
    else StringType,
    containsNull = false)

  override def inputTypes = Seq(StringType)

  def compute(text: UTF8String): ArrayData = {
    val bytes = text.copy().getBytes
    val starts = Words.starts(bytes)
    val nWords = starts.length - 1
    var total = 0
    var o = 0
    while (o < ns.length) { total += math.max(nWords - ns(o) + 1, 0); o += 1 }
    val out = new Array[Any](total)
    var g = 0
    o = 0
    while (o < ns.length) {
      val n = ns(o)
      var i = 0
      while (i + n <= nWords) {
        val gram = Words.slice(bytes, starts, i, i + n)
        out(g) = if (leveled) InternalRow(n, gram) else gram
        g += 1
        i += 1
      }
      o += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): WordGrams =
    copy(child = newChild)
}
