package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Clipped n-gram overlap sufficient statistics between a prediction
  * and a reference string as ONE row-local native expression — the
  * shuffle-free core of the generation metrics (BLEU / chrF / ROUGE-N
  * / tokenF1). For each order n = 1..`maxN` it returns
  *
  *   m  = Σ_g min(tf_pred(g), tf_ref(g))   (the clipped match count)
  *   tp = max(0, |pred| − n + 1)           (pred n-gram total)
  *   tr = max(0, |ref| − n + 1)            (ref n-gram total)
  *
  * as `array<struct<n, m, tp, tr>>` with exactly `maxN` entries. Both
  * strings of an item live inside its own row once the id join has
  * run, so the clipped overlap is a ROW-LOCAL statistic — computing it
  * here instead of `explode n-grams → groupBy(id, n, gram) → join pred
  * × ref on (id, n, gram)` deletes the corpus-wide gram exchanges and
  * the gram-keyed sort-merge join from every metric built on it (the
  * [[WordTfs]] argument, one level up: at 100 TB the whole metric
  * becomes the id join plus a per-order rollup).
  *
  * `chars = false` (word mode): units are the [[Words]] of the text,
  * except that the empty string has ZERO tokens (the eval operators'
  * `toksOf` law), and the order-n gram equals
  * `array_join(slice(tokens, i, n), " ")` — materialized as the BYTE
  * SLICE spanning tokens i..i+n−1, which is the same string because
  * the callers feed single-space-normalized text.
  * `chars = true` (char mode): units are BYTES — identical to
  * character n-grams for the callers' input, which is
  * [[graft.ext.TextAnalysis.normalizeText]] output (pure ASCII
  * `[a-z0-9 ]`, here additionally space-stripped by the chrF caller).
  * Feeding non-ASCII text would change the gram boundaries, not the
  * clipping law — the eval operators own the normalize step, so the
  * precondition holds by construction (spec-asserted against the
  * explode/join formulation).
  *
  * Null on either side → null (callers drop null items before the
  * join). Runs at byte-scan speed; the map per order is bounded by the
  * row's own gram count, and keys wrap the input buffer without
  * copying (they never outlive the call).
  */
case class GramOverlap(left: Expression, right: Expression,
                       maxN: Int, chars: Boolean)
    extends NativeBinary[UTF8String, UTF8String] {
  require(maxN >= 1 && maxN <= 8, s"maxN must be in [1, 8], got $maxN")

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("m", LongType, nullable = false),
    StructField("tp", LongType, nullable = false),
    StructField("tr", LongType, nullable = false))), containsNull = false)

  override def inputTypes = Seq(StringType, StringType)

  /** Units: in char mode unit i is byte i; in word mode the [[Words]].
    * Empty text → zero units in BOTH modes.
    */
  def compute(p: UTF8String, r: UTF8String): ArrayData = {
    val pb = p.getBytes
    val rb = r.getBytes
    val out = new Array[Any](maxN)
    if (chars) {
      var n = 1
      while (n <= maxN) {
        val tp = math.max(0, pb.length - n + 1)
        val tr = math.max(0, rb.length - n + 1)
        out(n - 1) = new GenericInternalRow(Array[Any](
          n.toLong, clippedChars(pb, rb, n, tp, tr), tp.toLong, tr.toLong))
        n += 1
      }
    } else {
      val ps = Words.starts(pb)
      val rs = Words.starts(rb)
      val lp = if (pb.length == 0) 0 else ps.length - 1
      val lr = if (rb.length == 0) 0 else rs.length - 1
      var n = 1
      while (n <= maxN) {
        val tp = math.max(0, lp - n + 1)
        val tr = math.max(0, lr - n + 1)
        out(n - 1) = new GenericInternalRow(Array[Any](
          n.toLong, clippedWords(pb, ps, rb, rs, n, tp, tr),
          tp.toLong, tr.toLong))
        n += 1
      }
    }
    new GenericArrayData(out)
  }

  private def clippedChars(pb: Array[Byte], rb: Array[Byte], n: Int,
                           tp: Int, tr: Int): Long = {
    if (tp == 0 || tr == 0) return 0L
    val counts = new java.util.HashMap[UTF8String, Integer](tp * 2)
    var i = 0
    while (i < tp) {
      val g = UTF8String.fromBytes(pb, i, n)
      val prev = counts.get(g)
      counts.put(g, if (prev == null) 1 else prev + 1)
      i += 1
    }
    var m = 0L
    i = 0
    while (i < tr) {
      val g = UTF8String.fromBytes(rb, i, n)
      val left = counts.get(g)
      if (left != null && left > 0) {
        counts.put(g, left - 1)
        m += 1L
      }
      i += 1
    }
    m
  }

  private def clippedWords(pb: Array[Byte], ps: Array[Int],
                           rb: Array[Byte], rs: Array[Int], n: Int,
                           tp: Int, tr: Int): Long = {
    if (tp == 0 || tr == 0) return 0L
    val counts = new java.util.HashMap[UTF8String, Integer](tp * 2)
    var i = 0
    while (i < tp) {
      val g = Words.slice(pb, ps, i, i + n)
      val prev = counts.get(g)
      counts.put(g, if (prev == null) 1 else prev + 1)
      i += 1
    }
    var m = 0L
    i = 0
    while (i < tr) {
      val g = Words.slice(rb, rs, i, i + n)
      val left = counts.get(g)
      if (left != null && left > 0) {
        counts.put(g, left - 1)
        m += 1L
      }
      i += 1
    }
    m
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): GramOverlap =
    copy(left = newLeft, right = newRight)
}
