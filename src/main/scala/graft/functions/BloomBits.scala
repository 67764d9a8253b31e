package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, XXH64}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, LongType}

/** Bloom-filter bit arithmetic shared by the build and probe sides —
  * the two MUST hash identically or membership breaks, so both
  * expressions route through [[BloomBits.positions]]: double hashing
  * (Kirsch & Mitzenmacher 2006) over Spark's own XXH64,
  *
  *   pos_i = |h1 + i·h2| mod numBits,   h1 = XXH64(key, S1), h2 = XXH64(key, S2)
  *
  * k derived positions from two hash evaluations. Keys are LONGs (the
  * engine's gram/fingerprint hashes are already 64-bit; string keys go
  * through polyhash/xxhash64 first).
  */
object BloomBits {
  private val Seed1 = 0x9E3779B97F4A7C15L
  private val Seed2 = 0xC2B2AE3D27D4EB4FL

  def positions(key: Long, numBits: Int, k: Int): Array[Long] = {
    val h1 = XXH64.hashLong(key, Seed1)
    val h2 = XXH64.hashLong(key, Seed2)
    val out = new Array[Long](k)
    var i = 0
    while (i < k) {
      val h = h1 + i * h2
      out(i) = ((h & Long.MaxValue) % numBits)
      i += 1
    }
    out
  }

  /** Expected false-positive rate for n inserted keys: (1 − e^(−kn/m))^k. */
  def expectedFpr(n: Long, numBits: Int, k: Int): Double =
    math.pow(1.0 - math.exp(-k.toDouble * n / numBits), k.toDouble)
}

/** Build-side expression: the k bit positions of a long key as
  * `array<long>` — exploded and OR-folded into words by
  * [[graft.ext.BloomGate.buildBits]].
  */
case class BloomBitPositions(child: Expression, numBits: Int, k: Int)
  extends NativeUnary[Long] {
  require(numBits > 0 && k > 0, s"numBits=$numBits k=$k must be positive")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def inputTypes = Seq(LongType)

  def compute(key: Long): GenericArrayData =
    new GenericArrayData(BloomBits.positions(key, numBits, k))

  override protected def withNewChildInternal(newChild: Expression): BloomBitPositions =
    copy(child = newChild)
}

/** Probe-side expression: true iff all k bits of the key are set in the
  * carried bitset. The word array rides the expression as a reference
  * object (shipped once per task in the plan, NOT inlined into
  * generated source), so enclosing operators stay whole-stage-codegen'd
  * and the filter runs map-side with zero shuffle.
  */
case class BloomMightContain(child: Expression, words: Array[Long],
                             numBits: Int, k: Int)
  extends NativeUnary[Long] {
  require(words.length.toLong * 64 >= numBits,
    s"bitset too small: ${words.length} words for $numBits bits")

  override def dataType: DataType = BooleanType

  override def inputTypes = Seq(LongType)

  def compute(key: Long): Boolean = {
    val pos = BloomBits.positions(key, numBits, k)
    var i = 0
    while (i < pos.length) {
      val p = pos(i)
      if ((words((p >>> 6).toInt) & (1L << (p & 63))) == 0L) return false
      i += 1
    }
    true
  }

  override protected def withNewChildInternal(newChild: Expression): BloomMightContain =
    copy(child = newChild)
}
