package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.{DataType, LongType}

/** 62-bit packed double polynomial fingerprint, [[PolyFold.h64]]:
  *
  *   h31 = fold(bytes)(acc, c => (acc · 31 + c) mod 2³¹−1)
  *   h37 = fold(bytes)(acc, c => (acc · 37 + c) mod 2³¹−19)
  *   h64 = h31 · (2³¹−19) + h37
  *
  * Two INDEPENDENT rolling hashes (different multiplier AND modulus,
  * both Mersenne-adjacent primes) computed in one fused byte loop and
  * packed into one positive Long (max ≈ 2⁶². The packing is injective:
  * (h31, h37) recovers by divmod). The point vs [[PolyHash]]: a 31-bit
  * key space birthday-collides around 2¹⁶ distinct values — fatal for
  * CONTENT-KEYED dedup at 100 TB, where a collision silently merges
  * unrelated passages/documents. 62 bits pushes the birthday bound
  * past 2³¹ distinct keys; the exact operators that key whole
  * relations on content hashes use THIS.
  *
  * Same cross-engine contract as [[PolyHash]], replayed in DuckDB with
  * two `list_reduce` folds.
  */
case class PolyHash64(child: Expression) extends NativeBytes {
  override def dataType: DataType = LongType

  def compute(bytes: Array[Byte]): Long = PolyFold.h64(bytes, 0, bytes.length)

  override protected def withNewChildInternal(newChild: Expression): PolyHash64 =
    copy(child = newChild)
}
