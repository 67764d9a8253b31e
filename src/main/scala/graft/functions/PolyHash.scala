package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.{DataType, LongType}

/** Deterministic polynomial rolling-hash fingerprint of a string or
  * binary value: [[PolyFold.h31]] over its bytes,
  *
  *   h = fold(bytes)(acc, c => (acc * 31 + c) mod 2^31-1),  acc0 = 0
  *
  * Native Catalyst expression ([[NativeBytes]]), so document
  * fingerprinting stays inside the generated stage — no UDF
  * serialization, no boxing. The same value is computable in any
  * engine (the DuckDB oracle reproduces it with `list_reduce`).
  *
  * Used by the `t_fingerprint` text-analysis query (SURVEY.md §7 ext/);
  * the reference pipeline itself needs no custom expressions
  * (SURVEY.md §2.9).
  */
case class PolyHash(child: Expression) extends NativeBytes {
  override def dataType: DataType = LongType

  def compute(bytes: Array[Byte]): Long = PolyFold.h31(bytes)

  override protected def withNewChildInternal(newChild: Expression): PolyHash =
    copy(child = newChild)
}
