package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.{DataType, LongType}

/** DEFLATE-compressed byte length of a text/binary payload — the
  * compression-ratio quality signal of the Gopher/Dolma lineage:
  * near-duplicate boilerplate and machine-generated repetition
  * compress far harder than natural prose, so `deflate_len / n_bytes`
  * separates template spam from real text with one pass and no model.
  *
  * Level 6, raw-deflate (nowrap), one Deflater per row — deterministic
  * for a given zlib implementation (the JDK's bundled zlib here), and
  * the SIGNAL (relative ordering of ratios) is stable across zlib
  * versions even where exact byte counts could differ by a few bytes —
  * which is why this rung is SPEC-gated (ordering + determinism laws),
  * not DuckDB-oracle-gated: no SQL engine replays zlib.
  *
  * Runs inside whole-stage codegen via an expression reference (the
  * compress loop itself is JNI-backed zlib; codegen fuses the row
  * plumbing, which is all the JVM side does).
  */
case class DeflateLen(child: Expression) extends NativeBytes {
  override def dataType: DataType = LongType

  def compute(bytes: Array[Byte]): Long = {
    val d = new java.util.zip.Deflater(6, true)
    try {
      d.setInput(bytes)
      d.finish()
      val buf = new Array[Byte](8192)
      var total = 0L
      while (!d.finished()) total += d.deflate(buf)
      total
    } finally d.end()
  }

  override protected def withNewChildInternal(newChild: Expression): DeflateLen =
    copy(child = newChild)
}
