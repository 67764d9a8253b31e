package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Per-document term frequencies as ONE native single-pass expression:
  * `array<struct<word, tf>>`, one entry per distinct word of the text,
  * in first-occurrence order (deterministic — a LinkedHashMap, not hash
  * iteration). All of a document's words live inside its own row, so
  * term frequency is a ROW-LOCAL statistic — computing it here instead
  * of `explode → groupBy(doc, word)` deletes the corpus-wide (doc, word)
  * exchange from keyword extraction entirely (the same argument that
  * moved the repetition counters into [[RepetitionStats]]; at 100 TB the
  * tf stage becomes part of the scan's map stage). The `aggregate`-HOF
  * run-length formulation is semantically identical but interpreted
  * (~1 ms/doc); this loop runs at byte-scan speed.
  *
  * Semantics (matches `explode(split(text, ' ')) → count` exactly,
  * NativeExprSpec asserts the twin): words = [[Words]], empties KEPT
  * (an empty string has one empty word, "a  b" has an empty middle
  * word); null text → null. Word bytes are copied out of the
  * input buffer — the returned rows outlive the scan row they came from.
  */
case class WordTfs(child: Expression) extends NativeUnary[UTF8String] {

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("word", StringType, nullable = false),
    StructField("tf", LongType, nullable = false))), containsNull = false)

  override def inputTypes = Seq(StringType)

  def compute(text: UTF8String): ArrayData = {
    val bytes = text.getBytes
    val starts = Words.starts(bytes)
    val counts = new java.util.LinkedHashMap[UTF8String, java.lang.Long]
    var t = 0
    while (t < starts.length - 1) {
      val w = Words.slice(bytes, starts, t, t + 1).copy()
      val prev = counts.get(w)
      counts.put(w, if (prev == null) 1L else prev + 1L)
      t += 1
    }
    val out = new Array[Any](counts.size)
    val it = counts.entrySet().iterator()
    var j = 0
    while (it.hasNext) {
      val e = it.next()
      out(j) = new GenericInternalRow(Array[Any](e.getKey, e.getValue.longValue()))
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): WordTfs =
    copy(child = newChild)
}
