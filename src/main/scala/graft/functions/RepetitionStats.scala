package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Word-2-gram repetition counters of a text — the Gopher-style spam
  * signals as ONE native single-pass expression returning
  * struct(n_2grams, max_2gram_count, n_dup_2grams). The declarative
  * formulation (sort the gram array, run-length scan it with an
  * `aggregate` HOF — [[graft.ext.TextAnalysis.maxGramCountHof]]) is
  * semantically right and shuffle-free but costs ~1 ms/document in
  * Catalyst's lambda interpreter, which put it on the wrong side of the
  * same scan-stage budget as [[ShingleHashes]]; this loop is the same
  * statistic at byte-scan speed. The three struct-field reads of one
  * call collapse via codegen subexpression elimination.
  *
  * Semantics (asserted against the HOF spec in NativeExprSpec): words =
  * [[Words]], gram = two adjacent words joined by the space (the
  * contiguous byte range), counts by exact gram bytes;
  * fewer than 2 words → (0, 0, 0); null text → null (the query layer
  * coalesces).
  */
case class RepetitionStats(child: Expression)
    extends NativeUnary[UTF8String] {

  override def dataType: DataType = StructType(Seq(
    StructField("n_2grams", LongType, nullable = false),
    StructField("max_2gram_count", LongType, nullable = false),
    StructField("n_dup_2grams", LongType, nullable = false)))

  override def inputTypes = Seq(StringType)

  def compute(text: UTF8String): InternalRow = {
    val bytes = text.getBytes
    val starts = Words.starts(bytes)
    val nWords = starts.length - 1
    if (nWords < 2)
      return new GenericInternalRow(Array[Any](0L, 0L, 0L))
    val counts = new java.util.HashMap[UTF8String, java.lang.Long]
    var w = 0
    while (w < nWords - 1) {
      val g = Words.slice(bytes, starts, w, w + 2)
      val prev = counts.get(g)
      counts.put(g, if (prev == null) 1L else prev + 1L)
      w += 1
    }
    var mx = 0L
    var dup = 0L
    val it = counts.values().iterator()
    while (it.hasNext) {
      val c = it.next().longValue()
      if (c > mx) mx = c
      if (c > 1L) dup += c
    }
    new GenericInternalRow(Array[Any]((nWords - 1).toLong, mx, dup))
  }

  override protected def withNewChildInternal(newChild: Expression): RepetitionStats =
    copy(child = newChild)
}
