package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Per-document CHARACTER-TRIGRAM frequencies as one native single-pass
  * expression: `array<struct<word, tf>>` over the overlapping 3-char
  * substrings of the text with spaces rewritten to `_` — semantically
  * identical to `wordTfs(charTrigrams(text))`
  * ([[graft.ext.TextAnalysis.charTrigrams]] re-encode + split;
  * NativeExprSpec asserts the twin) but without materializing the 4×
  * intermediate string, splitting it back, or allocating a String per
  * gram position: one byte scan records the code-point starts, each
  * gram is a 3-char byte-range copy, and counting is the WordTfs
  * LinkedHashMap (first-occurrence order, deterministic). This is the
  * hot path of the char-n-gram language ID, where the gram stream is
  * ~6× the word stream and the re-encode round-trip measured as the
  * dominant cost.
  *
  * Semantics: null → null; texts shorter than 3 CHARS yield their
  * single collapsed (space→`_`) form as one gram — including the empty
  * string (one empty gram, matching `split("", " ")`). The space
  * rewrite is byte-safe in UTF-8 (0x20 never occurs as a continuation
  * byte); trigrams are CODE-POINT trigrams, so multi-byte text grams
  * agree with the `substr`-based re-encode.
  */
case class CharTrigramTfs(child: Expression)
    extends NativeUnary[UTF8String] {

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("word", StringType, nullable = false),
    StructField("tf", LongType, nullable = false))), containsNull = false)

  override def inputTypes = Seq(StringType)

  def compute(text: UTF8String): ArrayData = {
    val src = text.getBytes
    // space → '_' (byte-safe: 0x20 is never a UTF-8 continuation byte)
    val bytes = new Array[Byte](src.length)
    var i = 0
    while (i < src.length) {
      bytes(i) = if (src(i) == 0x20) '_'.toByte else src(i)
      i += 1
    }
    // code-point start offsets (plus the end sentinel)
    var nChars = 0
    i = 0
    while (i < bytes.length) {
      if ((bytes(i) & 0xC0) != 0x80) nChars += 1
      i += 1
    }
    val starts = new Array[Int](nChars + 1)
    var c = 0
    i = 0
    while (i < bytes.length) {
      if ((bytes(i) & 0xC0) != 0x80) { starts(c) = i; c += 1 }
      i += 1
    }
    starts(nChars) = bytes.length

    val counts = new java.util.LinkedHashMap[UTF8String, java.lang.Long]
    if (nChars < 3) {
      // collapsed short text is its own single gram ("" included)
      counts.put(UTF8String.fromBytes(bytes), 1L)
    } else {
      var g = 0
      while (g <= nChars - 3) {
        val w = UTF8String.fromBytes(
          java.util.Arrays.copyOfRange(bytes, starts(g), starts(g + 3)))
        val prev = counts.get(w)
        counts.put(w, if (prev == null) 1L else prev + 1L)
        g += 1
      }
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

  override protected def withNewChildInternal(newChild: Expression): CharTrigramTfs =
    copy(child = newChild)
}
