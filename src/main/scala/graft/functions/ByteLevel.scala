package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The GPT-2 byte→unicode symbol table (Radford et al. 2019's
  * bytes_to_unicode, reproduced from its published definition): every
  * possible UTF-8 BYTE gets a printable single-character symbol, so
  * BPE can merge ACROSS multibyte characters — 'é' (0xC3 0xA9) starts
  * as the two symbols "Ã" "©" and a learned merge can join them,
  * where the code-point walk keeps 'é' atomic forever. Printable
  * bytes (33–126, 161–172, 174–255) map to themselves-as-chars; the
  * 68 others (0–32, 127–160, 173) map to 256+k in increasing byte
  * order — so byte 32 (space) becomes U+0120 'Ġ', the leading-space
  * marker every GPT-lineage vocabulary shows.
  *
  * The mapping is a bijection byte ↔ char, so [[decode]] recovers the
  * exact original bytes of any concatenation of learned tokens — the
  * round-trip law NativeExprSpec asserts. The same table is replayed
  * arithmetically by the DuckDB oracles (ord → UTF-8 byte expansion →
  * the three CASE ranges), one definition per engine of the same
  * published constant.
  */
object ByteLevel {

  val byteToChar: Array[Char] = {
    val printable = ((33 to 126) ++ (161 to 172) ++ (174 to 255)).toSet
    val out = new Array[Char](256)
    var shift = 0
    (0 until 256).foreach { b =>
      if (printable(b)) out(b) = b.toChar
      else { out(b) = (256 + shift).toChar; shift += 1 }
    }
    out
  }

  val charToByte: Map[Char, Int] =
    byteToChar.zipWithIndex.map { case (c, b) => c -> b }.toMap

  /** Encode a string's UTF-8 bytes as the mapped symbol chars. */
  def encode(s: String): String = {
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val out = new Array[Char](bytes.length)
    var i = 0
    while (i < bytes.length) {
      out(i) = byteToChar(bytes(i) & 0xff)
      i += 1
    }
    new String(out)
  }

  /** Recover the original string from encoded symbols (token table
    * inspection / detokenization). Throws on a char outside the table —
    * that input was never byte-level-encoded. Note a SINGLE token may
    * end mid-multibyte-sequence (byte-level merges don't respect
    * character boundaries); its stray bytes decode to U+FFFD, the
    * GPT-2 `errors='replace'` behavior — decode CONCATENATIONS for
    * exact round-trips (NativeExprSpec pins that law).
    */
  def decode(s: String): String = {
    val bytes = new Array[Byte](s.length)
    var i = 0
    while (i < s.length) {
      bytes(i) = charToByte.getOrElse(s.charAt(i),
        throw new IllegalArgumentException(
          s"'${s.charAt(i)}' (U+${s.charAt(i).toInt.toHexString}) is not " +
            "a byte-level symbol — input was not byte-level encoded")).toByte
      i += 1
    }
    new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
  }
}

/** [[ByteLevel.encode]] as a native codegen'd Column expression — the
  * trainer-side encode (one map over the pre-token relation, no UDF):
  * each UTF-8 byte of the input becomes one mapped char, so downstream
  * `length`/`substr` count byte symbols. Null → null.
  */
case class ByteLevelEncode(child: Expression)
    extends NativeUnary[UTF8String] {

  override def dataType: DataType = StringType

  override def inputTypes = Seq(StringType)

  def compute(s: UTF8String): UTF8String =
    UTF8String.fromString(ByteLevel.encode(s.toString))

  override protected def withNewChildInternal(newChild: Expression): ByteLevelEncode =
    copy(child = newChild)
}
