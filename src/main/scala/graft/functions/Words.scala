package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** The engine's word rule: the words of a text are the pieces of its
  * UTF-8 bytes split on byte 0x20, empty words kept — Spark's
  * `split(text, " ")`. So `""` is one empty word, `"a  b"` has an empty
  * middle word, and a leading or trailing space adds an empty first or
  * last word. Because empties are kept, words i..j joined by single
  * spaces are exactly the input's contiguous byte range
  * `[starts(i), end(j))`: every word n-gram is a byte slice, hashed or
  * compared in place with no per-gram allocation. Non-ASCII bytes
  * (≥ 0x80) never equal 0x20, so multi-byte characters stay inside
  * their word.
  */
object Words {

  /** Word start offsets of `bytes` plus one sentinel, `bytes.length + 1`:
    * a text of n words yields n + 1 entries, and word t spans
    * `[starts(t), end(starts, t))`.
    */
  def starts(bytes: Array[Byte]): Array[Int] = {
    var nWords = 1
    var i = 0
    while (i < bytes.length) { if (bytes(i) == 0x20) nWords += 1; i += 1 }
    val out = new Array[Int](nWords + 1)
    var w = 1
    i = 0
    while (i < bytes.length) {
      if (bytes(i) == 0x20) { out(w) = i + 1; w += 1 }
      i += 1
    }
    out(nWords) = bytes.length + 1
    out
  }

  /** End offset (exclusive) of word `t`. */
  def end(starts: Array[Int], t: Int): Int = starts(t + 1) - 1

  /** Words `from until until` joined by 0x20: a view of `bytes`, not a
    * copy, so it must not outlive the row it was cut from.
    */
  def slice(bytes: Array[Byte], starts: Array[Int], from: Int,
            until: Int): UTF8String =
    UTF8String.fromBytes(bytes, starts(from),
      end(starts, until - 1) - starts(from))
}
