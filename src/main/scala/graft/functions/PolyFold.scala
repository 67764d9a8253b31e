package graft.functions

/** The engine's hash rule: polynomial folds over unsigned bytes,
  *
  *   h31 = fold(bytes)(acc, c => (acc · 31 + c) mod P31),  P31 = 2³¹−1
  *   h37 = fold(bytes)(acc, c => (acc · 37 + c) mod P37),  P37 = 2³¹−19
  *   h64 = h31 · P37 + h37
  *
  * with acc0 = 0. h31 is [[PolyHash]]'s value; h64 is [[PolyHash64]]'s,
  * two independent folds (different multiplier AND modulus) packed
  * injectively into one non-negative Long below 2⁶² — (h31, h37)
  * recover by divmod. Every intermediate stays far inside Long (max acc
  * ≈ 2³¹ · 37 + 255), and the arithmetic is plain 64-bit integer ops, so
  * any engine can replay it: the DuckDB oracle does, with `list_reduce`.
  *
  * Every native expression, stub decoder and range guard that needs
  * these folds or moduli calls this object.
  */
object PolyFold {
  // untyped final vals are constants: scalac inlines the literals, so
  // the folds divide by a constant the JIT can strength-reduce
  final val P31 = 2147483647L
  final val P37 = 2147483629L

  /** h31 over `bytes[from, until)`. */
  def h31(bytes: Array[Byte], from: Int, until: Int): Long = {
    var acc = 0L
    var i = from
    while (i < until) {
      acc = (acc * 31L + (bytes(i) & 0xffL)) % P31
      i += 1
    }
    acc
  }

  /** h64 over `bytes[from, until)`, both folds in one pass. */
  def h64(bytes: Array[Byte], from: Int, until: Int): Long = {
    var a = 0L
    var b = 0L
    var i = from
    while (i < until) {
      val c = bytes(i) & 0xffL
      a = (a * 31L + c) % P31
      b = (b * 37L + c) % P37
      i += 1
    }
    a * P37 + b
  }

  def h31(bytes: Array[Byte]): Long = h31(bytes, 0, bytes.length)
}
