package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.{DataType, LongType}

/** Energy-delta acoustic fingerprint of a PCM sample buffer (the
  * Shazam/Chromaprint family's core signal, integer-exact):
  *
  *   - samples = unsigned bytes (8-bit PCM); frames of 16 samples, the
  *     last frame partial;
  *   - frame energy e_f = Σ s², exact in a Long (16 · 255² per frame);
  *   - fingerprint bit f−1 (f = 1..60) set iff e_f > e_{f−1} — the
  *     energy-rise contour, which survives amplitude-preserving
  *     re-encodes and small tail edits with low Hamming distance, so
  *     the guarded Hamming-ball machinery (Dedup.hammingNearDups) does
  *     audio near-dup exactly as it does image dHash.
  *
  * Native Catalyst expression ([[NativeBytes]]), like [[PolyHash]].
  * Every operation is integer arithmetic on byte values, so the DuckDB
  * oracle replays it exactly with list lambdas (ord² sums over 16-char frames). Only 60 delta bits are
  * used — bit 63 is the Long sign and engines differ on >> semantics
  * near it; 60 keeps every shift unambiguous.
  *
  * For raw PCM payloads this is the REAL signal path, not a stub;
  * compressed codecs (mp3/aac) stay sandbox-absent and route through
  * the corrupt-sample fallback like image decode does.
  */
case class PcmFingerprint(child: Expression) extends NativeBytes {
  override def dataType: DataType = LongType

  def compute(bytes: Array[Byte]): Long = {
    var fp = 0L
    var prev = 0L
    var f = 0
    var i = 0
    while (i < bytes.length) {
      val end = math.min(i + 16, bytes.length)
      var e = 0L
      while (i < end) {
        val v = (bytes(i) & 0xff).toLong
        e += v * v
        i += 1
      }
      if (f >= 1 && f <= 60 && e > prev) fp |= 1L << (f - 1)
      prev = e
      f += 1
    }
    fp
  }

  override protected def withNewChildInternal(newChild: Expression): PcmFingerprint =
    copy(child = newChild)
}
