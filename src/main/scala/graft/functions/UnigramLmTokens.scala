package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unigram-LM (SentencePiece-style) Viterbi tokenization under an
  * INTEGER-cost piece inventory — the inference half of
  * [[graft.ext.TextAnalysis.learnUnigramLm]], and the per-row engine of
  * its hard-EM E-step. Each pre-token (or the raw input when `pattern`
  * is None — the trainer's path, whose unit is already a block) is cut
  * into consecutive `blockLen`-code-point blocks, and each block is
  * segmented by exact dynamic programming over suffix distances:
  *
  *   cost(0) = 0
  *   cost(d) = min over piece p of length ℓ ≤ min(maxPieceLen, d)
  *             starting at position n−d:  bits(p) + cost(d−ℓ)
  *
  * where `bits` is the inventory's integer surprisal (the NB-classifier
  * bit law) and a single character absent from the inventory costs
  * `unkBits` (so segmentation is total on any input). Ties break toward
  * the LONGER piece — deterministic and replayed verbatim by the DuckDB
  * oracle's `ORDER BY cost ASC, l DESC` ranked DP
  * (t_unigram_lm_tokenize). All arithmetic is Long addition of
  * non-negative integer bits: engine-independent, overflow-free.
  *
  * Symbols are Unicode CODE POINTS (the [[BpeMergeTokens]] walk), and
  * `substr`/`length` on both engines count code points, so block cuts
  * and piece slices align cross-engine. Null text → null. One native
  * expression ([[NativeExpr]]): the whole tokenization is a map over
  * the scan — no shuffle, no UDF, whole-stage codegen.
  *
  * `byteLevel = true` switches the symbols to the pre-token's UTF-8
  * bytes rendered through [[ByteLevel]] (the [[BpeMergeTokens]] byte
  * mode): block cuts, piece slices and the DP then count BYTE symbols.
  * Only meaningful with `pattern = Some(...)` (inference over raw
  * text) — the trainer's block path (`pattern = None`) receives
  * already-encoded blocks and keeps the default walk, where encoded
  * symbols ARE single code points anyway.
  */
case class UnigramLmTokens(child: Expression, pieces: Seq[(String, Long)],
                           unkBits: Long, maxPieceLen: Int, blockLen: Int,
                           pattern: Option[String],
                           byteLevel: Boolean = false)
    extends NativeUnary[UTF8String] {

  locally {
    require(maxPieceLen >= 1 && maxPieceLen <= blockLen,
      s"maxPieceLen must be in [1, blockLen=$blockLen], got $maxPieceLen")
    require(unkBits >= 0, s"unkBits must be >= 0, got $unkBits")
    require(pieces.map(_._1).distinct.size == pieces.size,
      "piece inventory has duplicate pieces")
    pieces.foreach { case (p, b) =>
      require(p.nonEmpty, "empty piece in inventory")
      require(p.codePointCount(0, p.length) <= maxPieceLen,
        s"piece '$p' longer than maxPieceLen=$maxPieceLen code points")
      require(b >= 0, s"piece '$p' has negative bits $b")
    }
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def inputTypes = Seq(StringType)

  @transient private lazy val regex =
    pattern.map(java.util.regex.Pattern.compile)
  @transient private lazy val bits: java.util.HashMap[String, java.lang.Long] = {
    val m = new java.util.HashMap[String, java.lang.Long](pieces.size * 2)
    pieces.foreach { case (p, b) => m.put(p, b) }
    m
  }

  def compute(text: UTF8String): ArrayData = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    regex match {
      case Some(rx) =>
        val m = rx.matcher(text.toString)
        while (m.find()) segmentBlocks(m.group(), out)
      case None => segmentBlocks(text.toString, out)
    }
    new GenericArrayData(out.toArray)
  }

  /** Cut a pre-token into `blockLen`-code-point blocks, DP each. */
  private def segmentBlocks(pt: String,
                            out: scala.collection.mutable.ArrayBuffer[Any]): Unit = {
    val cps = scala.collection.mutable.ArrayBuffer.empty[String]
    if (byteLevel) {
      val enc = ByteLevel.encode(pt)
      var c = 0
      while (c < enc.length) { cps += String.valueOf(enc.charAt(c)); c += 1 }
    } else {
      var c = 0
      while (c < pt.length) {
        val cp = pt.codePointAt(c)
        cps += new String(Character.toChars(cp))
        c += Character.charCount(cp)
      }
    }
    var off = 0
    while (off < cps.length) {
      segment(cps, off, math.min(off + blockLen, cps.length), out)
      off += blockLen
    }
  }

  /** Exact suffix-distance DP over cps[from, until). */
  private def segment(cps: scala.collection.mutable.ArrayBuffer[String],
                      from: Int, until: Int,
                      out: scala.collection.mutable.ArrayBuffer[Any]): Unit = {
    val n = until - from
    if (n == 0) return
    val cost = new Array[Long](n + 1)
    val choice = new Array[Int](n + 1)
    var d = 1
    while (d <= n) {
      var best = Long.MaxValue
      var bestL = 0
      val start = from + (n - d)
      var l = 1
      val lMax = math.min(maxPieceLen, d)
      val sb = new java.lang.StringBuilder
      while (l <= lMax) {
        sb.append(cps(start + l - 1))
        val p = sb.toString
        val b0 = bits.get(p)
        val b: java.lang.Long =
          if (b0 != null) b0 else if (l == 1) java.lang.Long.valueOf(unkBits)
          else null
        if (b != null) {
          val c0 = b.longValue + cost(d - l)
          // tie → LONGER piece (the oracle's ORDER BY cost ASC, l DESC)
          if (c0 < best || (c0 == best && l > bestL)) { best = c0; bestL = l }
        }
        l += 1
      }
      cost(d) = best
      choice(d) = bestL
      d += 1
    }
    var dd = n
    while (dd > 0) {
      val l = choice(dd)
      val start = from + (n - dd)
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i < l) { sb.append(cps(start + i)); i += 1 }
      out += UTF8String.fromString(sb.toString)
      dd -= l
    }
  }

  override protected def withNewChildInternal(newChild: Expression): UnigramLmTokens =
    copy(child = newChild)
}
