package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** True merge-based BPE tokenization — the rank-ordered pair-merge loop
  * real training pipelines tokenize with (GPT-2 inference rule), not
  * the greedy longest-match of [[VocabTokenCount]]: pre-tokenize with
  * the BPE-style regex, start each pre-token as single characters, then
  * repeatedly merge ALL occurrences (left to right) of the adjacent
  * pair with the LOWEST rank in the merge table until no adjacent pair
  * is mergeable. Returns the final token array (count = `size(...)`).
  * One native expression: the merge table lives once in a hash map on
  * the reference object, and the whole tokenization is a single map
  * over the document scan — no shuffle, no UDF ([[NativeExpr]]).
  *
  * WELL-FORMEDNESS (checked at construction): each merge's two sides
  * must be a single character or the output of an EARLIER merge — the
  * invariant every learned BPE table satisfies by construction (a pair
  * can only be learned after its parts exist). Under it, the min-rank
  * loop is equivalent to a strict rank-order pass applying each merge
  * once (merge k can never create an occurrence of a pair ranked below
  * k, because any pair containing k's output outranks k) — which is
  * exactly what the DuckDB oracle (t_token_bpe_merges) replays as a
  * recursive CTE over a delimited symbol string, and what the
  * naive-reference spec in NativeExprSpec re-implements independently.
  *
  * Symbols are Unicode CODE POINTS (String#codePointAt walk), matching
  * DuckDB's code-point semantics on ALL text — an astral character
  * starts as one intact symbol, never a lone surrogate (which
  * UTF8String would encode as '?', collapsing distinct astral chars
  * into identical tokens). Null text → null.
  *
  * `byteLevel = true` switches the starting symbols from code points to
  * the pre-token's UTF-8 BYTES rendered through the GPT-2
  * bytes_to_unicode table ([[ByteLevel]]): pre-tokenization still runs
  * on the RAW text (the Unicode-category regex must see real letters,
  * not byte symbols — re-splitting an encoded pre-token would cut
  * "Ġ123" at the letter/digit boundary), then each pre-token's bytes
  * become one single-char symbol each. Merges can then cross multibyte
  * characters — the GPT-2/Llama-lineage behavior the code-point walk
  * cannot express, and where the two modes provably diverge on
  * multilingual text.
  */
case class BpeMergeTokens(child: Expression, merges: Seq[(String, String)],
                          pattern: String, byteLevel: Boolean = false)
  extends NativeUnary[UTF8String] {

  // an EMPTY table is legal — tokenization degenerates to one symbol
  // per character, the starting state of BPE training
  // (TextAnalysis.learnBpeMerges iteration 0)
  locally {
    val formed = scala.collection.mutable.HashSet[String]()
    def oneCp(s: String): Boolean =
      s.nonEmpty && s.codePointCount(0, s.length) == 1
    merges.zipWithIndex.foreach { case ((a, b), i) =>
      require(oneCp(a) || formed.contains(a),
        s"merge $i ($a, $b): left side '$a' is neither a single character " +
          "nor an earlier merge's output — the table is not well-formed")
      require(oneCp(b) || formed.contains(b),
        s"merge $i ($a, $b): right side '$b' is neither a single character " +
          "nor an earlier merge's output — the table is not well-formed")
      formed += (a + b)
    }
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def inputTypes = Seq(StringType)

  @transient private lazy val regex = java.util.regex.Pattern.compile(pattern)
  // pair (a, b) keyed as a + NUL + b (symbols never contain NUL)
  @transient private lazy val rank: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](merges.size * 2)
    merges.zipWithIndex.foreach { case ((a, b), i) =>
      // ties impossible: a learned table has one rank per pair; keep the
      // first (lowest) if a caller passes a duplicate
      m.putIfAbsent(a + "\u0000" + b, i)
    }
    m
  }
  @transient private lazy val pairArr: Array[(String, String)] = merges.toArray

  def compute(text: UTF8String): ArrayData = {
    val m = regex.matcher(text.toString)
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    while (m.find()) {
      val pt = m.group()
      var syms = new java.util.ArrayList[String](pt.length)
      if (byteLevel) {
        val bytes = pt.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        var bi = 0
        while (bi < bytes.length) {
          syms.add(String.valueOf(ByteLevel.byteToChar(bytes(bi) & 0xff)))
          bi += 1
        }
      } else {
        var c = 0
        while (c < pt.length) {
          val cp = pt.codePointAt(c)
          syms.add(new String(Character.toChars(cp)))
          c += Character.charCount(cp)
        }
      }
      var go = syms.size >= 2
      while (go) {
        var best = Integer.MAX_VALUE
        var i = 0
        while (i < syms.size - 1) {
          val r = rank.get(syms.get(i) + "\u0000" + syms.get(i + 1))
          if (r != null && r < best) best = r
          i += 1
        }
        if (best == Integer.MAX_VALUE) go = false
        else {
          val (a, b) = pairArr(best)
          val merged = a + b
          val next = new java.util.ArrayList[String](syms.size)
          var j = 0
          while (j < syms.size) {
            if (j < syms.size - 1 && syms.get(j) == a && syms.get(j + 1) == b) {
              next.add(merged); j += 2
            } else { next.add(syms.get(j)); j += 1 }
          }
          syms = next
          go = syms.size >= 2
        }
      }
      var k = 0
      while (k < syms.size) { out += UTF8String.fromString(syms.get(k)); k += 1 }
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): BpeMergeTokens =
    copy(child = newChild)
}
