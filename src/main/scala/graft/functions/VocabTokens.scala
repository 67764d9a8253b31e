package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Real-vocabulary token count: pre-tokenize with the BPE-style regex,
  * then tokenize each pre-token by GREEDY LONGEST MATCH against a fixed
  * subword vocabulary (the WordPiece/BPE-inference rule); a position
  * with no vocabulary match consumes one character as an unknown token.
  * One native expression — the vocabulary lives once in a hash set on
  * the reference object (the broadcast-analog for a plan-embedded
  * constant), and the whole count is a single map over the document
  * scan: no shuffle, no UDF ([[NativeExpr]]).
  *
  * Cross-engine contract (t_token_vocab): the DuckDB oracle replays the
  * identical rule as a recursive CTE whose step width is
  * `max(length(tok))` over matching vocab entries — equal to
  * longest-first probing. Lengths/substrings are Java UTF-16 units here
  * and code points in DuckDB: identical on ASCII corpora (and the
  * vocabulary is ASCII); non-ASCII text may count differently across
  * engines. Null text → null (the query layer coalesces).
  */
case class VocabTokenCount(child: Expression, vocab: Seq[String],
                           pattern: String)
    extends NativeUnary[UTF8String] {

  require(vocab.nonEmpty, "empty vocabulary")

  override def dataType: DataType = LongType

  override def inputTypes = Seq(StringType)

  @transient private lazy val regex = java.util.regex.Pattern.compile(pattern)
  @transient private lazy val vocabSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String](vocab.size * 2)
    vocab.foreach(s.add)
    s
  }
  @transient private lazy val maxTokLen: Int = vocab.map(_.length).max

  def compute(text: UTF8String): Long = {
    val m = regex.matcher(text.toString)
    var total = 0L
    while (m.find()) {
      val pt = m.group()
      var pos = 0
      while (pos < pt.length) {
        var l = math.min(maxTokLen, pt.length - pos)
        var adv = 0
        while (l >= 1 && adv == 0) {
          if (vocabSet.contains(pt.substring(pos, pos + l))) adv = l else l -= 1
        }
        if (adv == 0) adv = 1 // no match: one unknown-character token
        total += 1
        pos += adv
      }
    }
    total
  }

  override protected def withNewChildInternal(newChild: Expression): VocabTokenCount =
    copy(child = newChild)
}
