package graft.functions

import java.nio.ByteBuffer

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._

/** Exact ROC-AUC as a native SQL AGGREGATE —
  * [[graft.ext.Eval.rocAuc]]'s U-statistic law
  * (`auc = U / (P·N)`, U counted with half-credit ties via
  * `u2 = Σ_scores p·(2·nb + n)`) packaged so the SQL/REST console
  * reaches it as plain `SELECT roc_auc(score, label) FROM t` /
  * `GROUP BY source` — the M4 surface for the eval family. Output is
  * the batch operator's row as a struct: (n_pos, n_neg, u2,
  * auc_x10000), auc null when either class is empty (same guard).
  *
  * The aggregation state is the per-score class histogram — SCORE-
  * CARDINALITY-bounded, the same bound as the batch operator's
  * groupBy(score): the engine's scores are integer margins, so state
  * stays a small map regardless of row count. Scores must be
  * INTEGRAL (the dpoPairs enforcement posture — a double score would
  * hash-bucket unreliably); labels BOOLEAN (cast in SQL). Null score
  * or label rows don't vote (the batch filter).
  *
  * The final division runs in BigInt (the DECIMAL(38,0) tdiv analog)
  * so `u2 · 10⁴` cannot wrap in the division itself. The `u2`
  * ACCUMULATION is Long — bounded by 2·P·N (P positives × N
  * negatives), so the result is exact while 2·P·N < 2⁶³ (≈ 2.1·10⁹
  * rows split evenly; the batch rocAuc's sum carries the identical
  * Long bound, deliberately — parity over a guarantee neither side
  * can give without widening both).
  */
case class RocAucAgg(
    score: Expression,
    label: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.LongMap[Array[Long]]]
  with ExpectsInputTypes {

  override def children: Seq[Expression] = Seq(score, label)
  override def nullable: Boolean = false

  override def dataType: DataType = StructType(Seq(
    StructField("n_pos", LongType, nullable = false),
    StructField("n_neg", LongType, nullable = false),
    StructField("u2", LongType, nullable = false),
    StructField("auc_x10000", LongType, nullable = true)))

  override def inputTypes = Seq(
    Bridge.anyOf(ByteType, ShortType, IntegerType, LongType), BooleanType)

  override def createAggregationBuffer(): mutable.LongMap[Array[Long]] =
    mutable.LongMap.empty[Array[Long]]

  override def update(buf: mutable.LongMap[Array[Long]],
                      input: InternalRow): mutable.LongMap[Array[Long]] = {
    val s = score.eval(input)
    val l = label.eval(input)
    if (s != null && l != null) {
      val k = s match {
        case b: Byte => b.toLong
        case sh: Short => sh.toLong
        case i: Int => i.toLong
        case lo: Long => lo
      }
      val cell = buf.getOrElseUpdate(k, Array(0L, 0L))
      if (l.asInstanceOf[Boolean]) cell(0) += 1L else cell(1) += 1L
    }
    buf
  }

  override def merge(buf: mutable.LongMap[Array[Long]],
                     other: mutable.LongMap[Array[Long]])
      : mutable.LongMap[Array[Long]] = {
    other.foreach { case (k, pn) =>
      val cell = buf.getOrElseUpdate(k, Array(0L, 0L))
      cell(0) += pn(0)
      cell(1) += pn(1)
    }
    buf
  }

  override def eval(buf: mutable.LongMap[Array[Long]]): Any = {
    var nPos = 0L
    var nNeg = 0L
    var u2 = 0L
    var nb = 0L
    buf.toSeq.sortBy(_._1).foreach { case (_, pn) =>
      val p = pn(0); val n = pn(1)
      u2 += p * (2L * nb + n)
      nb += n
      nPos += p
      nNeg += n
    }
    val auc: Any =
      if (nPos > 0L && nNeg > 0L)
        ((BigInt(u2) * 10000) / (BigInt(2) * nPos * nNeg)).toLong
      else null
    new GenericInternalRow(Array[Any](nPos, nNeg, u2, auc))
  }

  override def serialize(buf: mutable.LongMap[Array[Long]]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buf.size * 24)
    bb.putInt(buf.size)
    buf.foreach { case (k, pn) =>
      bb.putLong(k); bb.putLong(pn(0)); bb.putLong(pn(1))
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): mutable.LongMap[Array[Long]] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = mutable.LongMap.empty[Array[Long]]
    var i = 0
    while (i < n) {
      val k = bb.getLong
      buf.update(k, Array(bb.getLong, bb.getLong))
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): RocAucAgg =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): RocAucAgg =
    copy(inputAggBufferOffset = newOffset)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): RocAucAgg =
    copy(score = newChildren(0), label = newChildren(1))

  override def prettyName: String = "roc_auc"
}
