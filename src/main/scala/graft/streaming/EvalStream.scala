package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.core.Pin._
import graft.core.SwapTable

/** STREAMING eval counters — the online face of the batch eval family
  * ([[graft.ext.Eval.accuracyCi]]/confusion): a stream of scored items
  * (id, group, pred, ref — e.g. a live labeling queue, or model
  * predictions joined to arriving gold labels) folds per-batch
  * (group, ref, pred) confusion cells into ONE persisted table, so
  * "how is the model doing so far, per domain, with confidence bounds"
  * is answerable at any moment from a group×label²-bounded relation —
  * cost never grows with history.
  *
  * Counts are a SUM structure (not replay-idempotent), so a HIGH-WATER
  * epoch marker rides the same table and each batch's (skip |
  * merge+mark) decision publishes as ONE atomic [[graft.core.SwapTable]]
  * swap — [[SketchStream.maintainCms]]'s law, same crash-window
  * recovery, same one-checkpoint-lineage contract. Epochs within a
  * lineage are monotone, so `epoch ≤ high-water` identifies every
  * replay and ONE marker row suffices — the cells table stays
  * group×label²-bounded regardless of stream lifetime.
  */
object EvalStream {

  /** One merge decision: `cells` = distinct (group, ref, pred) rows
    * after the merge.
    */
  final case class EvalEvent(epoch: Long, action: String, cells: Long)

  /** The maintained cell table for monitor `name` (kind='c' confusion
    * cells + kind='e' epoch markers).
    */
  def cellsTable(name: String): String = s"${name}_cells"

  /** The live per-group report off the maintained cells:
    * (group, n, n_correct, acc_x10000, wilson_lo_x10000,
    * wilson_hi_x10000) — the [[graft.ext.Eval.accuracyCi]] law
    * (documented z = 1.96 literals, engine-exact float ops) over
    * everything ingested so far.
    */
  def report(spark: SparkSession, name: String): DataFrame = {
    val agg = spark.table(cellsTable(name))
      .filter(col("kind") === "c")
      .groupBy(col("grp"))
      .agg(sum(col("n")).as("n"),
        sum(when(col("ref") === col("pred"), col("n")).otherwise(0L))
          .as("n_correct"))
    val wD = col("n_correct").cast("double")
    val nD = col("n").cast("double")
    val half = lit(1.96) * sqrt(
      (col("n_correct") * (col("n") - col("n_correct"))).cast("double")
        / nD + lit(0.9604))
    def x1e4(c: org.apache.spark.sql.Column) =
      floor(lit(10000.0) * c).cast("long")
    agg.select(col("grp"), col("n"), col("n_correct"),
      expr("(n_correct * 10000) div n").as("acc_x10000"),
      x1e4(((wD + lit(1.9208)) - half) / (nD + lit(3.8416)))
        .as("wilson_lo_x10000"),
      x1e4(((wD + lit(1.9208)) + half) / (nD + lit(3.8416)))
        .as("wilson_hi_x10000"))
  }

  /** The full confusion matrix off the maintained cells —
    * (grp, ref, pred, n), the [[graft.ext.Eval.confusionMatrix]] cells
    * accumulated over the stream's lifetime.
    */
  def confusion(spark: SparkSession, name: String): DataFrame =
    spark.table(cellsTable(name)).filter(col("kind") === "c")
      .select(col("grp"), col("ref"), col("pred"), col("n"))

  /** ONE batch's cell merge — the reusable core [[maintain]] wraps
    * (the [[graft.streaming.DriftMonitor.updateBatch]] posture): a
    * batch replay/backfill caller folds a closed log through the SAME
    * code path the stream runs, which is what lets the merge law be
    * oracle-gated (t_eval_stream replays a multi-batch log in SQL as
    * one single-pass aggregation — equal iff the merge is lossless and
    * the replay skip holds). Epoch numbers must belong to ONE monotone
    * lineage per `name`; `skipped_replay` (epoch == high water) is the
    * in-lineage crash-replay shape, `skipped_stale` (epoch < high
    * water, WARN-logged) an out-of-order manual caller or a fresh-
    * checkpoint restart re-reading folded history.
    */
  def mergeBatch(batch: DataFrame, name: String, epoch: Long): EvalEvent = {
    val live = cellsTable(name)
    val liveDf = SwapTable.current(batch.sparkSession, live)
    SwapTable.skipOf(liveDf, "epoch", epoch, live) match {
      case Some(skip) => EvalEvent(epoch, skip, 0L)
      case None =>
        val cells = batch
          .filter(col("pred").isNotNull && col("ref").isNotNull)
          .groupBy(col("source").as("grp"), col("ref").as("ref"),
            col("pred").as("pred"))
          .agg(count(lit(1)).as("n"))
          .select(lit("c").as("kind"), col("grp"), col("ref"),
            col("pred"), col("n"), lit(0L).as("epoch"))
        // epoch > high-water (skip check passed): the new marker
        // subsumes the old one, so only kind='c' cells carry over
        val marker = batch.sparkSession.range(1).select(lit("e").as("kind"),
          lit("").as("grp"), lit("").as("ref"), lit("").as("pred"),
          lit(0L).as("n"), lit(epoch).as("epoch"))
        val merged = liveDf.fold(cells.unionByName(marker)) { lv =>
            lv.filter(col("kind") === "c")
              .unionByName(cells).unionByName(marker)
          }
          .groupBy("kind", "grp", "ref", "pred", "epoch")
          .agg(sum(col("n")).as("n"))
          .select("kind", "grp", "ref", "pred", "n", "epoch")
          .pin()
        SwapTable.publish(merged, live, "kind", 1)
        val nCells = merged.filter(col("kind") === "c").count()
        EvalEvent(epoch, "merged", nCells)
    }
  }

  /** Maintain the eval counters over a scored stream. Rows with a null
    * pred or ref carry no verdict and are dropped; a null group is a
    * group (disclosed, the batch family's convention).
    */
  def maintain(scored: DataFrame, name: String, checkpointDir: String,
               onBatch: EvalEvent => Unit = _ => ()): StreamingQuery = {
    val owner = scored.sparkSession
    scored.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], epoch: Long) =>
        val ev = mergeBatch(batch.toDF(), name, epoch)
        SwapTable.refreshOwner(owner, cellsTable(name))
        onBatch(ev)
      }
      .start()
  }
}
