package graft

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.SwapTable
import graft.streaming.EvalStream

/** Streaming eval counters: the maintained cells equal a single batch
  * fold over everything ingested, the live report matches the batch
  * accuracy/Wilson law bit-for-bit, replayed epochs are marker-skipped
  * (counts are sums), and the scratch-swap recovers both crash
  * windows.
  */
class EvalStreamSpec extends SparkSuite {
  import spark.implicits._

  private def scoredRows(base: Long, n: Int): DataFrame =
    (0 until n).map { i =>
      val id = base + i
      val grp = s"g${id % 2}"
      val ref = if (id % 3 == 0) "x" else "y"
      val pred = if (id % 5 == 0) "x" else ref
      (id, grp, pred, ref)
    }.toDF("doc_id", "source", "pred", "ref")

  test("streaming eval: cells equal a batch fold, report matches accuracyCi, replay skipped, swap recovers") {
    val name = "t_eval_stream"
    val events = new ConcurrentLinkedQueue[EvalStream.EvalEvent]()
    val srcDir = java.nio.file.Files.createTempDirectory("ev-src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ev-ckpt").toString
    val schema = scoredRows(0L, 1).schema
    def start(ck: String = ckpt) = EvalStream.maintain(
      spark.readStream.schema(schema).parquet(srcDir), name, ck,
      onBatch = events.add(_))
    scoredRows(0L, 60).write.mode("append").parquet(srcDir)
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    scoredRows(100L, 40).write.mode("append").parquet(srcDir)
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    assert(events.asScala.map(_.action).toSeq == Seq("merged", "merged"))

    val all = scoredRows(0L, 60).union(scoredRows(100L, 40))
      .localCheckpoint()
    // cells ≡ one batch fold over everything ingested
    val refCells = all.groupBy("source", "ref", "pred")
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
        r.getLong(3)).toMap
    val liveCells = EvalStream.confusion(spark, name).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
        r.getLong(3)).toMap
    assert(liveCells == refCells, "cells must equal a single batch fold")
    // live report ≡ the batch accuracyCi law on the same data
    val expected = graft.ext.Eval.accuracyCi(
        all.select(col("doc_id"), col("pred")),
        all.select(col("doc_id"), col("source"), col("ref")))
      .collect().map(_.toSeq).toSet
    val got = EvalStream.report(spark, name)
      .withColumnRenamed("grp", "source")
      .collect().map(_.toSeq).toSet
    assert(got == expected, s"report != accuracyCi:\n$got\n$expected")

    // marker compaction: two applied epochs leave ONE high-water
    // marker row — the table stays label²-bounded for any lifetime
    val markers = spark.table(EvalStream.cellsTable(name))
      .filter(col("kind") === "e").select("epoch")
      .collect().map(_.getLong(0)).toSeq
    assert(markers == Seq(1L), markers)

    // REDELIVERY: fresh checkpoint re-batches history as epoch 0 —
    // below the high water → STALE skip, no cell moves (a sum WOULD
    // double-count)
    val ck2 = java.nio.file.Files.createTempDirectory("ev-ck2").toString
    val q3 = start(ck2); q3.processAllAvailable(); q3.stop()
    assert(events.asScala.map(_.action).toSeq.contains("skipped_stale"))
    assert(EvalStream.confusion(spark, name).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
        r.getLong(3)).toMap == refCells,
      "replayed epoch must move no cell")

    // interrupted swap recovery (both crash windows)
    val live = EvalStream.cellsTable(name)
    def liveRows() = spark.table(live).collect().map(_.toSeq).toSet
    val before = liveRows()
    // crash between DROP and RENAME: the rows live only in the scratch
    spark.sql(s"ALTER TABLE $live RENAME TO ${live}__merge")
    assert(SwapTable.recover(spark, live))
    assert(liveRows() == before)
    assert(!SwapTable.recover(spark, live))
    // crash before the DROP: the scratch holds epoch 2 merged, live was
    // never dropped — the scratch was never published, so recovery
    // drops it, and the replayed epoch 2 then merges exactly once
    val pending = scoredRows(200L, 20)
    val side = "t_eval_stream_side"
    graft.core.Layout.writeBucketed(spark.table(live),
      EvalStream.cellsTable(side), "kind", 1)
    assert(EvalStream.mergeBatch(pending, side, 2L).action == "merged")
    spark.sql(s"ALTER TABLE ${EvalStream.cellsTable(side)} " +
      s"RENAME TO ${SwapTable.scratch(live)}")
    assert(!SwapTable.recover(spark, live))
    assert(!spark.catalog.tableExists(SwapTable.scratch(live)))
    assert(liveRows() == before)
    assert(EvalStream.mergeBatch(pending, name, 2L).action == "merged")
    val refAfter = all.union(pending).groupBy("source", "ref", "pred")
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
        r.getLong(3)).toMap
    assert(EvalStream.confusion(spark, name).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
        r.getLong(3)).toMap == refAfter,
      "the replayed epoch must add its cells exactly once")
  }

  test("batch face mergeBatch: in-lineage == replay vs stale < epoch distinguished; neither moves cells") {
    val name = "t_eval_mergebatch"
    assert(EvalStream.mergeBatch(scoredRows(0L, 30), name, 0L)
      .action == "merged")
    assert(EvalStream.mergeBatch(scoredRows(100L, 30), name, 2L)
      .action == "merged")
    val cells0 = EvalStream.confusion(spark, name)
      .collect().map(_.toSeq).toSet
    // the crash-replay shape: epoch == high water
    assert(EvalStream.mergeBatch(scoredRows(100L, 30), name, 2L)
      .action == "skipped_replay")
    // outside the lineage: epoch < high water
    assert(EvalStream.mergeBatch(scoredRows(0L, 30), name, 1L)
      .action == "skipped_stale")
    assert(EvalStream.confusion(spark, name)
      .collect().map(_.toSeq).toSet == cells0,
      "skipped batches must move no cell")
  }
}
