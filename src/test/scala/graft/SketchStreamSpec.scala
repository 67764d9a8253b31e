package graft

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.core.{SwapTable, Tables}
import graft.ext.{Dedup, FreqSketch}
import graft.streaming.SketchStream

/** Streaming HLL maintenance: the persisted registers equal a single
  * batch build over everything ingested (the max-merge law), replayed
  * data is a no-op by algebra (no markers involved), and an
  * interrupted scratch-swap recovers.
  */
class SketchStreamSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  private def batchRegisters(docs: org.apache.spark.sql.DataFrame) =
    FreqSketch.hllRegisters(
      docs.filter(col("text").isNotNull && col("source").isNotNull)
        .select(col("source").as("group"),
          explode(Dedup.shingleHashes(col("text"), 3)).as("h")),
      col("group"), col("h"))

  test("streaming HLL: maintained registers are bit-identical to a batch build; redelivery is an algebraic no-op") {
    assume(new java.io.File(s"$sf/documents.parquet").exists())
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text", "source").localCheckpoint()
    val events = new ConcurrentLinkedQueue[SketchStream.SketchEvent]()
    val srcDir = java.nio.file.Files.createTempDirectory("hlls-src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("hlls-ckpt").toString
    def start() = SketchStream.maintainHll(
      spark.readStream.schema(docs.schema).parquet(srcDir), "t_hll_stream",
      ckpt, onBatch = events.add(_))

    // two batches with a stream restart between them
    docs.filter(col("doc_id") < 120).write.mode("append").parquet(srcDir)
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    docs.filter(col("doc_id") >= 120).write.mode("append").parquet(srcDir)
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    assert(events.asScala.map(_.action).toSeq == Seq("merged", "merged"))

    val maintained = spark.table(SketchStream.registersTable("t_hll_stream"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    val reference = batchRegisters(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(maintained == reference,
      "maintained registers must equal a single batch build")

    // estimates flow straight off the maintained table
    val est = SketchStream.distinctEstimate(spark, "t_hll_stream")
    val ref = FreqSketch.hllEstimate(batchRegisters(docs))
    assert(est.collect().map(_.toSeq).toSet ==
      ref.collect().map(_.toSeq).toSet)

    // REDELIVERY: the whole corpus arrives again — max-merge absorbs it
    docs.write.mode("append").parquet(srcDir)
    val q3 = start(); q3.processAllAvailable(); q3.stop()
    val after = spark.table(SketchStream.registersTable("t_hll_stream"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(after == reference, "replayed data must not move any register")
  }

  test("streaming CMS: maintained cells equal a batch build; replayed epochs are marker-skipped; estimates never undercount") {
    assume(new java.io.File(s"$sf/documents.parquet").exists())
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text", "source").localCheckpoint()
    val events = new ConcurrentLinkedQueue[SketchStream.SketchEvent]()
    val srcDir = java.nio.file.Files.createTempDirectory("cms-src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("cms-ckpt").toString
    def start() = SketchStream.maintainCms(
      spark.readStream.schema(docs.schema).parquet(srcDir), "t_cms_stream",
      ckpt, onBatch = events.add(_))
    docs.filter(col("doc_id") < 120).write.mode("append").parquet(srcDir)
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    docs.filter(col("doc_id") >= 120).write.mode("append").parquet(srcDir)
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    assert(events.asScala.map(_.action).toSeq == Seq("merged", "merged"))
    // cells equal the one-shot batch CMS over everything ingested
    val toks = docs.filter(col("text").isNotNull)
      .select(explode(graft.functions.wordTfs(col("text"))).as("wt"))
      .select(col("wt.word").as("word"), col("wt.tf").cast("long").as("tf"))
    val refCells = toks.select(
        explode(FreqSketch.cmsPositions(col("word"))).as("k"),
        col("tf").as("v"))
      .groupBy("k").agg(sum("v").as("v"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def liveCells() = spark.table(SketchStream.cmsTable("t_cms_stream"))
      .filter(col("kind") === "c")
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(liveCells() == refCells,
      "maintained cells must equal a single batch build")
    // estimates never undercount the exact frequency (count-min law)
    val exact = toks.groupBy("word").agg(sum("tf").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val est = SketchStream.cmsEstimates(spark, "t_cms_stream",
        exact.keys.toSeq.toDF("word"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (wd, n) =>
      assert(est(wd) >= n, s"'$wd': est ${est(wd)} < exact $n") }
    // REDELIVERY: a checkpoint-less restart replays epoch 0 — below
    // the high water → STALE skip, no cell moves (sum algebra WOULD
    // double-count)
    val ckpt2 = java.nio.file.Files.createTempDirectory("cms-ck2").toString
    val q3 = SketchStream.maintainCms(
      spark.readStream.schema(docs.schema).parquet(srcDir), "t_cms_stream",
      ckpt2, onBatch = events.add(_))
    q3.processAllAvailable(); q3.stop()
    assert(events.asScala.map(_.action).toSeq.contains("skipped_stale"),
      events.asScala.toSeq.toString)
    assert(liveCells() == refCells, "replayed epoch must move no cell")
    // interrupted swap recovery (both crash windows)
    val live = SketchStream.cmsTable("t_cms_stream")
    val before = spark.table(live).collect().map(_.toSeq).toSet
    spark.sql(s"ALTER TABLE $live RENAME TO ${live}__merge")
    assert(SwapTable.recover(spark, live))
    assert(spark.table(live).collect().map(_.toSeq).toSet == before)
    assert(!SwapTable.recover(spark, live))
  }

  test("streaming HLL: an interrupted scratch-swap recovers (crash between DROP and RENAME)") {
    import spark.implicits._
    val docs = Seq((1L, "alpha beta gamma delta", "s1"),
        (2L, "epsilon zeta eta theta", "s2"))
      .toDF("doc_id", "text", "source")
    val srcDir = java.nio.file.Files.createTempDirectory("hllr-src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("hllr-ckpt").toString
    docs.write.mode("append").parquet(srcDir)
    val q = SketchStream.maintainHll(
      spark.readStream.schema(docs.schema).parquet(srcDir),
      "t_hll_crash", ckpt)
    q.processAllAvailable(); q.stop()
    val live = SketchStream.registersTable("t_hll_crash")
    val before = spark.table(live).collect().map(_.toSeq).toSet
    // simulate the crash window: registers live only in the scratch
    spark.sql(s"ALTER TABLE $live RENAME TO ${live}__merge")
    assert(!spark.catalog.tableExists(live))
    assert(SwapTable.recover(spark, live))
    assert(spark.table(live).collect().map(_.toSeq).toSet == before)
    assert(!SwapTable.recover(spark, live))
  }

  test("batch face mergeCmsBatch: in-lineage == replay vs stale < epoch distinguished; mass invariant holds over the fold") {
    import spark.implicits._
    val name = "t_cms_mergebatch"
    val b0 = Seq((1L, "a b c"), (2L, "a a d")).toDF("doc_id", "text")
    val b1 = Seq((3L, "e f"), (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    assert(SketchStream.mergeCmsBatch(b0, name, 0L).action == "merged")
    assert(SketchStream.mergeCmsBatch(b1, name, 2L).action == "merged")
    def rowMasses(): Map[Long, Long] = spark
      .table(SketchStream.cmsTable(name)).filter(col("kind") === "c")
      .groupBy(expr(s"k div ${graft.ext.FreqSketch.DefaultWidth}")
        .as("row"))
      .agg(sum("v").as("m")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 6 tokens in b0 + 2 in b1 (null text contributes none) per row
    val want = (0L until graft.ext.FreqSketch.DefaultDepth.toLong)
      .map(_ -> 8L).toMap
    assert(rowMasses() == want, rowMasses())
    assert(SketchStream.mergeCmsBatch(b1, name, 2L)
      .action == "skipped_replay")
    assert(SketchStream.mergeCmsBatch(b0, name, 1L)
      .action == "skipped_stale")
    assert(rowMasses() == want, "skipped batches must move no mass")
  }
}
