package graft

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ext.Similarity
import graft.streaming.AnnIndexStream

/** Streaming ANN index maintenance: per-batch delta appends keep a
  * persisted index searchable as vectors ingest; the drift gate flips an
  * out-of-distribution batch into a re-train + rebuild; epoch markers +
  * the presence probe make redelivered batches no-ops.
  */
class AnnIndexStreamSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"
  private def corpusPresent = new java.io.File(s"$sf/embeddings.parquet").exists()

  test("streaming LSH maintenance: maintained index is bit-identical to a full rebuild; restart and redelivery are no-ops") {
    assume(corpusPresent)
    val emb = Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").localCheckpoint()
    val events = new ConcurrentLinkedQueue[AnnIndexStream.MaintainEvent]()
    val srcDir = java.nio.file.Files.createTempDirectory("annls-src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("annls-ckpt").toString

    Similarity.buildLshIndex(emb.filter(col("vec_id") < 250), "t_lsh_stream",
      planes = 4, dims = 64)
    def start() = AnnIndexStream.maintainLsh(
      spark.readStream.schema(emb.schema).parquet(srcDir), "t_lsh_stream",
      ckpt, planes = 4, dims = 64, onBatch = events.add(_))

    // batch 1 ingests [250, 350); restart; batch 2 ingests the rest
    emb.filter(col("vec_id") >= 250 && col("vec_id") < 350)
      .write.mode("append").parquet(srcDir)
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    emb.filter(col("vec_id") >= 350).write.mode("append").parquet(srcDir)
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    assert(events.asScala.map(_.action).toSeq == Seq("appended", "appended"),
      events.asScala.toSeq.toString)

    // every streamed vector landed: tables × |corpus| bucket rows (the
    // catalog-refresh regression guard — the owning session must see
    // files appended from the microbatch's cloned session)
    assert(spark.table("t_lsh_stream_buckets").count() == 8L * emb.count(),
      "streamed appends must be visible to the owning session")
    val got = Similarity.annTopKIndexed(spark, "t_lsh_stream",
      Seq(0L, 1L, 2L), 5)
    Similarity.buildLshIndex(emb, "t_lsh_stream_ref", planes = 4, dims = 64)
    val ref = Similarity.annTopKIndexed(spark, "t_lsh_stream_ref",
      Seq(0L, 1L, 2L), 5)
    assert(rows(got) == rows(ref), "maintained index must equal full rebuild")
    assert(rows(got).nonEmpty)

    // REDELIVERY: the same vectors arrive again under a new epoch — the
    // presence probe drops them all, the index does not grow
    val before = spark.table("t_lsh_stream_buckets").count()
    emb.filter(col("vec_id") >= 350).write.mode("append").parquet(srcDir)
    val q3 = start(); q3.processAllAvailable(); q3.stop()
    assert(spark.table("t_lsh_stream_buckets").count() == before,
      "redelivered vectors must not duplicate index rows")
    assert(events.asScala.last.deltaRows == 0L, events.asScala.last.toString)
  }

  test("streaming IVF maintenance: frozen-quantizer appends until the drift gate trips a rebuild") {
    import spark.implicits._
    // CLUSTERED synthetic corpus (the shape where an IVF drift gate is
    // meaningful — on a near-uniform corpus every cosine assign
    // distance sits at ~0.9 of the ceiling and no delta can move the
    // ratio): two tight clusters on the e1/e2 axes; the drift batch
    // lives on e3, far outside anything the quantizer has seen.
    def cluster(axis: Int, ids: Range): Seq[(Long, Array[Float])] =
      ids.map { i =>
        val v = Array.fill(4)(0.001f * (i % 7))
        v(axis) = 1f
        (i.toLong, v)
      }
    val first = (cluster(0, 0 until 100) ++ cluster(1, 100 until 200))
      .toDF("vec_id", "embedding")
    val rest = (cluster(0, 200 until 250) ++ cluster(1, 250 until 300))
      .toDF("vec_id", "embedding")
    val drifted = cluster(2, 100000 until 100100).toDF("vec_id", "embedding")
    val all = first.unionByName(rest)

    val events = new ConcurrentLinkedQueue[AnnIndexStream.MaintainEvent]()
    val srcDir = java.nio.file.Files.createTempDirectory("anniv-src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("anniv-ckpt").toString

    Similarity.buildIvfIndex(first, "t_ivf_stream", centroids = 2)
    val centsBefore = spark.table("t_ivf_stream_centroids").collect().toSet
    def start() = AnnIndexStream.maintainIvf(
      spark.readStream.schema(first.schema).parquet(srcDir), "t_ivf_stream",
      ckpt, onBatch = events.add(_))

    // batch 1: in-distribution delta → appended under the FROZEN quantizer
    rest.write.mode("append").parquet(srcDir)
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    assert(events.asScala.head.action == "appended", events.asScala.toSeq.toString)
    assert(events.asScala.head.deltaRows == 100L, events.asScala.head.toString)
    assert(spark.table("t_ivf_stream_lists").count() == 300L,
      "append must add exactly the delta to the inverted lists")
    assert(spark.table("t_ivf_stream_centroids").collect().toSet == centsBefore,
      "append must not touch the trained quantizer")
    // search equals assign-everything-at-once under the same quantizer
    val cents = Similarity.trainCentroids(first, 2)
    val ref = Similarity.searchAssigned(
      Similarity.assignCells(all, cents), cents, Seq(0L, 200L), 5, nProbe = 2)
    val got = Similarity.ivfTopKIndexed(spark, "t_ivf_stream",
      Seq(0L, 200L), 5, nProbe = 2)
    assert(rows(got) == rows(ref), "streamed appends must equal frozen-quantizer reference")
    assert(rows(got).nonEmpty)

    // batch 2: the e3 cluster the quantizer has never seen → the DEFAULT
    // drift gate trips and the batch loop REBUILDS (re-trained quantizer
    // over indexed ∪ delta, the indexed side recovered from the index's
    // own inverted lists)
    drifted.write.mode("append").parquet(srcDir)
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    val last = events.asScala.last
    assert(last.action == "rebuilt" && last.kind == "ivf", last.toString)
    assert(last.maxMeanRatio > Similarity.DefaultMaxDriftRatio, last.toString)
    assert(spark.table("t_ivf_stream_centroids").collect().toSet != centsBefore,
      "rebuild must re-train the quantizer")
    assert(spark.table("t_ivf_stream_lists").count() == 400L,
      "rebuild must index everything ingested, exactly once")
    // post-rebuild search is green across both regions
    val hits = Similarity.ivfTopKIndexed(spark, "t_ivf_stream",
      Seq(0L, 100000L), 5, nProbe = 2)
    assert(hits.groupBy("query_id").count().collect()
      .forall(_.getLong(1) == 5L))

    // contract: a PQ-bearing index is rejected up front (its rebuild
    // corpus is not recoverable from code tables)
    if (corpusPresent) {
      Similarity.buildIvfPqIndex(
        Tables.embeddings(spark, sf).select("vec_id", "embedding"),
        "t_ivfpq_stream_guard", centroids = 8)
      val e = intercept[IllegalArgumentException] {
        AnnIndexStream.maintainIvf(
          spark.readStream.schema(first.schema).parquet(srcDir),
          "t_ivfpq_stream_guard", ckpt)
      }
      assert(e.getMessage.contains("codebooks"), e.getMessage)
    }
  }

  private def parquetFiles(table: String): Long = {
    val loc = new org.apache.hadoop.fs.Path(
      s"${spark.conf.get("spark.sql.warehouse.dir")}/$table")
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(loc)
      .count(f => f.isFile && f.getPath.getName.endsWith(".parquet")).toLong
  }

  test("compactIndex folds append files; search bit-identical, quantizers frozen") {
    assume(corpusPresent)
    val emb = Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").localCheckpoint()

    // LSH: build on a slice, append the rest in 5 slices
    Similarity.buildLshIndex(emb.filter(col("vec_id") < 100), "t_cp_lsh",
      planes = 4, dims = 64)
    (0 until 5).foreach { i =>
      Similarity.appendToLshIndex(
        emb.filter(col("vec_id") >= 100 + i * 80 &&
          col("vec_id") < 100 + (i + 1) * 80),
        "t_cp_lsh", planes = 4, dims = 64)
    }
    val beforeSearch = rows(Similarity.annTopKIndexed(spark, "t_cp_lsh",
      Seq(0L, 1L, 2L), 5))
    val beforeFiles = parquetFiles("t_cp_lsh_buckets")
    val report = Similarity.compactIndex(spark, "t_cp_lsh")
    assert(report.map(_.table) == Seq("t_cp_lsh_buckets"))
    assert(report.head.filesBefore == beforeFiles)
    assert(report.head.filesAfter < beforeFiles,
      s"compaction must shrink the file tail: $report")
    assert(report.head.filesAfter <= 8L,
      s"compacted table must hold at most `buckets` files: $report")
    val afterSearch = rows(Similarity.annTopKIndexed(spark, "t_cp_lsh",
      Seq(0L, 1L, 2L), 5))
    assert(afterSearch == beforeSearch,
      "compaction must not change search results")
    assert(afterSearch.nonEmpty)

    // IVF×PQ: BOTH data tables compact (lists cell-keyed, codes
    // id-keyed); the frozen quantizer artifacts are byte-for-byte
    // untouched
    Similarity.buildIvfPqIndex(emb.filter(col("vec_id") < 300), "t_cp_ivfpq",
      centroids = 4, m = 8, codebookSize = 4, dims = 64)
    (0 until 4).foreach { i =>
      Similarity.appendToIvfPqIndex(
        emb.filter(col("vec_id") >= 300 + i * 50 &&
          col("vec_id") < 300 + (i + 1) * 50),
        "t_cp_ivfpq", m = 8, dims = 64, maxDriftRatio = 0.0)
    }
    val centsBefore = rows(spark.table("t_cp_ivfpq_centroids"))
    val booksBefore = rows(spark.table("t_cp_ivfpq_codebooks"))
    val qs = emb.filter(col("vec_id") < 3)
    val searchBefore = rows(Similarity.ivfPqTopKIndexed(spark, "t_cp_ivfpq",
      qs, 5, m = 8, dims = 64))
    val rep2 = Similarity.compactIndex(spark, "t_cp_ivfpq")
    assert(rep2.map(_.table).toSet ==
      Set("t_cp_ivfpq_lists", "t_cp_ivfpq_codes"), rep2.toString)
    rep2.foreach(r => assert(r.filesAfter < r.filesBefore, r.toString))
    assert(rows(spark.table("t_cp_ivfpq_centroids")) == centsBefore)
    assert(rows(spark.table("t_cp_ivfpq_codebooks")) == booksBefore)
    assert(rows(Similarity.ivfPqTopKIndexed(spark, "t_cp_ivfpq",
      qs, 5, m = 8, dims = 64)) == searchBefore)
  }

  test("compactIndex swap is crash-recoverable: orphaned scratch completes, data intact") {
    assume(corpusPresent)
    val emb = Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").localCheckpoint()
    Similarity.buildLshIndex(emb.filter(col("vec_id") < 100), "t_cr_lsh",
      planes = 4, dims = 64)
    Similarity.appendToLshIndex(
      emb.filter(col("vec_id") >= 100 && col("vec_id") < 200), "t_cr_lsh",
      planes = 4, dims = 64)
    val beforeSearch = rows(Similarity.annTopKIndexed(spark, "t_cr_lsh",
      Seq(0L, 1L, 2L), 5))
    // simulate the worst crash window: scratch committed, old table
    // dropped, RENAME never ran — the rows exist ONLY in the scratch
    val buckets = spark.table("t_cr_lsh_buckets")
    graft.core.Layout.writeBucketed(
      buckets.repartition(8, col("bucket")), "t_cr_lsh_buckets__merge",
      "bucket", 8)
    spark.sql("DROP TABLE t_cr_lsh_buckets")
    assert(!spark.catalog.tableExists("t_cr_lsh_buckets"))
    // recovery: the next compactIndex call must finish the swap, not
    // throw or recompact from a missing table
    val report = Similarity.compactIndex(spark, "t_cr_lsh")
    assert(report.map(_.table) == Seq("t_cr_lsh_buckets"), report.toString)
    assert(spark.catalog.tableExists("t_cr_lsh_buckets"))
    assert(!spark.catalog.tableExists("t_cr_lsh_buckets__merge"))
    val afterSearch = rows(Similarity.annTopKIndexed(spark, "t_cr_lsh",
      Seq(0L, 1L, 2L), 5))
    assert(afterSearch == beforeSearch,
      "recovered table must search bit-identically")
    assert(afterSearch.nonEmpty)
  }

  test("streaming maintenance compacts on cadence; index stays rebuild-identical") {
    assume(corpusPresent)
    val emb = Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").localCheckpoint()
    val srcDir = java.nio.file.Files.createTempDirectory("anncp-src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("anncp-ckpt").toString
    Similarity.buildLshIndex(emb.filter(col("vec_id") < 100), "t_cp_stream",
      planes = 4, dims = 64)
    // 4 batches via 4 restarts (each restart drains one file batch),
    // compactEvery = 2 → at least two compactions fold the tail
    (0 until 4).foreach { i =>
      emb.filter(col("vec_id") >= 100 + i * 100 &&
        col("vec_id") < 100 + (i + 1) * 100)
        .write.mode("append").parquet(srcDir)
      val q = AnnIndexStream.maintainLsh(
        spark.readStream.schema(emb.schema).parquet(srcDir), "t_cp_stream",
        ckpt, planes = 4, dims = 64, compactEvery = 2)
      q.processAllAvailable(); q.stop()
    }
    assert(parquetFiles("t_cp_stream_buckets") <= 8L * 3,
      "cadenced compaction must bound the file tail")
    Similarity.buildLshIndex(emb.filter(col("vec_id") < 500),
      "t_cp_stream_ref", planes = 4, dims = 64)
    assert(rows(Similarity.annTopKIndexed(spark, "t_cp_stream",
        Seq(0L, 1L, 2L), 5)) ==
      rows(Similarity.annTopKIndexed(spark, "t_cp_stream_ref",
        Seq(0L, 1L, 2L), 5)),
      "compacted maintained index must equal full rebuild")
  }
}
