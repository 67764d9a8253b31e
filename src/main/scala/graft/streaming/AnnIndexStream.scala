package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.core.Pin._
import graft.core.SwapTable
import graft.ext.Similarity

/** STREAMING ANN index maintenance — admitted vectors become searchable
  * as they ingest, without a rebuild: each micro-batch appends its delta
  * to a persisted index ([[Similarity.appendToLshIndex]] /
  * [[Similarity.maintainIndex]] are the batch loops these stages drive),
  * so the index trails the stream by one batch instead of one nightly
  * rebuild.
  *
  *  - [[maintainLsh]]: sign-buckets are a pure per-row function — every
  *    batch appends, and the maintained index is BIT-IDENTICAL to a
  *    full rebuild over everything ingested (the append contract).
  *  - [[maintainIvf]]: the delta is appended under the FROZEN persisted
  *    quantizer until the drift gate trips, then the batch loop
  *    ([[Similarity.maintainIndex]]) re-trains and rebuilds over
  *    indexed ∪ delta — `indexed` is recovered from the index's own
  *    inverted lists, so the stream needs no side-channel of what is
  *    already indexed.
  *
  * Replay safety (appends are NOT naturally idempotent — a replayed
  * epoch would duplicate index rows and corrupt search results): an
  * epoch MARKER under the warehouse records completion, and a batch
  * without a marker first drops delta ids the index already holds (one
  * id-column anti-join probe per batch — the crash-between-append-and-
  * marker repair). Residual: a crash inside a partially-committed
  * append can in principle leave a vector holding a subset of its LSH
  * table rows which the probe then treats as present; Spark's file
  * commit protocol makes the window rename-sized, and an IVF vector is
  * one row so the residual does not exist there.
  */
object AnnIndexStream {

  /** One maintenance decision, reported per applied batch via
    * `onBatch`: `action` is "appended"/"rebuilt" ("skipped" for an
    * already-applied replayed epoch), `deltaRows` the novel rows this
    * epoch contributed, `maxMeanRatio` the drift ratio that drove an
    * IVF decision (NaN for LSH — no trained state to drift).
    */
  final case class MaintainEvent(epoch: Long, action: String, kind: String,
                                 deltaRows: Long, maxMeanRatio: Double)

  private def epochDir(spark: SparkSession, name: String) =
    new org.apache.hadoop.fs.Path(
      s"${spark.conf.get("spark.sql.warehouse.dir")}/${name}_stream_epochs")

  private def fs(spark: SparkSession, p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def epochApplied(spark: SparkSession, name: String,
                           epoch: Long): Boolean = {
    val d = epochDir(spark, name)
    fs(spark, d).exists(new org.apache.hadoop.fs.Path(d, s"_applied.$epoch"))
  }

  private def markApplied(spark: SparkSession, name: String,
                          epoch: Long): Unit = {
    val d = epochDir(spark, name)
    val f = fs(spark, d)
    f.mkdirs(d)
    f.create(new org.apache.hadoop.fs.Path(d, s"_applied.$epoch"), true).close()
  }

  /** Applied-epoch count — the compaction cadence's clock. Derived from
    * the marker files (listing-only), so it survives restarts without
    * any in-memory counter: the Nth applied batch compacts whether or
    * not the stream bounced in between.
    */
  private def appliedCount(spark: SparkSession, name: String): Long = {
    val d = epochDir(spark, name)
    val f = fs(spark, d)
    if (!f.exists(d)) 0L
    else f.listStatus(d).count(_.getPath.getName.startsWith("_applied.")).toLong
  }

  /** Run [[Similarity.compactIndex]] when the applied-batch count hits
    * the `compactEvery` cadence (0 = never): folds the accumulated
    * per-append files back to one file per bucket — without it a
    * long-lived maintenance stream grows an unbounded small-file tail
    * that every search lists and opens. Search results are unchanged
    * (compaction moves rows between files, bit-identical by spec).
    */
  private def maybeCompact(spark: SparkSession, owner: SparkSession,
                           name: String, compactEvery: Int,
                           idCol: String): Unit =
    if (compactEvery > 0 && appliedCount(spark, name) % compactEvery == 0) {
      Similarity.compactIndex(spark, name, idCol)
      SwapTable.refreshOwner(owner, indexTables(name): _*)
    }

  /** Delta rows whose id the index does not already hold — the
    * crash-replay repair probe: one anti-join against the index table's
    * id column (a single-column scan of the index per first-attempt
    * batch; the epoch marker short-circuits clean replays entirely).
    */
  private def novelOnly(delta: DataFrame, indexTable: String,
                        idCol: String): DataFrame =
    delta.join(delta.sparkSession.table(indexTable).select(col(idCol)),
      Seq(idCol), "left_anti")

  /** The index tables a mutation can change: the stream refreshes them
    * in its owning session after each one
    * ([[graft.core.SwapTable.refreshOwner]]), or that session keeps
    * searching a stale file listing and never sees appended vectors.
    */
  private def indexTables(name: String): Seq[String] =
    Seq("_buckets", "_lists", "_centroids", "_meta", "_drift")
      .map(s => s"$name$s")

  /** Maintain a persisted LSH index ([[Similarity.buildLshIndex]] must
    * have run) from a stream of (`vec_id`, `embedding`, ...) rows. Search
    * over the maintained index is bit-identical to a full rebuild over
    * base ∪ every ingested batch. `planes`/`dims`/`tables`/`buckets`
    * must match the build (validated per append against the index
    * `_meta`).
    */
  def maintainLsh(vectors: DataFrame, name: String, checkpointDir: String,
                  planes: Int, dims: Int,
                  compactEvery: Int = 0,
                  onBatch: MaintainEvent => Unit = _ => ()): StreamingQuery = {
    val owner = vectors.sparkSession
    vectors.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], epoch: Long) =>
        val spark = batch.sparkSession
        if (epochApplied(spark, name, epoch))
          onBatch(MaintainEvent(epoch, "skipped", "lsh", 0L, Double.NaN))
        else {
          // pinned: counted for the event AND appended — one evaluation
          val novel = novelOnly(batch.toDF(), s"${name}_buckets", "vec_id")
            .pin()
          val n = novel.count()
          if (n > 0) {
            Similarity.appendToLshIndex(novel, name, planes, dims, 8)
            SwapTable.refreshOwner(owner, indexTables(name): _*)
          }
          markApplied(spark, name, epoch)
          maybeCompact(spark, owner, name, compactEvery, "vec_id")
          onBatch(MaintainEvent(epoch, "appended", "lsh", n, Double.NaN))
        }
      }
      .start()
  }

  /** Maintain a persisted pure-IVF index ([[Similarity.buildIvfIndex]]
    * must have run) from a stream of vectors: per batch,
    * [[Similarity.maintainIndex]] measures the novel delta's drift
    * against the build baseline and either appends under the frozen
    * quantizer or re-trains + rebuilds over indexed ∪ delta. The
    * already-indexed corpus is recovered from the index's OWN inverted
    * lists (IVF lists carry the raw vectors — one row per vector), so
    * a rebuild needs no external record of past batches. Pure IVF only:
    * a PQ/IVF×PQ index's code tables do not carry raw vectors, so its
    * rebuild corpus cannot be recovered from the index — maintain those
    * from the batch loop over the source-of-truth corpus instead.
    */
  def maintainIvf(vectors: DataFrame, name: String, checkpointDir: String,
                  compactEvery: Int = 0,
                  onBatch: MaintainEvent => Unit = _ => ()): StreamingQuery = {
    val owner = vectors.sparkSession
    val spark0 = owner
    require(spark0.catalog.tableExists(s"${name}_centroids"),
      s"index '$name' is not a built IVF index (no _centroids) — " +
        "buildIvfIndex before streaming maintenance")
    require(!spark0.catalog.tableExists(s"${name}_codebooks"),
      s"index '$name' has PQ codebooks — its rebuild corpus is not " +
        "recoverable from the index; maintain PQ/IVF×PQ via the batch " +
        "maintainIndex loop over the source corpus")
    vectors.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], epoch: Long) =>
        val spark = batch.sparkSession
        if (epochApplied(spark, name, epoch))
          onBatch(MaintainEvent(epoch, "skipped", "ivf", 0L, Double.NaN))
        else {
          val novel = novelOnly(batch.toDF(), s"${name}_lists", "vec_id")
            .pin()
          val n = novel.count()
          if (n > 0) {
            val indexed = spark.table(s"${name}_lists")
              .select(col("vec_id"), col("embedding"))
            val r = Similarity.maintainIndex(spark, name, indexed, novel,
              Similarity.DefaultMaxDriftRatio)
            SwapTable.refreshOwner(owner, indexTables(name): _*)
            markApplied(spark, name, epoch)
            maybeCompact(spark, owner, name, compactEvery, "vec_id")
            onBatch(MaintainEvent(epoch, r.action, r.kind, n, r.maxMeanRatio))
          } else {
            markApplied(spark, name, epoch)
            onBatch(MaintainEvent(epoch, "appended", "ivf", 0L, Double.NaN))
          }
        }
      }
      .start()
  }
}
