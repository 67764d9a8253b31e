package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.core.Pin._
import graft.core.SwapTable
import graft.ext.{Dedup, FreqSketch}

/** STREAMING distinct-count sketch maintenance: fold every ingested
  * micro-batch into a persisted per-group HyperLogLog register table
  * ([[FreqSketch.hllRegisters]]'s (group, reg, rank) state), so "how
  * many distinct shingles has each source contributed so far?" is
  * answerable at any moment from 64 small rows per group — the running
  * corpus-composition monitor a 100 TB ingest wants, at a cost that
  * never grows with history.
  *
  * The merge is the sketch's own algebra: registers of batch ∪ history
  * = elementwise MAX — which is IDEMPOTENT and COMMUTATIVE, so unlike
  * the ANN index appends ([[AnnIndexStream]]) this stream needs no
  * epoch markers or presence probes: a crash-replayed batch re-maxes
  * the same ranks and changes nothing, by algebra rather than by
  * bookkeeping (spec-gated). The maintained table is bit-identical to
  * a single batch build over everything ingested.
  *
  * Publication is crash-safe through [[graft.core.SwapTable]]: the
  * merged registers go to a scratch table first (live table untouched,
  * its files immutable while the merge plan reads them), then swap into
  * place; every batch first finishes a swap a crash cut short.
  */
object SketchStream {

  /** One merge decision, reported per batch via `onBatch`: `groups` =
    * distinct groups present in the maintained table after the merge,
    * `regRows` its total register rows (≤ 64 × groups by construction).
    */
  final case class SketchEvent(epoch: Long, action: String, groups: Long,
                               regRows: Long)

  /** The maintained register table's name for a sketch `name`. */
  def registersTable(name: String): String = s"${name}_regs"

  /** Current distinct-count estimates from the maintained registers —
    * (group, n_regs, max_rank, hll_distinct) via
    * [[FreqSketch.hllEstimate]]'s pure-integer raw estimator.
    */
  def distinctEstimate(spark: SparkSession, name: String): DataFrame =
    FreqSketch.hllEstimate(spark.table(registersTable(name)))

  /** The maintained CMS table's name for a sketch `name`. One relation
    * carries BOTH the cell counts (kind='c': k=pos, v=cnt) and the
    * applied-epoch markers (kind='e': k=epoch) — CMS is a SUM
    * structure, NOT redelivery-idempotent like the HLL's max-merge, so
    * replay safety needs epoch dedup, and keeping markers and cells in
    * ONE table makes each batch's (skip | merge+mark) decision a
    * single atomic [[graft.core.SwapTable]] swap: no crash window where
    * the cells applied but the marker didn't.
    */
  def cmsTable(name: String): String = s"${name}_cms"

  /** Maintain a count-min sketch of corpus WORD frequencies over a
    * document stream — the streaming face of [[FreqSketch.buildCms]]:
    * each batch folds its own tokens into d×w cells (one
    * partial-aggregated pass over the batch), SUM-merges them with the
    * persisted table, and publishes cells + ONE high-water epoch
    * marker in one scratch-swap. A REDELIVERED epoch (at or below the
    * mark) moves nothing — the sum algebra would double-count, so
    * idempotence is enforced by the marker where the HLL stream gets
    * it free from max.
    *
    * The maintained table is what a trending-terms monitor probes:
    * [[cmsEstimates]] scores any candidate relation against the
    * current cells map-side. Count-min never undercounts, so no true
    * heavy hitter is missed; estimates carry collision inflation
    * bounded by the d×w config exactly as in the batch two-pass path.
    *
    * CONTRACT: epoch markers identify batches of ONE checkpoint
    * lineage. Restarting against an existing table with a FRESH
    * checkpoint restarts epoch numbering at 0 and the markers will
    * read re-batched history as replays — point a new checkpoint at a
    * new sketch `name` (the gate stores' table-per-topology
    * discipline).
    */
  def maintainCms(docs: DataFrame, name: String, checkpointDir: String,
                  textCol: String = "text",
                  d: Int = FreqSketch.DefaultDepth,
                  w: Int = FreqSketch.DefaultWidth,
                  onBatch: SketchEvent => Unit = _ => ()): StreamingQuery = {
    val owner = docs.sparkSession
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], epoch: Long) =>
        val ev = mergeCmsBatch(batch.toDF(), name, epoch, textCol, d, w)
        SwapTable.refreshOwner(owner, cmsTable(name))
        onBatch(ev)
      }
      .start()
  }

  /** ONE batch's CMS sum-merge — the reusable core [[maintainCms]]
    * wraps (the [[graft.streaming.DriftMonitor.updateBatch]] posture):
    * a batch replay/backfill caller folds a closed log through the
    * SAME code path the stream runs, which is what lets the merge law
    * be oracle-gated (t_cms_stream replays the per-row mass invariant
    * of a multi-batch log in SQL — each token lands in exactly one
    * cell per sketch row, so every row's cell mass must equal the
    * corpus token count exactly: a double-counted replay or a dropped
    * batch both break it). Epoch numbers must belong to ONE monotone
    * lineage per `name`; `skipped_replay` (epoch == high water) is the
    * in-lineage crash-replay shape, `skipped_stale` (epoch < high
    * water, WARN-logged) an out-of-order manual caller or a fresh-
    * checkpoint restart re-reading folded history.
    */
  def mergeCmsBatch(batch: DataFrame, name: String, epoch: Long,
                    textCol: String = "text",
                    d: Int = FreqSketch.DefaultDepth,
                    w: Int = FreqSketch.DefaultWidth): SketchEvent = {
    val live = cmsTable(name)
    val liveDf = SwapTable.current(batch.sparkSession, live)
    // monotone-epoch lineage: ONE high-water marker row identifies
    // every replay (epoch <= mark), so the table stays d×w-bounded
    // for any stream lifetime
    SwapTable.skipOf(liveDf, "k", epoch, live) match {
      case Some(skip) => SketchEvent(epoch, skip, 1L, 0L)
      case None =>
        val toks = batch.filter(col(textCol).isNotNull)
          .select(explode(graft.functions.wordTfs(col(textCol)))
            .as("wt"))
          .select(col("wt.word").as("word"),
            col("wt.tf").cast("long").as("tf"))
        val batchCells = toks
          .select(explode(FreqSketch.cmsPositions(col("word"), d, w))
            .as("k"), col("tf").as("v"))
          .groupBy("k").agg(sum("v").as("v"))
          .select(lit("c").as("kind"), col("k"), col("v"))
        val marker = batch.sparkSession.range(1)
          .select(lit("e").as("kind"), lit(epoch).as("k"),
            lit(0L).as("v"))
        // epoch > high-water: the new marker subsumes the old, so
        // only kind='c' cells carry through the sum-merge
        val merged = (liveDf.fold(batchCells.unionByName(marker)) { lv =>
            lv.filter(col("kind") === "c")
              .unionByName(batchCells).unionByName(marker)
          })
          .groupBy("kind", "k").agg(sum("v").as("v"))
          .pin()
        SwapTable.publish(merged, live, "kind", 1)
        val cells = merged.filter(col("kind") === "c").count()
        SketchEvent(epoch, "merged", 1L, cells)
    }
  }

  /** Estimate candidate-term frequencies against the maintained CMS:
    * the cells load once into the config-bounded d×w array (≤ 64k
    * longs at the default — the same driver-side bound as
    * [[FreqSketch.buildCms]]) and every candidate scores map-side via
    * the codegen'd min-of-d-cells probe. Output: (word, est).
    */
  def cmsEstimates(spark: SparkSession, name: String, words: DataFrame,
                   wordCol: String = "word",
                   d: Int = FreqSketch.DefaultDepth,
                   w: Int = FreqSketch.DefaultWidth): DataFrame =
    words.select(col(wordCol).as("word"),
      FreqSketch.cmsEstimate(col(wordCol), loadCells(spark, name, d, w), d, w)
        .as("est"))

  /** The maintained d×w cell array (config-bounded driver load — ≤ 64k
    * longs at the default), shared by the probe paths.
    */
  private def loadCells(spark: SparkSession, name: String, d: Int,
                        w: Int): Array[Long] = {
    val table = new Array[Long](d * w)
    spark.table(cmsTable(name)).filter(col("kind") === "c")
      .select(col("k"), col("v")).collect()
      .foreach(r => table(r.getLong(0).toInt) = r.getLong(1))
    table
  }

  /** Exact corpus heavy hitters THROUGH the stream-maintained sketch —
    * [[graft.ext.FreqSketch.heavyHitterWords]]'s prune-then-confirm
    * with the maintained table as the gate: tokens whose maintained
    * estimate reaches `threshold` enter the exact aggregation, the
    * rest die map-side. Count-min never undercounts, so the output is
    * bit-identical to the plain exact query — WHICH IS THE ORACLE GATE
    * (t_cms_stream_hh): a merge law that lost mass would undercount
    * some true heavy hitter's estimate below threshold and the missing
    * row would hash-mismatch (the mass-invariant face, t_cms_stream,
    * catches over-counting exactly).
    */
  def heavyHitters(spark: SparkSession, name: String, docs: DataFrame,
                   threshold: Long, textCol: String = "text",
                   d: Int = FreqSketch.DefaultDepth,
                   w: Int = FreqSketch.DefaultWidth): DataFrame = {
    require(threshold >= 1, s"threshold must be >= 1, got $threshold")
    val table = loadCells(spark, name, d, w)
    val toks = FreqSketch.tokenWeights(docs, textCol)
    toks.filter(FreqSketch.cmsEstimate(col("word"), table, d, w) >= threshold)
      .groupBy("word").agg(sum("weight").cast("long").as("n"))
      .filter(col("n") >= threshold)
  }

  /** Maintain per-`groupCol` HLL registers of distinct `n`-shingles
    * over a document stream. Each batch: build the batch's registers
    * (one partial-aggregated pass over the batch only), max-merge with
    * the persisted table, publish via [[graft.core.SwapTable]]. Null
    * text/group rows carry no shingles and are excluded, matching
    * [[FreqSketch.hllShingleReport]].
    */
  def maintainHll(docs: DataFrame, name: String, checkpointDir: String,
                  groupCol: String = "source", textCol: String = "text",
                  n: Int = 3,
                  onBatch: SketchEvent => Unit = _ => ()): StreamingQuery = {
    val owner = docs.sparkSession
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], epoch: Long) =>
        val live = registersTable(name)
        val items = batch.toDF()
          .filter(col(textCol).isNotNull && col(groupCol).isNotNull)
          .select(col(groupCol).as("group"),
            explode(Dedup.shingleHashes(col(textCol), n)).as("h"))
        val batchRegs = FreqSketch.hllRegisters(items, col("group"), col("h"))
        // pinned BEFORE the swap: the merge plan reads the live table's
        // files; materializing first keeps the read/overwrite disjoint
        val merged = SwapTable.current(batch.sparkSession, live)
          .fold(batchRegs)(_.unionByName(batchRegs))
          .groupBy("group", "reg").agg(max("rank").as("rank"))
          .pin()
        SwapTable.publish(merged, live, "group", 1)
        SwapTable.refreshOwner(owner, live)
        val groups = merged.select("group").distinct().count()
        onBatch(SketchEvent(epoch, "merged", groups, merged.count()))
      }
      .start()
  }
}
