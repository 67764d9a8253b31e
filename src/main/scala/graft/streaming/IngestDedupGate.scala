package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.core.Overlap
import graft.core.Pin._
import graft.ext.Dedup

/** Streaming ingest dedup gate: a document stream is admitted batch by
  * batch against a PERSISTED signature store — redelivered ids, exact
  * copies and near-duplicates of anything already ingested are dropped;
  * novel documents flow to the sink and their signatures append to the
  * store. The reference's pipeline is the same shape one stage earlier:
  * a continuously maintained derived stream others consume
  * (ksqldb-statements.sql:13–17); this is its training-data analog —
  * the corpus a crawler feeds stays deduplicated *as it ingests*, not
  * in a nightly rewrite.
  *
  * Store layout — a [[ManifestStore]]-style versioned two-table store:
  * each micro-batch commits ONE immutable version dir holding both
  * `bands/` (id, band, bkey, hashes — key-sorted by bkey, so the
  * per-batch candidate scan prunes to matching parquet row groups) and
  * `feats/` (id, hashes, sig — key-sorted by id for the redelivery
  * probe), published by a single atomic manifest commit. Both tables
  * become visible together or not at all, so there is no crash state
  * with orphan band rows or a recall hole — the ordering argument the
  * previous two-append layout needed is retired. Band rows carry the
  * doc's hash set so the near-dup Jaccard check reads ONE pruned scan
  * per batch instead of re-probing the feats table by candidate id (the
  * ×[[Dedup.NumBands]] hash duplication is the disclosed price;
  * [[compactStore]] bounds the file count). Per batch, work scales with
  * batch-size × collisions, never with store size. Band keys use
  * [[Dedup]]'s one fixed layout, so every writer and reader agree.
  *
  * Delivery contract (same as [[ManifestStore.joinEachBatch]]): the sink
  * runs BEFORE the store commit, so a crash between them replays the
  * batch — the sink must be idempotent per epoch (at-least-once); the
  * store commit itself is replay-safe, because a replayed document
  * matches its own stored signature (Jaccard 1) and is dropped before
  * a second commit, and a half-written uncommitted version dir is
  * invisible (reclaimed by [[ManifestStore.vacuum]] once its version is no
  * longer ahead of the committed head).
  */
object IngestDedupGate {

  /** The store's manifest directory (under the session warehouse). */
  def storeDir(spark: SparkSession, name: String): String =
    s"${spark.conf.get("spark.sql.warehouse.dir")}/gstore_$name"

  /** Key-sorted files per table in each version dir. */
  private val StoreBuckets = 8

  /** The near-dup layout the store's band rows are keyed under: the
    * shingle width, the band tiling and a hash of the MinHash
    * permutations. Recorded in every manifest the gate commits and
    * checked on every open, so a build with other constants fails
    * instead of matching none of the stored band keys.
    */
  private[graft] val Layout: String =
    s"minhash shingle=${Dedup.ShingleN} bands=${Dedup.NumBands} " +
      f"rows=${Dedup.RowsPerBand} perms=${scala.util.hashing.MurmurHash3.seqHash(Dedup.Perms)}%08x"

  /** The store's latest manifest, checked against [[Layout]]. */
  private def openStore(spark: SparkSession, dir: String): Option[ManifestStore.Manifest] =
    ManifestStore.latestManifest(spark, dir).map(ManifestStore.requireLayout(_, dir, Layout))

  private def headOf(spark: SparkSession, dir: String): ManifestStore.Manifest =
    openStore(spark, dir).getOrElse(
      throw new IllegalStateException(s"no committed version under $dir"))

  def storeExists(spark: SparkSession, name: String): Boolean =
    openStore(spark, storeDir(spark, name)).nonEmpty

  private def readPart(spark: SparkSession, dir: String,
                       m: ManifestStore.Manifest, part: String): DataFrame =
    m.dirs.map { case (_, rel) => graft.core.Parquet.readImmutable(spark, s"$dir/$rel/$part") }
      .reduce(_.unionByName(_))

  /** The store's band rows (id, band, bkey, hashes), pinned to the
    * latest committed manifest. O(versions) relations in the plan —
    * [[compactStore]] folds them back to one.
    */
  def bands(spark: SparkSession, name: String): DataFrame = {
    val dir = storeDir(spark, name)
    readPart(spark, dir, headOf(spark, dir), "bands")
  }

  /** The store's signature rows (id, hashes, sig), pinned likewise. */
  def feats(spark: SparkSession, name: String): DataFrame = {
    val dir = storeDir(spark, name)
    readPart(spark, dir, headOf(spark, dir), "feats")
  }

  /** Key ordering for the chunk sort: integral and String keys (the
    * band-key/doc-id types this gate produces) get explicit orderings;
    * any other `Comparable` key (timestamp, date, decimal doc ids)
    * keeps the natural-order behavior; a NON-comparable key
    * (array/struct) is rejected at the boundary with a message naming
    * the contract instead of an opaque ClassCastException mid-sort.
    */
  private def keyOrdering(sample: Any): Ordering[Any] = sample match {
    case _: Long | _: Int | _: Short | _: Byte =>
      Ordering.by((x: Any) => x.asInstanceOf[Number].longValue())
    case _: String => Ordering.by((x: Any) => x.asInstanceOf[String])
    case _: Comparable[_] => Ordering.fromLessThan(
      (a: Any, b: Any) => a.asInstanceOf[Comparable[Any]].compareTo(b) < 0)
    case other => throw new IllegalArgumentException(
      s"prunedByKeys needs Comparable keys (sorted so each chunk covers a " +
        s"contiguous range); got ${other.getClass.getName}")
  }

  /** Union of per-chunk isin-pruned scans of `store`: keys are SORTED
    * before chunking, so each chunk covers a contiguous key range. A
    * chunk within `spark.sql.parquet.pushdown.inFilterThreshold`
    * (default 10) pushes its IN list to parquet row-group stats
    * verbatim; a bigger chunk degrades to a min/max RANGE push — which
    * the sort keeps TIGHT, because a contiguous chunk's range excludes
    * every row group outside its key span (the store files are
    * key-sorted, so row-group stats resolve range predicates well).
    * Raising the threshold instead is a trap: parquet evaluates a large
    * pushed IN as a recursive OR tree and a few thousand values
    * stack-overflow the scan. Either way a batch with more distinct
    * keys than one IN list holds costs more pruned scans — never one
    * unpruned full-store scan. Empty key set reads nothing.
    */
  private[graft] def prunedByKeys(store: DataFrame, keyCol: String,
                                  keys: Seq[Any], chunk: Int): DataFrame =
    if (keys.isEmpty) store.filter(lit(false))
    else keys.sorted(keyOrdering(keys.head))
      .grouped(chunk)
      .map(ks => store.filter(col(keyCol).isin(ks: _*)))
      .reduce(_.union(_))

  /** Batch-mode admit decision: which of `batch`'s documents are novel
    * vs the store? Within-batch exact copies collapse to their min-id
    * representative first ([[Dedup.withExactReps]]); then store-known
    * ids drop (redelivery, any text), then store near-dups drop (band
    * candidates + exact Jaccard ≥ num/den), then WITHIN-BATCH near-dups
    * drop pairwise: a doc with a smaller-id near-dup among the batch's
    * survivors is rejected (its keeper is being admitted in this very
    * batch). Pairwise, not transitive — a chain a~b~c admits a and
    * drops b, c (each has a smaller direct near-dup); a doc whose every
    * keeper was itself dropped is DISCLOSED (WARN with the count: its
    * content is lost to the corpus, the price of the one-pass rule —
    * the full transitive collapse is [[graft.ext.Dedup.dedupedCorpus]]'s
    * job at corpus level). Returns the novel documents' FEATURE rows
    * (id, hashes, sig, simhash), pinned — the decision is
    * frozen before any store mutation.
    *
    * Scale shape: the batch side is always the broadcast/collected side
    * (bounded by the micro-batch); store scans are isin-pruned by the
    * batch's key sets in `isinChunk`-sized chunks ([[prunedByKeys]]).
    */
  def filterNovel(batch: DataFrame, name: String, jaccardNum: Int = 8,
                  jaccardDen: Int = 10, isinChunk: Int = 10000): DataFrame = {
    val spark = batch.sparkSession
    val batchReps = Dedup.withExactReps(
        Dedup.features(batch, "doc_id", "text"), "doc_id")
      .filter(col("doc_id") === col("rep")).drop("rep")
      .pin()
    val survivors =
      if (!storeExists(spark, name)) batchReps
      else {
        // 1. redelivered ids: the feats scan pruned to the batch's own
        //    ids (row-group stats via the id sort), then a tiny anti-join
        val batchIds = batchReps.select(col("doc_id")).collect().map(_.get(0)).toSeq
        val unknownIds = batchReps.join(
          prunedByKeys(feats(spark, name).select(col("doc_id")), "doc_id",
            batchIds, isinChunk),
          Seq("doc_id"), "left_anti")
        // 2. near-dups of stored content: batch band keys vs the store,
        //    scanned pruned by the batch's key chunks. The BOUNDED side
        //    is the batch (|batch| × NumBands rows), so it is broadcast.
        val bb = Dedup.bands(unknownIds, "doc_id")
          .filter(col("bkey").isNotNull)
        val batchKeys = bb.select("bkey").distinct().collect()
          .map(_.get(0): Any).toSeq
        val dupIds = storeNearDupIds(bb,
          prunedByKeys(bands(spark, name), "bkey", batchKeys, isinChunk),
          batchReps, "doc_id", broadcastBatch = true, jaccardNum, jaccardDen)
        unknownIds.join(dupIds, Seq("doc_id"), "left_anti")
      }
    // within-batch near-dups: lshCandidates emits canonically-ordered
    // (doc_a < doc_b) pairs, so doc_b always has a smaller-id near-dup
    // being admitted alongside it — drop doc_b. The survivor frame is
    // already materialized on the first-batch path (survivors eq
    // batchReps); only the store-filtered branch needs its own
    // checkpoint before feeding the self-join's branches.
    val checked =
      if (survivors eq batchReps) batchReps else survivors.pin()
    withinPairs(checked, "ingest gate", "batch", "doc_id", jaccardNum,
        jaccardDen) { passing =>
      // the common batch has ZERO within-batch near-dup pairs — skip the
      // drop anti-join and the orphan probe's two joins + count entirely
      // (isEmpty on the checkpointed pair frame is a cheap partition peek)
      if (passing.isEmpty) checked
      else {
        val batchDups = passing.select(col("doc_b").as("doc_id")).distinct()
        discloseOrphans(passing, "ingest gate", "within-batch doc(s) dropped", "batch")
        checked.join(batchDups, Seq("doc_id"), "left_anti").pin()
      }
    }
  }

  /** Admit stage 2 of [[filterNovel]] and [[probeBatch]]: ids behind
    * batch band rows `bb` with a stored near-dup. Only the batch side is
    * ever broadcast: one band key can match millions of stored rows.
    */
  private def storeNearDupIds(bb: DataFrame, storeBands: DataFrame,
                              batchHashes: DataFrame, idCol: String,
                              broadcastBatch: Boolean, jaccardNum: Int,
                              jaccardDen: Int): DataFrame = {
    def side(df: DataFrame) = if (broadcastBatch) broadcast(df) else df
    val cand = side(bb)
      .join(storeBands.select(col("band"), col("bkey"),
          col(idCol).as("__sid"), col("hashes").as("__hb")),
        Seq("band", "bkey"))
      .select(col(idCol), col("__sid"), col("__hb"))
      .dropDuplicates(idCol, "__sid")
    Dedup.withJaccardCols(cand.join(
        side(batchHashes.select(col(idCol), col("hashes").as("__ha"))),
        Seq(idCol)))
      .filter(Dedup.jaccardAtLeast(jaccardNum, jaccardDen))
      .select(col(idCol))
  }

  /** Admit stage 3, shared likewise: `body` gets the verified pinned
    * (doc_a < doc_b) near-dup pairs within `docs`, overflow disclosed.
    */
  private def withinPairs[T](docs: DataFrame, operator: String, unit: String,
                             idCol: String, jaccardNum: Int, jaccardDen: Int)
                            (body: DataFrame => T): T =
    Overlap.disclosing(operator, s"within-$unit band bucket(s) over the " +
        "width cap excluded from near-dup checking (recall loss, not a failure)",
      Dedup.bandOverflow(docs, idCol)) {
      body(Dedup.withJaccard(Dedup.lshCandidates(docs, idCol), "doc_a",
          "doc_b", docs, docs, idCol)
        .filter(Dedup.jaccardAtLeast(jaccardNum, jaccardDen))
        .select(col("doc_a"), col("doc_b")).pin())
    }

  /** Chained-drop disclosure: a dropped doc whose EVERY keeper was
    * itself dropped has no admitted near-dup — data loss, not dedup.
    * `passing` holds the verified within-`unit` pairs (doc_b drops).
    */
  private def discloseOrphans(passing: DataFrame, operator: String,
                              dropped: String, unit: String): Unit = {
    val dropsAsA = passing.select(col("doc_b").as("doc_a")).distinct()
    val withAliveKeeper = passing.join(dropsAsA, Seq("doc_a"), "left_anti")
      .select(col("doc_b")).distinct()
    val orphaned = passing.select(col("doc_b")).distinct()
      .join(withAliveKeeper, Seq("doc_b"), "left_anti").count()
    if (orphaned > 0)
      Overlap.disclose(passing.sparkSession, Overlap.Disclosure(operator,
        s"$dropped although every admitted-keeper candidate was itself " +
          "dropped (chained near-dups) — their content has no admitted " +
          s"representative in this $unit; run a corpus-level dedupedCorpus " +
          "pass if that matters", orphaned, atLeast = false, Nil))
  }

  /** Batch VERDICT screen of an offline corpus drop against an EXISTING
    * gate store — the "backfill arrives as files" entry point: the same
    * four-stage admit decision [[filterNovel]] makes per micro-batch,
    * run once over a static corpus, READ-ONLY on the store (nothing is
    * committed — the caller decides what to do with the verdicts), and
    * returning every document with the stage that decided it:
    *
    *   - `exact_dup_batch`  — a bit-identical smaller-id copy exists in
    *                          the drop itself (the within-drop exact
    *                          collapse, stage 0);
    *   - `known_id`         — the id is already in the store (stage 1);
    *   - `store_near_dup`   — Jaccard ≥ num/den against stored content
    *                          (stage 2);
    *   - `batch_near_dup`   — a smaller-id near-dup among the drop's own
    *                          survivors (the pairwise rule, stage 3);
    *   - `admit`            — novel; what [[gate]] would have sunk and
    *                          committed.
    *
    * Stage order matches [[filterNovel]] exactly (a doc dropped at
    * stage k never reaches stage k+1), and IngestGateSpec asserts the
    * equivalence `admit ≡ filterNovel's survivors` on a shared store.
    *
    * Scale shape — the one place this DIFFERS from the micro-batch
    * path: a batch's keys are driver-collected and pushed as chunked IN
    * scans ([[prunedByKeys]]), which is right when the drop is small
    * next to the store but wrong for a corpus-sized backfill. So the
    * probe samples `pushdownKeyLimit + 1` rep ids first (a bounded
    * collect, never corpus-sized): within the limit it keeps the
    * pruned-scan plan; above it, it switches to plain distributed
    * equi-joins against the store relations — id semi-join for stage 1,
    * (band, bkey) shuffle join for stage 2 (the store side is never
    * broadcast: one popular band key can match millions of stored
    * rows). Work then scales with |drop| + collisions either way.
    */
  def probeBatch(corpus: DataFrame, name: String, jaccardNum: Int = 8,
                 jaccardDen: Int = 10, isinChunk: Int = 10000,
                 pushdownKeyLimit: Int = 200000): DataFrame = {
    val spark = corpus.sparkSession
    require(storeExists(spark, name),
      s"probeBatch screens against an EXISTING store; no committed " +
        s"version under ${storeDir(spark, name)} — run the gate (or " +
        "appendToStore) first")
    val feats0 = Dedup.withExactReps(
      Dedup.features(corpus, "doc_id", "text"), "doc_id").pin()
    val exactDup = feats0.filter(col("doc_id") =!= col("rep"))
      .select(col("doc_id"), lit("exact_dup_batch").as("verdict"))
    val batchReps = feats0.filter(col("doc_id") === col("rep")).drop("rep")
    // bounded probe of the drop's size decides pruned-IN vs full join
    val sampled = batchReps.select(col("doc_id"))
      .limit(pushdownKeyLimit + 1).collect().map(_.get(0)).toSeq
    val prune = sampled.length <= pushdownKeyLimit
    // stage 1: redelivered ids
    val storeIds =
      if (prune) prunedByKeys(feats(spark, name).select(col("doc_id")), "doc_id",
        sampled, isinChunk)
      else feats(spark, name).select(col("doc_id"))
    val knownIds = batchReps.select(col("doc_id"))
      .join(storeIds, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), lit("known_id").as("verdict"))
    val unknown = batchReps.join(storeIds, Seq("doc_id"), "left_anti")
      .pin()
    // stage 2: near-dups of stored content, as in the gate
    val bb = Dedup.bands(unknown, "doc_id")
      .filter(col("bkey").isNotNull)
    val storeBands = {
      val base = bands(spark, name)
      if (prune) {
        val batchKeys = bb.select("bkey").distinct().collect()
          .map(_.get(0): Any).toSeq
        prunedByKeys(base, "bkey", batchKeys, isinChunk)
      } else base
    }
    val storeDup = storeNearDupIds(bb, storeBands, unknown, "doc_id", prune,
        jaccardNum, jaccardDen).distinct()
      .select(col("doc_id"), lit("store_near_dup").as("verdict"))
    // stage 3: within-drop pairwise near-dups over the survivors — the
    // same capped candidate generation + disclosure as filterNovel
    val survivors = unknown.join(storeDup.select(col("doc_id")),
      Seq("doc_id"), "left_anti").pin()
    withinPairs(survivors, "gate probe", "drop", "doc_id", jaccardNum,
        jaccardDen) { passing =>
      val batchDup = passing.select(col("doc_b").as("doc_id")).distinct()
        .select(col("doc_id"), lit("batch_near_dup").as("verdict"))
      if (!passing.isEmpty)
        discloseOrphans(passing, "gate probe", "within-drop doc(s) would drop", "drop")
      // stages are disjoint by construction — one labeled union, then the
      // left join back to the drop; unlabeled = admitted
      val labeled = exactDup.unionByName(knownIds).unionByName(storeDup)
        .unionByName(batchDup)
      corpus.select(col("doc_id")).join(labeled, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("verdict"), lit("admit")).as("verdict"))
    }
  }

  private def writeSorted(df: DataFrame, path: String, key: String): Unit =
    df.repartition(StoreBuckets, col(key)).sortWithinPartitions(key)
      .write.parquet(path)

  /** Commit admitted feature rows to the store (creating it on first
    * use): ONE new immutable version dir holding both the band rows
    * (with hashes attached) and the signature rows, published by a
    * single atomic manifest commit ([[ManifestStore.commitVersion]] —
    * hard link on POSIX, create-if-absent rename on HDFS). A crash
    * anywhere before the commit leaves an unreferenced dir that no
    * reader ever sees; there is no state where one table has the batch
    * and the other does not. Returns the committed manifest.
    */
  def appendToStore(novelFeats: DataFrame, name: String): ManifestStore.Manifest = {
    val spark = novelFeats.sparkSession
    val bandRows = Dedup.bands(novelFeats, "doc_id")
      .filter(col("bkey").isNotNull)
      .join(novelFeats.select(col("doc_id"), col("hashes")), Seq("doc_id"))
    ManifestStore.commitVersion(spark, storeDir(spark, name),
        replace = false, Layout) { (_, path) =>
      writeSorted(bandRows, s"$path/bands", "bkey")
      writeSorted(novelFeats.select(col("doc_id"), col("hashes"), col("sig")),
        s"$path/feats", "doc_id")
    }
  }

  /** Fold the per-batch version accumulation back to ONE version dir of
    * [[StoreBuckets]] key-sorted files per table: reads the current pinned
    * manifest, writes a fresh dir (never touching the immutable inputs),
    * commits a manifest referencing only it. A month of 5-minute batches
    * otherwise costs ~8.6k file sets per listing — run this on a
    * maintenance cadence; [[ManifestStore.vacuum]] over [[storeDir]]
    * reclaims the superseded dirs. Returns the committed manifest.
    */
  def compactStore(spark: SparkSession, name: String): ManifestStore.Manifest = {
    val dir = storeDir(spark, name)
    ManifestStore.commitVersion(spark, dir, replace = true, Layout) { (m0, path) =>
      writeSorted(readPart(spark, dir, m0, "bands"), s"$path/bands", "bkey")
      writeSorted(readPart(spark, dir, m0, "feats"), s"$path/feats", "doc_id")
    }
  }

  /** Operational snapshot of the store: committed version, version-dir
    * count and per-table parquet file/byte totals — the numbers an
    * operator watches to judge whether the maintenance cadence
    * (`compactEvery`, [[compactStore]]/[[ManifestStore.vacuum]]) is
    * keeping up.
    * LISTING-ONLY on the pinned manifest's dirs: no data is read, so
    * the probe costs the same at 100 TB as at 100 rows.
    */
  def storeStats(spark: SparkSession, name: String): DataFrame = {
    val dir = storeDir(spark, name)
    val m = headOf(spark, dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def part(p: String): (Long, Long) = {
      val path = new org.apache.hadoop.fs.Path(p)
      if (!fs.exists(path)) (0L, 0L)
      else {
        val fset = fs.listStatus(path)
          .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        (fset.length.toLong, fset.map(_.getLen).sum)
      }
    }
    val (bf, bb, ff, fb) = m.dirs.foldLeft((0L, 0L, 0L, 0L)) {
      case ((a, b, c, d), (_, rel)) =>
        val (e, f) = part(s"$dir/$rel/bands")
        val (g, h) = part(s"$dir/$rel/feats")
        (a + e, b + f, c + g, d + h)
    }
    spark.createDataFrame(Seq((m.version, m.dirs.size.toLong, bf, bb, ff, fb)))
      .toDF("version", "dirs", "band_files", "band_bytes", "feat_files",
        "feat_bytes")
  }

  /** The streaming gate: per micro-batch, admit novel documents, hand
    * them (with their original payload columns) to `sink`, then persist
    * their signatures. `sink` receives (novel-docs, epochId) and must be
    * idempotent per epoch.
    *
    * Maintenance cadence: `compactEvery = N` folds the store back to one
    * version dir with [[compactStore]] on the
    * [[ManifestStore.compactOnCadence]] trigger — the self-driving
    * answer to the per-batch version accumulation (~8.6k file sets per
    * month of 5-minute batches); `0` disables (the default — callers
    * owning an external maintenance schedule keep it).
    */
  def gate(docs: DataFrame, name: String, checkpointDir: String,
           jaccardNum: Int = 8, jaccardDen: Int = 10, isinChunk: Int = 10000,
           compactEvery: Int = 0)
          (sink: (DataFrame, Long) => Unit): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], epoch: Long) =>
        val b = batch.toDF()
        val spark = b.sparkSession
        val novel = filterNovel(b, name, jaccardNum,
          jaccardDen, isinChunk)
        sink(b.join(novel.select(col("doc_id")), Seq("doc_id"), "left_semi"), epoch)
        ManifestStore.compactOnCadence(spark, storeDir(spark, name),
          compactEvery, appendToStore(novel, name))(
          compactStore(spark, name))
        ()
      }
      .start()
}
