package graft.streaming

import java.nio.charset.StandardCharsets
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.tables.LatestByKey

/** The engine's one versioned store. The dim-store seams ([[maintain]] /
  * [[maintainCdc]] / [[joinEachBatch]]: a ksqlDB TABLE fed by a change
  * stream and joined live into an enrichment query, the reference's
  * signature probe — UPDATE a customer and the running join sees it on
  * its next batch, README.md:201–210) and every derived store
  * (PreferenceStream, EventFeatureStream, CurationStream, the
  * [[IngestDedupGate]] signature store) commit through it. Same idea
  * Delta/Iceberg commit logs are built on, reduced to the piece those
  * seams need:
  *
  *  - data lives in IMMUTABLE version directories `d-<v>-<uuid>/`; a
  *    committed file is never modified or deleted by a writer;
  *  - [[commitVersion]] is the one place a version is allocated, its dir
  *    named and its manifest published; each commit writes
  *    `_manifest.<v>.txt` (the full list of live version dirs) to a temp
  *    name and atomically PUBLISHES it — create-if-absent rename on
  *    HDFS-semantics filesystems, hard link on POSIX ones (where
  *    rename(2) would silently replace a racing winner); a half-written
  *    manifest is invisible because it only exists under the temp name;
  *  - readers pin the highest committed manifest at plan time and read
  *    exactly its files — a concurrent upsert commits a NEW version and
  *    never perturbs the pinned one (snapshot isolation for the
  *    micro-batch join; a raw-parquet dynamic partition overwrite, by
  *    contrast, deletes files a pinned listing still names);
  *  - merge-on-read: each version dir holds at most one row per key
  *    (the LatestByKey contract); the read view keeps each key's row
  *    from the highest version and drops tombstones (`__op = 'd'`).
  *    [[compact]] folds history into one dir; [[vacuum]] removes
  *    unreferenced dirs afterwards (like Delta VACUUM with a retention
  *    knob: `minVersionsToKeep` manifests stay readable for pinned
  *    readers, and a dir whose version is ahead of the latest commit is
  *    treated as the single writer's in-flight commit and never
  *    deleted); [[compactOnCadence]] is every maintainer's one trigger
  *    for the two.
  *
  * Single-writer (one maintaining stream), many-reader — the dim-store
  * topology. A concurrent second writer loses the manifest rename race
  * and gets an error, not silent corruption.
  */
object ManifestStore {

  /** One committed version: its live dirs and the layout the store was
    * written with (empty for a store without one). A store whose rows
    * are only meaningful under fixed constants — the [[IngestDedupGate]]
    * signature store's band layout — records them here, and every
    * commit and open checks them ([[requireLayout]]).
    */
  final case class Manifest(version: Long, dirs: Seq[(Long, String)], layout: String)

  private val LayoutLine = "layout\t"

  private val ManifestName = """_manifest\.(\d+)\.txt""".r

  private def hfs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** All committed manifest versions under `dir` (empty if none). */
  private def manifestVersions(spark: SparkSession, dir: String): Seq[Long] = {
    val fs = hfs(spark, dir)
    val base = new Path(dir)
    if (!fs.exists(base)) Nil
    else fs.listStatus(base).map(_.getPath.getName)
      .collect { case ManifestName(v) => v.toLong }.toSeq
  }

  /** Read one committed manifest by version. */
  private def readManifest(spark: SparkSession, dir: String, v: Long): Manifest = {
    val fs = hfs(spark, dir)
    val in = fs.open(new Path(new Path(dir), s"_manifest.$v.txt"))
    val content = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    val (layout, dirLines) = content.linesIterator.filter(_.nonEmpty).toSeq
      .partition(_.startsWith(LayoutLine))
    val dirs = dirLines.map { line =>
      val Array(fv, rel) = line.split("\t", 2)
      (fv.toLong, rel)
    }
    Manifest(v, dirs, layout.headOption.fold("")(_.stripPrefix(LayoutLine)))
  }

  /** `m`, the manifest of the store under `dir`, if it records `layout`;
    * otherwise fails naming both layouts — rows written under another
    * layout would be read as if written under this one.
    */
  private[streaming] def requireLayout(m: Manifest, dir: String, layout: String): Manifest = {
    if (m.layout != layout) throw new IllegalStateException(
      s"store under $dir was written with layout [${m.layout}], " +
        s"but this build reads and writes layout [$layout]")
    m
  }

  /** The highest committed manifest, if any commit ever happened. */
  def latestManifest(spark: SparkSession, dir: String): Option[Manifest] = {
    val versions = manifestVersions(spark, dir)
    if (versions.isEmpty) None
    else Some(readManifest(spark, dir, versions.max))
  }

  /** Publish manifest `m`, failing if its version is already committed.
    * Only [[commitVersion]] calls it; it is package-visible so a spec
    * can drive the two-writer race directly.
    */
  private[graft] def commit(spark: SparkSession, dir: String, m: Manifest): Unit = {
    val fs = hfs(spark, dir)
    val body = (Some(m.layout).filter(_.nonEmpty).map(LayoutLine + _) ++
      m.dirs.map { case (v, rel) => s"$v\t$rel" }).mkString("\n")
    val tmp = new Path(dir, s"_manifest.${m.version}.txt.tmp-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, false)
    try out.write(body.getBytes(StandardCharsets.UTF_8)) finally out.close()
    val target = new Path(dir, s"_manifest.${m.version}.txt")
    // Publish atomically, create-if-absent. HDFS rename has exactly that
    // semantic (fails when the destination exists). POSIX rename(2) does
    // NOT — it silently REPLACES the destination, so on local
    // filesystems a racing second writer would overwrite the first
    // commit and drop its version from every future read. There,
    // publish via hard LINK instead: link(2) atomically fails with
    // EEXIST when the target is already present.
    val isLocal = fs.getScheme == "file"
    val won =
      if (isLocal) {
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(target.toUri.getPath),
            java.nio.file.Paths.get(tmp.toUri.getPath))
          fs.delete(tmp, false)
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
        }
      } else fs.rename(tmp, target)
    if (!won) {
      fs.delete(tmp, false)
      throw new IllegalStateException(
        s"manifest commit race: version ${m.version} already committed under $dir")
    }
  }

  /** Version dir names are `d-<version>-<uuid8>`: [[commitVersion]]
    * writes them, [[vacuum]] parses the version back for its in-flight
    * guard.
    */
  private val DataDirName = """d-(\d+)-.*""".r

  /** The store's one version commit. Allocates version head + 1 and its
    * immutable dir, lets `write(head, path)` fill the dir, then publishes
    * the manifest: the head's dirs plus the new one, or — `replace`, a
    * compaction — the new dir alone. The dir is written BEFORE any
    * manifest names it, so a crash in between leaves an unreferenced
    * dir no reader sees (and [[vacuum]] spares while its version is
    * ahead of the head). With no commit yet the head is version 0 with
    * no dirs, and a `replace` is a no-op. The manifest records `layout`,
    * and a head written under another layout fails the commit
    * ([[requireLayout]]) before anything is written. Returns the head after the
    * call — the committed manifest — so the single writer's cadence
    * check and read-back need not list the store again.
    */
  private[streaming] def commitVersion(spark: SparkSession, dir: String,
                                       replace: Boolean, layout: String)
                                      (write: (Manifest, String) => Unit): Manifest = {
    val head = latestManifest(spark, dir).map(requireLayout(_, dir, layout))
    val m0 = head.getOrElse(Manifest(0L, Nil, layout))
    if (replace && head.isEmpty) m0
    else {
      val v = m0.version + 1
      val rel = s"d-$v-${java.util.UUID.randomUUID().toString.take(8)}"
      write(m0, s"$dir/$rel")
      val m = Manifest(v, (if (replace) Nil else m0.dirs) :+ (v -> rel), layout)
      commit(spark, dir, m)
      m
    }
  }

  /** Commit one change batch as a new version. `latest` must carry at
    * most one row per key (the [[LatestByKey]] contract) and an `__op`
    * column ('d' rows are tombstones, anything else upserts); plain
    * upsert batches go through [[upsert]], which adds `__op = 'u'`.
    * Returns the committed manifest.
    */
  def applyChanges(latest: DataFrame, dir: String): Manifest = {
    require(latest.columns.contains("__op"),
      "applyChanges needs an __op column; use upsert() for plain upserts")
    commitVersion(latest.sparkSession, dir, replace = false, layout = "") { (_, path) =>
      latest.write.parquet(path)
    }
  }

  /** Upsert-only change batch (no tombstones); the first one creates the
    * store. Returns the committed manifest.
    */
  def upsert(latest: DataFrame, dir: String): Manifest =
    applyChanges(latest.withColumn("__op", lit("u")), dir)

  /** Seed the store with its initial table state as version 1. */
  def seed(initial: DataFrame, dir: String): Unit = {
    require(latestManifest(initial.sparkSession, dir).isEmpty,
      s"store under $dir already has committed versions")
    upsert(initial, dir)
  }

  /** The current merged view: pins the highest committed manifest at
    * plan time, keeps each key's highest-version row, drops tombstones.
    * A concurrent commit never tears this plan — its files are
    * immutable and stay on disk until [[vacuum]].
    */
  def read(spark: SparkSession, dir: String, key: String): DataFrame =
    readWherePruned(spark, dir, head(spark, dir), key, identity)

  /** The highest committed manifest; fails if the store has none. */
  private def head(spark: SparkSession, dir: String): Manifest =
    latestManifest(spark, dir).getOrElse(
      throw new IllegalStateException(s"no committed version under $dir — seed() first"))

  /** The merged view of manifest `m` (the store's single writer reads
    * back the head its own commit returned) with a predicate applied
    * BELOW the latest-version window, directly on the version-dir
    * parquet scans — the pruned read a per-batch consumer needs
    * (scanning and window-sorting the whole store to look at a batch's
    * keys would make batch cost grow with store size). ONLY safe when
    * `pred` is functionally determined by the row key — every version
    * of a key row satisfies it or none
    * (e.g. a predicate on the key itself, or on an immutable attribute
    * the key embeds); a predicate on a MUTABLE column would instead
    * resurrect an older version of a row whose latest version fails it.
    */
  def readWhere(spark: SparkSession, dir: String, m: Manifest, key: String,
                pred: Column): DataFrame =
    readWherePruned(spark, dir, m, key, _.filter(pred))

  /** [[readWhere]] generalized to a scan-level PRUNING FUNCTION: `prune`
    * is applied to the unioned version-dir scans BELOW the
    * latest-version window, so a chunked-IN union
    * ([[IngestDedupGate.prunedByKeys]]) reaches the parquet row-group
    * stats of every version dir — the store's own pruning law for
    * batch read-backs whose key list is too wide for one IN expression.
    * The same key-determinism caveat as [[readWhere]] applies: `prune`
    * must keep or drop ALL versions of a key's rows together.
    */
  def readWherePruned(spark: SparkSession, dir: String, m: Manifest,
                      key: String, prune: DataFrame => DataFrame): DataFrame = {
    // allowMissingColumns: version dirs may differ in columns (e.g. a
    // maintain stream carrying its version-ts column over a seed that
    // lacked it) — absent columns read as null, dim-store schema drift
    val all = m.dirs.map { case (v, rel) =>
      graft.core.Parquet.readImmutable(spark, s"$dir/$rel").withColumn("__v", lit(v))
    }.reduce(_.unionByName(_, allowMissingColumns = true))
    val w = Window.partitionBy(col(key)).orderBy(col("__v").desc)
    prune(all).withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .filter(col("__op") =!= "d")
      .drop("__v", "__rn", "__op")
  }

  /** Fold merge-on-read history into a single version dir (read cost
    * back to one file set). Old dirs stay on disk for pinned readers
    * until [[vacuum]]. Returns the committed manifest.
    */
  def compact(spark: SparkSession, dir: String, key: String): Manifest =
    commitVersion(spark, dir, replace = true, layout = "") { (m0, path) =>
      readWherePruned(spark, dir, m0, key, identity).withColumn("__op", lit("u"))
        .write.parquet(path)
    }

  /** Delete data dirs and manifests referenced by none of the newest
    * `minVersionsToKeep` committed manifests. Two safety rules:
    *
    *  - RETENTION FLOOR: a reader pins the manifest current at its plan
    *    time, so dirs referenced by any of the kept manifests survive —
    *    `minVersionsToKeep` is the pinned-reader grace window in
    *    versions (keep ≥ 2 means "a reader one commit behind never
    *    loses its files"). The floor is a hard guard, not advice:
    *    vacuum(1) is the only setting that reclaims eagerly, and then
    *    only a quiesced-reader cadence makes it safe.
    *  - IN-FLIGHT WRITER: [[commitVersion]] writes its version dir
    *    BEFORE committing the manifest, so a dir whose encoded version
    *    exceeds the latest committed version may be a commit in flight —
    *    never deleted (a vacuum racing the single writer would
    *    otherwise delete the fresh dir and the subsequent commit would
    *    publish a manifest pointing at nothing, breaking every future
    *    read). A CRASHED commit's orphan dir is reclaimed one commit
    *    later, when its version is no longer in the future.
    */
  def vacuum(spark: SparkSession, dir: String,
             minVersionsToKeep: Int = 1): Unit = {
    require(minVersionsToKeep >= 1, "must keep at least the latest version")
    val fs = hfs(spark, dir)
    latestManifest(spark, dir).foreach { m =>
      val floor = m.version - (minVersionsToKeep - 1)
      val live = manifestVersions(spark, dir).filter(_ >= floor)
        .flatMap(v => readManifest(spark, dir, v).dirs.map(_._2)).toSet
      fs.listStatus(new Path(dir)).foreach { st =>
        val n = st.getPath.getName
        val staleData = st.isDirectory && !live.contains(n) && (n match {
          case DataDirName(v) => v.toLong <= m.version // never the in-flight dir
          case _ => false
        })
        val staleManifest =
          ManifestName.findFirstMatchIn(n).exists(_.group(1).toLong < floor)
        if (staleData || staleManifest) fs.delete(st.getPath, true)
      }
    }
  }

  /** Retention floor of [[compactOnCadence]]'s vacuum: a reader pinned
    * one commit behind — a [[joinEachBatch]] micro-batch, a store probe
    * such as [[IngestDedupGate.storeStats]] — never loses its files
    * mid-scan; the folded dirs go at the next cadence hit instead.
    */
  private val CadenceKeep = 2

  /** Every store maintainer's one compaction cadence: once `head`, the
    * manifest the maintainer's batch just committed, references
    * ≥ `compactEvery` dirs (`0` = never), run `fold` (the store's
    * compaction onto one dir — [[compact]] for a merge-on-read store)
    * and then [[vacuum]] past [[CadenceKeep]]. Returns the head after
    * the call: `fold`'s commit, or `head` when the cadence did not fire.
    * Counting DIRS rather than batches makes it restart-safe: a resumed
    * query sees the store as it is, not a counter that died with the
    * previous driver. Callers run it AFTER their batch's own commit, so
    * a crash mid-compaction leaves the just-committed data visible.
    * Without it a long-lived maintainer accumulates one version dir per
    * batch forever.
    */
  private[streaming] def compactOnCadence(spark: SparkSession, dir: String,
                                          compactEvery: Int, head: Manifest)
                                         (fold: => Manifest): Manifest =
    if (compactEvery > 0 && head.dirs.size >= compactEvery) {
      val folded = fold
      vacuum(spark, dir, CadenceKeep)
      folded
    } else head

  /** Maintain the store as the latest-by-key view of a version stream.
    * Update-mode changelog: each micro-batch commits only the keys whose
    * latest value changed. Epoch replay recommits identical rows as a
    * new version: the merged view is unchanged (idempotent in effect).
    * `compactEvery` is the [[compactOnCadence]] trigger.
    */
  def maintain(versions: DataFrame, key: String, ts: String, dir: String,
               checkpointDir: String,
               compactEvery: Int = 0): StreamingQuery =
    LatestByKey.streaming(versions, key, ts, tiebreak = Nil)
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          compactOnCadence(spark, dir, compactEvery, upsert(batch.toDF(), dir))(
            compact(spark, dir, key))
        }
        ()
      }
      .start()

  /** Flatten a batch of Debezium-shaped envelopes to each key's LATEST
    * change row (`__op`, `__ts`, `__seq` + the row columns). `__seq`
    * preserves ARRIVAL order as the equal-ts tiebreak: ts_ms is
    * millisecond-granular, so an update-then-delete of one key in the
    * same millisecond is routine — the later log event must win (an
    * op-string tiebreak would keep 'u' over 'd' and leak the row
    * forever). monotonically_increasing_id is ordered within each input
    * partition, and a keyed source (Kafka) delivers one key's events
    * through one partition in order.
    */
  private def cdcLatest(batch: DataFrame, envelope: Column,
                        keyField: String): DataFrame = {
    val flat = batch.select(envelope.alias("__env"))
      .select(col("__env.op").as("__op"), col("__env.ts_ms").as("__ts"),
        coalesce(col("__env.after"), col("__env.before")).as("__row"))
      .select(col("__op"), col("__ts"), col("__row.*"))
      .withColumn("__seq", monotonically_increasing_id())
    LatestByKey.batch(flat, keyField, "__ts", "__seq")
  }

  /** Maintain the store from a stream of Debezium-shaped CDC envelopes
    * (`{before, after, op, ts_ms}` in `envelope`) — complete ksqlDB-table
    * semantics: creates/updates/snapshot-reads upsert the key, DELETES
    * (op 'd', the tombstone path ksqlDB drops table rows on) land as
    * tombstone rows (`__op = 'd'`) in the committed version. Per batch
    * only each key's latest change applies ([[cdcLatest]]: arrival-order
    * tiebreak on equal ts), so an update+delete of one key in one batch
    * resolves deterministically; a later re-insert resurrects the key.
    * One atomic commit covers the whole batch, upserts and deletes
    * together.
    */
  def maintainCdc(envelopes: DataFrame, envelope: Column,
                  keyField: String, dir: String, checkpointDir: String,
                  compactEvery: Int = 0): StreamingQuery =
    envelopes.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        // probe the RAW batch for emptiness — probing the aggregated
        // frame would run the flatten+groupBy once for the probe and
        // again for the commit write
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          val head = applyChanges(
            cdcLatest(batch.toDF(), envelope, keyField).drop("__ts", "__seq"),
            dir)
          compactOnCadence(spark, dir, compactEvery, head)(
            compact(spark, dir, keyField))
        }
        ()
      }
      .start()

  /** Enrich a fact stream against the CURRENT committed dim state:
    * `foreachBatch` re-reads the store per micro-batch, so an update
    * committed by [[maintain]] is visible to the very next batch of
    * facts (a stream-static join would pin the file listing captured at
    * plan time). Each micro-batch pins one committed version for its
    * whole join, so a concurrent upsert can neither tear the read nor
    * leak a partial batch into it. `join` receives (facts-batch,
    * current-dim); `sink` receives (joined, epochId) and must be
    * idempotent on epoch replay.
    */
  def joinEachBatch(stream: DataFrame, dimDir: String, key: String,
                    checkpointDir: String,
                    join: (DataFrame, DataFrame) => DataFrame)
                   (sink: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], epoch: Long) =>
        val dim = read(batch.sparkSession, dimDir, key)
        sink(join(batch.toDF(), dim), epoch)
      }
      .start()
}
