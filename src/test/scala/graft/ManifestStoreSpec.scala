package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{FileStatus, FileSystem, LocalFileSystem, Path}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.ops.RatingsOps
import graft.streaming.{ManifestStore, PreferenceStream}

object ManifestStoreSpec {
  val joined = new ConcurrentLinkedQueue[(Int, String)]()
  val enriched = new ConcurrentLinkedQueue[(Long, String)]()
}

/** The local filesystem, counting LIST calls per directory. Hadoop's
  * `FileSystem.Statistics` for `file` cannot: RawLocalFileSystem counts
  * no read operations.
  */
class ListCountingFileSystem extends LocalFileSystem {
  override def listStatus(f: Path): Array[FileStatus] = {
    ListCountingFileSystem.lists.merge(makeQualified(f).toString, 1L, _ + _)
    super.listStatus(f)
  }
}

object ListCountingFileSystem {
  val lists = new ConcurrentHashMap[String, Long]()
}

/** Transactional dim store: atomic manifest commits, snapshot-pinned
  * readers, tombstones, replay idempotence, compaction, and the
  * reference's live-update probe through the full streaming topology.
  */
class ManifestStoreSpec extends SparkSuite {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("reader pins a committed snapshot; concurrent upserts never tear it") {
    import spark.implicits._
    val dim = (1 to 20).map(i => (i, s"name$i", s"tier${i % 4}"))
      .toDF("id", "name", "tier")

    // a pinned read survives any number of commits
    val mdir = tmp("mstore")
    ManifestStore.seed(dim, mdir)
    val pinned = ManifestStore.read(spark, mdir, "id")
    ManifestStore.upsert(Seq((5, "NEW5", "tierX")).toDF("id", "name", "tier"), mdir)
    ManifestStore.upsert(Seq((7, "NEW7", "tierY")).toDF("id", "name", "tier"), mdir)
    val snap = pinned.collect().map(r => (r.getInt(0), r.getString(1))).toMap
    assert(snap(5) == "name5" && snap(7) == "name7" && snap.size == 20,
      "pinned plan must read the version it pinned, untorn")
    val fresh = ManifestStore.read(spark, mdir, "id")
      .collect().map(r => (r.getInt(0), r.getString(1))).toMap
    assert(fresh(5) == "NEW5" && fresh(7) == "NEW7" && fresh.size == 20)
  }

  test("a maintainer batch lists the store dir once: its commit's manifest feeds the cadence check and the read-back") {
    import spark.implicits._
    val dir = tmp("mstore-lists")
    def batch(e: Long) = PreferenceStream.mergeDpoBatch(
      Seq(("p", 10L + e, 5L), ("p", 20L + e, 1L), ("q", 30L + e, 2L))
        .toDF("prompt_id", "response_id", "score"),
      dir, epoch = e, compactEvery = 100)
    batch(0L).collect() // creates the store
    val conf = spark.sparkContext.hadoopConfiguration
    val saved = Seq("fs.file.impl", "fs.file.impl.disable.cache")
      .map(k => k -> Option(conf.get(k)))
    conf.set("fs.file.impl", classOf[ListCountingFileSystem].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    val key = FileSystem.getLocal(conf).makeQualified(new Path(dir)).toString
    try {
      val lists = (1L to 3L).map { e =>
        val before = ListCountingFileSystem.lists.getOrDefault(key, 0L)
        assert(batch(e).collect().nonEmpty)
        ListCountingFileSystem.lists.getOrDefault(key, 0L) - before
      }
      info(s"store-dir LISTs per batch: ${lists.mkString(", ")}")
      assert(lists == Seq(1L, 1L, 1L))
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("commit race: the second writer of one version fails loudly, never silently overwrites") {
    import spark.implicits._
    val dir = tmp("mstore-race")
    ManifestStore.seed(Seq((1, "a")).toDF("id", "v"), dir)
    // two writers race version 2: the winner's commit sticks
    ManifestStore.commit(spark, dir,
      ManifestStore.Manifest(2L, ManifestStore.latestManifest(spark, dir).get.dirs, ""))
    val loser = intercept[IllegalStateException] {
      ManifestStore.commit(spark, dir, ManifestStore.Manifest(2L, Nil, ""))
    }
    assert(loser.getMessage.contains("commit race"))
    // the winner's manifest content is intact (the loser's Nil list
    // would have emptied the store had rename silently replaced it)
    assert(ManifestStore.latestManifest(spark, dir).get.dirs.nonEmpty)
  }

  test("tombstones delete, re-inserts resurrect, epoch replay is idempotent in effect") {
    import spark.implicits._
    val dir = tmp("mstore-del")
    ManifestStore.seed((1 to 5).map(i => (i, s"v$i")).toDF("id", "v"), dir)
    // delete id=3 via tombstone
    ManifestStore.applyChanges(
      Seq((3, null: String, "d")).toDF("id", "v", "__op"), dir)
    def state(): Map[Int, String] = ManifestStore.read(spark, dir, "id")
      .collect().map(r => (r.getInt(0), r.getString(1))).toMap
    assert(state() == Map(1 -> "v1", 2 -> "v2", 4 -> "v4", 5 -> "v5"))
    // re-insert resurrects
    val reinsert = Seq((3, "v3b")).toDF("id", "v")
    ManifestStore.upsert(reinsert, dir)
    val afterReinsert = state()
    assert(afterReinsert(3) == "v3b" && afterReinsert.size == 5)
    // replaying the same change batch (epoch replay) recommits identical
    // rows: a new version, the same merged view
    val vBefore = ManifestStore.latestManifest(spark, dir).get.version
    ManifestStore.upsert(reinsert, dir)
    assert(state() == afterReinsert)
    assert(ManifestStore.latestManifest(spark, dir).get.version == vBefore + 1)
  }

  test("compact folds history to one dir; vacuum removes unreferenced files; view unchanged") {
    import spark.implicits._
    val dir = tmp("mstore-compact")
    ManifestStore.seed((1 to 10).map(i => (i, i * 10)).toDF("id", "x"), dir)
    (1 to 5).foreach(i => ManifestStore.upsert(Seq((i, i * 100)).toDF("id", "x"), dir))
    ManifestStore.applyChanges(Seq((10, 0, "d")).toDF("id", "x", "__op"), dir)
    val before = rows(ManifestStore.read(spark, dir, "id"))
    ManifestStore.compact(spark, dir, "id")
    assert(ManifestStore.latestManifest(spark, dir).get.dirs.size == 1)
    assert(rows(ManifestStore.read(spark, dir, "id")) == before)
    ManifestStore.vacuum(spark, dir)
    val left = new java.io.File(dir).listFiles().map(_.getName)
    assert(left.count(_.startsWith("d-")) == 1, left.mkString(","))
    assert(left.count(_.startsWith("_manifest")) == 1, left.mkString(","))
    assert(rows(ManifestStore.read(spark, dir, "id")) == before)
  }

  test("vacuum retention floor protects pinned readers; in-flight writer dir is never deleted") {
    import spark.implicits._
    val dir = tmp("mstore-vac")
    ManifestStore.seed((1 to 5).map(i => (i, i)).toDF("id", "x"), dir) // v1
    ManifestStore.upsert(Seq((1, 100)).toDF("id", "x"), dir) // v2
    val pinned = ManifestStore.read(spark, dir, "id") // pins v2 → dirs {d1, d2}
    ManifestStore.compact(spark, dir, "id") // v3 → one fresh dir
    // a racing writer's in-flight dir: version ahead of the committed head
    new java.io.File(dir, "d-9-inflight").mkdirs()
    ManifestStore.vacuum(spark, dir, minVersionsToKeep = 2)
    // floor = v2: its dirs survive, so the pinned reader still evaluates
    assert(pinned.collect().map(r => (r.getInt(0), r.getInt(1))).toMap ==
      Map(1 -> 100, 2 -> 2, 3 -> 3, 4 -> 4, 5 -> 5))
    val kept = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(kept.exists(_.startsWith("d-9-")), s"in-flight dir deleted: $kept")
    // eager vacuum reclaims the pre-compaction dirs — but never the
    // in-flight dir (its version is still ahead of the head)
    ManifestStore.vacuum(spark, dir, minVersionsToKeep = 1)
    val after = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(after.exists(_.startsWith("d-9-")), s"in-flight dir deleted: $after")
    assert(after.count(n => n.startsWith("d-") && !n.startsWith("d-9-")) == 1,
      after.mkString(","))
    assert(after.count(_.startsWith("_manifest")) == 1, after.mkString(","))
    assert(ManifestStore.read(spark, dir, "id").count() == 5)
    intercept[IllegalArgumentException] {
      ManifestStore.vacuum(spark, dir, minVersionsToKeep = 0)
    }
  }

  test("CDC envelopes drive the transactional store: upserts, tombstones, same-ms ordering, one commit per batch") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val dir = tmp("mstore-cdc")
    ManifestStore.seed(customersDf, dir) // ids 1..20

    val ms = MemoryStream[CdcCust]
    val after = struct(col("id"), col("first_name"), col("last_name"),
      col("email"), col("club_status"))
    val envelopes = ms.toDF().select(struct(
      lit(null).cast(customersDf.schema).as("before"),
      after.as("after"), col("op"), col("ts_ms")).as("value"))
    val q = ManifestStore.maintainCdc(envelopes, col("value"), "id", dir,
      tmp("ck-cdc"))
    def state() = ManifestStore.read(spark, dir, "id")
    try {
      // update #1 and tombstone #2 in ONE batch → one atomic commit
      val v0 = ManifestStore.latestManifest(spark, dir).get.version
      ms.addData(
        CdcCust("u", 1, "Rick", "Astley", "r@x.test", "platinum", 100L),
        CdcCust("d", 2, "Gone", "Gone", "g@x.test", "gold", 101L))
      q.processAllAvailable()
      assert(ManifestStore.latestManifest(spark, dir).get.version == v0 + 1)
      assert(state().count() == 19)
      assert(state().filter(col("id") === 1).select("first_name")
        .collect().head.getString(0) == "Rick")
      assert(state().filter(col("id") === 2).isEmpty)
      assert(state().filter(col("id") === 3).count() == 1) // untouched key
      // re-insert resurrects the key
      ms.addData(CdcCust("c", 2, "Back", "Again", "b@x.test", "gold", 102L))
      q.processAllAvailable()
      assert(state().count() == 20)
      assert(state().filter(col("id") === 2).select("first_name")
        .collect().head.getString(0) == "Back")
      // in-batch update-then-delete of one key resolves by latest ts
      ms.addData(
        CdcCust("u", 4, "Short", "Lived", "s@x.test", "gold", 103L),
        CdcCust("d", 4, "Short", "Lived", "s@x.test", "gold", 104L))
      q.processAllAvailable()
      assert(state().filter(col("id") === 4).isEmpty)
      // same-millisecond update-then-delete: arrival order wins
      ms.addData(
        CdcCust("u", 5, "Same", "Milli", "m@x.test", "gold", 200L),
        CdcCust("d", 5, "Same", "Milli", "m@x.test", "gold", 200L))
      q.processAllAvailable()
      assert(state().filter(col("id") === 5).isEmpty)
      // epoch replay: re-applying the same upsert leaves the view unchanged
      val before = rows(state())
      ManifestStore.upsert(
        Seq(("Back", "Again", "b@x.test", "gold", 2))
          .toDF("first_name", "last_name", "email", "club_status", "id"),
        dir)
      assert(rows(state()) == before)
    } finally q.stop()
  }

  test("maintain with compactEvery folds merge-on-read history; merged view and vacuum floor intact") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val dir = tmp("mstore-cad")
    ManifestStore.seed(
      Seq((1, "bronze"), (2, "silver")).toDF("id", "tier"), dir)
    val ms = MemoryStream[(Int, String, java.sql.Timestamp)]
    val q = ManifestStore.maintain(
      ms.toDF().toDF("id", "tier", "uts"), "id", "uts", dir, tmp("ck-cad"),
      compactEvery = 3)
    try {
      val sizes = (1 to 8).map { i =>
        ms.addData((1, s"t$i", ts(s"2024-01-01 10:00:0$i")))
        q.processAllAvailable()
        ManifestStore.latestManifest(spark, dir).get.dirs.size
      }
      assert(sizes.max <= 3, s"cadence failed to bound history: $sizes")
      assert(sizes.min == 1, s"compaction never folded the store: $sizes")
    } finally q.stop()
    // the merged latest-by-key view is exactly what uncompacted
    // merge-on-read would produce
    val st = ManifestStore.read(spark, dir, "id").collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(st == Map(1 -> "t8", 2 -> "silver"), st.toString)
    // vacuum (retention floor 2) reclaimed the folded dirs
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val nDirs = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath.getName).count(_.startsWith("d-"))
    assert(nDirs <= 5, s"vacuum left $nDirs version dirs")
  }

  test("streaming topology: maintain + joinEachBatch see committed dim updates batch over batch") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    ManifestStoreSpec.joined.clear()
    val dimDir = tmp("mstore-dim")
    ManifestStore.seed(
      Seq((1, "bronze"), (2, "platinum")).toDF("id", "tier"), dimDir)

    val dimMs = MemoryStream[(Int, String, java.sql.Timestamp)]
    val maintainQ = ManifestStore.maintain(
      dimMs.toDF().toDF("id", "tier", "uts"), "id", "uts", dimDir, tmp("ck-m"))

    val factMs = MemoryStream[(Long, Int)]
    val joinQ = ManifestStore.joinEachBatch(
      factMs.toDF().toDF("fact_id", "id"), dimDir, "id", tmp("ck-j"),
      (facts, dim) => facts.join(broadcast(dim), "id")) { (out, _) =>
      out.select("fact_id", "tier").collect()
        .foreach(r => ManifestStoreSpec.joined.add((r.getLong(0).toInt, r.getString(1))))
    }
    try {
      factMs.addData((100L, 1))
      joinQ.processAllAvailable()
      assert(ManifestStoreSpec.joined.asScala.toSet == Set((100, "bronze")))
      // live dim update commits a new version; the NEXT fact batch joins it
      dimMs.addData((1, "gold", ts("2024-01-01 10:00:00")))
      maintainQ.processAllAvailable()
      factMs.addData((101L, 1))
      joinQ.processAllAvailable()
      assert(ManifestStoreSpec.joined.asScala.toSet ==
        Set((100, "bronze"), (101, "gold")))
    } finally { joinQ.stop(); maintainQ.stop() }

    // the reference's probe (README.md:201–210) through RatingsOps.enrich:
    // customer 42, Rica Blaisdell, is UPDATEd to Rick Astley through the
    // changelog stream, and the next rating joins the new name
    ManifestStoreSpec.enriched.clear()
    val custDir = tmp("mstore-cust")
    def cv(id: Int, fn: String, ln: String, at: String) =
      CustDimVersion(id, fn, ln, s"c$id@example.test", "platinum", ts(at))
    ManifestStore.seed(
      Seq(cv(42, "Rica", "Blaisdell", "2024-01-01 00:00:00"),
        cv(7, "Seven", "Of9", "2024-01-01 00:00:00")).toDF(), custDir)
    val custMs = MemoryStream[CustDimVersion]
    val custQ = ManifestStore.maintain(
      custMs.toDF(), "id", "ts", custDir, tmp("ck-cust"))
    val ratingsMs = MemoryStream[Rating]
    val enrichQ = ManifestStore.joinEachBatch(
      ratingsMs.toDF(), custDir, "id", tmp("ck-enrich"),
      (facts, dim) => RatingsOps.enrich(facts, dim)) { (out, _) =>
      out.select("RATING_ID", "FULL_NAME").collect()
        .foreach(r => ManifestStoreSpec.enriched.add((r.getLong(0), r.getString(1))))
    }
    try {
      ratingsMs.addData(Rating(100, 42, 1.0, "ios", "meh", ts("2024-01-01 10:00:00")))
      enrichQ.processAllAvailable()
      custMs.addData(cv(42, "Rick", "Astley", "2024-01-01 12:00:00"))
      custQ.processAllAvailable()
      ratingsMs.addData(Rating(101, 42, 2.0, "ios", "still meh", ts("2024-01-01 10:01:00")))
      enrichQ.processAllAvailable()
      // a key the update did not touch survives it
      ratingsMs.addData(Rating(102, 7, 5.0, "web", "hi", ts("2024-01-01 10:02:00")))
      enrichQ.processAllAvailable()
      val seen = ManifestStoreSpec.enriched.asScala.toMap
      assert(seen == Map(100L -> "Rica Blaisdell", 101L -> "Rick Astley",
        102L -> "Seven Of9"), seen)
    } finally { enrichQ.stop(); custQ.stop() }
  }
}

final case class CdcCust(op: String, id: Int, first_name: String,
                         last_name: String, email: String,
                         club_status: String, ts_ms: Long)

final case class CustDimVersion(id: Int, first_name: String, last_name: String,
                                email: String, club_status: String,
                                ts: java.sql.Timestamp)
