package graft

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.SwapTable
import graft.streaming.DriftMonitor

/** The streaming corpus-drift monitor: a quiet stream accumulates
  * nothing, a SUSTAINED shift (each batch individually within one
  * slack-and-a-bit of baseline) accumulates to an alarm, replayed
  * epochs are marker-skipped (CUSUM is a sum — not redelivery-
  * idempotent), and the scratch-swap recovers from its crash window.
  */
class DriftMonitorSpec extends SparkSuite {
  import spark.implicits._

  // quality ≥ 3 by construction: 14 tokens, stopwords, sane shape
  private def good(i: Long): (Long, String) =
    (i, s"the quick brown fox jumps over a lazy dog near the old barn w$i")
  // quality < 3 and short: 1 opaque token
  private def bad(i: Long): (Long, String) = (i, "zz")

  private def mix(nGood: Int, nBad: Int, base: Long): DataFrame =
    ((0 until nGood).map(i => good(base + i)) ++
      (0 until nBad).map(i => bad(base + 1000 + i)))
      .toDF("doc_id", "text")

  test("drift monitor: quiet → quiet, sustained shift accumulates to alarm, replay skipped, swap recovers") {
    val name = "t_drift_mon"
    // baseline: 80% good → quality_rate 8000, short_doc_rate 2000
    DriftMonitor.writeProfile(mix(80, 20, 0L), name)
    val prof = spark.table(DriftMonitor.profileTable(name)).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(prof("quality_rate") == 8000L, prof)
    assert(prof("short_doc_rate") == 2000L, prof)
    assert(prof("null_text_rate") == 0L, prof)

    val events = new ConcurrentLinkedQueue[DriftMonitor.DriftEvent]()
    val srcDir = java.nio.file.Files.createTempDirectory("drift-src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("drift-ckpt").toString
    val docsSchema = mix(1, 0, 0L).schema
    def start(ck: String = ckpt) = DriftMonitor.maintain(
      spark.readStream.schema(docsSchema).parquet(srcDir), name, ck,
      slack = 200L, threshold = 2000L, onBatch = events.add(_))
    def feed(df: DataFrame): Unit =
      df.write.mode("append").parquet(srcDir)

    // batch 0: on-profile mix → deviations 0, nothing accumulates
    feed(mix(40, 10, 100L))
    val q0 = start(); q0.processAllAvailable(); q0.stop()
    // batches 1–3: sustained mild shift (quality 8000 → 7000, short
    // 2000 → 3000): each batch adds 800 past slack; threshold 2000
    // crosses on the THIRD shifted batch, not before
    feed(mix(35, 15, 200L))
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    feed(mix(35, 15, 300L))
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    feed(mix(35, 15, 400L))
    val q3 = start(); q3.processAllAvailable(); q3.stop()

    val evs = events.asScala.toSeq
    assert(evs.map(_.action) == Seq.fill(4)("merged"), evs)
    assert(evs(0).alarms.isEmpty && evs(1).alarms.isEmpty &&
      evs(2).alarms.isEmpty, evs)
    assert(evs(3).alarms == Seq("quality_rate", "short_doc_rate"), evs)

    val st = DriftMonitor.currentState(spark, name, threshold = 2000L)
      .collect().map(r => r.getString(0) -> r).toMap
    val qr = st("quality_rate")
    assert(qr.getLong(qr.fieldIndex("s_dn")) == 2400L, qr)
    assert(qr.getLong(qr.fieldIndex("s_up")) == 0L, qr)
    assert(qr.getBoolean(qr.fieldIndex("alarmed")), qr)
    assert(qr.getLong(qr.fieldIndex("n_batches")) == 4L, qr)
    val sr = st("short_doc_rate")
    assert(sr.getLong(sr.fieldIndex("s_up")) == 2400L, sr)
    assert(sr.getBoolean(sr.fieldIndex("alarmed")), sr)
    val nr = st("null_text_rate")
    assert(!nr.getBoolean(nr.fieldIndex("alarmed")), nr)

    // the PURE batch replay folds to exactly the streamed state
    // (stream ≡ cusumTrajectory on the same ordered batches)
    val traj = DriftMonitor.cusumTrajectory(
      Seq(mix(40, 10, 100L), mix(35, 15, 200L), mix(35, 15, 300L),
        mix(35, 15, 400L)),
      spark.table(DriftMonitor.profileTable(name))
        .select(col("metric"), col("mu")))
      .filter(col("batch_idx") === 3L).collect()
      .map(r => r.getString(1) -> (r.getLong(3), r.getLong(4))).toMap
    assert(traj("quality_rate") == (0L, 2400L), traj)
    assert(traj("short_doc_rate") == (2400L, 0L), traj)
    assert(traj("null_text_rate") == (0L, 0L), traj)

    // carry-forward through an ABSENT metric: an all-null batch emits
    // no quality/short rows (no signal ≠ zero), but their CUSUM state
    // survives it and resumes at the next present batch
    val nullBatch = Seq((9000L, null.asInstanceOf[String]),
      (9001L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val traj2 = DriftMonitor.cusumTrajectory(
      Seq(mix(35, 15, 500L), nullBatch, mix(35, 15, 600L)),
      spark.table(DriftMonitor.profileTable(name))
        .select(col("metric"), col("mu"))).collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(3), r.getLong(4))).toMap
    assert(traj2((0L, "quality_rate"))._2 == 800L, traj2)
    assert(!traj2.contains((1L, "quality_rate")), traj2)
    assert(traj2((1L, "null_text_rate"))._1 == 9800L, traj2)
    assert(traj2((2L, "quality_rate"))._2 == 1600L, traj2)
    assert(traj2((2L, "null_text_rate"))._1 == 9600L, traj2)

    // PER-DOMAIN: a one-domain collapse is invisible to the global
    // fold (1/2 of the shift lands under slack here) but pages that
    // domain's own CUSUM at full strength; the steady domain stays
    // quiet; a domain absent from the profile doesn't participate
    def dom(src: String, nGood: Int, nBad: Int, base: Long) =
      (mix(nGood, nBad, base).withColumn("source", lit(src)))
    val profBy = Seq(
      ("a", "quality_rate", 8000L), ("a", "null_text_rate", 0L),
      ("a", "short_doc_rate", 2000L),
      ("b", "quality_rate", 8000L), ("b", "null_text_rate", 0L),
      ("b", "short_doc_rate", 2000L))
      .toDF("source", "metric", "mu")
    // batch 0: both on-profile; batch 1: domain b collapses to 40%
    // good while a holds — b pages 8000−4000−200 = 3800, a stays 0
    val byBatches = Seq(
      dom("a", 40, 10, 700L).union(dom("b", 40, 10, 800L)),
      dom("a", 40, 10, 900L).union(dom("b", 20, 30, 1000L)))
    val byTraj = DriftMonitor.cusumTrajectoryBy(byBatches, profBy)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)) ->
        (r.getLong(4), r.getLong(5))).toMap
    assert(byTraj((1L, "b", "quality_rate"))._2 == 3800L, byTraj)
    assert(byTraj((1L, "a", "quality_rate"))._2 == 0L, byTraj)
    assert(byTraj((0L, "b", "quality_rate")) == (0L, 0L), byTraj)
    // the unprofiled domain emits nothing
    val cOnly = DriftMonitor.cusumTrajectoryBy(
      Seq(dom("c", 10, 0, 1100L)), profBy).count()
    assert(cOnly == 0L, s"unprofiled domain must not emit: $cOnly")
    // metricsBy ≡ metrics per slice (shared law, resolved per group)
    val oneBatch = byBatches(1)
    val byRows = DriftMonitor.metricsBy(oneBatch).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val bSlice = DriftMonitor.metrics(
        oneBatch.filter(col("source") === "b")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bSlice.forall { case (m, x) => byRows(("b", m)) == x },
      s"$byRows vs $bSlice")

    // marker compaction: four applied epochs leave ONE high-water
    // marker row (state size is lifetime-independent), at epoch 3
    val markers = spark.table(DriftMonitor.stateTable(name))
      .filter(col("kind") === "e").select("epoch")
      .collect().map(_.getLong(0)).toSeq
    assert(markers == Seq(3L), markers)

    // REDELIVERY: fresh checkpoint re-batches history as epoch 0 —
    // below the high water, so it reads as STALE (outside the
    // lineage) and is skipped; no CUSUM moves (a sum WOULD
    // double-count)
    val before = spark.table(DriftMonitor.stateTable(name))
      .collect().map(_.toSeq).toSet
    val ck2 = java.nio.file.Files.createTempDirectory("drift-ck2").toString
    val q4 = start(ck2); q4.processAllAvailable(); q4.stop()
    assert(events.asScala.toSeq.map(_.action).contains("skipped_stale"),
      events.asScala.toSeq.toString)
    assert(spark.table(DriftMonitor.stateTable(name))
      .collect().map(_.toSeq).toSet == before,
      "replayed epoch must move no state")

    // interrupted swap: crash landed between DROP and RENAME
    val live = DriftMonitor.stateTable(name)
    spark.sql(s"ALTER TABLE $live RENAME TO ${live}__merge")
    assert(SwapTable.recover(spark, live))
    assert(spark.table(live).collect().map(_.toSeq).toSet == before)
    assert(!SwapTable.recover(spark, live))

    // no profile → loud failure, not a silently unmonitored stream
    intercept[IllegalArgumentException] {
      DriftMonitor.maintain(
        spark.readStream.schema(docsSchema).parquet(srcDir),
        "t_drift_unprofiled", ckpt)
    }
  }

  test("per-domain streaming monitor: one domain's collapse pages its own CUSUM, carry-forward, replay, state ≡ pure fold") {
    import org.apache.spark.sql.DataFrame
    def dom(src: String, nGood: Int, nBad: Int, base: Long): DataFrame =
      mix(nGood, nBad, base).withColumn("source", lit(src))
    val name = "t_drift_mon_by"
    DriftMonitor.writeProfileBy(
      dom("a", 80, 20, 20000L).union(dom("b", 80, 20, 21000L)), name)
    val events = new ConcurrentLinkedQueue[DriftMonitor.DriftEvent]()
    val srcDir = java.nio.file.Files.createTempDirectory("dby-src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("dby-ckpt").toString
    val schema = dom("a", 1, 0, 0L).schema
    def start(ck: String = ckpt) = DriftMonitor.maintainBy(
      spark.readStream.schema(schema).parquet(srcDir), name, ck,
      slack = 200L, threshold = 5000L, onBatch = events.add(_))
    def feed(df: DataFrame): Unit =
      df.write.mode("append").parquet(srcDir)
    // batch 0: both on-profile; batches 1–2: b collapses to 40% good
    // (−3800/batch past slack) while a holds — threshold 5000 pages
    // b's quality AND short CUSUMs on the SECOND shifted batch (7600),
    // not the first (3800); an unprofiled domain c rides along and
    // must not emit
    val b0 = dom("a", 40, 10, 100L).union(dom("b", 40, 10, 200L))
    val b1 = dom("a", 40, 10, 300L).union(dom("b", 20, 30, 400L))
      .union(dom("c", 5, 0, 500L))
    val b2 = dom("a", 40, 10, 600L).union(dom("b", 20, 30, 700L))
    feed(b0); val q0 = start(); q0.processAllAvailable(); q0.stop()
    feed(b1); val q1 = start(); q1.processAllAvailable(); q1.stop()
    feed(b2); val q2 = start(); q2.processAllAvailable(); q2.stop()
    val evs = events.asScala.toSeq.sortBy(_.epoch)
    assert(evs.map(_.action) == Seq.fill(3)("merged"), evs)
    assert(evs(0).alarms.isEmpty && evs(1).alarms.isEmpty, evs)
    assert(evs(2).alarms ==
      Seq("b/quality_rate", "b/short_doc_rate"), evs)
    val st = DriftMonitor.currentStateBy(spark, name, threshold = 5000L)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    val bq = st(("b", "quality_rate"))
    assert(bq.getLong(bq.fieldIndex("s_dn")) == 7600L, bq)
    assert(bq.getBoolean(bq.fieldIndex("alarmed")), bq)
    val aq = st(("a", "quality_rate"))
    assert(aq.getLong(aq.fieldIndex("s_dn")) == 0L &&
      !aq.getBoolean(aq.fieldIndex("alarmed")), aq)
    assert(!st.contains(("c", "quality_rate")),
      "unprofiled domain must not enter state")
    // streamed state ≡ the pure per-group fold on the same batches
    val traj = DriftMonitor.cusumTrajectoryBy(Seq(b0, b1, b2),
        spark.table(DriftMonitor.profileTable(name))
          .select(col("grp").as("source"), col("metric"), col("mu")))
      .filter(col("batch_idx") === 2L).collect()
      .map(r => (r.getString(1), r.getString(2)) ->
        (r.getLong(4), r.getLong(5))).toMap
    assert(traj(("b", "quality_rate")) == (0L, 7600L), traj)
    assert(traj(("a", "quality_rate")) == (0L, 0L), traj)
    // replay: fresh checkpoint re-batches history as epoch 0 — below
    // the high water → STALE skip, no CUSUM moves
    val before = spark.table(DriftMonitor.stateTable(name))
      .collect().map(_.toSeq).toSet
    val ck2 = java.nio.file.Files.createTempDirectory("dby-ck2").toString
    val q3 = start(ck2); q3.processAllAvailable(); q3.stop()
    assert(events.asScala.toSeq.map(_.action).contains("skipped_stale"))
    assert(spark.table(DriftMonitor.stateTable(name))
      .collect().map(_.toSeq).toSet == before,
      "replayed epoch must move no state")
    // unprofiled monitor fails at START
    intercept[IllegalArgumentException] {
      DriftMonitor.maintainBy(
        spark.readStream.schema(schema).parquet(srcDir),
        "t_drift_by_unprofiled", ckpt)
    }
    // mode/profile SHAPE mismatches fail loudly at start: the
    // per-group face on a global profile, and the global face on a
    // per-group profile (that one would otherwise silently fan each
    // metric across every group row)
    DriftMonitor.writeProfile(dom("a", 80, 20, 30000L), "t_drift_glob2")
    intercept[IllegalArgumentException] {
      DriftMonitor.maintainBy(
        spark.readStream.schema(schema).parquet(srcDir),
        "t_drift_glob2", ckpt)
    }
    intercept[IllegalArgumentException] {
      DriftMonitor.maintain(
        spark.readStream.schema(schema).parquet(srcDir), name, ckpt)
    }
    intercept[IllegalArgumentException] {
      DriftMonitor.updateBatchBy("t_drift_glob2", b0, 99L)
    }
    intercept[IllegalArgumentException] {
      DriftMonitor.updateBatch(name, b0, 99L)
    }
    // cusumTrajectoryBy survives null and NON-STRING group keys: null
    // groups drop (never match a baseline), long shard ids fold
    // through their string form
    val shardProf = Seq(("7", "quality_rate", 8000L))
      .toDF("shard", "metric", "mu")
    val shardBatch = mix(20, 30, 40000L)
      .withColumn("shard", when(col("doc_id") % 2 === 0, lit(7L))
        .otherwise(lit(null).cast("long")))
    val shardTraj = DriftMonitor.cusumTrajectoryBy(
        Seq(shardBatch), shardProf, groupCol = "shard")
      .collect().map(r => (r.getString(1), r.getString(2)) -> r).toMap
    assert(shardTraj.keySet.forall(_._1 == "7"), shardTraj.keySet)
    assert(shardTraj.contains(("7", "quality_rate")), shardTraj.keySet)
  }

  test("composed curation stream: drift gate observes novel batches, alarms on sustained shift, drops nothing") {
    implicit val sql = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.{CurationStream, ManifestStore}
    val name = "t_cur_drift"
    // distinct texts throughout, and good docs mutually BELOW the
    // gate's 0.8 near-dup Jaccard (three unique tail tokens → 11/17
    // shared shingles ≈ 0.65) — the dedup gate upstream of the monitor
    // must admit every doc, or the observed rates would be
    // post-collapse, not the batch's own
    def cgood(i: Long) = (i,
      s"the quick brown fox jumps over a lazy dog near the old barn " +
        s"x$i y$i z$i", 0)
    def cbad(i: Long) = (i, s"zz$i", 0)
    def cmix(nGood: Int, nBad: Int, base: Long) =
      (0 until nGood).map(i => cgood(base + i)) ++
        (0 until nBad).map(i => cbad(base + 1000 + i))
    DriftMonitor.writeProfile(
      cmix(80, 20, 50000L).toDF("doc_id", "text", "source_id")
        .select(col("doc_id"), col("text")), name)
    val dimDir = java.nio.file.Files.createTempDirectory("cd-dim").toString
    ManifestStore.seed(Seq((0, "crawlA")).toDF("source_id", "source"), dimDir)
    val drifts = new ConcurrentLinkedQueue[DriftMonitor.DriftEvent]()
    val curated = new ConcurrentLinkedQueue[Long]()
    val ms = MemoryStream[(Long, String, Int)]
    val q = CurationStream.run(
      ms.toDF().toDF("doc_id", "text", "source_id"), "t_cur_drift_store",
      dimDir, "source_id",
      java.nio.file.Files.createTempDirectory("cd-ckpt").toString,
      driftGate = Some(CurationStream.DriftGate(name, slack = 200L,
        threshold = 1500L, onDrift = drifts.add(_)))) { (out, _) =>
      out.select("doc_id").collect().foreach(r => curated.add(r.getLong(0)))
    }
    try {
      ms.addData(cmix(40, 10, 100L): _*); q.processAllAvailable()
      ms.addData(cmix(35, 15, 200L): _*); q.processAllAvailable()
      ms.addData(cmix(35, 15, 300L): _*); q.processAllAvailable()
    } finally q.stop()
    val evs = drifts.asScala.toSeq.sortBy(_.epoch)
    assert(evs.map(_.action) == Seq("merged", "merged", "merged"), evs)
    assert(evs(0).alarms.isEmpty && evs(1).alarms.isEmpty, evs)
    // two shifted batches × 800 past slack = 1600 > 1500: both rate
    // pages alarm on the SECOND shifted batch
    assert(evs(2).alarms == Seq("quality_rate", "short_doc_rate"), evs)
    // observability only: every good doc still reached the sink
    assert(curated.asScala.toSet.count(_ < 1000L) == 110, // 40+35+35
      s"curated: ${curated.asScala.size}")
    // unprofiled composed stream fails at START
    intercept[IllegalArgumentException] {
      CurationStream.run(
        ms.toDF().toDF("doc_id", "text", "source_id"), "t_cur_drift_s2",
        dimDir, "source_id",
        java.nio.file.Files.createTempDirectory("cd-ck2").toString,
        driftGate = Some(CurationStream.DriftGate("t_cur_noprofile"))) {
        (_, _) => ()
      }
    }

    // PER-DOMAIN gate in the same topology (groupCol = Some): domain
    // b's collapse alarms as "b/<metric>" while a stays quiet
    val byName = "t_cur_drift_by"
    def dmix(src: String, nGood: Int, nBad: Int, base: Long) =
      cmix(nGood, nBad, base).map(t => (t._1, t._2, src, t._3))
    DriftMonitor.writeProfileBy(
      (dmix("a", 80, 20, 60000L) ++ dmix("b", 80, 20, 70000L))
        .toDF("doc_id", "text", "source", "source_id")
        .select(col("doc_id"), col("text"), col("source")), byName)
    val byDrifts = new ConcurrentLinkedQueue[DriftMonitor.DriftEvent]()
    val ms2 = MemoryStream[(Long, String, String, Int)]
    val q2 = CurationStream.run(
      ms2.toDF().toDF("doc_id", "text", "source", "source_id"),
      "t_cur_drift_by_store", dimDir, "source_id",
      java.nio.file.Files.createTempDirectory("cdby-ckpt").toString,
      driftGate = Some(CurationStream.DriftGate(byName, slack = 200L,
        threshold = 1500L, groupCol = Some("source"),
        onDrift = byDrifts.add(_)))) { (_, _) => () }
    try {
      ms2.addData(
        (dmix("a", 40, 10, 2100L) ++ dmix("b", 40, 10, 2200L)): _*)
      q2.processAllAvailable()
      ms2.addData(
        (dmix("a", 40, 10, 2300L) ++ dmix("b", 20, 30, 2400L)): _*)
      q2.processAllAvailable()
    } finally q2.stop()
    val byEvs = byDrifts.asScala.toSeq.sortBy(_.epoch)
    assert(byEvs.map(_.action) == Seq("merged", "merged"), byEvs)
    assert(byEvs(0).alarms.isEmpty, byEvs)
    assert(byEvs(1).alarms ==
      Seq("b/quality_rate", "b/short_doc_rate"), byEvs)
    // a groupCol absent from the stream fails at START, not batch 0
    intercept[IllegalArgumentException] {
      CurationStream.run(
        ms.toDF().toDF("doc_id", "text", "source_id"),
        "t_cur_drift_s3", dimDir, "source_id",
        java.nio.file.Files.createTempDirectory("cd-ck3").toString,
        driftGate = Some(CurationStream.DriftGate(byName,
          groupCol = Some("source")))) { (_, _) => () }
    }
  }

  test("drift monitor metrics: all-null batch carries no quality signal; null rate still reads") {
    val df = Seq((1L, null: String), (2L, null: String))
      .toDF("doc_id", "text")
    val m = DriftMonitor.metrics(df).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m == Map("null_text_rate" -> 10000L), m)
  }

  test("manual updateBatch: replay of the newest epoch vs an out-of-order stale epoch are distinguished; neither moves state") {
    val name = "t_drift_stale"
    DriftMonitor.writeProfile(mix(80, 20, 0L), name)
    assert(DriftMonitor.updateBatch(name, mix(40, 10, 100L), epoch = 0L)
      .action == "merged")
    assert(DriftMonitor.updateBatch(name, mix(35, 15, 200L), epoch = 3L)
      .action == "merged")
    val st0 = spark.table(DriftMonitor.stateTable(name))
      .orderBy("kind", "metric").collect().toSeq
    // the crash-replay shape: epoch == high water
    assert(DriftMonitor.updateBatch(name, mix(35, 15, 200L), epoch = 3L)
      .action == "skipped_replay")
    // the out-of-order manual shape: epoch < high water — a streaming
    // lineage can never produce this (only the newest uncommitted
    // epoch redelivers), so it reads as a caller contract breach
    assert(DriftMonitor.updateBatch(name, mix(40, 10, 100L), epoch = 1L)
      .action == "skipped_stale")
    val st1 = spark.table(DriftMonitor.stateTable(name))
      .orderBy("kind", "metric").collect().toSeq
    assert(st0 == st1, "skipped batches must leave state untouched")
  }
}
