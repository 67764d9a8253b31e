package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.core.Sessions
import graft.streaming.RatingsPipeline

/** Streaming throughput benchmark: drains N synthetic ratings through
  * the full pipeline (filter split → broadcast enrich → two windowed
  * aggregations) and reports events/second.
  *
  * Context (BASELINE.md): the reference's generator floor is ~1.33
  * events/s through ksqlDB; this measures the engine's single-node
  * streaming throughput on the same topology shape.
  *
  * Usage: runMain graft.StreamBench [nEvents] [batches]
  *        runMain graft.StreamBench pipeline [nDocs] [batches]
  * — the second form drives the composed LLM curation flagship
  * ([[graft.streaming.CurationStream]]: ingest dedup gate → quality
  * gate → manifest-dim enrich) and reports documents/second.
  *
  *        runMain graft.StreamBench warm [ratings|curation] [n] [reps]
  * — the A/B-bisect protocol (BASELINE.md §Streaming-anchor
  * measurement): `reps` runs of one anchor inside ONE warm session,
  * reporting every rep plus the median. Single-shot runs in a fresh
  * forked JVM vary 1.5k–9.3k ev/s at the SAME commit on a sandbox box
  * (JIT + page-cache + CPU-frequency state dominate a 6-second timed
  * section); warm in-JVM medians are stable to ±10% and are the only
  * form of this measurement that supports cross-commit conclusions.
  */
object StreamBench {
  final case class R(RATING_ID: Long, USER_ID: Int, STARS: Double,
                     CHANNEL: String, MESSAGE: String, ts: java.sql.Timestamp)

  def main(args: Array[String]): Unit =
    if (args.headOption.contains("pipeline")) pipelineMain(args.drop(1))
    else if (args.headOption.contains("warm")) warmMain(args.drop(1))
    else ratingsMain(args)

  /** Warm in-JVM repetition protocol for cross-commit A/B comparisons
    * (the round-16 bisect instrument — see BASELINE.md
    * §Streaming-anchor measurement for why single-shot numbers must
    * not be compared across commits).
    */
  private def warmMain(args: Array[String]): Unit = {
    val which = args.headOption.getOrElse("ratings")
    val reps = args.drop(2).headOption.map(_.toInt).getOrElse(6)
    val spark = Sessions.build(s"graft-warm-$which",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    val rates = (1 to reps).map { i =>
      val (rate, secs, _) = which match {
        case "curation" =>
          val n = args.drop(1).headOption.map(_.toInt).getOrElse(20000)
          pipelineRun(spark, n, 5, s"warm_cur$i")
        case _ =>
          val n = args.drop(1).headOption.map(_.toInt).getOrElse(60000)
          ratingsRun(spark, n, 5, s"warm$i")
      }
      println(f"""{"metric":"warm_rep","anchor":"$which","rep":$i,"rate":$rate%.0f,"secs":$secs%.2f}""")
      rate
    }
    val s = rates.sorted
    val median =
      if (reps % 2 == 0) (s(reps / 2 - 1) + s(reps / 2)) / 2 else s(reps / 2)
    println(f"""{"metric":"warm_median","anchor":"$which","value":$median%.0f,"unit":"per_sec","reps":$reps}""")
    spark.stop()
  }

  /** A quality-passing synthetic document (16 tokens, stopwords,
    * healthy token shape, distinct 2-grams → quality 4).
    */
  private def docText(id: Long): String =
    s"the document $id discusses topic ${math.floorMod(id, 7)} using terms " +
      s"t${id}a t${id}b t${id}c t${id}d and offers a conclusion"

  /** The composed curation flagship under load: ~10% exact duplicates
    * (gate-dropped), ~10% repetition spam (quality-gated), the rest
    * novel quality docs enriched against a 20-row manifest dim.
    */
  private def pipelineMain(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(20000)
    val nBatches = args.drop(1).headOption.map(_.toInt).getOrElse(5)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = Sessions.build("graft-curation-bench", cpus)
    val (docsPerSec, secs, admitted) = pipelineRun(spark, n, nBatches)
    println(f"""{"metric":"curation_docs_per_sec","value":$docsPerSec%.0f,"unit":"docs/s","docs":${n / nBatches * nBatches},"batches":$nBatches,"secs":$secs%.2f,"admitted":$admitted}""")
    spark.stop()
  }

  /** The callable core of the curation flagship bench (shared with
    * [[Bench]]'s per-round `stream` section): drives `nBatches`
    * micro-batches after an untimed warm-up batch, returns
    * (docs/second, timed seconds, admitted count). `storeName` keys the
    * gate's signature store inside the session warehouse — callers
    * sharing a session pick distinct names.
    */
  def pipelineRun(spark: org.apache.spark.sql.SparkSession, n: Int,
                  nBatches: Int,
                  storeName: String = "sb_curation"): (Double, Double, Long) = {
    // the planted-redelivery slot search scans one full residue decade
    // of the PRIOR batch — smaller batches would make the "~10% exact
    // duplicates" mix silently dissolve into novel docs
    require(n / nBatches >= 10,
      s"pipeline bench needs >= 10 docs per batch, got ${n / nBatches}")
    withPinnedShuffle(spark)(pipelineRunPinned(spark, n, nBatches, storeName))
  }

  /** Run `body` with `spark.sql.shuffle.partitions` pinned to the
    * topologies' published 8-partition shape — a 32-partition host
    * session (Bench) would otherwise measure 32-way per-batch task
    * overhead instead of the topology (streaming state partitioning is
    * captured at query start; the gate's batch jobs read the conf per
    * action). Restored even on failure, so a crashed bench never leaves
    * the shared session re-configured. Host THREAD count still follows
    * the session — compare anchors run under the same SPARK_GRAFT_CPUS.
    */
  private def withPinnedShuffle[A](spark: org.apache.spark.sql.SparkSession)
                                  (body: => A): A = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try body
    finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  private def pipelineRunPinned(spark: org.apache.spark.sql.SparkSession,
                                n: Int, nBatches: Int,
                                storeName: String): (Double, Double, Long) = {
    implicit val sql = spark.sqlContext
    import spark.implicits._

    val dimDir = java.nio.file.Files.createTempDirectory("cur-dim").toString
    graft.streaming.ManifestStore.seed(
      (0 until 20).map(i => (i, s"crawler$i", if (i % 4 == 0) "low" else "high"))
        .toDF("source_id", "source_name", "trust"),
      dimDir)

    def mkDocs(b: Int, size: Int): Seq[(Long, String, Int)] =
      (0 until size).map { i =>
        val id = b.toLong * size + i
        val body =
          if (math.floorMod(id, 10) == 7) // repetition spam → quality-gated
            (1 to 12).map(_ => "spam").mkString(" ")
          else if (math.floorMod(id, 10) == 3 && b > 0) {
            // exact redeliver → gate-dropped: pick an EARLIER-batch slot
            // whose body was actually stored as docText — slots with
            // residue 3 (redeliver) or 7 (spam) never stored docText, and
            // which residues those are shifts with the batch size, so the
            // slot is searched, not assumed (a size ending in 1 or 7 made
            // the old id-size+1 choice a novel doc and silently changed
            // the admitted mix)
            val dec = (id - size) - math.floorMod(id - size, 10)
            val j = (0 until 10).iterator.map(dec + _)
              .find(x => x >= 0 && math.floorMod(x, 10) != 3 &&
                math.floorMod(x, 10) != 7).get
            docText(j)
          } else docText(id)
        (id, body, math.floorMod(id, 20).toInt)
      }

    val ms = MemoryStream[(Long, String, Int)]
    val admitted = new java.util.concurrent.atomic.AtomicLong
    val q = graft.streaming.CurationStream.run(
      ms.toDF().toDF("doc_id", "text", "source_id"), storeName, dimDir,
      "source_id",
      java.nio.file.Files.createTempDirectory("cur-ckpt").toString) {
      (out, _) => admitted.addAndGet(out.count())
    }
    val perBatch = n / nBatches
    // warm-up batch (untimed): codegen, store creation, dim read
    ms.addData((0 until perBatch).map(i => (-1L - i, docText(-1L - i), i % 20)))
    q.processAllAvailable()
    val t0 = System.nanoTime()
    (0 until nBatches).foreach { b =>
      ms.addData(mkDocs(b, perBatch))
      q.processAllAvailable()
    }
    val secs = (System.nanoTime() - t0) / 1e9
    q.stop()
    (perBatch.toLong * nBatches / secs, secs, admitted.get())
  }

  /** The callable core of the incremental-feature bench (shared with
    * [[Bench]]'s per-round `stream` section): drains `n` synthetic
    * events through [[graft.streaming.EventFeatureStream.lagFeatures]]
    * (the flatMapGroupsWithState seq/lag/gap/session stage, 200 keys)
    * and returns (events/second, timed seconds, feature rows out — the
    * guard that every event actually produced a feature row). Warm-up
    * batch uses a DISJOINT key range so the timed keys start with
    * fresh state.
    */
  def featuresRun(spark: org.apache.spark.sql.SparkSession, n: Int,
                  nBatches: Int, tag: String = "sbf"): (Double, Double, Long) =
    withPinnedShuffle(spark)(featuresRunPinned(spark, n, nBatches, tag))

  private def featuresRunPinned(spark: org.apache.spark.sql.SparkSession,
                                n: Int, nBatches: Int,
                                tag: String): (Double, Double, Long) = {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[(Long, Long, Long, Long)]
    val rows = new java.util.concurrent.atomic.AtomicLong
    val feats = graft.streaming.EventFeatureStream.lagFeatures(
      ms.toDF().toDF("event_id", "user_id", "ts", "value"),
      keys = Seq("user_id"), timeCol = "ts", idCol = "event_id",
      valueCol = "value", sessionGap = 1000L * 100L)
    val q = feats.writeStream
      .queryName(s"${tag}_feats")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory(s"$tag-ckpt").toString)
      .foreachBatch { (out: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        rows.addAndGet(out.count()): Unit
      }.start()
    val perBatch = n / nBatches
    def mkBatch(b: Int, size: Int, keyBase: Long): Seq[(Long, Long, Long, Long)] =
      (0 until size).map { i =>
        val id = b.toLong * size + i
        (id, keyBase + id % 200, id * 100L, id % 7)
      }
    // warm-up (untimed): codegen + state-store init on disjoint keys
    ms.addData(mkBatch(0, perBatch, keyBase = 100000L))
    q.processAllAvailable()
    rows.set(0)
    val t0 = System.nanoTime()
    (0 until nBatches).foreach { b =>
      ms.addData(mkBatch(b, perBatch, keyBase = 0L))
      q.processAllAvailable()
    }
    val secs = (System.nanoTime() - t0) / 1e9
    q.stop()
    (perBatch.toLong * nBatches / secs, secs, rows.get())
  }

  private def ratingsMain(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(200000)
    val nBatches = args.drop(1).headOption.map(_.toInt).getOrElse(10)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = Sessions.build("graft-stream-bench", cpus)
    val (evPerSec, secs, aggregated) = ratingsRun(spark, n, nBatches)
    println(f"""{"metric":"stream_events_per_sec","value":$evPerSec%.0f,"unit":"ev/s","events":${n / nBatches * nBatches.toLong},"batches":$nBatches,"secs":$secs%.2f,"agg_rows_counted":$aggregated}""")
    spark.stop()
  }

  /** The callable core of the ratings-topology bench (filter split →
    * broadcast enrich → two windowed aggregations; shared with
    * [[Bench]]): returns (events/second, timed seconds, aggregated
    * event count — the guard that the windowed state actually saw the
    * timed data). `tag` prefixes the memory-sink query names — callers
    * repeating the run inside one session (Bench's median-of-n stream
    * anchor) pick distinct tags.
    */
  def ratingsRun(spark: org.apache.spark.sql.SparkSession, n: Int,
                 nBatches: Int, tag: String = "sb"): (Double, Double, Long) =
    withPinnedShuffle(spark)(ratingsRunPinned(spark, n, nBatches, tag))

  private def ratingsRunPinned(spark: org.apache.spark.sql.SparkSession,
                               n: Int, nBatches: Int,
                               tag: String): (Double, Double, Long) = {
    implicit val sql = spark.sqlContext
    import spark.implicits._

    val channels = Array("ios", "android", "web", "ios-test")
    val base = 1704100000000L
    def mkBatch(b: Int, size: Int): Seq[R] =
      (0 until size).map { i =>
        val id = b.toLong * size + i
        R(id, (id % 200).toInt + 1, (id % 5).toDouble + 1,
          channels((id % 4).toInt), s"msg$id",
          new java.sql.Timestamp(base + id * 100))
      }
    // Warm-up events sit strictly BEFORE the timed range: if they were
    // later, the watermark would advance past every timed event and the
    // stateful aggregations would late-drop all timed data — the bench
    // would measure filter-and-discard, not windowed aggregation.
    def warmupBatch(size: Int): Seq[R] =
      (0 until size).map { i =>
        R(-1L - i, (i % 200) + 1, (i % 5).toDouble + 1,
          channels(i % 4), s"warm$i",
          new java.sql.Timestamp(base - (size - i).toLong * 100))
      }

    val customers = (1 to 200).map(i =>
      (i, s"First$i", s"Last$i", s"first$i@x.test",
        Seq("platinum", "gold", "silver", "bronze")(i % 4)))
      .toDF("id", "first_name", "last_name", "email", "club_status")

    val ms = MemoryStream[R]
    val pipe = RatingsPipeline(ms.toDF(), customers, watermark = "10 minutes")
    val q1 = pipe.unhappyPlatinum.writeStream.format("noop").start()
    val q2 = pipe.perCustomer15min.writeStream.format("memory")
      .queryName(s"${tag}_p15").outputMode("update").start()
    val q3 = pipe.byClubStatus1min.writeStream.format("memory")
      .queryName(s"${tag}_c1").outputMode("update").start()

    val perBatch = n / nBatches
    val timedEvents = perBatch.toLong * nBatches
    // warm-up batch (untimed): session/codegen/state-store init
    ms.addData(warmupBatch(perBatch))
    Seq(q1, q2, q3).foreach(_.processAllAvailable())

    val t0 = System.nanoTime()
    (0 until nBatches).foreach { b =>
      ms.addData(mkBatch(b, perBatch))
      Seq(q1, q2, q3).foreach(_.processAllAvailable())
    }
    val secs = (System.nanoTime() - t0) / 1e9
    // sanity: the windowed aggregations actually aggregated the timed
    // events (guards against watermark-drop measuring an empty topology)
    val aggregated = spark.table(s"${tag}_c1")
      .agg(org.apache.spark.sql.functions.sum("RATING_COUNT"))
      .collect().head.getLong(0)
    Seq(q1, q2, q3).foreach(_.stop())
    (timedEvents / secs, secs, aggregated)
  }
}
