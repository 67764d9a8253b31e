package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Sessions

/** The closed-loop batch workload: one client runs a fixed list of graft
  * queries, in fixed order, over the generated corpus. The list mixes LLM
  * curation flagships, which run many eager jobs (pins, probes, a
  * persisted dedup store) and native-expression compute, with relational
  * controls that run few. The `high` latencies are the flagships', the
  * `low` ones the controls', so a change to per-job overhead should move
  * the first and leave the second flat.
  *
  * The first pass is part of set-up (it builds what persisted queries
  * keep); the timed passes follow.
  *
  * The timed action of a query is an order-insensitive checksum of its
  * output (row count plus the sum of a per-row hash). Every output column
  * feeds the hash, so the whole plan is still computed, and the checksum
  * is the output check: it must equal the value recorded for the fixed
  * corpus in expected.json.
  */
object BatchQueries {

  /** The warm-up query each set-up runs; it is in neither list. */
  val WarmUp = "p_ratings_live"
  /** Timed passes run until the run's seconds are spent, and at least
    * this many, so wall_s is always a median of two or more.
    */
  val MinPasses = 2

  final case class Op(query: String, pass: Int, start: Double,
                      end: Double, ok: Boolean) {
    def ms: Double = end - start
  }

  final case class Pass(index: Int, start: Double, end: Double) {
    def seconds: Double = (end - start) / 1000
  }

  def run(ctx: Ctx): Outcome = {
    val conf = ctx.conf
    val names = Main.strs(Main.need(conf, "queries"))
    val defs = graft.SparkEntry.benchQueries.toMap
    names.foreach(n => require(defs.contains(n), s"no such query $n"))
    val expected = loadExpected(ctx.expected)
    names.foreach(n => require(expected.contains(n), s"no recorded checksum for $n"))
    val dir = ctx.corpus.getAbsolutePath
    val cores = Main.need(conf, "cores").asInt()

    var spark: SparkSession = null
    val setups = (1 to ctx.setupReps).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      val (s, sessionS) = Main.seconds(Sessions.build(s"perfbench-${ctx.workload}", cores.toString))
      spark = s
      defs(WarmUp)(spark, dir).write.format("noop").mode("overwrite").save()
      ((System.nanoTime() - t0) / 1e9, sessionS)
    }
    val sc = spark.sparkContext
    val ops = new ConcurrentLinkedQueue[Op]()
    val errors = new ConcurrentLinkedQueue[String]()

    def runOp(trace: Trace, q: String, pass: Int, parent: Long): Unit = {
      val t0 = Main.nowMs
      val ok = try {
        trace.span(sc, s"queries.$q", parent) { id =>
          val df = trace.span(sc, s"queries.$q.build", id)(_ => defs(q)(spark, dir))
          val got = trace.span(sc, s"queries.$q.action", id)(_ => checksum(df))
          if (got != expected(q)) errors.add(s"$q: got $got, recorded ${expected(q)}")
          got == expected(q)
        }
      } catch {
        case e: Exception =>
          errors.add(s"$q: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
          false
      }
      ops.add(Op(q, pass, t0, Main.nowMs, ok))
    }

    /** Passes of one client until `budgetS` is spent and at least
      * `minPasses` ran. Returns the passes with their bounds.
      */
    def onePhase(trace: Trace, tag: String, budgetS: Double, minPasses: Int,
                 heap: Double => Unit): Seq[Pass] = {
      val t0 = Main.nowMs
      val passes = Seq.newBuilder[Pass]
      var i = 0
      while (i < minPasses || Main.nowMs - t0 < budgetS * 1000) {
        i += 1
        val ps = Main.nowMs
        trace.span(sc, s"pass.$tag.$i")(id => names.foreach(q => runOp(trace, q, i, id)))
        passes += Pass(i, ps, Main.nowMs)
        heap(Main.heapAfterGcMb())
      }
      passes.result()
    }

    val flagships = Main.strs(Main.need(conf, "flagships")).toSet
    var peakHeap = 0.0
    val noTrace = new Trace(false)

    // the first pass over the list is set-up: it builds the persisted
    // artifacts and stores some queries keep, and warms the caches
    val coldPass = onePhase(noTrace, "cold", 0, 1, _ => ()).head
    val coldOps = ops.asScala.toSeq
    ops.clear()

    // the timed passes: one client, until the run's seconds are spent
    val lowPasses = onePhase(noTrace, "timed", ctx.seconds, MinPasses,
      h => peakHeap = math.max(peakHeap, h))
    val lowOps = ops.asScala.toSeq
    ops.clear()
    System.err.println(f"[perfbench] set-up ${setups.map(_._1).mkString(" ")} s + cold pass " +
      f"${coldPass.seconds}%.1f s, one-client passes " +
      lowPasses.map(p => f"${p.seconds}%.1f").mkString(" ") + " s")

    val e2e = scala.collection.mutable.Map[String, Double]()
    e2e("setup_s") = Stats.median(setups.map(_._1)) + coldPass.seconds
    val (heavy, light) = lowOps.partition(o => flagships.contains(o.query))
    e2e("low.latency_p50_ms") = Stats.median(light.map(_.ms))
    e2e("low.latency_p99_ms") = slowestQuery(light)
    e2e("high.latency_p50_ms") = Stats.median(heavy.map(_.ms))
    e2e("high.latency_p99_ms") = slowestQuery(heavy)
    e2e("wall_s") = Stats.median(lowPasses.map(_.seconds))
    e2e("sustained_rate_per_s") = lowOps.length / lowPasses.map(_.seconds).sum

    val layers = scala.collection.mutable.Map[String, Double]()
    val traceOut = Seq.newBuilder[(String, Any)]
    def msByQuery(os: Seq[Op]) = os.groupBy(_.query).map { case (q, xs) => q -> xs.map(_.ms) }
    traceOut += "cold_ms_per_query" -> msByQuery(coldOps)
    traceOut += "low_ms_per_query" -> msByQuery(lowOps)
    traceOut += "setups" -> setups.map { case (s, sess) => Map("setup_s" -> s, "session_s" -> sess) }
    layers("core.session_s") = Stats.median(setups.map(_._2))
    layers("core.cold_setup_s") = setups.head._1 + coldPass.seconds

    if (!ctx.trace) {
      e2e("peak_heap_mb") = peakHeap
      reportErrors(errors)
      val all = coldOps ++ lowOps
      return Outcome(all.length, all.count(!_.ok), e2e.toMap, layers.toMap, traceOut.result())
    }

    // traced: the same one-client passes again, now with job groups and
    // the listener, so the untraced passes above are the overhead base
    val trace = new Trace(true)
    trace.attach(sc)
    val tracedPasses = onePhase(trace, "traced", 0, 2, _ => ())
    trace.settle(sc)
    val tracedOps = ops.asScala.toSeq
    ops.clear()
    layers("trace.overhead_ratio") =
      Stats.median(tracedPasses.map(_.seconds)) / e2e("wall_s")

    def passLayers(p: Pass): Map[String, Double] = {
      val from = p.start.toLong
      val to = p.end.toLong + 1
      val js = trace.jobsIn(from, to)
      val tt = trace.taskTotals(from, to)
      val mine = tracedOps.filter(_.pass == p.index)
      def spanSum(suffix: String) = trace.spans.asScala
        .filter(s => s.name.endsWith(suffix) && s.start >= from && s.end <= to)
        .map(s => s.end - s.start).sum / 1000.0
      Map(
        "queries.build_s" -> spanSum(".build"),
        "queries.build_jobs" -> js.count(_.group.endsWith(".build")).toDouble,
        "queries.action_s" -> spanSum(".action"),
        "queries.jobs" -> js.length.toDouble,
        "queries.stages" -> trace.stagesIn(from, to).toDouble,
        "queries.tasks" -> tt.tasks.toDouble,
        "queries.driver_blocking_s" -> trace.blocking(from, to, js) / 1000.0,
        "queries.busy_ratio" -> tt.runMs / (cores * (to - from).toDouble),
        "queries.shuffle_bytes" -> tt.shuffleBytes.toDouble,
        "queries.spill_bytes" -> tt.spillBytes.toDouble,
        "ops" -> mine.length.toDouble)
    }
    val perPass = tracedPasses.map(passLayers)
    perPass.head.keys.filter(_ != "ops").foreach { k =>
      layers(k) = Stats.median(perPass.map(_(k)))
    }

    // per-query job counts per traced pass, and the spans whose counts
    // differ between passes
    val jobsByGroup = trace.jobs.values.asScala.toSeq.groupBy(_.group)
    val perQuery = names.map { q =>
      val byPass = tracedPasses.map { p =>
        val js = trace.jobsIn(p.start.toLong, p.end.toLong + 1)
        Map("build_jobs" -> js.count(_.group == s"queries.$q.build"),
          "action_jobs" -> js.count(_.group == s"queries.$q.action"))
      }
      q -> byPass
    }
    val differing = perQuery.filter(_._2.distinct.length > 1).map(_._1)
    val attributed = names.flatMap(q => Seq(s"queries.$q.build", s"queries.$q.action")).toSet
    traceOut += "passes" -> perPass
    traceOut += "jobs_per_query_per_pass" -> perQuery.toMap
    traceOut += "spans_with_differing_job_counts" -> differing
    traceOut += "jobs_without_query_group" ->
      jobsByGroup.filter(g => !attributed.contains(g._1)).map { case (g, js) => g -> js.length }
    traceOut += "self_ms" -> trace.selfTimes
    traceOut += "spans" -> Json.Raw(trace.spansJson)

    {
      val docs = graft.core.Tables.documents(spark, dir)
      layers("functions.scan_ms") = Main.medianMs(3) {
        val f = graft.ext.Dedup.features(docs)
        docs.select(col("doc_id"), graft.functions.c4Stats(col("text")),
            graft.functions.gramHashes(col("text"), 5),
            graft.functions.wordTfs(col("text")),
            graft.functions.deflateLen(col("text")))
          .join(f, "doc_id")
          .write.format("noop").mode("overwrite").save()
      }
      gateStore(spark).foreach { name =>
        val st = graft.streaming.IngestDedupGate.storeStats(spark, name).collect()
        def total(cs: String*) = st.map(r => cs.map(c => r.getAs[Long](c)).sum).sum.toDouble
        layers("streaming.store_files") = total("band_files", "feat_files")
        layers("streaming.store_bytes") = total("band_bytes", "feat_bytes")
        layers("streaming.store_probe_ms") = Main.medianMs(3) {
          graft.streaming.IngestDedupGate.probeBatch(docs.limit(200), name)
            .write.format("noop").mode("overwrite").save()
        }
        traceOut += "store_stats" -> st.map(r => r.schema.fieldNames.map(f => f -> String.valueOf(r.getAs[Any](f))).toMap).toSeq
      }
    }
    trace.detach(sc)
    reportErrors(errors)
    val all = coldOps ++ lowOps ++ tracedOps
    Outcome(all.length, all.count(!_.ok), e2e.toMap, layers.toMap, traceOut.result())
  }

  /** The batch "tail": the slowest query's median latency. A list of a
    * few queries has no percentile with 10 samples beyond it.
    */
  private def slowestQuery(ops: Seq[Op]): Double =
    ops.groupBy(_.query).values.map(os => Stats.median(os.map(_.ms))).max

  private def reportErrors(errors: ConcurrentLinkedQueue[String]): Unit =
    errors.asScala.toSeq.distinct.foreach(e => System.err.println(s"[perfbench] FAILED $e"))

  /** The dedup gate's signature store the gate queries built, found by
    * its directory name under the session warehouse.
    */
  private def gateStore(spark: SparkSession): Option[String] = {
    val wh = new java.io.File(new java.net.URI(
      spark.conf.get("spark.sql.warehouse.dir").replaceFirst("^(?!file:)", "file:")).getPath)
    Option(wh.listFiles()).toSeq.flatten.map(_.getName)
      .filter(_.startsWith("gstore_graft_gate_")).sorted.headOption
      .map(_.stripPrefix("gstore_"))
  }

  /** (rows, hash): row count and the sum over rows of a 31-bit hash of
    * every column. Doubles are rounded to 6 decimals first, so a value
    * that differs only in the last bits from summation order still hashes
    * equal; the sum makes the checksum independent of row order.
    */
  def checksum(df: DataFrame): (Long, Long) = {
    val cols = df.schema.fields.toSeq.map(f => normalize(col(s"`${f.name}`"), f.dataType))
    val h = pmod(xxhash64(cols: _*), lit(2147483647L))
    val r = df.select(h.as("h")).agg(count(lit(1)), sum(col("h"))).collect().head
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  private def normalize(c: Column, t: DataType): Column = t match {
    case DoubleType          => round(c, 6) + lit(0.0)
    case FloatType           => round(c.cast(DoubleType), 6) + lit(0.0)
    case ArrayType(e, _)     => transform(c, x => normalize(x, e))
    case st: StructType      =>
      struct(st.fields.toSeq.map(f => normalize(c.getField(f.name), f.dataType).as(f.name)): _*)
    case _: MapType          => to_json(c)
    case _                   => c
  }

  def loadExpected(f: java.io.File): Map[String, (Long, Long)] = {
    val root = Main.need(new com.fasterxml.jackson.databind.ObjectMapper().readTree(f), "queries")
    root.fieldNames().asScala.map { n =>
      val q = root.path(n)
      n -> (Main.need(q, "rows").asLong(), Main.need(q, "hash").asLong())
    }.toMap
  }

  /** Computes the checksum of every query of the batch list once and
    * writes them as expected.json. Run when the corpus generator or a
    * query's intended output changes.
    */
  def record(plan: com.fasterxml.jackson.databind.JsonNode, corpus: java.io.File,
             out: java.io.File): Unit = {
    val names = Main.strs(Main.need(Main.need(Main.need(plan, "workloads"), "batch"), "queries"))
    val spark = Sessions.build("perfbench-record", "4")
    val defs = graft.SparkEntry.benchQueries.toMap
    val dir = corpus.getAbsolutePath
    val rows = names.map { q =>
      val df = defs(q)(spark, dir)
      val (r, h) = checksum(df)
      if (df.columns.contains("verdict"))
        System.err.println(s"[perfbench] $q verdicts " + Json.obj(df.groupBy("verdict").count()
          .collect().map(v => v.getString(0) -> v.getLong(1)).sortBy(_._1).toSeq: _*))
      q -> Json.Raw(Json.obj("rows" -> r, "hash" -> h))
    }
    val body = Json.obj("queries" -> Json.Raw(Json.obj(rows: _*)))
    java.nio.file.Files.write(out.toPath, (body + "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
