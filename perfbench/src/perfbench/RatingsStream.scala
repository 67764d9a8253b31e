package perfbench

import java.io.ByteArrayOutputStream
import java.nio.ByteBuffer
import java.util.SplittableRandom
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.{BinaryEncoder, EncoderFactory}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import org.apache.spark.sql.types._

import graft.core.Sessions
import graft.sinks.{AlertSink, EsBulkNdjsonSink, SinkDef}
import graft.sources.{AvroWire, KafkaShape}
import graft.streaming.RatingsPipeline

/** The open-loop ratings workload: the reference topology fed by one
  * generator thread on a fixed schedule.
  *
  * Each sink query has its own MemoryStream with a fixed partition count:
  * one stream shared by several queries fails with "Offsets committed out
  * of order" once they drift apart, and without a fixed count every
  * generator tick becomes its own input partition. The generator adds
  * the same tick to all four streams, so tick i is offset i everywhere.
  *
  * Events are stamped with the time they were due, which is also their
  * event time, so a stall in the generator or the engine counts against
  * latency. Steps are separated by a drain, which makes each rung's
  * backlog its own and lets each step's sink output be checked and
  * deleted before the next begins.
  */
object RatingsStream {

  final case class Rec(key: Array[Byte], value: Array[Byte], topic: String,
                       partition: Int, offset: Long, timestamp: java.sql.Timestamp)

  val Schema: StructType = StructType(Seq(
    StructField("RATING_ID", LongType), StructField("USER_ID", IntegerType),
    StructField("STARS", DoubleType), StructField("CHANNEL", StringType),
    StructField("MESSAGE", StringType), StructField("ts", TimestampType)))
  val SchemaId = 1
  val Registry: Map[Int, String] = Map(SchemaId -> AvroWire.avroSchemaJson(Schema))
  private val Channels = Array("ios", "android", "web", "ios-test")
  private val Clubs = Array("platinum", "gold", "silver", "bronze")
  val Queries: Seq[String] =
    Seq("enriched", "per_customer_15min", "by_club_status_1min", "unhappy_platinum")

  /** Input partitions of each sink query's source. */
  val SourcePartitions = 3
  /** Customers in the enrichment dimension; users are drawn from them. */
  val Customers = 200
  val Watermark = "10 minutes"
  /** Events of the drained burst that ends each set-up. */
  val WarmUpEvents = 1000
  /** How long the generator sleeps when no event is due yet. */
  val TickMs = 5.0
  /** A step whose send schedule ran later than this failed: its offered
    * rate was not the one asked for.
    */
  val GeneratorLateBoundMs = 1000.0
  val DrainTimeoutS = 45.0
  /** A step's backlog grows when its troughs climb faster than this share
    * of the offered rate over the step's second half.
    */
  val BacklogGrowthShare = 0.1
  /** Rungs that always run; each higher one only while the one below kept up. */
  val MinRungs = 3
  /** Pre-encoded records of the traced run's isolated decode and enrich. */
  val DecodeRecords = 100000
  /** The local[1] baseline's steps, as a share of the untraced ones. */
  val BaselineLocal1Share = 0.5

  /** Alert transport that only counts deliveries (a Scala object, so the
    * copies tasks deserialize resolve to this one counter).
    */
  object CountingTransport extends AlertSink.Transport {
    val sent = new AtomicLong()
    override def send(channel: String, text: String): Unit = sent.incrementAndGet()
  }

  /** Seeded ratings in Confluent wire format (magic, schema id, Avro). */
  final class Generator(seed: Long) {
    private val rnd = new SplittableRandom(seed)
    private val avro = new org.apache.avro.Schema.Parser().parse(Registry(SchemaId))
    private val writer = new GenericDatumWriter[GenericRecord](avro)
    private val bytes = new ByteArrayOutputStream()
    private var enc: BinaryEncoder = null
    private var nextId = 0L
    var unhappyPlatinum = 0L

    def next(dueMicros: Long): Rec = {
      val id = nextId; nextId += 1
      val user = 1 + rnd.nextInt(Customers)
      val stars = 1 + rnd.nextInt(5)
      if (stars < 3 && Clubs(user % 4) == "platinum") unhappyPlatinum += 1
      val rec = new GenericData.Record(avro)
      rec.put("RATING_ID", id)
      rec.put("USER_ID", user)
      rec.put("STARS", stars.toDouble)
      rec.put("CHANNEL", Channels(rnd.nextInt(Channels.length)))
      rec.put("MESSAGE", s"rating $id: $stars stars")
      rec.put("ts", dueMicros)
      bytes.reset()
      bytes.write(AvroWire.Magic.toInt)
      bytes.write(ByteBuffer.allocate(4).putInt(SchemaId).array())
      enc = EncoderFactory.get().binaryEncoder(bytes, enc)
      writer.write(rec, enc)
      enc.flush()
      val ts = new java.sql.Timestamp(dueMicros / 1000)
      ts.setNanos(((dueMicros % 1000000) * 1000).toInt)
      Rec(user.toString.getBytes("UTF-8"), bytes.toByteArray, "ratings",
        user % SourcePartitions, id, ts)
    }
  }

  /** A step's offered load. A burst offers all its events in one tick. */
  final case class Rung(name: String, rate: Double, seconds: Double, burst: Boolean = false)
  final case class Tick(offset: Int, step: Int, first: Long, count: Int, added: Double)
  final case class Step(index: Int, rung: Rung, start: Double, var end: Double = 0,
                        var events: Long = 0, var unhappy: Long = 0, var lateMs: Double = 0,
                        var drained: Double = 0)

  /** One set-up: session, fixtures, the four sink queries, one drained
    * warm-up burst. Everything a timed step needs lives here.
    */
  final class Topology(ctx: Ctx, cores: Int, val tag: String) {
    val (spark: SparkSession, sessionS: Double) =
      Main.seconds(Sessions.build(s"perfbench-ratings-$tag", cores.toString))
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    val sc = spark.sparkContext
    val root = new java.io.File(ctx.work, s"ratings-$tag").getAbsolutePath
    val gen = new Generator(ctx.seed)
    val ticks = new ArrayBuffer[Tick]()
    val steps = new ArrayBuffer[Step]()
    @volatile var trace: Trace = new Trace(false)
    @volatile var step: Int = 0
    val ends = new ConcurrentHashMap[(String, Long), Double]()
    val writes = new ConcurrentLinkedQueue[(String, Long, Int, Double)]()

    val customers: DataFrame = {
      import spark.implicits._
      (1 to Customers).map(i => (i, s"First$i", s"Last$i", s"first$i@ratings.test",
        Clubs(i % 4))).toDF("id", "first_name", "last_name", "email", "club_status")
    }

    private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    private val streams: Seq[MemoryStream[Rec]] = {
      import spark.implicits._
      Queries.map(_ => MemoryStream[Rec](SourcePartitions))
    }

    private def stepDir(s: Int) = s"$root/step$s"

    private def sinkFor(q: String, s: Int): SinkDef = q match {
      case "enriched" => EsBulkNdjsonSink(s"${stepDir(s)}/$q", "ratings-enriched",
        "RATING_ID", Some("EXTRACT_TS"), Some(s"${stepDir(s)}/dead_letter"))
      case "unhappy_platinum" => AlertSink(CountingTransport)
      case _ => EsBulkNdjsonSink(s"${stepDir(s)}/$q", s"ratings-$q", "DOC_ID")
    }

    val queries: Seq[StreamingQuery] = Queries.zip(streams).map { case (q, ms) =>
      val pipe = RatingsPipeline(KafkaShape.decodeAvro(ms.toDF(), Registry, Schema),
        customers, watermark = Watermark)
      def keyed(df: DataFrame, key: String) = df.withColumn("DOC_ID",
        concat_ws("|", col(key), col("WINDOW_START").cast("string")))
      val (df, mode) = q match {
        case "enriched"            => (pipe.enriched, "append")
        case "per_customer_15min"  => (keyed(pipe.perCustomer15min, "FULL_NAME"), "update")
        case "by_club_status_1min" => (keyed(pipe.byClubStatus1min, "CLUB_STATUS"), "update")
        case "unhappy_platinum"    => (pipe.unhappyPlatinum, "append")
      }
      val sinkName = if (q == "unhappy_platinum") "AlertSink" else "EsBulkNdjsonSink"
      df.writeStream.queryName(s"${q}_$tag").outputMode(mode)
        .option("checkpointLocation", s"$root/checkpoint/$q")
        .foreachBatch { (batch: DataFrame, epoch: Long) =>
          val s = step
          val t0 = Main.nowMs
          trace.span(sc, s"sinks.$sinkName.writeBatch")(_ => sinkFor(q, s).writeBatch(batch, epoch))
          val t1 = Main.nowMs
          writes.add((q, epoch, s, t1 - t0))
          ends.put((q, epoch), t1): Unit
        }.start()
    }

    private def committedOffset(q: StreamingQuery): Long = {
      q.exception.foreach(e => throw e)
      Option(q.lastProgress).flatMap(p => p.sources.headOption)
        .flatMap(s => Option(s.endOffset)).map(_.trim.toLong).getOrElse(-1L)
    }

    private def drain(timeoutS: Double): Boolean = {
      val target = ticks.length - 1L
      val t0 = Main.nowMs
      while (queries.exists(committedOffset(_) < target)) {
        if (Main.nowMs - t0 > timeoutS * 1000) return false
        Thread.sleep(5)
      }
      true
    }

    /** Offers `rung` on schedule, then drains it. Runs on the calling
      * thread, which is the one generator thread.
      */
    def runStep(rung: Rung): Step = {
      val idx = steps.length
      step = idx
      val tickNs = (TickMs * 1e6).toLong
      val total = math.round(rung.rate * rung.seconds)
      val st = Step(idx, rung, Main.nowMs)
      steps += st
      val unhappy0 = gen.unhappyPlatinum
      var k = 0L
      while (k < total) {
        val now = Main.nowMs
        val due = if (rung.burst) total
          else math.min(total, math.floor((now - st.start) * rung.rate / 1000).toLong + 1)
        if (due > k) {
          val recs = (k until due).map { e =>
            val dueMs = st.start + e * 1000 / rung.rate
            gen.next(math.round(dueMs * 1000))
          }
          streams.foreach(_.addData(recs))
          val added = Main.nowMs
          st.lateMs = math.max(st.lateMs, added - (st.start + k * 1000 / rung.rate))
          ticks += Tick(ticks.length, idx, k, (due - k).toInt, added)
          k = due
        } else LockSupport.parkNanos(tickNs)
      }
      st.end = Main.nowMs
      st.events = total
      st.unhappy = gen.unhappyPlatinum - unhappy0
      if (!drain(DrainTimeoutS))
        throw new IllegalStateException(s"step ${rung.name} did not drain")
      st.drained = Main.nowMs
      // later batches (a watermark-only batch, say) write to the next
      // step's directory; let any write into this one finish before the
      // step's output is checked and deleted
      step = idx + 1
      while (queries.exists(_.status.isTriggerActive)) Thread.sleep(2)
      st
    }

    private val clubCounts = scala.collection.mutable.Map[(String, String), Long]()
    private var alertsSeen = CountingTransport.sent.get()

    /** Checks a drained step's sink output, then deletes it. Returns the
      * failed checks (empty when the step's output is right) and the
      * bytes the ES sinks wrote.
      */
    def check(st: Step): (Seq[String], Long) = {
      val dir = stepDir(st.index)
      val fs = new java.io.File(dir)
      def read(q: String): Option[DataFrame] =
        if (new java.io.File(s"$dir/$q").exists) Some(spark.read.text(s"$dir/$q")) else None
      val bad = Seq.newBuilder[String]
      val esDocs = read("enriched").map(_.count() / 2).getOrElse(0L)
      if (esDocs != st.events) bad += s"enriched ES docs $esDocs != offered ${st.events}"
      val dead = read("dead_letter").map(_.count()).getOrElse(0L)
      if (dead != 0) bad += s"$dead dead-lettered"
      read("by_club_status_1min").foreach { t =>
        val docSchema = StructType(Seq(StructField("CLUB_STATUS", StringType),
          StructField("WINDOW_START", StringType), StructField("RATING_COUNT", LongType)))
        t.filter(!col("value").startsWith("{\"index\""))
          .select(from_json(col("value"), docSchema).as("d"))
          .groupBy(col("d.WINDOW_START"), col("d.CLUB_STATUS"))
          .agg(max(col("d.RATING_COUNT")))
          .collect().foreach { r =>
            val k = (r.getString(0), r.getString(1))
            clubCounts(k) = math.max(clubCounts.getOrElse(k, 0L), r.getLong(2))
          }
      }
      val offered = steps.take(st.index + 1).map(_.events).sum
      if (clubCounts.values.sum != offered)
        bad += s"1-minute counts sum to ${clubCounts.values.sum}, offered $offered"
      val alerts = CountingTransport.sent.get() - alertsSeen
      alertsSeen = CountingTransport.sent.get()
      if (alerts != st.unhappy) bad += s"alerts $alerts != unhappy platinum ${st.unhappy}"
      val bytes = Option(fs.listFiles()).toSeq.flatten.filter(_.getName != "dead_letter")
        .map(sizeOf).sum
      deleteTree(fs)
      (bad.result(), bytes)
    }

    /** Offers the warm-up burst and drains it. As one tick, every query
      * takes it whole in its first micro-batch; spread over ticks, a query
      * could start a batch on the first few events and need a second one,
      * about a second more of set-up at random.
      */
    def warmUp(): Unit = {
      runStep(Rung("warmup", WarmUpEvents * 1000.0, 0.001, burst = true))
    }

    /** Checks the warm-up's output, outside the set-up's clock: the
      * window counts of later steps build on it.
      */
    def checkWarmUp(): Unit = {
      val (bad, _) = check(steps.head)
      if (bad.nonEmpty) throw new IllegalStateException(s"warm-up output wrong: ${bad.mkString("; ")}")
    }

    def progress: Seq[StreamingQueryProgress] = queries.flatMap(_.recentProgress)

    def stop(): Unit = {
      queries.foreach(_.stop())
      spark.stop()
    }
  }

  private def sizeOf(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(sizeOf).sum else f.length

  private def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  /** A completed ladder: per step, its latency samples and verdicts. */
  final case class StepResult(step: Step, p50: Double, tail: Double, tailPct: Double,
                              backlogMax: Double, grows: Boolean, capacity: Double,
                              lastEmit: Double, bad: Seq[String], esBytes: Long,
                              heapMb: Double = 0) {
    def sustained(limitMs: Double): Boolean = !grows && tail <= limitMs
  }

  /** Climbs the ladder on `topo`: the first `MinRungs` always, each
    * higher rung only while the one below it was sustained (above the
    * first overloaded rung the answer is known and the drain only costs
    * time).
    */
  def ladder(topo: Topology, rungs: Seq[Rung], limitMs: Double): Seq[StepResult] = {
    val out = Seq.newBuilder[StepResult]
    var go = true
    rungs.zipWithIndex.foreach { case (r, i) =>
      if (go || i < MinRungs) {
        val st = topo.runStep(r)
        val (bad, bytes) = topo.check(st)
        val res = measure(topo, st, bad, bytes, BacklogGrowthShare)
          .copy(heapMb = Main.heapAfterGcMb())
        System.err.println(s"[perfbench] ${topo.tag} " + Json.obj(stepJson(res, limitMs).toSeq: _*))
        out += res
        go = go && res.sustained(limitMs)
      }
    }
    out.result()
  }

  /** Latency, backlog and capacity of a drained step, from the queries'
    * progress (which batch carried which offsets) and the sink end times.
    */
  private def measure(topo: Topology, st: Step, bad: Seq[String], bytes: Long,
                      share: Double): StepResult = {
    // batches that carried data, per query: (end offset, sink end time)
    val progress = topo.progress
    val byQuery: Map[String, Array[(Long, Double)]] = Queries.map { q =>
      q -> progress.filter(p => p.name == s"${q}_${topo.tag}" && p.numInputRows > 0)
        .flatMap(p => Option(topo.ends.get((q, p.batchId)))
          .map(e => (p.sources.head.endOffset.trim.toLong, e)))
        .sortBy(_._1).toArray
    }.toMap
    val offsets = byQuery.map { case (q, bs) => q -> bs.map(_._1) }
    def emitOf(offset: Int): Double = Queries.map { q =>
      val i = java.util.Arrays.binarySearch(offsets(q), offset.toLong)
      val j = if (i >= 0) i else -i - 1
      if (j < offsets(q).length) byQuery(q)(j)._2 else Double.PositiveInfinity
    }.max
    val cumEvents = topo.ticks.scanLeft(0L)(_ + _.count).toArray
    def committed(q: String, t: Double): Long = {
      val bs = byQuery(q).filter(_._2 <= t)
      if (bs.isEmpty) 0L else cumEvents(bs.map(_._1).max.toInt + 1)
    }
    val ts = topo.ticks.filter(_.step == st.index)
    val lat = new Array[Double](st.events.toInt)
    var lastEmit = 0.0
    ts.foreach { t =>
      val emit = emitOf(t.offset)
      lastEmit = math.max(lastEmit, emit)
      (0 until t.count).foreach { i =>
        val e = t.first + i
        lat(e.toInt) = emit - (st.start + e * 1000 / st.rung.rate)
      }
    }
    val lenMs = st.end - st.start
    val before = cumEvents(ts.head.offset)
    def offeredBy(t: Double) = ts.filter(_.added <= t).map(_.count.toLong).sum
    val samples = (0 to (lenMs / 20).toInt).map { i =>
      val t = st.start + i * 20.0
      val backlog = offeredBy(t) - Queries.map(q => committed(q, t) - before).min
      ((t - st.start) / 1000, math.max(0L, backlog).toDouble)
    }
    val grows = Queries.exists { q =>
      val troughs = byQuery(q).filter(b => b._1 >= ts.head.offset && b._2 <= st.end)
        .map { case (off, end) =>
          ((end - st.start) / 1000, (offeredBy(end) - (cumEvents(off.toInt + 1) - before)).toDouble)
        }
      Stats.backlogGrows(troughs.toSeq, lenMs / 1000, st.rung.rate, share)
    }
    // processing rate batch to batch for the slowest query, over the
    // batches of this step that ended before it drained: while backlogged
    // each batch takes all that is waiting, so this is the capacity
    val offeredRate = st.events / ((st.end - st.start) / 1000)
    val capacity = math.min(offeredRate, Queries.map { q =>
      val inStep = byQuery(q).filter(b => b._1 >= ts.head.offset && b._2 <= st.drained)
      if (inStep.length >= 2)
        (cumEvents(inStep.last._1.toInt + 1) - cumEvents(inStep.head._1.toInt + 1)) /
          ((inStep.last._2 - inStep.head._2) / 1000)
      else st.events / ((st.drained - st.start) / 1000)
    }.min)
    // p50 and tail are each the median over three consecutive windows of
    // the step's events, so one stalled batch moves one window's figure
    // rather than the step's
    val windows = lat.grouped(math.ceil(lat.length / 3.0).toInt).map(_.toSeq).toSeq
    val tails = windows.map(w => Stats.tail(w))
    StepResult(st, Stats.median(windows.map(Stats.median)), Stats.median(tails.map(_.value)),
      tails.head.percentile, samples.map(_._2).max, grows, capacity, lastEmit, bad, bytes)
  }

  /** The ladder's end-to-end figures. */
  def summarize(results: Seq[StepResult], limitMs: Double): Map[String, Double] = {
    val low = results.head
    val high = results(1)
    // a sustained rung processes what it is offered and an overloaded one
    // what it can, so the highest rate processed on the ladder is the
    // highest sustainable rate, whichever side of a rung it falls. Only the
    // rungs that always run count: a backlogged rung absorbs faster the
    // bigger its backlog, so a rung that runs on some runs only would make
    // the figure depend on a borderline verdict below it
    val sustainedRate = results.take(MinRungs).map(_.capacity).max
    Map(
      "low.latency_p50_ms" -> low.p50,
      "low.latency_p99_ms" -> low.tail,
      "high.latency_p50_ms" -> high.p50,
      "high.latency_p99_ms" -> high.tail,
      "sustained_rate_per_s" -> sustainedRate,
      "wall_s" -> (high.lastEmit - high.step.start) / 1000)
  }

  private def stepJson(r: StepResult, limitMs: Double): Map[String, Any] = Map(
    "name" -> r.step.rung.name, "rate_per_s" -> r.step.rung.rate,
    "seconds" -> r.step.rung.seconds, "events" -> r.step.events,
    "latency_p50_ms" -> r.p50, "latency_tail_ms" -> r.tail,
    "tail_percentile" -> r.tailPct, "backlog_max" -> r.backlogMax, "backlog_grows" -> r.grows,
    "capacity_per_s" -> r.capacity, "sustained" -> r.sustained(limitMs),
    "generator_late_ms" -> r.step.lateMs, "drain_s" -> (r.step.drained - r.step.end) / 1000,
    "failed_checks" -> r.bad)

  def run(ctx: Ctx): Outcome = {
    val conf = ctx.conf
    val cores = Main.need(conf, "cores").asInt()
    val limitMs = Main.need(conf, "latency_limit_ms").asDouble()
    val rungs = Main.need(conf, "ladder").elements().asScala.toSeq.map { n =>
      Rung(Main.need(n, "name").asText(), Main.need(n, "rate_per_s").asDouble(),
        Main.need(n, "share").asDouble() * ctx.seconds)
    }

    var topo: Topology = null
    val setups = (1 to ctx.setupReps).map { r =>
      if (topo != null) topo.stop()
      val t0 = System.nanoTime()
      topo = new Topology(ctx, cores, s"r$r")
      topo.warmUp()
      ((System.nanoTime() - t0) / 1e9, topo.sessionS)
    }
    System.err.println(s"[perfbench] set-up ${setups.map(_._1).mkString(" ")} s")
    topo.checkWarmUp()
    val peakHeap = Main.heapAfterGcMb()

    def verdicts(rs: Seq[StepResult]): (Long, Long) = {
      val failed = rs.filter(r => r.bad.nonEmpty || r.step.lateMs > GeneratorLateBoundMs)
      failed.foreach(r => System.err.println(
        s"[perfbench] FAILED step ${r.step.rung.name}: late ${r.step.lateMs} ms; ${r.bad.mkString("; ")}"))
      (rs.map(_.step.events).sum, failed.map(_.step.events).sum)
    }

    val untraced = ladder(topo, rungs, limitMs)
    val e2e = summarize(untraced, limitMs) ++ Map(
      "setup_s" -> Stats.median(setups.map(_._1)),
      "peak_heap_mb" -> (peakHeap +: untraced.map(_.heapMb)).max)
    var (attempted, failed) = verdicts(untraced)
    val layers = scala.collection.mutable.Map[String, Double]()
    layers("core.session_s") = Stats.median(setups.map(_._2))
    layers("core.cold_setup_s") = setups.head._1
    val traceOut = Seq.newBuilder[(String, Any)]
    traceOut += "steps_untraced" -> untraced.map(stepJson(_, limitMs))
    traceOut += "setups" -> setups.map { case (s, sess) => Map("setup_s" -> s, "session_s" -> sess) }

    if (ctx.trace) {
      val trace = new Trace(true)
      val sc = topo.sc
      trace.attach(sc)
      topo.trace = trace
      val batches0 = topo.progress.map(p => (p.id, p.batchId)).toSet
      val traced = ladder(topo, rungs, limitMs)
      topo.trace = new Trace(false)
      trace.settle(sc)
      val (a, f) = verdicts(traced)
      attempted += a; failed += f
      val te2e = summarize(traced, limitMs)
      layers("trace.overhead_ratio") = te2e("high.latency_p50_ms") / e2e("high.latency_p50_ms")
      val high = traced(1)
      layers("sources.backlog_max") = high.backlogMax
      layers("sources.generator_late_ms") = traced.map(_.step.lateMs).max
      val ps = topo.progress.filter(p => !batches0.contains((p.id, p.batchId)) && p.numInputRows > 0)
      def dur(p: StreamingQueryProgress, k: String) =
        Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      layers("streaming.batch_ms") = Stats.median(ps.map(dur(_, "triggerExecution")))
      layers("streaming.plan_ms") = Stats.median(ps.map(dur(_, "queryPlanning")))
      layers("streaming.log_commit_ms") =
        Stats.median(ps.map(p => dur(p, "walCommit") + dur(p, "commitOffsets")))
      val stateful = ps.filter(_.stateOperators.nonEmpty)
      layers("streaming.state_commit_ms") =
        Stats.median(stateful.map(_.stateOperators.map(_.commitTimeMs.toDouble).sum))
      layers("streaming.state_rows") = topo.queries.flatMap(q => Option(q.lastProgress))
        .map(_.stateOperators.map(_.numRowsTotal).sum).sum.toDouble
      val jobsByBatch = trace.jobs.values.asScala.toSeq.groupBy(j => (j.query, j.batch))
      val perBatch = ps.map { p =>
        val js = jobsByBatch.getOrElse((p.id.toString, p.batchId), Nil)
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli
        val end = start + dur(p, "triggerExecution").toLong
        (js.length.toDouble, trace.blocking(start, end, js).toDouble,
          js.count(_.group.startsWith("sinks.")).toDouble)
      }
      layers("streaming.jobs_per_batch") = Stats.median(perBatch.map(_._1))
      layers("streaming.driver_blocking_ms") = Stats.median(perBatch.map(_._2))
      layers("sinks.jobs_per_batch") = Stats.median(perBatch.map(_._3))
      val tracedSteps = traced.map(_.step.index).toSet
      val ws = topo.writes.asScala.toSeq.filter(w => tracedSteps.contains(w._3))
      layers("sinks.write_ms") = Stats.median(ws.map(_._4))
      layers("sinks.bytes_per_event") =
        traced.map(_.esBytes).sum.toDouble / traced.map(_.step.events).sum
      traceOut += "steps_traced" -> traced.map(stepJson(_, limitMs))
      traceOut += "batches_traced" -> ps.map(p => Json.Raw(p.json))
      traceOut += "spans" -> Json.Raw(trace.spansJson)
      trace.detach(sc)

      // isolated decode and enrich over a fixed pre-encoded set
      val spark = topo.spark
      import spark.implicits._
      val g = new Generator(ctx.seed + 1)
      val encoded = spark.createDataset((0 until DecodeRecords).map(i => g.next(i * 1000L)))
        .toDF().repartition(SourcePartitions).cache()
      encoded.count()
      val decoded = KafkaShape.decodeAvro(encoded, Registry, Schema)
      layers("sources.decode_ms") =
        Main.medianMs(3)(decoded.write.format("noop").mode("overwrite").save())
      val dcached = decoded.cache()
      dcached.count()
      layers("ops.enrich_ms") = Main.medianMs(3)(graft.ops.RatingsOps.enrich(dcached, topo.customers)
        .write.format("noop").mode("overwrite").save())

      // single-thread baseline of the same job: low and high rungs only
      topo.stop()
      val base = new Topology(ctx, 1, "local1")
      base.warmUp()
      base.checkWarmUp()
      val bres = ladder(base, rungs.take(2).map(r => r.copy(seconds = r.seconds * BaselineLocal1Share)), limitMs)
      val bsum = summarize(bres, limitMs)
      layers("baseline.local1_high_latency_p50_ms") = bsum("high.latency_p50_ms")
      layers("baseline.local1_sustained_rate_per_s") = bsum("sustained_rate_per_s")
      traceOut += "steps_local1" -> bres.map(stepJson(_, limitMs))
      base.stop()
      topo = null
    }
    if (topo != null) topo.stop()
    Outcome(attempted, failed, e2e, layers.toMap, traceOut.result())
  }
}
