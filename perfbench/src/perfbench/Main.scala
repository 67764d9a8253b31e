package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** Everything a workload needs from the command line and plan.json. */
final case class Ctx(workload: String, seed: Long, seconds: Int, trace: Boolean,
                     work: File, plan: JsonNode, corpus: File, expected: File) {
  def conf: JsonNode = Main.need(Main.need(plan, "workloads"), workload)
  /** Set-up time is an end-to-end metric, so only untraced runs repeat
    * it: four set-ups, of which setup_s is the median. The first is cold
    * and the slowest, so the median is the mean of the two slower warm
    * ones.
    */
  def setupReps: Int = if (trace) 1 else 4
}

/** What a workload hands back: operations attempted and failed, its
  * end-to-end metrics (untraced part), its layer metrics (traced part),
  * and extra trace-file sections.
  */
final case class Outcome(attempted: Long, failed: Long, e2e: Map[String, Double],
                         layers: Map[String, Double], trace: Seq[(String, Any)])

/** Entry point: `perfbench.Main --workload W --seed N --seconds S --trace 0|1
  * --work DIR --plan FILE --corpus DIR --expected FILE [--trace-out FILE]`.
  * Prints one `PERFBENCH_RESULT {...}` line; exits non-zero without it
  * when the workload cannot run.
  */
object Main {

  /** Every end-to-end figure a workload measures, with its unit. */
  val Figures: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "low.latency_p50_ms" -> "ms", "low.latency_p99_ms" -> "ms",
    "high.latency_p50_ms" -> "ms", "high.latency_p99_ms" -> "ms",
    "sustained_rate_per_s" -> "1/s", "wall_s" -> "s", "peak_heap_mb" -> "MB")

  /** The figures BENCHMARK.json gates. The latencies are left out: on a
    * shared 4-core box the ratings latencies spread 0.15-0.27 (quartile
    * distance over median, ten runs), past the largest bound a gated
    * metric may have; they are printed beside the result line instead.
    */
  val EndToEnd: Seq[(String, String)] =
    Figures.filterNot(_._1.contains("latency"))

  /** Layer metrics. A workload that does not exercise a layer reports 0
    * for it (no jobs, no bytes, no time spent there).
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "core.session_s" -> "s", "core.cold_setup_s" -> "s",
    "sources.backlog_max" -> "count", "sources.generator_late_ms" -> "ms",
    "sources.decode_ms" -> "ms", "ops.enrich_ms" -> "ms",
    "streaming.batch_ms" -> "ms", "streaming.plan_ms" -> "ms",
    "streaming.log_commit_ms" -> "ms", "streaming.state_commit_ms" -> "ms",
    "streaming.state_rows" -> "count", "streaming.jobs_per_batch" -> "count",
    "streaming.driver_blocking_ms" -> "ms",
    "streaming.store_files" -> "count", "streaming.store_bytes" -> "bytes",
    "streaming.store_probe_ms" -> "ms",
    "sinks.write_ms" -> "ms", "sinks.jobs_per_batch" -> "count",
    "sinks.bytes_per_event" -> "bytes",
    "functions.scan_ms" -> "ms",
    "queries.build_s" -> "s", "queries.build_jobs" -> "count",
    "queries.action_s" -> "s", "queries.jobs" -> "count",
    "queries.stages" -> "count", "queries.tasks" -> "count",
    "queries.driver_blocking_s" -> "s", "queries.busy_ratio" -> "ratio",
    "queries.shuffle_bytes" -> "bytes", "queries.spill_bytes" -> "bytes",
    "trace.overhead_ratio" -> "ratio",
    "baseline.local1_high_latency_p50_ms" -> "ms",
    "baseline.local1_sustained_rate_per_s" -> "1/s")

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val plan = new ObjectMapper().readTree(new File(kv("plan")))
    if (kv("workload") == "record") {
      BatchQueries.record(plan, new File(kv("corpus")), new File(kv("expected")))
      return
    }
    val ctx = Ctx(kv("workload"), kv("seed").toLong, kv("seconds").toInt,
      kv("trace") == "1", new File(kv("work")), plan, new File(kv("corpus")),
      new File(kv("expected")))
    require(ctx.seconds >= 1, "--seconds must be at least 1")
    val out = ctx.workload match {
      case "ratings_stream" => RatingsStream.run(ctx)
      case _                => BatchQueries.run(ctx)
    }
    val metrics =
      if (ctx.trace) PerLayer.map { case (n, u) => n -> (out.layers.getOrElse(n, 0.0), u) }
      else EndToEnd.map { case (n, u) =>
        n -> (out.e2e.getOrElse(n, sys.error(s"workload did not measure $n")), u)
      }
    kv.get("trace-out").filter(_ => ctx.trace).foreach { path =>
      val body = Json.obj(Seq("workload" -> ctx.workload, "seed" -> ctx.seed,
        "seconds" -> ctx.seconds, "end_to_end_while_traced" -> out.e2e,
        "per_layer" -> out.layers) ++ out.trace: _*)
      java.nio.file.Files.write(new File(path).toPath, body.getBytes("UTF-8"))
    }
    if (!ctx.trace) System.err.println("[perfbench] end-to-end " + Json.obj(Figures.map {
      case (n, u) => n -> Json.Raw(Json.obj("value" -> out.e2e(n), "unit" -> u))
    }: _*))
    val line = Json.obj(
      "correct" -> (out.failed == 0),
      "attempted" -> out.attempted,
      "failed" -> out.failed,
      "metrics" -> Json.Raw(Json.obj(metrics.map { case (n, (v, u)) =>
        n -> Json.Raw(Json.obj("value" -> v, "unit" -> u))
      }: _*)))
    println("PERFBENCH_RESULT " + line)
    SparkSession.getActiveSession.foreach(_.stop())
  }

  /** Heap in use right after a forced full collection, in MB. Collected
    * twice, a moment apart: Spark's ContextCleaner frees broadcast and
    * shuffle blocks only after a collection has found them unreachable.
    */
  def heapAfterGcMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Wall clock in ms with sub-ms resolution, monotonic within the run. */
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  def seconds[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Median of `reps` timings of `body` in ms. */
  def medianMs(reps: Int)(body: => Unit): Double =
    Stats.median((1 to reps).map(_ => seconds(body)._2 * 1000))

  /** `n`'s field `key`; an input file without it is an error, not a default. */
  def need(n: JsonNode, key: String): JsonNode = {
    val v = n.path(key)
    require(!v.isMissingNode && !v.isNull, s"missing key $key")
    v
  }

  def strs(n: JsonNode): Seq[String] = {
    val it = n.elements()
    val b = Seq.newBuilder[String]
    while (it.hasNext) b += it.next().asText()
    b.result()
  }
}
