package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** The traced run's recorder. It sees the program only from outside:
  * spans are timed around the benchmark's own calls into graft, and jobs,
  * stages and tasks come from Spark's listener bus.
  *
  * Attribution is by job group, not by call site: before each call the
  * benchmark sets `spark.jobGroup.id` to the span's name, and Spark
  * copies local properties to the AQE and broadcast threads a query
  * spawns, so their jobs carry the group of the call that caused them.
  * Jobs run by threads that do not copy them (plain `Future`s on a shared
  * pool) carry no group or a stale one; the summary reports both.
  */
final class Trace(val enabled: Boolean) {
  import Trace._

  private val nextId = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      jobs.put(e.jobId, Job(e.jobId, prop(GroupKey).getOrElse(""),
        prop("streaming.sql.batchId").map(_.toLong).getOrElse(-1L),
        prop("sql.streaming.queryId").getOrElse(""), e.time))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty(GroupKey))).getOrElse("")
      stageGroup.put(e.stageInfo.stageId, g)
      stages.add(StageRec(e.stageInfo.stageId, g,
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) tasks.add(TaskRec(
        stageGroup.getOrDefault(e.stageId, ""), e.taskInfo.finishTime,
        m.executorRunTime,
        m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }

  def attach(sc: SparkContext): Unit = if (enabled) sc.addSparkListener(listener)
  def detach(sc: SparkContext): Unit = if (enabled) {
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
  }
  def settle(sc: SparkContext): Unit = if (enabled) org.apache.spark.PerfbenchBus.drain(sc)

  /** Runs `body` as span `name` under `parent`. When tracing, jobs the
    * calling thread submits meanwhile carry the span's name as their
    * group; the previous group is restored afterwards so a stream's own
    * group survives a span opened inside its foreachBatch.
    */
  def span[A](sc: SparkContext, name: String, parent: Long = 0L)(body: Long => A): A = {
    if (!enabled) return body(0L)
    val id = nextId.incrementAndGet()
    val prev = sc.getLocalProperty(GroupKey)
    sc.setLocalProperty(GroupKey, name)
    val start = System.currentTimeMillis()
    try body(id)
    finally {
      spans.add(Span(id, name, parent, start, System.currentTimeMillis()))
      sc.setLocalProperty(GroupKey, prev)
    }
  }

  def jobsIn(from: Long, to: Long): Seq[Job] =
    jobs.values.asScala.filter(j => j.start >= from && j.start < to).toSeq

  /** Wall time inside [from, to) during which no job of `js` ran. */
  def blocking(from: Long, to: Long, js: Seq[Job]): Long =
    Stats.selfTime(from, to, js.map(j => (j.start, if (j.end > 0) j.end else to)))

  /** Totals over the tasks that finished inside [from, to). */
  def taskTotals(from: Long, to: Long): TaskTotals = {
    val ts = tasks.asScala.filter(t => t.finish >= from && t.finish < to)
    TaskTotals(ts.size, ts.map(_.runMs).sum, ts.map(_.shuffleBytes).sum,
      ts.map(_.spillBytes).sum)
  }

  def stagesIn(from: Long, to: Long): Int =
    stages.asScala.count(s => s.submitted >= from && s.submitted < to)

  /** Self time per span name: duration minus what its children cover. */
  def selfTimes: Map[String, Long] = {
    val all = spans.asScala.toSeq
    val kids = all.groupBy(_.parent)
    all.map { s =>
      s.name -> Stats.selfTime(s.start, s.end,
        kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)))
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  def spansJson: String = Json.arr(spans.asScala.toSeq.sortBy(_.id).map(s =>
    Json.Raw(Json.obj("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "start_ms" -> s.start, "end_ms" -> s.end))))
}

object Trace {
  val GroupKey = "spark.jobGroup.id"

  final case class Span(id: Long, name: String, parent: Long, start: Long, end: Long)
  final case class Job(id: Int, group: String, batch: Long, query: String,
                       start: Long, var end: Long = 0L)
  final case class StageRec(id: Int, group: String, submitted: Long)
  final case class TaskRec(group: String, finish: Long, runMs: Long,
                           shuffleBytes: Long, spillBytes: Long)
  final case class TaskTotals(tasks: Int, runMs: Long, shuffleBytes: Long,
                              spillBytes: Long)
}
