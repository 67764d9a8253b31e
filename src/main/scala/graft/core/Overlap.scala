package graft.core

import java.util.concurrent.{CompletableFuture, ExecutionException, Executors}
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SQLExecution

/** graft's one mechanism for driver-side background work. [[all]] runs
  * independent thunks (eager pins, training chains) at the same time;
  * [[disclosing]] runs an operator's over-cap probe next to the
  * operator's own work and turns what it finds into a [[Disclosure]].
  * Both return only when every task they started has finished, so no
  * job outlives the operator (or micro-batch) that started it.
  *
  * Tasks run on a small daemon pool through Spark's
  * `SQLExecution.withThreadLocalCaptured`: their jobs carry the caller's
  * job group, description, job tags and active session, plus a tag of
  * the call by which the first failing task cancels the others' jobs.
  */
object Overlap {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Prefix of the job tag each call puts on its jobs. */
  private[graft] val TagPrefix = "graft-overlap-"

  /** The widest fan-out: a recall grid's truth plus three configs. */
  private[graft] val Threads = 4

  /** A recall loss an operator made visible: up to 20 sample rows of
    * what it excluded, and how many (`atLeast`: more than `count`).
    */
  final case class Disclosure(operator: String, kind: String, count: Long,
                              atLeast: Boolean, sample: Seq[Row]) {
    def message: String = {
      val rows = sample.map(r => r.schema.fieldNames.zip(r.toSeq)
        .map { case (k, v) => s"$k=$v" }.mkString("(", ", ", ")"))
      s"$operator: $count${if (atLeast) "+" else ""} $kind" +
        (if (rows.isEmpty) "" else rows.mkString(": ", ", ", ""))
    }

    def json: String =
      s"""{"operator":${Json.str(operator)},"kind":${Json.str(kind)},""" +
        s""""count":$count,"at_least":$atLeast,"sample":""" +
        sample.map(_.json).mkString("[", ",", "]}")
  }

  private final class PoolThread(r: Runnable) extends Thread(r, "graft-overlap") {
    setDaemon(true)
  }
  private val pool = Executors.newFixedThreadPool(Threads, new PoolThread(_))
  private val tags = new AtomicLong
  private def onPool = Thread.currentThread.isInstanceOf[PoolThread]

  /** Run `tasks` at the same time; their results, in order. The first
    * failure cancels the other tasks' jobs and is rethrown once every
    * task has finished. Throws when called from a pool thread, which
    * could deadlock the pool by waiting on it.
    */
  def all[T](tasks: Seq[() => T]): Seq[T] = {
    if (onPool) throw new IllegalStateException(
      "Overlap.all called from an Overlap task; fan out from the caller instead")
    val call = new Call(SparkSession.active)
    call.join(tasks.map(t => call.submit(t())))
  }

  /** `body`, with the probe `overCap.limit(21).collect()` run next to it
    * and joined before `body`'s result is returned. Rows found become
    * one [[Disclosure]] of `operator` and `kind` ([[disclose]]). A
    * failing `body` cancels the probe; a failing probe fails the call.
    * On a pool thread (an operator called from an [[all]] task) the
    * probe runs after `body`, on that thread.
    */
  def disclosing[T](operator: String, kind: String, overCap: DataFrame)
                   (body: => T): T = {
    def probe() = overCap.limit(21).collect()
    val (result, over) =
      if (onPool) { val r = body; (r, probe()) }
      else {
        val call = new Call(overCap.sparkSession)
        val f = Seq(call.submit(probe()))
        val r = try Some(body) catch { case e: Throwable => call.fail(e); None }
        val over = call.join(f).head // rethrows body's failure, if any
        (r.get, over)
      }
    if (over.nonEmpty) disclose(overCap.sparkSession, Disclosure(operator,
      kind, over.length min 20, over.length > 20, over.take(20).toSeq))
    result
  }

  private val registry = new java.util.WeakHashMap[SparkSession, Vector[Disclosure]]()

  /** Log `d` as one WARN line and keep it for `spark`'s [[drain]]. */
  def disclose(spark: SparkSession, d: Disclosure): Unit = {
    log.warn(d.message)
    registry.synchronized {
      registry.put(spark, registry.getOrDefault(spark, Vector.empty) :+ d)
    }
  }

  /** The disclosures recorded in `spark` since the last drain. */
  def drain(spark: SparkSession): Seq[Disclosure] =
    registry.synchronized(Option(registry.remove(spark)).getOrElse(Vector.empty))

  /** One call's tasks: they share a job tag and the first failure. */
  private final class Call(spark: SparkSession) {
    private val sc = spark.sparkContext
    private val tag = TagPrefix + tags.incrementAndGet()
    private val failed = new AtomicReference[Throwable]

    /** Record the call's first failure and cancel its jobs. */
    def fail(e: Throwable): Unit =
      if (failed.compareAndSet(null, e)) sc.cancelJobsWithTag(tag, "a sibling failed")

    def submit[T](body: => T): CompletableFuture[T] =
      SQLExecution.withThreadLocalCaptured(
          spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], pool) {
        sc.addJobTag(tag)
        try {
          if (failed.get != null) throw new IllegalStateException(s"$tag: a sibling failed")
          body
        } catch { case e: Throwable => fail(e); throw e }
        finally sc.removeJobTag(tag)
      }

    /** Every task's result once all have finished, or the first failure.
      * An interrupted caller cancels the tasks' jobs and stops waiting.
      */
    def join[T](fs: Seq[CompletableFuture[T]]): Seq[T] = {
      try fs.foreach(f => try f.get() catch { case _: ExecutionException => () })
      catch { case e: InterruptedException => fail(e); throw e }
      Option(failed.get).foreach(e => throw e)
      fs.map(_.join())
    }
  }
}
