package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}
import scala.jdk.CollectionConverters._

import org.apache.spark.{ListenerBus, TaskContext}
import org.apache.spark.scheduler.{JobFailed, SparkListener,
  SparkListenerJobEnd, SparkListenerJobStart}
import graft.core.Overlap
import graft.streaming.IngestDedupGate

/** graft.core.Overlap: its jobs run under the caller's job group and its
  * own job tag, a failure cancels the sibling jobs, and no job it starts
  * outlives the operator that started it.
  */
class OverlapSpec extends SparkSuite {

  private case class Job(id: Int, group: String, tagged: Boolean, start: Long)

  /** Run `body` with a listener recording every job's start and end. */
  private def recording[T](body: (ConcurrentLinkedQueue[Job],
                                  ConcurrentLinkedQueue[SparkListenerJobEnd]) => T): T = {
    val sc = spark.sparkContext
    val starts = new ConcurrentLinkedQueue[Job]()
    val ends = new ConcurrentLinkedQueue[SparkListenerJobEnd]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val tags = Option(e.properties.getProperty("spark.job.tags")).getOrElse("")
        starts.add(Job(e.jobId, e.properties.getProperty("spark.jobGroup.id"),
          tags.contains(Overlap.TagPrefix), e.time))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ends.add(e)
    }
    sc.addSparkListener(listener)
    try body(starts, ends)
    finally { ListenerBus.drain(sc); sc.removeSparkListener(listener) }
  }

  test("a throwing task cancels its sibling's running job and the original exception is rethrown") {
    val sc = spark.sparkContext
    recording { (starts, ends) =>
      val boom = new IllegalStateException("boom")
      val t0 = System.nanoTime()
      val thrown = intercept[IllegalStateException] {
        Overlap.all(Seq(
          () => sc.parallelize(1 to 2, 2).map { i =>
            // runs until cancelled (or a minute at most)
            val ctx = TaskContext.get()
            val deadline = System.currentTimeMillis() + 60000L
            while (!ctx.isInterrupted() && System.currentTimeMillis() < deadline)
              Thread.sleep(20)
            i
          }.count(),
          () => {
            val until = System.currentTimeMillis() + 30000L
            while (!starts.asScala.exists(_.tagged) &&
                System.currentTimeMillis() < until) Thread.sleep(20)
            throw boom
          }))
      }
      assert(thrown eq boom)
      assert((System.nanoTime() - t0) / 1000000000L < 30L,
        "the sibling job must be cancelled, not run to its deadline")
      ListenerBus.drain(sc)
      val sibling = starts.asScala.filter(_.tagged).map(_.id).toSet
      assert(sibling.size == 1)
      val siblingEnds = ends.asScala.filter(e => sibling(e.jobId)).toSeq
      assert(siblingEnds.size == 1 && siblingEnds.head.jobResult.isInstanceOf[JobFailed])
    }
  }

  test("overlapped jobs and disclosure probes carry the caller's job group") {
    val sc = spark.sparkContext
    Overlap.drain(spark)
    recording { (starts, _) =>
      sc.setJobGroup("overlap-spec-group", "caller")
      try {
        assert(Overlap.all(Seq(() => sc.parallelize(1 to 4).count(),
          () => sc.parallelize(1 to 6).count())) == Seq(4L, 6L))
        assert(Overlap.disclosing("spec", "rows over the cap",
          spark.range(25).toDF("n"))("done") == "done")
      } finally sc.clearJobGroup()
      ListenerBus.drain(sc)
      val tagged = starts.asScala.filter(_.tagged)
      assert(tagged.size >= 3)
      assert(tagged.forall(_.group == "overlap-spec-group"), tagged)
    }
    val Seq(d) = Overlap.drain(spark)
    assert(d.operator == "spec" && d.count == 20L && d.atLeast)
    assert(d.sample.map(_.getLong(0)) == (0L until 20L))
    assert(d.message.startsWith("spec: 20+ rows over the cap: (n=0), (n=1)"))
  }

  test("no overlapped job starts or runs after probeBatch returns") {
    import spark.implicits._
    val name = "t_overlap_probe"
    val doc = (1 to 40).map(i => s"w$i").mkString(" ")
    IngestDedupGate.appendToStore(IngestDedupGate.filterNovel(
      Seq((1L, doc)).toDF("doc_id", "text"), name), name)
    val drop = Seq((1L, doc), (2L, doc + " tail"), (3L, "something else"))
      .toDF("doc_id", "text")
    recording { (starts, ends) =>
      // hold every pool thread, so probeBatch's probe waits in the queue:
      // a joined probe keeps probeBatch from returning until the pool
      // frees up, an unjoined one would start after it returned
      val busy = new CountDownLatch(Overlap.Threads)
      val release = new CountDownLatch(1)
      val holder = new Thread(() => Overlap.all(Seq.fill(Overlap.Threads)(
        () => { busy.countDown(); release.await() })))
      val returned = new AtomicLong(Long.MaxValue)
      val error = new AtomicReference[Throwable]
      val caller = new Thread(() =>
        try {
          IngestDedupGate.probeBatch(drop, name)
          returned.set(System.currentTimeMillis())
        } catch { case e: Throwable => error.set(e) })
      holder.start()
      try {
        assert(busy.await(30, TimeUnit.SECONDS))
        caller.start()
        caller.join(8000)
        assert(caller.isAlive, "probeBatch returned while its probe was queued")
      } finally release.countDown()
      caller.join(120000)
      holder.join(30000)
      Option(error.get).foreach(e => throw e)
      ListenerBus.drain(spark.sparkContext)
      val tagged = starts.asScala.filter(_.tagged)
      assert(tagged.nonEmpty, "probeBatch's disclosure probe must run on the pool")
      assert(tagged.forall(_.start <= returned.get))
      val ended = ends.asScala.map(e => e.jobId -> e.time).toMap
      assert(tagged.forall(j => ended.get(j.id).exists(_ <= returned.get)),
        "every overlapped job must end before probeBatch returns")
    }
  }
}
