package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.{Checkpoints, ListenerBus, SparkException}
import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import graft.core.Pin._

/** graft.core.Pin's policy, read from the context's checkpoint dir: with
  * none set a pin is executor-local and losing its blocks fails loudly;
  * with one set (through the Checkpoints fixture) a pin is reliable and
  * survives the loss, and a lazy pin becomes eager.
  */
class PinSpec extends SparkSuite {

  private def frame: DataFrame =
    spark.range(0, 200, 1, 4).select(col("id"), (col("id") * 7 % 13).as("v"))

  private def values(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  /** The RDD a pinned frame scans. */
  private def pinnedRdd(df: DataFrame): RDD[_] =
    df.queryExecution.logical.collectFirst { case r: LogicalRDD => r.rdd }.get

  private def tempDir(): String =
    java.nio.file.Files.createTempDirectory("pin-spec").toString

  /** Jobs started while `body` runs. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val started = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = started.incrementAndGet()
    }
    ListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try { body; ListenerBus.drain(sc) } finally sc.removeSparkListener(listener)
    started.get
  }

  test("local policy: a pin whose blocks are lost fails the next action instead of recomputing") {
    val sc = spark.sparkContext
    assert(sc.getCheckpointDir.isEmpty)
    val pinned = frame.pin()
    assert(values(pinned) == values(frame))
    Checkpoints.dropBlocks(sc, pinnedRdd(pinned).id)
    val e = intercept[SparkException](pinned.collect())
    assert(e.getMessage.contains("CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"), e.getMessage)
  }

  test("reliable policy: a pin whose blocks are lost still returns identical rows") {
    val sc = spark.sparkContext
    Checkpoints.withDir(sc, tempDir()) {
      val pinned = frame.pin()
      assert(pinnedRdd(pinned).getCheckpointFile.isDefined)
      Checkpoints.dropBlocks(sc, pinnedRdd(pinned).id)
      assert(values(pinned) == values(frame))
    }
    assert(sc.getCheckpointDir.isEmpty)
  }

  test("pinLazily starts no job under the local policy and one under the reliable policy") {
    val sc = spark.sparkContext
    assert(sc.getCheckpointDir.isEmpty)
    val source = frame
    assert(jobsDuring(source.pinLazily()) == 0)
    Checkpoints.withDir(sc, tempDir()) {
      assert(jobsDuring(source.pinLazily()) == 1)
    }
    assert(sc.getCheckpointDir.isEmpty)
  }
}
