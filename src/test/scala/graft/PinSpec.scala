package graft

import org.apache.spark.{Checkpoints, SparkException}
import org.apache.spark.rdd.RDD
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
    assert(jobsStarted(source.pinLazily()).isEmpty)
    Checkpoints.withDir(sc, tempDir()) {
      assert(jobsStarted(source.pinLazily()).size == 1)
    }
    assert(sc.getCheckpointDir.isEmpty)
  }

  test("a pin's jobs, AQE stage jobs included, are described by the operator that pinned") {
    import spark.implicits._
    val sc = spark.sparkContext
    val docs = Seq((1L, "a b c a b"), (2L, "b c d")).toDF("doc_id", "text")
    sc.setJobDescription("caller")
    try {
      // trigramModel pins its (level, gram) aggregation: AQE runs the
      // shuffle stage as its own job before the pin's result job
      val jobs = jobsStarted(graft.ext.TextAnalysis.trigramModel(docs))
      val descriptions = jobs.map(_.properties.getProperty("spark.job.description"))
      assert(jobs.size >= 2, descriptions)
      assert(descriptions.forall(_ == "TextAnalysis.trigramModel/pin"), descriptions)
      assert(sc.getLocalProperty("spark.job.description") == "caller")
    } finally sc.setJobDescription(null)
  }
}
