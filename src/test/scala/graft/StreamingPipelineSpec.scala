package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.ops.RatingsOps
import graft.streaming.RatingsPipeline

/** The reference's execution model is continuous queries over streams
  * (EMIT CHANGES — ksqldb-statements.sql:13–17,50–68,88–93). This suite
  * runs the SAME RatingsOps plans as Structured Streaming via
  * RatingsPipeline and asserts batch/stream parity on every derived
  * relation, plus the live-update probe (README.md:201–210 analog).
  */
class StreamingPipelineSpec extends SparkSuite {

  private def runPipeline(): (MemoryStream[Rating], RatingsPipeline, Seq[org.apache.spark.sql.streaming.StreamingQuery]) = {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[Rating]
    val pipe = RatingsPipeline(ms.toDF(), customersDf, watermark = "0 seconds")
    val qs = Seq(
      pipe.live.writeStream.format("memory").queryName("s_live")
        .outputMode("append").start(),
      pipe.test.writeStream.format("memory").queryName("s_test")
        .outputMode("append").start(),
      pipe.unhappyPlatinum.writeStream.format("memory").queryName("s_unhappy")
        .outputMode("append").start(),
      pipe.perCustomer15min.writeStream.format("memory").queryName("s_p15")
        .outputMode("complete").start(),
      pipe.byClubStatus1min.writeStream.format("memory").queryName("s_club1")
        .outputMode("complete").start(),
      pipe.hopping10m5m.writeStream.format("memory").queryName("s_hop")
        .outputMode("complete").start(),
      pipe.session30m.writeStream.format("memory").queryName("s_sess")
        .outputMode("complete").start())
    (ms, pipe, qs)
  }

  test("streaming topology matches batch plans on every derived relation") {
    val (ms, _, qs) = runPipeline()
    try {
      // two micro-batches, split mid-stream like real arrival
      ms.addData(Fixtures.ratings.take(6))
      qs.foreach(_.processAllAvailable())
      ms.addData(Fixtures.ratings.drop(6))
      qs.foreach(_.processAllAvailable())

      val batchEnriched = RatingsOps.enrich(ratingsDf, customersDf)
      val expectations = Seq(
        "s_live" -> RatingsOps.live(ratingsDf),
        "s_test" -> RatingsOps.test(ratingsDf),
        "s_unhappy" -> RatingsOps.unhappyPlatinum(batchEnriched),
        "s_p15" -> RatingsOps.perCustomer15min(batchEnriched),
        "s_club1" -> RatingsOps.byClubStatus1min(batchEnriched),
        "s_hop" -> ratingsDf
          .groupBy(window(col("ts"), "10 minutes", "5 minutes").as("w"),
            col("CHANNEL"))
          .agg(count(lit(1)).as("N"))
          .select(col("w.start").as("WINDOW_START"), col("CHANNEL"), col("N")),
        "s_sess" -> ratingsDf
          .groupBy(session_window(col("ts"), "30 minutes").as("w"),
            col("USER_ID"))
          .agg(count(lit(1)).as("N_EVENTS"))
          .select(col("USER_ID"), col("w.start").as("SESSION_START"),
            col("w.end").as("SESSION_END"), col("N_EVENTS")))

      expectations.foreach { case (name, batchDf) =>
        assert(rows(spark.table(name)) == rows(batchDf), s"relation $name")
      }
    } finally qs.foreach(_.stop())
  }

  test("P12 invariant holds in streaming: live + test partition ratings") {
    val (ms, _, qs) = runPipeline()
    try {
      ms.addData(Fixtures.ratings)
      qs.foreach(_.processAllAvailable())
      val live = spark.table("s_live").count()
      val testN = spark.table("s_test").count()
      assert(live + testN == Fixtures.ratings.size)
    } finally qs.foreach(_.stop())
  }

  test("live-update probe: customer change visible to the running enrichment (README.md:201-210)") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-custdim").toString
    val out = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()

    customersDf.write.mode("overwrite").parquet(dir)
    val ms = MemoryStream[Rating]
    // Stream–table join with per-micro-batch dim refresh: the static side
    // is re-read inside foreachBatch, the SURVEY §7.5 pattern for
    // changelog-table visibility without a stateful join.
    val q = ms.toDF().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val fresh = batch.sparkSession.read.parquet(dir)
        RatingsOps.enrich(batch, fresh)
          .select("RATING_ID", "FULL_NAME").collect()
          .foreach(r => out.add((r.getLong(0), r.getString(1))))
      }.start()
    try {
      ms.addData(Rating(100, 1, 1.0, "ios", "m", ts("2024-01-01 11:00:00")))
      q.processAllAvailable()
      // the probe: update customer 1's name, as the reference updates
      // customer 42 to Rick Astley
      import spark.implicits._
      customersDf.as[Customer].map(c =>
          if (c.id == 1) c.copy(first_name = "Rick", last_name = "Astley") else c)
        .toDF().write.mode("overwrite").parquet(dir)
      ms.addData(Rating(101, 1, 1.0, "ios", "m2", ts("2024-01-01 11:01:00")))
      q.processAllAvailable()

      val seen = out.toArray(Array.empty[(Long, String)]).toMap
      assert(seen(100L) == "First1 Last1")
      assert(seen(101L) == "Rick Astley")
    } finally q.stop()
  }
}
