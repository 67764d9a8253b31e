package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.core.Sessions
import graft.meta.Describe
import graft.streaming.RatingsPipeline
import graft.tables.LatestByKey

/** Console demonstration of the streaming topology (S6 `print 'topic'` /
  * console-sink analog, SURVEY §2.1): feeds a MemoryStream through
  * RatingsPipeline and the LatestByKey changelog table and prints each
  * derived relation — the runnable entry point for eyeballing the
  * streaming layer end-to-end without a test harness.
  *
  * Kept on purpose: it is the only runnable S6 console-inspection entry
  * point (the specs assert on the relations but print nothing), and
  * README's entry-point list points users to it.
  */
object StreamDemo {
  final case class R(RATING_ID: Long, USER_ID: Int, STARS: Double,
                     CHANNEL: String, MESSAGE: String, ts: java.sql.Timestamp)
  final case class C(id: Int, first_name: String, last_name: String,
                     email: String, club_status: String)
  final case class V(id: Int, name: String, ts: java.sql.Timestamp)

  private def t(s: String) = java.sql.Timestamp.valueOf(s)

  def main(args: Array[String]): Unit = {
    val spark = Sessions.build("graft-stream-demo", "4")
    implicit val sql = spark.sqlContext
    import spark.implicits._

    val customers = Seq(
      C(1, "Rica", "Blaisdell", "rica@x.test", "platinum"),
      C(2, "Bob", "Smith", "bob@x.test", "gold")).toDF()

    val ms = MemoryStream[R]
    val pipe = RatingsPipeline(ms.toDF(), customers, watermark = "0 seconds")
    val unhappy = pipe.unhappyPlatinum.writeStream.format("memory")
      .queryName("unhappy").outputMode("append").start()
    val club = pipe.byClubStatus1min.writeStream.format("memory")
      .queryName("club1").outputMode("complete").start()

    ms.addData(Seq(
      R(1, 1, 1.0, "ios", "terrible", t("2024-01-01 10:00:10")),
      R(2, 1, 5.0, "web", "nice", t("2024-01-01 10:00:40")),
      R(3, 2, 1.0, "ios", "bad", t("2024-01-01 10:01:10"))))
    unhappy.processAllAvailable(); club.processAllAvailable()

    println("=== UNHAPPY_PLATINUM_CUSTOMERS (streaming append) ===")
    spark.table("unhappy").show(false)
    println("=== RATINGS_BY_CLUB_STATUS 1min (streaming complete) ===")
    spark.table("club1").orderBy("WINDOW_START", "CLUB_STATUS").show(false)
    println("=== DESCRIBE EXTENDED (M2) ===")
    println(Describe.describeExtended(unhappy))

    val vs = MemoryStream[V]
    val tbl = LatestByKey.streaming(vs.toDF(), "id", "ts").writeStream
      .format("memory").queryName("tbl").outputMode("update").start()
    vs.addData(V(42, "Rica Blaisdell", t("2024-01-01 09:00:00")))
    tbl.processAllAvailable()
    vs.addData(V(42, "Rick Astley", t("2024-01-01 12:00:00")))
    tbl.processAllAvailable()
    println("=== LATEST_BY_KEY changelog emissions (update probe) ===")
    spark.table("tbl").show(false)

    println("=== EMIT CHANGES LIMIT 3 over the live datagen (L1/L2 + S1) ===")
    val pushed = graft.streaming.PushQuery.emitChangesLimit(
      graft.sources.KafkaShape.ratingsGen(spark, rowsPerSecond = 100), 3)
    pushed.foreach(println)

    unhappy.stop(); club.stop(); tbl.stop()
    spark.stop()
    println("DEMO-DONE")
  }
}
