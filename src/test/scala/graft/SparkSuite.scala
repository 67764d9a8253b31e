package graft

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Sessions

/** Shared local session for all suites (one JVM, `Test / fork := true`).
  * Mirrors production session settings via Sessions.build.
  */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.session

  def rows(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  /** The start events of the jobs started while `body` runs. */
  def jobsStarted(body: => Any): Seq[SparkListenerJobStart] = {
    val sc = spark.sparkContext
    val started = new ConcurrentLinkedQueue[SparkListenerJobStart]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = started.add(e)
    }
    ListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try { body; ListenerBus.drain(sc) } finally sc.removeSparkListener(listener)
    started.asScala.toSeq
  }

  /** Reference-shaped fixtures (customers.sql:26–45 analog: 20 customers,
    * 4 club tiers; ratings shaped like the datagen stream, SURVEY §1.2).
    */
  def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)

  def customersDf: DataFrame = {
    import spark.implicits._
    Fixtures.customers.toDF()
  }

  def ratingsDf: DataFrame = {
    import spark.implicits._
    Fixtures.ratings.toDF()
  }
}

object SparkSuite {
  lazy val session: SparkSession = Sessions.build("graft-test", "4")
}

final case class Customer(id: Int, first_name: String, last_name: String,
                          email: String, club_status: String)
final case class Rating(RATING_ID: Long, USER_ID: Int, STARS: Double,
                        CHANNEL: String, MESSAGE: String,
                        ts: java.sql.Timestamp)

object Fixtures {
  private def t(s: String) = java.sql.Timestamp.valueOf(s)

  /** Edge shapes of the word rule (graft.functions.Words): empty text,
    * a lone space, an empty middle word, leading/trailing spaces, and
    * multi-byte UTF-8 (bytes >= 0x80) inside and between words.
    */
  val edgeTexts: Seq[String] = Seq("", " ", "a  b", " lead", "trail ",
    " both  ends ", "héllo wörld", "日本 語  テキスト ")

  val clubTiers = Seq("platinum", "gold", "silver", "bronze")

  val customers: Seq[Customer] = (1 to 20).map { i =>
    Customer(i, s"First$i", s"Last$i", s"first$i@example.test",
      clubTiers((i - 1) % 4))
  }

  // 12 ratings across two 15-min windows and a test channel; users 1, 5
  // are platinum (1, 5 ≡ 1 mod 4), user 21 has no customer row.
  val ratings: Seq[Rating] = Seq(
    Rating(1, 1, 1.0, "ios", "worst. app. ever", t("2024-01-01 10:01:00")),
    Rating(2, 1, 4.0, "web", "ok I guess", t("2024-01-01 10:05:00")),
    Rating(3, 5, 2.0, "android", "meh", t("2024-01-01 10:10:00")),
    Rating(4, 2, 5.0, "ios", "great", t("2024-01-01 10:12:00")),
    Rating(5, 3, 3.0, "web", "fine", t("2024-01-01 10:14:59")),
    Rating(6, 5, 1.0, "ios", "why", t("2024-01-01 10:16:00")),
    Rating(7, 1, 2.0, "android", "still bad", t("2024-01-01 10:20:00")),
    Rating(8, 4, 4.0, "web", "good", t("2024-01-01 10:25:00")),
    Rating(9, 21, 1.0, "ios", "ghost user", t("2024-01-01 10:26:00")),
    Rating(10, 6, 3.0, "ios-test", "test msg", t("2024-01-01 10:27:00")),
    Rating(11, 2, 5.0, "IOS-TEST", "TEST again", t("2024-01-01 10:28:00")),
    Rating(12, 8, 2.0, "web", "hmm", t("2024-01-01 10:29:00")))
}
