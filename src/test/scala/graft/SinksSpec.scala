package graft

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.time.LocalDateTime
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import graft.sinks.{AlertSink, EsBulkNdjsonSink, KafkaShapeSink}

object TestTransport {
  val sent = new ConcurrentLinkedQueue[(String, String)]()
  val failFirst = new java.util.concurrent.atomic.AtomicBoolean(false)
}

/** Sink layer semantics (SURVEY §2.2 K1–K7): ES bulk NDJSON with
  * doc-id-from-key + ISO-8601 timestamps + dead-letter tolerance, Kafka
  * record materialization, and the alert consumer incl. the
  * malformed-payload fallback (python_kafka_notify.py:46–49). The file
  * sinks' epoch files: a replay overwrites, a killed attempt's hidden
  * temp file is never read, and one write is one Spark job.
  */
class SinksSpec extends SparkSuite {

  private def tmp(prefix: String) =
    Files.createTempDirectory(prefix).toString

  /** The visible (readable) files of a directory. */
  private def partFiles(d: String): Seq[File] =
    new File(d).listFiles().toSeq.filterNot(_.getName.startsWith(".")).sortBy(_.getName)

  /** Each visible file's lines; every file must end with a newline. */
  private def fileLines(d: String): Seq[Seq[String]] = partFiles(d).map { f =>
    val text = new String(Files.readAllBytes(f.toPath), UTF_8)
    assert(text.endsWith("\n"), s"$f does not end with a newline")
    text.split("\n", -1).toSeq.dropRight(1)
  }

  test("ES NDJSON sink: bulk format, ISO-8601 *_TS, dead-letter for null ids") {
    import spark.implicits._
    val df = Seq(
      (Some(1L), "ios", ts("2024-01-01 10:01:00")),
      (Some(2L), "web", ts("2024-01-01 10:02:00")),
      (None: Option[Long], "bad", ts("2024-01-01 10:03:00")))
      .toDF("RATING_ID", "CHANNEL", "RATING_TS")
    val dir = tmp("es-sink"); val dl = tmp("es-dead")
    EsBulkNdjsonSink(dir, "ratings", "RATING_ID",
      deadLetterDir = Some(dl)).writeBatch(df, epochId = 0)

    val lines = spark.read.text(s"$dir/epoch=0").as[String]
      .collect().flatMap(_.split("\n")).sorted
    assert(lines.length == 4) // 2 docs x (action + doc)
    assert(lines.count(_.startsWith("""{"index":{"_index":"ratings","_id":"1"}}""")) == 1)
    val doc1 = lines.find(_.contains(""""RATING_ID":1""")).get
    assert(doc1.contains(""""RATING_TS":"2024-01-01T10:01:00.000Z""""),
      s"ISO-8601 rule violated: $doc1")

    val dead = spark.read.text(s"$dl/epoch=0").as[String].collect()
    assert(dead.length == 1 && dead.head.contains(""""CHANNEL":"bad""""))
  }

  test("ES sink ingest-ts SMT analog stamps the configured field") {
    import spark.implicits._
    val df = Seq((1L, "x")).toDF("ID", "V")
    val stamped = EsBulkNdjsonSink.withIngestTs(df, Some("EXTRACT_TS"))
    assert(stamped.columns.contains("EXTRACT_TS"))
    assert(stamped.schema("EXTRACT_TS").dataType ==
      org.apache.spark.sql.types.TimestampType)
  }

  test("Kafka-shape sink: key + to_json(struct(*)) records, partitioned by key") {
    import spark.implicits._
    val df = Seq((1L, "alice", 5.0), (2L, "bob", 3.0))
      .toDF("RATING_ID", "NAME", "STARS")
    val recs = KafkaShapeSink.records(df, "NAME").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(recs("alice") == """{"RATING_ID":1,"NAME":"alice","STARS":5.0}""")

    val dir = tmp("kafka-sink")
    KafkaShapeSink(dir, "ratings-enriched", "NAME").writeBatch(df, 3)
    val back = spark.read.json(s"$dir/topic=ratings-enriched/epoch=3")
    assert(back.count() == 2 && back.columns.sorted.sameElements(Array("key", "value")))
  }

  test("alert sink: formatted alert for well-formed rows, raw fallback for malformed, transport failures contained") {
    import spark.implicits._
    TestTransport.sent.clear()
    val transport = new AlertSink.Transport {
      def send(channel: String, text: String): Unit = {
        if (TestTransport.failFirst.compareAndSet(true, false))
          throw new RuntimeException("transport down")
        TestTransport.sent.add((channel, text))
      }
    }
    val sink = AlertSink(transport)

    val good = Seq(("a@x.test", "too slow", 1.0))
      .toDF("EMAIL", "MESSAGE", "STARS")
    sink.writeBatch(good, 0)
    val (ch, text) = TestTransport.sent.asScala.head
    assert(ch == "unhappy-customers")
    assert(text.contains("`a@x.test`") && text.contains("> too slow"))

    // malformed: EMAIL/MESSAGE missing → raw payload to fallback channel
    TestTransport.sent.clear()
    val malformed = Seq((9L, 2.0)).toDF("RATING_ID", "STARS")
    sink.writeBatch(malformed, 1)
    val (fch, ftext) = TestTransport.sent.asScala.head
    assert(fch == "general" && ftext.contains(""""RATING_ID":9"""))

    // a throwing transport must not fail the batch
    TestTransport.sent.clear()
    TestTransport.failFirst.set(true)
    sink.writeBatch(good.union(good), 2)
    assert(TestTransport.sent.size() == 1) // second row still delivered
  }

  test("ES sink attached to the streaming pipeline writes per-epoch NDJSON (K1 streaming end-to-end)") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = tmp("es-stream"); val ckpt = tmp("es-stream-ckpt")
    val ms = MemoryStream[Rating]
    val pipe = graft.streaming.RatingsPipeline(ms.toDF(), customersDf,
      watermark = "0 seconds")
    val q = EsBulkNdjsonSink(dir, "unhappy", "RATING_ID")
      .stream(pipe.unhappyPlatinum, checkpoint = Some(ckpt))
      .outputMode("append").start()
    try {
      ms.addData(Fixtures.ratings.take(6))
      q.processAllAvailable()
      ms.addData(Fixtures.ratings.drop(6))
      q.processAllAvailable()
      val epochs = new java.io.File(dir).list().filter(_.startsWith("epoch="))
      assert(epochs.length >= 2, epochs.mkString(","))
      val lines = spark.read.text(s"$dir/epoch=*").as[String]
        .collect().flatMap(_.split("\n"))
      val expected = graft.ops.RatingsOps.unhappyPlatinum(
        graft.ops.RatingsOps.enrich(ratingsDf, customersDf)).count()
      assert(lines.count(_.startsWith("""{"index"""")) == expected)
    } finally q.stop()
  }

  test("alert sink drives the full unhappy-platinum stream (K6 end-to-end)") {
    TestTransport.sent.clear()
    val transport = new AlertSink.Transport {
      def send(channel: String, text: String): Unit =
        TestTransport.sent.add((channel, text))
    }
    val enriched = graft.ops.RatingsOps.enrich(ratingsDf, customersDf)
    val unhappy = graft.ops.RatingsOps.unhappyPlatinum(enriched)
    AlertSink(transport).writeBatch(unhappy, 0)
    // users 1 and 5 are platinum with stars < 3: ratings 1, 3, 6, 7
    assert(TestTransport.sent.size() == 4)
    assert(TestTransport.sent.asScala.forall(_._1 == "unhappy-customers"))
    assert(TestTransport.sent.asScala.exists(_._2.contains("`first1@example.test`")))
  }

  test("ES sink replay: a second write of an epoch replaces the first, from fewer partitions") {
    import spark.implicits._
    val first = ((1 to 40).map(i => (Option(i.toLong), s"first$i")) :+
      ((None: Option[Long]) -> "first-bad")).toDF("ID", "TAG").repartition(4)
    val second = (1 to 10).map(i => (Option(i.toLong), s"second$i"))
      .toDF("ID", "TAG").coalesce(1)
    val dir = tmp("es-replay"); val dl = tmp("es-replay-dead")
    val sink = EsBulkNdjsonSink(dir, "replay", "ID", deadLetterDir = Some(dl))
    sink.writeBatch(first, 3)
    assert(partFiles(s"$dir/epoch=3").length > 1)
    sink.writeBatch(second, 3)

    assert(partFiles(s"$dir/epoch=3").map(_.getName) == Seq("part-00000"))
    val lines = spark.read.text(s"$dir/epoch=3").as[String].collect()
    assert(lines.length == 20 && lines.distinct.length == 20)
    val docs = lines.filterNot(_.startsWith("""{"index""""))
    assert(docs.sorted.sameElements((1 to 10).map(i => s"""{"ID":$i,"TAG":"second$i"}""").sorted))
    // the first write's dead letter is gone too: the second had no bad rows
    assert(partFiles(s"$dl/epoch=3").isEmpty && spark.read.text(s"$dl/epoch=3").count() == 0)
    // partition discovery over the sink directory sees the same lines
    assert(spark.read.text(dir).count() == 20)
  }

  test("ES sink crash: a killed attempt's hidden temp file is never read, and a replay removes it") {
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "b")).toDF("ID", "TAG")
    val dir = tmp("es-crash")
    val sink = EsBulkNdjsonSink(dir, "crash", "ID")
    sink.writeBatch(df, 0)
    val leftover = new File(s"$dir/epoch=0/.part-00001.77.tmp")
    Files.write(leftover.toPath, "{\"index\":{\"_id\":\"stale\"}}\n{}\n".getBytes(UTF_8))
    assert(spark.read.text(s"$dir/epoch=0").count() == 4)
    assert(spark.read.text(dir).count() == 4)
    assert(!spark.read.text(dir).select("value").as[String].collect().exists(_.contains("stale")))
    sink.writeBatch(df, 0)
    assert(!leftover.exists && spark.read.text(s"$dir/epoch=0").count() == 4)
  }

  test("ES sink exact output in one named job: bulk lines equal bulkLines, dead letters equal to_json") {
    import spark.implicits._
    val t = LocalDateTime.parse("2024-01-01T10:01:00.123")
    val df = Seq(
      (Option("1"), "good-plain", t),
      (Option("a\"b\\c"), "good-escaped", t.plusMinutes(1)),
      (Option("2"), "good-two", t.plusMinutes(2)),
      (None: Option[String], "bad-null", t.plusMinutes(3)),
      (Option("x\u0001y"), "bad-control", t.plusMinutes(4)))
      .toDF("ID", "TAG", "EVENT_TS")
    assert(df.schema("EVENT_TS").dataType == org.apache.spark.sql.types.TimestampNTZType)
    val dir = tmp("es-exact"); val dl = tmp("es-exact-dead")
    val sink = EsBulkNdjsonSink(dir, "events", "ID", deadLetterDir = Some(dl))

    val sc = spark.sparkContext
    val descriptions = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        descriptions.add(String.valueOf(e.properties.getProperty("spark.job.description")))
    }
    def jobsOf(epoch: Long): Seq[String] = {
      descriptions.clear()
      ListenerBus.drain(sc)
      sc.addSparkListener(listener)
      try { sink.writeBatch(df, epoch); ListenerBus.drain(sc) }
      finally sc.removeSparkListener(listener)
      descriptions.asScala.toSeq
    }
    sc.setJobDescription("caller")
    try {
      assert(jobsOf(5) == Seq("EsBulkNdjsonSink[events] epoch=5"))
      assert(jobsOf(6) == Seq("EsBulkNdjsonSink[events] epoch=6"))
      assert(sc.getLocalProperty("spark.job.description") == "caller")
    } finally sc.setJobDescription(null)

    val good = df.filter(col("TAG").startsWith("good"))
      .withColumn("__id", col("ID").cast("string"))
    val expected = EsBulkNdjsonSink.bulkLines(good, "events", "__id").collect()
      .map(r => r.getString(0) + "\n" + r.getString(1)).toSeq
    val written = fileLines(s"$dir/epoch=6").flatMap(_.grouped(2).map(_.mkString("\n")))
    assert(written.sorted == expected.sorted)
    assert(written.exists(_.startsWith("""{"index":{"_index":"events","_id":"a\"b\\c"}}""")))
    assert(written.exists(_.contains(""""EVENT_TS":"2024-01-01T10:01:00.123Z"""")))

    val deadExpected = df.filter(col("TAG").startsWith("bad"))
      .select(to_json(struct(df.columns.map(col): _*))).as[String].collect().toSeq
    assert(fileLines(s"$dl/epoch=6").flatten.sorted == deadExpected.sorted)
    assert(deadExpected.length == 2)
  }
}
