package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.core.{Layout, Parquet}

/** graft.core.Parquet.read: the schema is inferred once per file state
  * and session inference confs, and a cached read is the same relation
  * as Spark's own.
  */
class ParquetSpec extends SparkSuite {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** Writes `df` as ONE parquet file at `path`, replacing what is there. */
  private def writeFile(df: DataFrame, path: String): Unit = {
    val dir = s"${tmp("pq-file")}/out"
    df.coalesce(1).write.parquet(dir)
    val part = new java.io.File(dir).listFiles().find(_.getName.endsWith(".parquet")).get
    Files.move(part.toPath, Paths.get(path), StandardCopyOption.REPLACE_EXISTING)
  }

  test("a second read of an unchanged file starts no job") {
    val path = s"${tmp("pq-once")}/t.parquet"
    writeFile(spark.range(10).toDF("id"), path)
    assert(jobsStarted(Parquet.read(spark, path)).size == 1) // the inference job
    var again: DataFrame = null
    assert(jobsStarted { again = Parquet.read(spark, path) }.isEmpty)
    assert(again.schema == spark.read.parquet(path).schema)
    assert(again.collect().map(_.getLong(0)).sorted.toSeq == (0L until 10L))
  }

  test("a file rewritten at the same path with another schema is re-inferred") {
    val path = s"${tmp("pq-rewrite")}/t.parquet"
    writeFile(spark.range(10).toDF("id"), path)
    assert(Parquet.read(spark, path).schema.fieldNames.toSeq == Seq("id"))
    writeFile(spark.range(3).select(col("id").cast("string").as("name"),
      lit(1.5).as("x")), path)
    val df = Parquet.read(spark, path)
    assert(df.schema.fieldNames.toSeq == Seq("name", "x"))
    assert(df.collect().map(_.getString(0)).sorted.toSeq == Seq("0", "1", "2"))
  }

  test("a session with another nanosAsLong sees its own schema") {
    val path = s"${tmp("pq-nanos")}/t.parquet"
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 ts (TIMESTAMP(NANOS,true)); }")
    val conf = spark.sparkContext.hadoopConfiguration
    val w = ExampleParquetWriter.builder(new Path(path)).withConf(conf)
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("ts", 1700000000123456789L))
    finally w.close()
    // the shared session reads TIMESTAMP(NANOS) as a long (Sessions.build)
    assert(Parquet.read(spark, path).schema("ts").dataType == LongType)
    val other = spark.newSession()
    other.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    // without the conf Spark rejects the type; a cached long schema
    // would have hidden that
    val e = intercept[Exception](Parquet.read(other, path))
    assert(e.getMessage.contains("TIMESTAMP(NANOS"), e.getMessage)
    other.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    assert(Parquet.read(other, path).head().getLong(0) == 1700000000123456789L)
  }

  test("a partitioned directory reads the same relation, cached or not") {
    val dir = tmp("pq-part")
    Layout.writeDatePartitioned(graft.queries.ParityQueries.ratings(spark,
      "/root/testdata/sf0.001"), dir, "ts")
    val plain = spark.read.parquet(dir)
    Parquet.read(spark, dir)
    var cached: DataFrame = null
    assert(jobsStarted { cached = Parquet.read(spark, dir) }.isEmpty)
    assert(cached.schema == plain.schema)
    assert(cached.schema.fieldNames.last == "p_date")
    assert(rows(cached) == rows(plain))
    val cut = plain.agg(max(col("p_date"))).head().getDate(0)
    val pruned = cached.filter(col("p_date") >= lit(cut))
    assert(pruned.queryExecution.executedPlan.toString
      .contains("PartitionFilters: [isnotnull(p_date"))
    assert(rows(pruned) == rows(plain.filter(col("p_date") >= lit(cut))))
    // a rewrite of the directory changes its identity
    Layout.writeDatePartitioned(graft.queries.ParityQueries.ratings(spark,
      "/root/testdata/sf0.001").limit(5), dir, "ts")
    assert(Parquet.read(spark, dir).count() == 5)
  }
}
