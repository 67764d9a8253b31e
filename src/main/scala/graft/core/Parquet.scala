package graft.core

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** graft's one parquet read. `spark.read.parquet(path)` starts a Spark
  * job to infer the schema from the footers every time it is called;
  * [[read]] infers once per (path, file identity, inference confs) and
  * hands the cached schema to `.schema(...)` afterwards, which reads
  * the same relation without that job. The saving is per call: a query
  * builder that loads a corpus table, or a micro-batch that reads every
  * version dir of a store, no longer pays one serial job per read.
  *
  * What makes a cached schema stale, and so is part of the key:
  *
  *  - the file: a plain file is identified by its length and
  *    modification time, a directory by the path, length and
  *    modification time of every file under it, and a directory that is
  *    never rewritten ([[readImmutable]]: a
  *    [[graft.streaming.ManifestStore]] version dir, or a part of one)
  *    by its path alone;
  *  - the session confs that change what inference returns:
  *    `nanosAsLong`, `inferTimestampNTZ`, `binaryAsString`,
  *    `int96AsTimestamp` and `mergeSchema`.
  *
  * A path that does not exist is read uncached, so Spark reports it as
  * it always has.
  */
object Parquet {

  private val InferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema")

  /** Cached schemas, least recently used first out. A stream adds one
    * entry per version dir it commits, so the map is bounded.
    */
  private val MaxEntries = 4096
  private val schemas = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, StructType](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, StructType]): Boolean = size > MaxEntries
    })

  /** `spark.read.parquet(path)`, without the schema-inference job when
    * the schema of this path is already known.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    cached(spark, path, identity(spark, path))

  /** [[read]] of a directory that is never rewritten once written, keyed
    * by its path alone: no listing, so a store read costs no LIST per
    * version dir.
    */
  def readImmutable(spark: SparkSession, path: String): DataFrame =
    cached(spark, path, Some(qualified(spark, path)._2.toString))

  private def cached(spark: SparkSession, path: String,
                     identity: Option[String]): DataFrame =
    identity match {
      case None => spark.read.parquet(path)
      case Some(id) =>
        val key = (id +: InferenceConfs.map(spark.conf.getOption(_).orNull))
          .mkString("\u0000")
        Option(schemas.get(key)) match {
          case Some(s) => spark.read.schema(s).parquet(path)
          case None =>
            val df = spark.read.parquet(path)
            schemas.put(key, df.schema)
            df
        }
    }

  private def qualified(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    (fs, fs.makeQualified(p))
  }

  /** The file state a cached schema is valid for; None if `path` does
    * not exist.
    */
  private def identity(spark: SparkSession, path: String): Option[String] = {
    val (fs, q) = qualified(spark, path)
    try {
      val st = fs.getFileStatus(q)
      if (st.isFile) Some(s"$q@${st.getLen}@${st.getModificationTime}")
      else {
        val files = fs.listFiles(q, true)
        val entries = Iterator.continually(files).takeWhile(_.hasNext).map(_.next())
          .map(f => s"${f.getPath}@${f.getLen}@${f.getModificationTime}").toSeq.sorted
        val digest = MessageDigest.getInstance("SHA-256")
          .digest(entries.mkString("\n").getBytes(StandardCharsets.UTF_8))
        Some(s"$q#${digest.map("%02x".format(_)).mkString}")
      }
    } catch { case _: FileNotFoundException => None }
  }
}
