package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Physical-layout tools for the 100 TB posture (SURVEY §4 scale knobs):
  * bucketing for shuffle-free co-located joins, and salting for skewed
  * join keys. Neither changes query results — they change where the
  * exchanges happen, which is the difference between a plan that
  * survives 1000 executors and one that doesn't.
  */
object Layout {

  /** Persist a DataFrame bucketed (and sorted) by the join key. Two
    * tables bucketed the same way join with NO Exchange on either side —
    * the 100 TB fact⋈fact path (e.g. lineitem⋈orders on orderkey every
    * night: bucket once, join shuffle-free forever).
    */
  /** The ONE bucketed-writer spec (bucket count + key, key-sorted
    * files, parquet) shared by create and append so the two can never
    * drift — Spark rejects an append whose spec mismatches the table's.
    */
  private def bucketedWriter(df: DataFrame, table: String, key: String,
                             buckets: Int, mode: String): Unit =
    df.write.mode(mode)
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet")
      .saveAsTable(table)

  def writeBucketed(df: DataFrame, table: String, key: String,
                    buckets: Int): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $table")
    // with the in-memory catalog a previous JVM's table files survive in
    // the warehouse without metadata — clear the location for idempotence
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
    val loc = new org.apache.hadoop.fs.Path(s"$warehouse/$table")
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    bucketedWriter(df, table, key, buckets, "overwrite")
  }

  /** Append to an existing bucketed table under the SAME bucketing spec
    * — the incremental-maintenance half of write-once layouts: new data
    * lands as additional per-bucket files, co-location with existing
    * readers preserved, and nothing existing is rewritten or rescanned.
    */
  def appendBucketed(df: DataFrame, table: String, key: String,
                     buckets: Int): Unit =
    bucketedWriter(df, table, key, buckets, "append")

  /** Join two same-bucketed tables on their bucket key. */
  def bucketedJoin(spark: SparkSession, leftTable: String, rightTable: String,
                   key: String): DataFrame = {
    val l = spark.table(leftTable)
    val r = spark.table(rightTable)
    l.join(r, key)
  }

  /** Date-partitioned parquet layout for the dashboard/time-series path
    * (A7/A9): writing event data partitioned by day means a trailing-
    * window query reads only the matching directories — at 100 TB the
    * "last 15 minutes" dashboard scan prunes everything else at the
    * FILE LISTING level (explain shows PartitionFilters), before a
    * single byte is read.
    */
  def writeDatePartitioned(df: DataFrame, dir: String, tsCol: String): Unit =
    df.withColumn("p_date", to_date(col(tsCol)))
      .write.mode("overwrite").partitionBy("p_date").parquet(dir)

  /** Trailing window over a date-partitioned store with a LITERAL date
    * cut, so pruning happens at file-listing time: the anchor is fetched
    * once as a scalar (one footer-stats max, the "what time is it on the
    * dashboard" lookup), then both filters fold to constants — explain
    * shows PartitionFilters on p_date and the scan never lists, let
    * alone reads, older partitions. Contrast
    * [[graft.ops.RatingsOps.recentWindow]], whose subquery anchor keeps
    * the cut non-foldable (a full-scan filter at 100 TB).
    */
  def recentWindowPruned(spark: SparkSession, dir: String, tsCol: String,
                         minutes: Int): DataFrame = {
    val store = Parquet.read(spark, dir)
    // Row.get, not Row.getTimestamp: the anchor value is
    // java.sql.Timestamp for TIMESTAMP_LTZ columns but
    // java.time.LocalDateTime for TIMESTAMP_NTZ parquet (writer-
    // dependent, isAdjustedToUTC=false) — lit() folds either into a
    // literal of the column's own type, so the pruning cut stays
    // foldable under both encodings.
    val anchor = store.agg(max(col(tsCol))).head.get(0)
    val cut = lit(anchor) - expr(s"INTERVAL $minutes MINUTES")
    store
      .filter(col("p_date") >= to_date(cut) && col(tsCol) >= cut)
      .drop("p_date")
  }

  /** Salted equi-join for skewed keys: replicate the (small-enough)
    * right side `salt` times and scatter the left side's hot keys across
    * salt sub-partitions. Result is identical to `left.join(right, key)`;
    * the shuffle spreads a hot key over `salt` reducers instead of one.
    * (AQE skew-join handles most cases at runtime — salting is the
    * explicit tool for when the skew is known and extreme.)
    */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String,
                 salt: Int): DataFrame = {
    val saltedLeft = left.withColumn("__salt",
      pmod(hash(monotonically_increasing_id()), lit(salt)))
    val saltedRight = right.withColumn("__salt",
      explode(array((0 until salt).map(lit): _*)))
    saltedLeft.join(saltedRight, Seq(key, "__salt")).drop("__salt")
  }
}
