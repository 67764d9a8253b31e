package graft.meta

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Metadata/control surface (SURVEY.md §2.7): ksqlDB's DESCRIBE
  * EXTENDED (M2) and a per-column table profile. `SHOW TOPICS` is
  * `GET /status` on [[RestServer]].
  */
object Describe {

  /** M2 `DESCRIBE EXTENDED`: schema + runtime metrics of a continuous
    * query (ksqlDB surfaces consumer/produce rates; Spark surfaces the
    * StreamingQuery progress — SURVEY.md §2.7 M2).
    */
  def describeExtended(q: StreamingQuery): String = {
    val progress = Option(q.lastProgress).map(_.prettyJson).getOrElse("{}")
    s"""name: ${Option(q.name).getOrElse("<unnamed>")}
       |id: ${q.id}
       |isActive: ${q.isActive}
       |lastProgress: $progress""".stripMargin
  }

  /** Per-column data-quality PROFILE of any relation — the audit row a
    * DESCRIBE can't give: for every column its row count, non-null and
    * null counts, and EXACT distinct count. One aggregation over ONE
    * scan (Spark rewrites the multi-distinct agg via expand — the scan
    * is still read once); the single profile row collected to the
    * driver is bounded by the column count, the catalog/meta-listing
    * collect category. Exact distinct (not a sketch) so the DuckDB
    * oracle replays it bit-for-bit; at 100 TB swap in
    * [[graft.ext.FreqSketch.hllEstimate]] per column where exactness
    * isn't worth the expand.
    *
    * Output: (column, dtype, n, n_nonnull, n_null, n_distinct), one
    * row per column in schema order.
    */
  def profileTable(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val spark = df.sparkSession
    import spark.implicits._
    require(df.schema.nonEmpty, "profileTable: relation has no columns")
    val aggs = df.schema.fields.flatMap { f =>
      val c = col(s"`${f.name}`")
      Seq(count(c), count_distinct(c))
    }
    val row = df.agg(count(lit(1L)), aggs.toIndexedSeq: _*).head()
    val n = row.getLong(0)
    val out = df.schema.fields.zipWithIndex.map { case (f, i) =>
      val nonNull = row.getLong(1 + 2 * i)
      (f.name, f.dataType.simpleString, n, nonNull, n - nonNull,
        row.getLong(2 + 2 * i))
    }
    out.toSeq.toDF("column", "dtype", "n", "n_nonnull", "n_null",
      "n_distinct")
  }
}
