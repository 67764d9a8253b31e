package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** graft's one swap rule for tables that are rewritten whole: the
  * streaming state tables (sketch registers and cells, eval cells,
  * drift state) and a compacted index's data tables.
  *
  * [[publish]] writes the new rows to a scratch table, `<live>__merge`,
  * while the live table's files stay untouched, then drops the live
  * table and renames the scratch into place. So a crash leaves one
  * complete copy on disk at every instant:
  *
  *  - before the drop: live is complete and the scratch was never
  *    published; [[recover]] drops the scratch and the replayed batch
  *    merges again;
  *  - between the drop and the rename: the rows exist only in the
  *    scratch; [[recover]] renames it into place.
  *
  * A state table that sums (not max-merges) also carries ONE high-water
  * epoch marker row (`kind = 'e'`) beside its data, written in the same
  * swap, so the data and its marker commit together. [[skipOf]] reads
  * it: an epoch at or below the mark was already applied.
  */
object SwapTable {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** The scratch table a swap of `live` writes first. */
  def scratch(live: String): String = s"${live}__merge"

  /** Publish `merged` as `live`, bucketed on `key`, in one scratch-swap.
    * `merged` must not read `live` lazily (pin it, or read the files
    * raw): the drop removes the files the plan would scan.
    */
  def publish(merged: DataFrame, live: String, key: String,
              buckets: Int): Unit = {
    val spark = merged.sparkSession
    Layout.writeBucketed(merged, scratch(live), key, buckets)
    spark.sql(s"DROP TABLE IF EXISTS $live")
    renameScratch(spark, live)
    spark.catalog.refreshTable(live)
  }

  private def renameScratch(spark: SparkSession, live: String): Unit =
    spark.sql(s"ALTER TABLE ${scratch(live)} RENAME TO $live")

  /** Finish a swap a crash cut short. Live missing and the scratch
    * present: rename the scratch into place and return true. Both
    * present: drop the scratch (its rows were never published) and
    * return false. Safe to call any time.
    */
  def recover(spark: SparkSession, live: String): Boolean = {
    val hasLive = spark.catalog.tableExists(live)
    val hasScratch = spark.catalog.tableExists(scratch(live))
    if (hasScratch && !hasLive) renameScratch(spark, live)
    else if (hasScratch) spark.sql(s"DROP TABLE ${scratch(live)}")
    hasScratch && !hasLive
  }

  /** The live table after [[recover]], or None before the first publish. */
  def current(spark: SparkSession, live: String): Option[DataFrame] = {
    recover(spark, live)
    if (spark.catalog.tableExists(live)) Some(spark.table(live)) else None
  }

  /** The high-water verdict for `epoch` against `current` (the live
    * table of [[current]]), whose marker row is the max `epochCol` of
    * its `kind = 'e'` rows. None: apply the batch. `skipped_replay`:
    * epoch equals the mark, the crash replay a running lineage makes.
    * `skipped_stale`: epoch is below the mark, which no running lineage
    * makes (an out-of-order manual caller, or a fresh checkpoint
    * re-reading folded history); it is WARN-logged.
    */
  def skipOf(current: Option[DataFrame], epochCol: String, epoch: Long,
             live: String): Option[String] =
    current.flatMap(df =>
      Option(df.filter(col("kind") === "e").agg(max(col(epochCol)))
        .collect().head.get(0)).map(_.asInstanceOf[Long]))
      .collect {
        case hw if epoch == hw => "skipped_replay"
        case hw if epoch < hw =>
          log.warn(s"$live: epoch $epoch is below the high-water mark " +
            s"$hw — an out-of-order manual submission or a fresh-" +
            "checkpoint restart re-reading folded history; dropped " +
            "(state unchanged)")
          "skipped_stale"
      }

  /** Refresh `tables` in the session that started a stream. foreachBatch
    * runs in a cloned session, and a swap there does not touch the
    * owner's cached relations: without this the owner keeps reading a
    * stale file listing.
    */
  def refreshOwner(owner: SparkSession, tables: String*): Unit =
    tables.filter(owner.catalog.tableExists)
      .foreach(owner.catalog.refreshTable)
}
