package graft.core

import org.apache.spark.sql.SparkSession

/** Central session builder so every entry point (Verify, Bench, tests)
  * runs with identical semantics:
  *
  *  - UTC session timezone (oracle comparability),
  *  - AQE on (runtime join-strategy + skew handling — the 100 TB posture
  *    relies on AQE picking shuffled-hash/SMJ for scaling tables instead
  *    of static broadcast hints, SURVEY.md §4),
  *  - `shuffle.partitions` sized to the local core count, not the 200
  *    default (on a real cluster this is sized to data volume; AQE
  *    coalesces down from it either way),
  *  - `parquet.nanosAsLong` set once, here, instead of as a hidden side
  *    effect inside a table loader: earlier driver corpora wrote
  *    `events.ts` as parquet TIMESTAMP(NANOS), which the vectorized
  *    reader otherwise rejects. Only nanos-typed columns are affected.
  *  - `parquet.inferTimestampNTZ.enabled=false`: the regenerated corpus
  *    writes TIMESTAMP_MICROS with `isAdjustedToUTC=false`, which Spark 4
  *    otherwise reads as TIMESTAMP_NTZ — a type that breaks
  *    `unix_micros`, `cast(.. as long)`, and every TimestampType
  *    dispatch in the engine (the round-12 corpus regression). With the
  *    session timezone pinned UTC above, reading those columns as plain
  *    TimestampType is a bit-identical reinterpretation of the stored
  *    micros — the reference's own time semantics are epoch-millis
  *    ROWTIME (README.md:238), i.e. instants, not wall-clock values.
  *    Operators additionally accept NTZ inputs directly (defense in
  *    depth for user-supplied frames) — see FIXTURES.md §Timestamps.
  *  - `cleaner.referenceTracking.cleanCheckpoints=true`: when a
  *    checkpoint dir is set, [[Pin]]'s reliable pins are deleted once
  *    nothing references them (no effect without a dir).
  */
object Sessions {

  /** Per-JVM warehouse nonce: two concurrent entry points (e.g. `sbt
    * test` and a Bench run) each get their own warehouse subdirectory,
    * so Layout's delete-for-idempotence of `warehouse/<table>` can never
    * clobber another JVM's bucketed data mid-query.
    */
  private val warehouseNonce: String =
    java.util.UUID.randomUUID().toString.take(8)

  def build(appName: String, cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .appName(appName)
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft-warehouse/" +
          s"$appName-$warehouseNonce")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
