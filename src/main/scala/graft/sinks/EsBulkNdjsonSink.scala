package graft.sinks

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** Elasticsearch sink semantics, offline (SURVEY.md §2.2 K1/K2/K5): the
  * reference indexes topics into ES via the es-sink connector
  * (/root/reference/ksqldb-statements.sql:1–11, 70–85) with
  *
  *  - doc id = Kafka message key (`key.ignore=false`, :6),
  *  - dynamic mapping, `*_TS` fields typed `date` via the index template
  *    (docker-compose.yml:274–279) — so timestamps serialize ISO-8601,
  *  - an ingest-timestamp SMT (`InsertField$Value` → RATING_TS /
  *    EXTRACT_TS, :8–10, 82–84),
  *  - error tolerance: `behavior.on.malformed.documents=warn`,
  *    `errors.tolerance=all` + logging (:74–77) — skip-and-log bad
  *    records, never fail the pipeline.
  *
  * Offline impl: the ES bulk-API NDJSON format (action line + document
  * line). The transformation is a pure DataFrame→DataFrame (`bulkLines`)
  * so the driver's oracle can verify it. `writeBatch` evaluates the same
  * column expressions in one pass: per row, a dead-letter flag and
  * either the bulk line (`action\ndoc`) or, for a row without a usable
  * doc id, its `to_json` dead-letter line. One job writes both outputs
  * as `dir/epoch=N/part-*` and `deadLetterDir/epoch=N/part-*` files
  * (`EpochFiles`): each file is written under a hidden temp name and
  * renamed into place, and a replayed epoch first deletes its
  * directories, so its output replaces the earlier attempt's.
  */
final case class EsBulkNdjsonSink(
    dir: String,
    index: String,
    idCol: String,
    ingestTsField: Option[String] = None,
    deadLetterDir: Option[String] = None) extends SinkDef {

  override def writeBatch(df: DataFrame, epochId: Long): Unit = {
    val stamped = EsBulkNdjsonSink.withIngestTs(df, ingestTsField)
    val keyed = stamped.withColumn("__id", col(idCol).cast("string"))
    // errors.tolerance=all analog: null/missing doc id → dead letter.
    // Ids containing control characters also dead-letter: they cannot
    // appear verbatim in a JSON action line (quotes/backslashes are
    // escaped by bulkLines; control chars would need \u escapes and are
    // malformed keys in practice).
    val bad = col("__id").isNull || col("__id").rlike("[\\x00-\\x1f]")
    val (action, doc) = EsBulkNdjsonSink.bulkColumns(keyed, index, "__id")
    val line = concat_ws("\n", action, doc)
    val rows = deadLetterDir match {
      case Some(_) => keyed.select(bad.cast("int"),
        when(bad, to_json(struct(df.columns.map(col): _*))).otherwise(line))
      case None => keyed.filter(!bad).select(lit(0), line)
    }
    EpochFiles.write(s"EsBulkNdjsonSink[$index]", rows, dir +: deadLetterDir.toSeq, epochId)
  }
}

object EsBulkNdjsonSink {

  /** `InsertField$Value` SMT analog (K1): stamp the wall-clock ingest
    * time into the named `*_TS` field.
    */
  def withIngestTs(df: DataFrame, field: Option[String]): DataFrame =
    field.fold(df)(f => df.withColumn(f, current_timestamp()))

  /** K5 serialization rule: timestamp → ISO-8601 UTC string (the ES
    * index template types `*_TS`/date fields as `date`). The cast makes
    * TIMESTAMP_NTZ inputs render identically to TimestampType ones
    * (bit-identical micros under the engine's pinned-UTC sessions) —
    * without it an NTZ `RATING_TS` fell through to `to_json`'s default
    * rendering, silently dropping the `.SSS'Z'` suffix (round-12
    * k_es_bulk hash regression). No-op for TimestampType.
    */
  def iso8601(c: Column): Column =
    date_format(c.cast(TimestampType), "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")

  /** JSON-string-escape a column: backslash first, then double quote —
    * an id like `a"b\c` emits `a\"b\\c` inside the action line instead
    * of corrupting the whole NDJSON bulk request. (Control characters
    * are dead-lettered upstream by writeBatch, not escaped here.)
    */
  def jsonEscape(c: Column): Column =
    regexp_replace(regexp_replace(c, "\\\\", "\\\\\\\\"), "\"", "\\\\\"")

  /** The pure bulk-format transformation: one row in → ES bulk action +
    * document JSON out. Doc id from `idCol` (Kafka-key-as-id, K1).
    * All timestamp columns serialize ISO-8601 per the template rule.
    */
  def bulkLines(df: DataFrame, index: String, idCol: String): DataFrame = {
    val (action, doc) = bulkColumns(df, index, idCol)
    df.select(action.as("action"), doc.as("doc"))
  }

  /** `bulkLines`' two column expressions, for `writeBatch` to evaluate
    * in its own select.
    */
  private def bulkColumns(df: DataFrame, index: String, idCol: String): (Column, Column) = {
    val payloadCols = df.columns.filterNot(_ == idCol)
    val serialized = payloadCols.map { name =>
      df.schema(name).dataType match {
        case TimestampType | TimestampNTZType => iso8601(col(name)).as(name)
        case _ => col(name)
      }
    }
    (concat(lit(s"""{"index":{"_index":"$index","_id":""""),
        jsonEscape(col(idCol).cast("string")), lit("\"}}")),
      to_json(struct(serialized: _*)))
  }
}
