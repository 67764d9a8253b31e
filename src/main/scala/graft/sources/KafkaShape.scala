package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Kafka-record-shaped frames without a broker (SURVEY.md §7.1: the
  * offline build keeps source boundaries option-compatible with
  * `format("kafka")` so a real Kafka impl is a drop-in).
  *
  * A Kafka source DataFrame has the fixed columns
  * (key binary, value binary, topic string, partition int, offset long,
  * timestamp timestamp) — we reproduce exactly that schema over local
  * data so every downstream transform (decode, CDC unwrap, windowing) is
  * identical to what would run against the real connector.
  */
object KafkaShape {

  val columns: Seq[String] =
    Seq("key", "value", "topic", "partition", "offset", "timestamp")

  /** Encode a payload frame into Kafka shape: key column → bytes, whole
    * row → JSON bytes in `value` (the offline stand-in for registry
    * Avro, SURVEY.md §1.3), event-time column → record timestamp.
    * Partition = hash(key) mod n, offset = per-partition sequence —
    * the same key→partition contract a producer gives.
    */
  def encode(df: DataFrame, keyCol: String, tsCol: String, topic: String): DataFrame = {
    val part = pmod(hash(col(keyCol)), lit(4))
    df.select(
      col(keyCol).cast("string").cast("binary").as("key"),
      to_json(struct(df.columns.map(col): _*)).cast("binary").as("value"),
      lit(topic).as("topic"),
      part.cast("int").as("partition"),
      row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(part).orderBy(col(tsCol), col(keyCol)))
        .cast("long").as("offset"),
      col(tsCol).as("timestamp"))
  }

  /** Decode the value payload with an explicit schema — the offline
    * `from_avro(value, registrySchema)` analog (SURVEY.md §1.2 S3):
    * `CAST(value AS STRING)` → `from_json` → `value.*`.
    */
  def decode(kafka: DataFrame, schema: StructType): DataFrame =
    kafka
      .select(from_json(col("value").cast("string"), schema).as("v"))
      .select("v.*")

  /** Decode REGISTRY-AVRO values (Confluent wire format) behind the same
    * signature shape: registry = id → writer-schema JSON, exactly what a
    * registry client caches. See [[AvroWire]] — real Avro binary
    * decoding via the Avro core library, per-partition reader reuse,
    * undecodable records skipped (errors.tolerance=all).
    */
  def decodeAvro(kafka: DataFrame, registry: Map[Int, String],
                 schema: StructType): DataFrame =
    AvroWire.decode(kafka, registry, schema)

  /** M3 `SET 'auto.offset.reset'` analog for the file-backed source:
    * "earliest" replays everything; "latest" keeps only records after
    * the current high-water mark per partition (batch semantics: empty).
    */
  def fromOffsets(kafka: DataFrame, startingOffsets: String): DataFrame =
    startingOffsets match {
      case "earliest" => kafka
      case "latest" =>
        val hwm = kafka.groupBy(col("partition").as("__p"))
          .agg(max("offset").as("__hwm"))
        kafka.join(broadcast(hwm), col("partition") === col("__p"))
          .filter(col("offset") > col("__hwm"))
          .drop("__p", "__hwm")
      case other => throw new IllegalArgumentException(
        s"startingOffsets must be earliest|latest, got $other")
    }

  /** S1 datagen analog: the reference's ratings generator emits one Avro
    * event per ≤750ms (docker-compose.yml:140–148). Structured Streaming
    * `rate` source + column synthesis gives the same shape as a stream;
    * deterministic per `rowsPerSecond`.
    */
  def ratingsGen(spark: SparkSession, rowsPerSecond: Int = 2): DataFrame = {
    val rate = spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond).load()
    rate.select(
      col("value").as("RATING_ID"),
      pmod(col("value"), lit(20)).cast("int").plus(1).as("USER_ID"),
      pmod(col("value") * 7, lit(5)).cast("double").plus(1).as("STARS"),
      element_at(
        array(lit("ios"), lit("android"), lit("web"), lit("ios-test")),
        pmod(col("value"), lit(4)).cast("int") + 1).as("CHANNEL"),
      concat(lit("rating msg "), col("value")).as("MESSAGE"),
      col("timestamp").as("ts"))
  }
}
