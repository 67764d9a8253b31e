package graft.sinks

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Kafka-topic materialization (SURVEY.md §2.2 K3): every ksqlDB
  * CSAS/CTAS writes its result to a topic
  * (/root/reference/ksqldb-statements.sql:50–51 — `KAFKA_TOPIC=
  * 'ratings-enriched'`), keyed per `PARTITION BY` (:68, L3).
  *
  * The record contract is `key` + JSON `value` of the whole row — in
  * Spark, `to_json(struct(*))` plus the key column, exactly what a
  * `writeStream.format("kafka")` sink consumes. Offline we persist the
  * same two-column frame as JSON lines `{"key":…,"value":…}` in
  * `dir/topic=T/epoch=N/part-*` files (`EpochFiles`: one job per epoch,
  * a replayed epoch overwrites its files); the transformation
  * (`records`) is pure and oracle-verifiable.
  */
final case class KafkaShapeSink(dir: String, topic: String, keyCol: String)
  extends SinkDef {

  override def writeBatch(df: DataFrame, epochId: Long): Unit =
    EpochFiles.write(s"KafkaShapeSink[$topic]",
      KafkaShapeSink.records(df, keyCol)
        // repartition on key = the producer's key→partition placement (L3)
        .repartition(col("key"))
        .select(lit(0), to_json(struct(col("key"), col("value")))),
      Seq(s"$dir/topic=$topic"), epochId)
}

object KafkaShapeSink {

  /** The pure record transformation: (key string, value json-of-row). */
  def records(df: DataFrame, keyCol: String): DataFrame =
    df.select(
      col(keyCol).cast("string").as("key"),
      to_json(struct(df.columns.map(col): _*)).as("value"))
}
