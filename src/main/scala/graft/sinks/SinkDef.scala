package graft.sinks

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.DataStreamWriter

/** Pluggable egress boundary (SURVEY.md §7.2): the reference's sinks are
  * declarative connectors (ES, Kafka topic, Mongo, Slack/Pushbullet —
  * §2.2 K1–K7); offline, each becomes a SinkDef with identical record
  * semantics so a real connector impl is a drop-in.
  *
  * One implementation serves batch and streaming: `writeBatch` is the
  * whole contract, and `stream` runs it per micro-batch via foreachBatch
  * (checkpointed — Spark's at-least-once delivery to an idempotent sink,
  * SURVEY.md §2.8). The file sinks are idempotent per epoch, so a replay
  * leaves exactly-once output. `AlertSink` is the one exception: it
  * re-sends a replayed epoch's alerts (at-least-once, like the
  * reference's Kafka consumers).
  */
trait SinkDef extends Serializable {

  /** Materialize one (micro-)batch. Must be idempotent per epoch, except
    * for `AlertSink` (at-least-once, see above).
    */
  def writeBatch(df: DataFrame, epochId: Long): Unit

  /** Attach this sink to a streaming DataFrame. */
  def stream(df: DataFrame,
             checkpoint: Option[String] = None): DataStreamWriter[Row] = {
    val w = df.writeStream.foreachBatch { (batch: DataFrame, epochId: Long) =>
      writeBatch(batch, epochId)
    }
    checkpoint.fold(w)(c => w.option("checkpointLocation", c))
  }
}
