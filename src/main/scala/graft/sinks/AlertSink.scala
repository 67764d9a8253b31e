package graft.sinks

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Alert consumers (SURVEY.md §2.2 K6/K7): the reference tails
  * UNHAPPY_PLATINUM_CUSTOMERS with two plain Kafka consumers that
  * extract EMAIL/MESSAGE and post a formatted alert
  * (/root/reference/ios_push_notifications/python_kafka_notify.py:40–49,
  * push_bullet.py:24–60). Behaviors reproduced:
  *
  *  - payload extraction: EMAIL + MESSAGE → formatted alert text
  *    (python_kafka_notify.py:41–44);
  *  - malformed-payload fallback: if the fields are missing, send the
  *    raw payload to a fallback channel instead of crashing
  *    (python_kafka_notify.py:46–49);
  *  - transport errors are caught and counted, never propagated
  *    (python_kafka_notify.py:50–57).
  *
  * Spark-first shape: a foreachBatch SinkDef; the transport (Slack,
  * Pushbullet, …) is an injected serializable function so tests — and
  * real integrations — plug in without touching the sink. The
  * reference's 5 s/message demo throttle (python_kafka_notify.py:29) is
  * deliberately NOT reproduced: it is a demo artifact, not semantics.
  *
  * Delivery is at-least-once, the one exception to `SinkDef`'s
  * idempotent-per-epoch rule: a replayed epoch (a crash before its
  * commit) sends its alerts again, like the reference's Kafka
  * consumers. Each epoch is one `foreachPartition` job.
  */
final case class AlertSink(
    transport: AlertSink.Transport,
    channel: String = "unhappy-customers",
    fallbackChannel: String = "general") extends SinkDef {

  override def writeBatch(df: DataFrame, epochId: Long): Unit = {
    val cols = df.columns.map(_.toUpperCase)
    val hasFields = cols.contains("EMAIL") && cols.contains("MESSAGE")
    val t = transport; val ch = channel; val fb = fallbackChannel
    val payload =
      if (hasFields)
        df.select(col("EMAIL").cast("string"), col("MESSAGE").cast("string"),
          to_json(struct(df.columns.map(col): _*)).as("__raw"))
      else
        df.select(lit(null).cast("string").as("EMAIL"),
          lit(null).cast("string").as("MESSAGE"),
          to_json(struct(df.columns.map(col): _*)).as("__raw"))
    // Row-wise delivery on the executors; per-row failures are contained
    // and LOGGED with a per-partition count — silent total alert loss is
    // worse than a noisy log (the reference consumer prints each failure,
    // python_kafka_notify.py:53–57).
    payload.foreachPartition { rows: Iterator[Row] =>
      var failed = 0L
      var firstError: String = null
      rows.foreach { r =>
        val (target, text) =
          if (r.isNullAt(0) || r.isNullAt(1))
            (fb, r.getString(2)) // malformed fallback: raw payload
          else
            (ch, AlertSink.alertText(r.getString(0), r.getString(1)))
        try t.send(target, text)
        catch { case e: Exception =>
          failed += 1
          if (firstError == null)
            firstError = Option(e.getMessage).getOrElse(e.getClass.getName)
        }
      }
      if (failed > 0)
        System.err.println(
          s"[alert-sink] $failed deliveries FAILED (first: $firstError)")
    }
  }
}

object AlertSink {

  /** Pluggable delivery boundary (Slack/Pushbullet analog). */
  trait Transport extends Serializable {
    def send(channel: String, text: String): Unit
  }

  /** The alert copy shape of the reference consumer
    * (python_kafka_notify.py:41–44): recipient + bad-review message.
    */
  def alertText(email: String, message: String): String =
    s"`$email` just left a bad review :disappointed:\n> $message\n\n" +
      "_Please contact them immediately and see if we can fix the issue " +
      "*right here, right now*_"
}
