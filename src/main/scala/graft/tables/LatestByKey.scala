package graft.tables

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** ksqlDB TABLE semantics (SURVEY.md §1.1 S4): a changelog view holding
  * the *latest value per primary key*, updates visible to running queries
  * (reference live-update probe: /root/reference/README.md:201–210 —
  * UPDATE of customer 42 propagates into the running join).
  *
  * Batch: one `max_by(struct(*), ord)` aggregation — a single shuffle on
  * the key, map-side-combined, no window/sort. Scales: state per key is
  * one row regardless of update count.
  *
  * Streaming: `flatMapGroupsWithState` keeping one row of state per key
  * and emitting an update whenever a newer version arrives — the direct
  * Structured Streaming expression of a changelog table (update output
  * mode ≈ ksqlDB `EMIT CHANGES` on a table).
  */
object LatestByKey {

  /** Deterministic ordering column: (ts, tiebreak...) packed as a struct
    * so max_by ties cannot flip between engines/partitions.
    */
  private def ordCol(ts: String, tiebreak: Seq[String]) =
    struct((ts +: tiebreak).map(col): _*)

  /** Batch latest-by-key: `max_by(struct(*), (ts, tiebreak))` per key. */
  def batch(df: DataFrame, key: String, ts: String,
            tiebreak: String*): DataFrame = {
    val all = struct(df.columns.map(col): _*)
    df.groupBy(col(key).as("__k"))
      .agg(max_by(all, ordCol(ts, tiebreak)).as("latest"))
      .select("latest.*")
  }

  /** Streaming latest-by-key over an append stream of versions. Emits the
    * new latest row for a key whenever it changes (changelog updates).
    * State: exactly one Row per key. Run with OutputMode.Update.
    *
    * No state timeout: a ksqlDB table retains every key forever.
    */
  def streaming(df: DataFrame, key: String, ts: String,
                tiebreak: Seq[String] = Nil): DataFrame = {
    val schema = df.schema
    val ordIdx = (ts +: tiebreak).map(schema.fieldIndex)
    val keyIdx = schema.fieldIndex(key)
    implicit val rowEnc = Encoders.row(schema)

    // same ordering as the batch max_by struct: (ts, tiebreak...)
    // lexicographic — equal-ts versions resolve deterministically by the
    // tiebreak columns instead of by arrival order
    def newer(a: Row, b: Row): Boolean = {
      var i = 0
      while (i < ordIdx.length) {
        val (va, vb) = (a.get(ordIdx(i)), b.get(ordIdx(i)))
        val c =
          if (va == null && vb == null) 0
          else if (va == null) -1
          else if (vb == null) 1
          else va.asInstanceOf[Comparable[Any]].compareTo(vb)
        if (c != 0) return c > 0
        i += 1
      }
      false
    }

    df.groupByKey(r => String.valueOf(r.get(keyIdx)))(Encoders.STRING)
      .flatMapGroupsWithState[Row, Row](OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[Row], state: GroupState[Row]) =>
          val incoming = rows.reduceOption((a, b) => if (newer(b, a)) b else a)
          val next = (state.getOption, incoming) match {
            case (Some(c), Some(i)) => if (newer(i, c)) Some(i) else None
            case (None, i)          => i
            case (_, None)          => None
          }
          next.foreach(state.update)
          next.iterator
      }
  }
}
