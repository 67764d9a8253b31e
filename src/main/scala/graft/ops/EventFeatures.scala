package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Pin._

/** Per-key temporal FEATURE derivation over an event log — the
  * feature-engineering step a behavioral training pipeline runs before
  * model input: each event is enriched with its predecessor's value,
  * the inter-event gap, its position in the key's timeline, and a
  * gap-threshold session index (the feature-shaped complement of the
  * reference's windowed AGGREGATIONS — session_window collapses rows,
  * this keeps one row per event; README.md:252–259 is the aggregate
  * analog).
  *
  * Determinism contract: events are ordered per key by
  * (`ts`, `event_id`) — a TOTAL order as long as `event_id` is unique,
  * so every engine reproduces lags/gaps/sessions bit-for-bit (the
  * DuckDB oracle replays the same window). All derived columns are
  * integers or passthrough values — no float accumulation whose result
  * would depend on evaluation order.
  *
  * Scale shape: ONE key-partitioned exchange + in-partition sort carries
  * every feature (all four windows share the same partitioning and
  * ordering, so Catalyst plans a single Exchange + Sort); a hot key
  * degrades to one sorted partition — the inherent floor for
  * sequence-ordered features, same posture as [[TemporalJoins.asofJoin]].
  */
object EventFeatures {

  /** Per-key event-RATE anomaly flags — the abuse/bot readout a
    * behavioral event log feeds into data curation (a scraper hitting
    * 50× its own median hourly rate is noise a training pipeline wants
    * flagged before the events become features): events bin into
    * fixed `binMicros` windows per key, and a bin is flagged when its
    * count exceeds `factorX100/100 ×` the key's OWN median bin count —
    * per-key baselines, so a naturally-busy key isn't graded on a quiet
    * key's curve. Only bins that contain events exist (sparse); keys
    * need ≥ 1 bin and a single-bin key can never flag (its median is
    * itself). Output: (key, bin_start_us, n_events, p50, flagged 0/1).
    *
    * Integer-exact end to end: bin indices by exact floor division,
    * the median is [[graft.ext.Curation.groupPercentiles]]' histogram
    * quantile (a count that occurs, never an interpolation), and the
    * flag is a cross-multiplied integer comparison — any engine
    * reproduces every flag bit-for-bit.
    *
    * Scale shape: ONE (key, bin) partial-agg shuffle over the scan,
    * then the histogram percentile pass runs on BINS (corpus-sized ÷
    * bin width) with a (key, count) histogram partial-agg, and the p50
    * table joins back key-keyed (AQE broadcasts when small). No
    * corpus sort, no window over raw events.
    */
  def rateAnomalies(events: DataFrame,
                    binMicros: Long = 3600L * 1000000L,
                    factorX100: Long = 300L): DataFrame = {
    require(factorX100 > 100,
      s"factorX100 must exceed 100 (the median itself), got $factorX100")
    val bins = binCounts(events, "user_id", "ts", binMicros)
      // pinned: the median histogram AND the flag join both read bins
      .pin()
    flagBins(bins, "user_id", factorX100)
  }

  /** The (key, bin_start_us, n_events) relation [[rateAnomalies]] and
    * its streaming complement share: fixed-window bin counts by exact
    * floor division, null key/time rows excluded.
    */
  private[graft] def binCounts(events: DataFrame, key: String,
                               timeCol: String,
                               binMicros: Long): DataFrame = {
    require(binMicros > 0, s"binMicros must be positive, got $binMicros")
    val t = TemporalJoins.toMicros(col(timeCol), events.schema(timeCol).dataType)
    events
      .filter(col(key).isNotNull && col(timeCol).isNotNull)
      .withColumn("__ef_t", t)
      // exact integer floor division (the TemporalJoins rule: floor()
      // on doubles can misround near 2^53 micros)
      .withColumn("bin_start_us",
        expr(s"(`__ef_t` - pmod(`__ef_t`, ${binMicros}L)) div ${binMicros}L")
          * binMicros)
      .groupBy(col(key), col("bin_start_us"))
      .agg(count(lit(1)).as("n_events"))
  }

  /** Flag computation over a (key, bin_start_us, n_events) relation —
    * shared verbatim by the batch operator and the streaming store path
    * so the two produce bit-identical flags from the same bin counts.
    */
  private[graft] def flagBins(bins: DataFrame, key: String,
                              factorX100: Long): DataFrame = {
    val p50 = graft.ext.Curation
      .groupPercentiles(bins, key, "n_events", Seq(50))
      .select(col(key), col("p50"))
    bins.join(p50, Seq(key))
      .select(col(key), col("bin_start_us"), col("n_events"), col("p50"),
        when(col("n_events") * 100 > lit(factorX100) * col("p50"), 1L)
          .otherwise(0L).as("flagged"))
  }

  /** Enrich `events` with per-key sequence features:
    *
    *  - `seq`: 1-based position of the event in its key's timeline;
    *  - `prev_value`: `valueCol` of the previous event (null on the
    *    first event of a key);
    *  - `gap_micros`: micros since the previous event (null on the
    *    first). Timestamp time columns measure in epoch micros
    *    (TIMESTAMP_NTZ accepted — cast under the engine's pinned-UTC
    *    sessions, the [[TemporalJoins]] round-13 rule); integer time
    *    columns measure in their own units;
    *  - `session_idx`: 1-based session number within the key — a new
    *    session starts at the first event and whenever
    *    `gap_micros > sessionGap` (the gap-based sessionization
    *    ksqlDB's SESSION windows use, README.md:256, kept per-row).
    *
    * Null-key or null-time rows pass through with null features (they
    * have no well-defined place in any timeline).
    */
  def lagFeatures(events: DataFrame,
                  valueCol: String = "value",
                  sessionGap: Long = 300L * 1000000L): DataFrame = {
    require(sessionGap > 0, s"sessionGap must be positive, got $sessionGap")
    val reserved = events.columns.filter(_.startsWith("__ef_")) ++
      Seq("seq", "prev_value", "gap_micros", "session_idx")
        .filter(events.columns.contains)
    require(reserved.isEmpty,
      s"column(s) ${reserved.mkString(", ")} collide with lagFeatures " +
        "outputs / reserved prefix '__ef_' — rename before deriving")
    val t = TemporalJoins.toMicros(col("ts"), events.schema("ts").dataType)
    // the validity flag is part of the PARTITIONING, not just an output
    // mask: a null-time row sorted into its key's timeline would shift
    // every seq and leak its value into a lag — isolating invalid rows
    // in their own partitions keeps the valid timeline untouched while
    // still computing everything in one exchange + sort. Materialized
    // as a COLUMN (not an inline expression) so every window shares the
    // same partitioning attribute — inline, each Window operator
    // re-projects the expression under a fresh attribute and Catalyst
    // plans one exchange per window.
    val valid = col("__ef_valid")
    val ordered = Window.partitionBy(valid +: Seq("user_id").map(col): _*)
      .orderBy(col("ts").asc, col("event_id").asc)
    val withGap = events
      .withColumn("__ef_valid",
        Seq("user_id").map(col(_).isNotNull).reduce(_ && _) && col("ts").isNotNull)
      .withColumn("__ef_t", t)
      .withColumn("seq",
        when(valid, row_number().over(ordered).cast("long")))
      .withColumn("prev_value",
        when(valid, lag(col(valueCol), 1).over(ordered)))
      .withColumn("gap_micros",
        when(valid, col("__ef_t") - lag(col("__ef_t"), 1).over(ordered)))
    // session boundaries: first event of a key (null gap) or a gap past
    // the threshold; the running sum over the SAME window partitioning
    // and ordering numbers the sessions without a second exchange
    withGap
      .withColumn("session_idx",
        when(valid, sum(
          when(col("gap_micros").isNull || col("gap_micros") > sessionGap,
            lit(1L)).otherwise(lit(0L))).over(
          ordered.rowsBetween(Window.unboundedPreceding, Window.currentRow))))
      .drop("__ef_t", "__ef_valid")
  }

  /** Per-SESSION rollup over [[lagFeatures]]' sessionization: one row
    * per (key, session) with event count, duration (last − first event,
    * micros) and the quantized value total — the session-analytics
    * readout (dwell time, events per visit) every event pipeline ships
    * next to the raw feature rows. Null-key/-time rows have no session
    * and are excluded (the lagFeatures passthrough contract).
    *
    * Scale shape: the lagFeatures single exchange + one (key, session)
    * partial-agg shuffle of the enriched rows.
    */
  /** Per-SESSION ordered transcripts — the conversation-assembly shape
    * an SFT pipeline needs (group an interaction stream into dialogs):
    * one row per (key, session) carrying the session's event types in
    * exact (time, id) order as one space-joined string plus the turn
    * count. Sessionization is [[lagFeatures]]' gap rule over TYPED
    * events only (a null-type event is not a turn and does not split
    * or extend a session — disclosed, and replayed identically by the
    * oracle); null key/time rows have no timeline and are excluded.
    *
    * Scale shape: the lagFeatures single exchange, then ONE (key,
    * session) partial-agg shuffle; each group's sort is row-local
    * (array_sort over the collected turns — sessions are gap-bounded,
    * never corpus-sized).
    */
  def sessionTranscripts(events: DataFrame,
                         sessionGap: Long = 300L * 1000000L): DataFrame = {
    val typed = events.filter(col("event_type").isNotNull)
    val t = TemporalJoins.toMicros(col("ts"), events.schema("ts").dataType)
    lagFeatures(typed, "event_type", sessionGap)
      .filter(col("session_idx").isNotNull)
      .withColumn("__st_turn",
        struct(t.as("t"), col("event_id").as("id"), col("event_type").as("tp")))
      .groupBy((Seq("user_id").map(col) :+ col("session_idx")): _*)
      .agg(count(lit(1)).as("n_turns"),
        array_join(
          transform(array_sort(collect_list(col("__st_turn"))),
            s => s.getField("tp")), " ").as("transcript"))
  }

  def sessionStats(events: DataFrame): DataFrame = {
    val t = TemporalJoins.toMicros(col("ts"), events.schema("ts").dataType)
    lagFeatures(events, "value", 300L * 1000000L)
      .filter(col("session_idx").isNotNull)
      .withColumn("__ss_us", t)
      .groupBy((Seq("user_id").map(col) :+ col("session_idx")): _*)
      .agg(count(lit(1)).as("n_events"),
        (max(col("__ss_us")) - min(col("__ss_us"))).as("duration_micros"),
        sum(round(col("value").cast("double") * 100, 0).cast("long"))
          .as("value_x100"))
  }
}
