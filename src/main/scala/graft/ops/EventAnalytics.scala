package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream product analytics over the corpus `events` shape
  * (key, type, timestamp): ordered funnels and cohort retention — the
  * two rollups every event pipeline ships next to windowed counts.
  * Like [[EventFeatures]], both are pure integer/timestamp arithmetic
  * with DuckDB-replayable semantics.
  */
object EventAnalytics {

  /** Epoch-day of an epoch-micros long column by FLOOR division (the
    * [[TemporalJoins]] floorDivExpr posture): Spark `div` truncates
    * toward zero, DuckDB `//` floors, so a pre-1970 timestamp would
    * land in different days cross-engine under bare `div`.
    * `(c - pmod(c, m)) div m` is integer-exact floor for every long.
    */
  private def epochDayExpr(colName: String): Column =
    expr(s"(`$colName` - pmod(`$colName`, 86400000000L)) div 86400000000L")

  /** Ordered-funnel depth per key: how many of `steps` the key
    * completed IN ORDER, where step i counts only strictly after the
    * (first) completion of step i−1 — t₀ = min ts of step 0,
    * tᵢ = min ts of step i with ts > tᵢ₋₁ (the standard first-touch
    * funnel; strict > makes simultaneous events never satisfy two
    * steps). Output: (keyCol, steps_completed) for every key that has
    * ANY event — keys that never reach step 0 report 0.
    *
    * Scale shape: the step chain is k unordered window aggregates over
    * the SAME key partitioning, so Catalyst plans ONE exchange for the
    * whole derivation (the [[EventFeatures.lagFeatures]] posture), and
    * the per-key rollup reuses that partitioning — no second shuffle,
    * no per-key event list ever materializes (the collect_list
    * formulation would put a whale user's history in one row).
    */
  def funnelDepth(events: DataFrame, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnelDepth needs at least one step")
    require(steps.distinct.size == steps.size,
      s"duplicate step in $steps — a repeated type is ambiguous")
    val w = Window.partitionBy("user_id")
    // null keys have no identity to funnel over: the window would pool
    // them into ONE partition that can "convert" across unrelated
    // events (and DuckDB's JOIN USING oracle drops them) — exclude,
    // matching rollingActive/stickiness
    var df = events.filter(col("user_id").isNotNull)
      .select(col("user_id"), col("event_type"), col("ts"))
    steps.indices.foreach { i =>
      val cond =
        if (i == 0) col("event_type") === steps(0)
        else col("event_type") === steps(i) &&
          col("ts") > col(s"__fn_t${i - 1}")
      df = df.withColumn(s"__fn_t$i", min(when(cond, col("ts"))).over(w))
    }
    val depth = steps.indices
      .map(i => when(col(s"__fn_t$i").isNotNull, 1L).otherwise(0L))
      .reduce(_ + _)
    df.withColumn("__fn_depth", depth)
      .groupBy("user_id")
      .agg(max("__fn_depth").as("steps_completed"))
  }

  /** Cohort retention matrix: keys cohorted by the UTC day of their
    * first event (integer epoch days — exact, no calendar arithmetic),
    * then counted distinct per (cohort_day, offset_day) for every day
    * they were active. Row (c, 0) is the cohort size; (c, k) over it is
    * day-k retention. Null-timestamp events are dropped (no timeline
    * position), disclosed here rather than silently cohorted.
    *
    * Scale shape: one per-key min aggregation (partial-agg shuffle),
    * one key equi-join back, one (cohort, offset) distinct-count — the
    * distinct shuffles (cohort, offset, key) triples, never events.
    */
  def cohortRetention(events: DataFrame): DataFrame = {
    val t = TemporalJoins.toMicros(col("ts"), events.schema("ts").dataType)
    val days = events.filter(col("ts").isNotNull)
      .select(col("user_id"), t.as("__cr_us"))
      .withColumn("__cr_day", epochDayExpr("__cr_us"))
    val cohorts = days.groupBy("user_id")
      .agg(min("__cr_day").as("cohort_day"))
    days.join(cohorts, "user_id")
      .select(col("user_id"), col("cohort_day"),
        (col("__cr_day") - col("cohort_day")).as("offset_day"))
      .groupBy("cohort_day", "offset_day")
      .agg(countDistinct(col("user_id")).as("n_active"))
  }

  /** TOUCH ATTRIBUTION — for every conversion event, the LAST and
    * FIRST non-conversion events of the same key inside a trailing
    * event-time horizon (the last-touch/first-touch pair marketing
    * attribution reports, and the "what preceded this outcome" probe
    * any funnel owner asks): one RANGE-framed window per side over
    * (key, time) — `[t − horizonMicros, t)`, so an event at EXACTLY
    * the conversion's timestamp never attributes to it (simultaneity
    * is not precedence) — with struct min/max picking the
    * (time, id)-extreme touch deterministically. Conversions with no
    * in-horizon touch keep null touch columns (disclosed, not
    * dropped: an unattributed conversion is a finding). Null
    * key/time/type events have no timeline position and are excluded.
    *
    * Output: (keys..., conv_id, conv_t, last_touch_type,
    * last_touch_id, last_touch_t, first_touch_type, first_touch_id,
    * first_touch_t); `*_t` in epoch micros.
    *
    * Scale shape: ONE key exchange shared by both window frames —
    * the [[transitionCounts]] posture; the horizon bounds the frame,
    * never a self-join.
    */
  def touchAttribution(events: DataFrame, convType: String): DataFrame = {
    val t = TemporalJoins.toMicros(col("ts"), events.schema("ts").dataType)
    val base = events
      .filter(col("user_id").isNotNull && col("ts").isNotNull &&
        col("event_type").isNotNull)
      .withColumn("__ta_t", t)
    val w = Window.partitionBy(col("user_id")).orderBy(col("__ta_t"))
      .rangeBetween(-3600L * 1000000L, -1)
    val touch = when(col("event_type") =!= convType,
      struct(col("__ta_t").as("t"), col("event_id").as("id"),
        col("event_type").as("tp")))
    base
      .withColumn("__ta_last", max(touch).over(w))
      .withColumn("__ta_first", min(touch).over(w))
      .filter(col("event_type") === convType)
      .select(col("user_id"), col("event_id").as("conv_id"),
        col("__ta_t").as("conv_t"),
        col("__ta_last.tp").as("last_touch_type"),
        col("__ta_last.id").as("last_touch_id"),
        col("__ta_last.t").as("last_touch_t"),
        col("__ta_first.tp").as("first_touch_type"),
        col("__ta_first.id").as("first_touch_id"),
        col("__ta_first.t").as("first_touch_t"))
  }

  /** Behavior-flow TRANSITION counts (the Markov-edge view product
    * analytics calls a flow chart): per key, consecutive event-type
    * pairs in (time, id) order, counted corpus-wide — (type_from,
    * type_to, n_transitions), one row per observed edge. Null
    * key/time/type rows have no timeline position and are excluded.
    *
    * Scale shape: one key exchange for the lag window (the
    * [[EventFeatures.lagFeatures]] posture), then a partial-agg
    * shuffle bounded by |types|² rows.
    */
  def transitionCounts(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    events
      .filter(col("user_id").isNotNull && col("ts").isNotNull &&
        col("event_type").isNotNull)
      .withColumn("__tc_prev", lag(col("event_type"), 1).over(w))
      .filter(col("__tc_prev").isNotNull)
      .groupBy(col("__tc_prev").as("type_from"),
        col("event_type").as("type_to"))
      .agg(count(lit(1)).as("n_transitions"))
  }

  /** Rolling `windowDays`-day distinct actives (the DAU/WAU family):
    * for every day with events, how many distinct keys were active in
    * the trailing window ending that day. Exact distinct over a
    * sliding window via the standard expansion: each (key, day) pair —
    * deduped FIRST, so the expansion is bounded by active-days, not
    * events — contributes to the `windowDays` window anchors it
    * covers, then one (day, key) distinct count. Days without events
    * are omitted (semi-join against the observed days).
    *
    * Scale shape: one (key, day) distinct partial-agg, a ×windowDays
    * row-local expansion, one (day, key) distinct count — triples of
    * longs through every exchange, never events.
    */
  def rollingActive(events: DataFrame, windowDays: Int = 7): DataFrame = {
    require(windowDays > 0, s"windowDays must be positive, got $windowDays")
    val t = TemporalJoins.toMicros(col("ts"), events.schema("ts").dataType)
    val days = events
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(col("user_id"), t.as("__ra_us"))
      .withColumn("day", epochDayExpr("__ra_us"))
      .select(col("user_id"), col("day")).distinct()
    val expanded = days.select(col("user_id"),
      explode(sequence(col("day"), col("day") + (windowDays - 1)))
        .as("day"))
    expanded.groupBy("day")
      .agg(countDistinct(col("user_id")).as(s"n_active_${windowDays}d"))
      .join(days.select("day").distinct(), Seq("day"), "left_semi")
  }

  /** Funnel CONVERSION report over [[funnelDepth]]: one row per step
    * level 0..k with the number of keys that reached at least that
    * level and the integer conversion rate from the previous level
    * (level 0 = every key with an event; conv_x100 null there). The
    * headline funnel chart, derived from the per-key depths.
    *
    * Scale shape: funnelDepth's plan + one broadcast ×(k+1) level
    * expansion of the (key, depth) rows, partial-agg to k+1 rows; the
    * lag window runs over those k+1 rows only.
    */
  def funnelReport(events: DataFrame, steps: Seq[String]): DataFrame = {
    val depths = funnelDepth(events, steps)
    val spark = events.sparkSession
    import spark.implicits._
    val levels = (0 to steps.length).map(_.toLong).toDF("step")
    val perLevel = depths.crossJoin(broadcast(levels))
      .groupBy("step")
      .agg(sum(when(col("steps_completed") >= col("step"), 1L)
        .otherwise(0L)).as("n_users"))
    // k+1-row unpartitioned window — bounded by the step count
    val w = Window.orderBy("step")
    perLevel
      .withColumn("__fr_prev", lag(col("n_users"), 1).over(w))
      .withColumn("conv_x100",
        expr("CASE WHEN __fr_prev IS NULL OR __fr_prev = 0 THEN NULL " +
          "ELSE n_users * 100 div __fr_prev END"))
      .drop("__fr_prev")
  }

  /** STICKINESS ratio (the DAU/WAU product-health headline): per day
    * with events, daily distinct actives over trailing
    * `windowDays`-distinct actives, ×100 integer. Composes two
    * [[rollingActive]] windows on their shared day key; a day inside a
    * longer window but without its own events is absent (both sides
    * derive from the same observed-day set, so the join is total).
    *
    * Scale shape: two (key, day)-distinct partial-agg chains (the
    * 1-day side skips the expansion entirely) + one day-keyed join of
    * day-cardinality relations.
    */
  def stickiness(events: DataFrame, windowDays: Int = 7): DataFrame = {
    require(windowDays > 1,
      s"windowDays must exceed the daily window, got $windowDays")
    val daily = rollingActive(events, 1)
    val windowed = rollingActive(events, windowDays)
    daily.join(windowed, "day")
      .select(col("day"), col("n_active_1d"),
        col(s"n_active_${windowDays}d"),
        expr(s"n_active_1d * 100 div n_active_${windowDays}d")
          .as("stickiness_x100"))
  }

  /** Funnel CONVERSION LATENCY: for each adjacent step pair (i−1 → i)
    * of the [[funnelDepth]] first-touch chain, how long converting keys
    * took — n_converted plus exact integer percentiles (p50/p90, the
    * histogram-percentile law — never a corpus sort) of the
    * microsecond gap tᵢ − tᵢ₋₁. The "where does the funnel stall"
    * report next to [[funnelReport]]'s "where does it leak".
    *
    * Scale shape: funnelDepth's single-exchange window chain, cut to
    * one row per (key, step) gap, then the
    * [[graft.ext.Curation.groupPercentiles]] histogram aggregation
    * keyed by the k-row step column.
    */
  def funnelLatency(events: DataFrame, steps: Seq[String]): DataFrame = {
    require(steps.length >= 2,
      s"funnelLatency needs at least two steps, got ${steps.length}")
    require(steps.distinct.size == steps.size,
      s"duplicate step in $steps — a repeated type is ambiguous")
    val t = TemporalJoins.toMicros(col("ts"), events.schema("ts").dataType)
    val w = Window.partitionBy("user_id")
    // null keys excluded for the same reason as funnelDepth: one pooled
    // window partition would convert across unrelated events and emit
    // gap rows the oracle's JOIN USING chain never sees
    var df = events.filter(col("user_id").isNotNull)
      .select(col("user_id"), col("event_type"), t.as("__fl_us"))
    steps.indices.foreach { i =>
      val cond =
        if (i == 0) col("event_type") === steps(0)
        else col("event_type") === steps(i) &&
          col("__fl_us") > col(s"__fl_t${i - 1}")
      df = df.withColumn(s"__fl_t$i",
        min(when(cond, col("__fl_us"))).over(w))
    }
    val aggs = steps.indices.map(i => max(s"__fl_t$i").as(s"__fl_t$i"))
    val perKey = df.groupBy("user_id").agg(aggs.head, aggs.tail: _*)
    val gaps = (1 until steps.length).map { i =>
      perKey
        .filter(col(s"__fl_t$i").isNotNull)
        .select(lit(i.toLong).as("step"),
          (col(s"__fl_t$i") - col(s"__fl_t${i - 1}")).as("__fl_gap"))
    }.reduce(_ unionByName _)
    val counts = gaps.groupBy("step")
      .agg(count(lit(1)).as("n_converted"))
    counts.join(
      graft.ext.Curation.groupPercentiles(gaps, "step", "__fl_gap",
        Seq(50, 90)),
      Seq("step"), "left_outer")
      .select(col("step") +: col("n_converted") +:
        Seq(50, 90).map(p => col(s"p$p").as(s"p${p}_micros")): _*)
  }
}
