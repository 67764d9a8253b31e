package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.core.Pin._
import graft.ops.TemporalJoins

/** STREAMING complements of [[graft.ops.EventFeatures]] — the same
  * per-key temporal features, derived incrementally as events ingest
  * instead of in a nightly batch over the full log (the reference's
  * push-query posture, README.md:252–259, applied to feature
  * derivation):
  *
  *  - [[lagFeatures]]: a `flatMapGroupsWithState` stage carrying each
  *    key's (last event time, last value, seq, session counter) in the
  *    checkpointed state store — one row out per row in, features
  *    continuous across micro-batches AND across restarts;
  *  - [[rateAnomalies]]: a `foreachBatch` loop accumulating per-key bin
  *    counts in a [[ManifestStore]] (epoch-keyed rows, so a replayed
  *    batch overwrites itself — idempotent by construction) and
  *    re-flagging each batch's touched keys against their FULL
  *    accumulated history with the exact batch-operator arithmetic.
  *
  * Ordering contract (lagFeatures): within a micro-batch each key's
  * events are processed in (`ts`, `event_id`) order — the batch
  * operator's total order — and ACROSS batches the stage trusts arrival
  * order (state never reorders history it has already emitted). Lag
  * features of a stream therefore equal the batch operator's exactly
  * when each key's events arrive in event-time order across batches —
  * the per-key-partitioned append log (Kafka's per-key guarantee). An
  * out-of-order straggler gets features relative to the state as it
  * stands (its `gap_micros` can be negative), which is disclosed, not
  * silently reordered: a pipeline needing exact late-event repair runs
  * the batch operator over the closed log.
  */
object EventFeatureStream {

  /** The batch operators' (time, id) tiebreak on the id, for whatever id
    * type the log carries — by value, as Spark's native sort orders the
    * common orderable types (nulls first, the ASC default): strings by
    * their UTF-8 bytes (not Java's UTF-16 code units, which put a
    * supplementary character before U+E000–U+FFFF), and floating point
    * with −0.0 equal to 0.0 and NaN above every number. Every stateful
    * stage below orders its in-batch events with it, so a stream's
    * same-time events come out in the batch operator's order.
    */
  private def cmpId(a: Any, b: Any): Int = (a, b) match {
    case (null, null)             => 0
    case (null, _)                => -1
    case (_, null)                => 1
    case (x: Long, y: Long)       => java.lang.Long.compare(x, y)
    case (x: Int, y: Int)         => java.lang.Integer.compare(x, y)
    case (x: Short, y: Short)     => java.lang.Short.compare(x, y)
    case (x: Byte, y: Byte)       => java.lang.Byte.compare(x, y)
    case (x: Double, y: Double)   => SQLOrderingUtil.compareDoubles(x, y)
    case (x: Float, y: Float)     => SQLOrderingUtil.compareFloats(x, y)
    case (x: String, y: String)   =>
      UTF8String.fromString(x).binaryCompare(UTF8String.fromString(y))
    case (x: java.sql.Timestamp, y: java.sql.Timestamp) => x.compareTo(y)
    case (x: java.math.BigDecimal, y: java.math.BigDecimal) => x.compareTo(y)
    case (x, y)                   => x.toString.compareTo(y.toString)
  }

  /** Per-key lag/gap/seq/session features over a streaming DataFrame —
    * output schema = input columns + (`seq`, `prev_value`,
    * `gap_micros`, `session_idx`), identical to
    * [[graft.ops.EventFeatures.lagFeatures]]. Rows with a null key or
    * null time pass through with null features (no place in any
    * timeline) and never touch state.
    *
    * Scale shape: ONE stateful exchange on the key columns (the
    * flatMapGroupsWithState partitioning); per-key state is four
    * scalars regardless of history length — no growing buffers, no
    * per-batch rescan of old events. A hot key degrades to one task's
    * sorted in-batch slice, the same floor as the batch window.
    */
  def lagFeatures(events: DataFrame,
                  sessionGap: Long = 300L * 1000000L): DataFrame = {
    require(sessionGap > 0, s"sessionGap must be positive, got $sessionGap")
    val cols = events.columns
    val reserved = cols.filter(_.startsWith("__ef_")) ++
      Seq("seq", "prev_value", "gap_micros", "session_idx")
        .filter(cols.contains)
    require(reserved.isEmpty,
      s"column(s) ${reserved.mkString(", ")} collide with lagFeatures " +
        "outputs / reserved prefix '__ef_' — rename before deriving")
    val t = TemporalJoins.toMicros(col("ts"), events.schema("ts").dataType)
    val valueType = events.schema("value").dataType
    val withT = events.withColumn("__ef_t", t)
    val inSchema = withT.schema
    val tIdx = inSchema.fieldIndex("__ef_t")
    val idIdx = inSchema.fieldIndex("event_id")
    val valIdx = inSchema.fieldIndex("value")
    val keyIdxs = Seq("user_id").map(inSchema.fieldIndex)
    val nIn = inSchema.size

    val keySchema = StructType(Seq("user_id").map(k => inSchema(inSchema.fieldIndex(k))))
    val stateSchema = StructType(Seq(
      StructField("last_t", LongType, nullable = false),
      StructField("last_value", valueType, nullable = true),
      StructField("seq", LongType, nullable = false),
      StructField("session_idx", LongType, nullable = false)))
    // output drops the __ef_t helper: original columns + the 4 features
    val outSchema = StructType(
      inSchema.fields.filterNot(_.name == "__ef_t") ++ Seq(
        StructField("seq", LongType, nullable = true),
        StructField("prev_value", valueType, nullable = true),
        StructField("gap_micros", LongType, nullable = true),
        StructField("session_idx", LongType, nullable = true)))

    val keyEnc = Encoders.row(keySchema)
    val stateEnc = Encoders.row(stateSchema)
    val outEnc = Encoders.row(outSchema)

    def emit(row: Row, seq: Any, prev: Any, gap: Any, sess: Any): Row =
      Row.fromSeq(
        (0 until nIn).filterNot(i => inSchema(i).name == "__ef_t")
          .map(row.get) ++ Seq(seq, prev, gap, sess))

    def fn(key: Row, it: Iterator[Row], state: GroupState[Row]): Iterator[Row] = {
      val rows = it.toVector
      // null-key / null-time rows: passthrough with null features
      val keyNull = (0 until key.size).exists(key.isNullAt)
      val (valid, invalid) =
        if (keyNull) (Vector.empty[Row], rows)
        else rows.partition(r => !r.isNullAt(tIdx))
      val passthrough = invalid.iterator.map(r => emit(r, null, null, null, null))
      if (valid.isEmpty) passthrough
      else {
        val ordered = valid.sortWith { (a, b) =>
          val c = java.lang.Long.compare(a.getLong(tIdx), b.getLong(tIdx))
          if (c != 0) c < 0 else cmpId(a.get(idIdx), b.get(idIdx)) < 0
        }
        var (lastT, lastV, seq, sess) = state.getOption match {
          case Some(s) => (Some(s.getLong(0)), s.get(1), s.getLong(2), s.getLong(3))
          case None    => (None: Option[Long], null: Any, 0L, 0L)
        }
        val out = ordered.map { r =>
          val tv = r.getLong(tIdx)
          val gap: Any = lastT.map(p => tv - p).orNull
          val newSession = lastT.isEmpty ||
            gap.asInstanceOf[Long] > sessionGap
          if (newSession) sess += 1
          seq += 1
          val o = emit(r, seq, lastV, gap, sess)
          lastT = Some(tv)
          lastV = r.get(valIdx)
          o
        }
        state.update(Row(lastT.get, lastV, seq, sess))
        passthrough ++ out.iterator
      }
    }

    withT
      .groupByKey((r: Row) => Row.fromSeq(keyIdxs.map(r.get)))(keyEnc)
      .flatMapGroupsWithState[Row, Row](
        OutputMode.Append, GroupStateTimeout.NoTimeout())(fn _)(stateEnc, outEnc)
  }

  /** STREAMING ordered-funnel depth — the incremental complement of
    * [[graft.ops.EventAnalytics.funnelDepth]]: per-key state carries
    * the first-completion timestamp of each step (k scalars, bounded
    * regardless of history), each micro-batch advances the chain over
    * its events in the batch operator's (time, id) order, and one
    * (keys..., steps_completed) row per touched key per batch is
    * emitted — the funnel's changelog. Over a closed per-key-ordered
    * log the final depth equals the batch operator's exactly (a
    * forward scan's first qualifying occurrence IS the min-after-chain
    * recurrence); the same arrival-order contract as [[lagFeatures]]
    * applies across batches.
    *
    * Scale shape: ONE stateful key exchange; state is k longs per key.
    * Null-time events are skipped (no timeline position); a touched
    * key still reports its standing depth.
    */
  def funnelDepth(events: DataFrame, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnelDepth needs at least one step")
    require(steps.distinct.size == steps.size,
      s"duplicate step in $steps — a repeated type is ambiguous")
    val t = TemporalJoins.toMicros(col("ts"), events.schema("ts").dataType)
    val withT = events.withColumn("__ef_t", t)
    val inSchema = withT.schema
    val tIdx = inSchema.fieldIndex("__ef_t")
    val idIdx = inSchema.fieldIndex("event_id")
    val typeIdx = inSchema.fieldIndex("event_type")
    val keyIdxs = Seq("user_id").map(inSchema.fieldIndex)
    val k = steps.length

    val keySchema = StructType(Seq("user_id").map(kc => inSchema(inSchema.fieldIndex(kc))))
    val stateSchema = StructType(
      (0 until k).map(i => StructField(s"t$i", LongType, nullable = true)))
    val outSchema = StructType(keySchema.fields :+
      StructField("steps_completed", LongType, nullable = false))
    val keyEnc = Encoders.row(keySchema)
    val stateEnc = Encoders.row(stateSchema)
    val outEnc = Encoders.row(outSchema)

    def fn(key: Row, it: Iterator[Row], state: GroupState[Row]): Iterator[Row] = {
      val keyNull = (0 until key.size).exists(key.isNullAt)
      if (keyNull) { it.foreach(_ => ()); Iterator.empty }
      else {
        val ts = Array.fill[Option[Long]](k)(None)
        state.getOption.foreach { s =>
          (0 until k).foreach(i =>
            if (!s.isNullAt(i)) ts(i) = Some(s.getLong(i)))
        }
        var depth = ts.takeWhile(_.isDefined).length
        val ordered = it.toVector.filter(r => !r.isNullAt(tIdx))
          .sortWith { (a, b) =>
            val c = java.lang.Long.compare(a.getLong(tIdx), b.getLong(tIdx))
            if (c != 0) c < 0 else cmpId(a.get(idIdx), b.get(idIdx)) < 0
          }
        ordered.foreach { r =>
          if (depth < k && !r.isNullAt(typeIdx) &&
              r.getString(typeIdx) == steps(depth)) {
            val tv = r.getLong(tIdx)
            if (depth == 0 || tv > ts(depth - 1).get) {
              ts(depth) = Some(tv)
              depth += 1
            }
          }
        }
        state.update(Row.fromSeq(ts.map(_.map(Long.box).orNull).toSeq))
        Iterator.single(Row.fromSeq(
          (0 until key.size).map(key.get) ++ Seq(depth.toLong)))
      }
    }

    withT
      .groupByKey((r: Row) => Row.fromSeq(keyIdxs.map(r.get)))(keyEnc)
      .flatMapGroupsWithState[Row, Row](
        OutputMode.Append, GroupStateTimeout.NoTimeout())(fn _)(stateEnc, outEnc)
  }

  /** STREAMING session transcripts — the incremental complement of
    * [[graft.ops.EventFeatures.sessionTranscripts]]: per-key state
    * buffers the OPEN session's ordered turn types; a session row
    * (keys..., session_idx, n_turns, transcript) is emitted exactly
    * when the session CLOSES — a later event arrives past the gap, or
    * (with `timeoutMs` > 0) the key goes idle for that long in
    * processing time (the idle-flush every session-window system
    * ships). Closed-session rows equal the batch operator's over a
    * closed per-key-ordered log (spec-gated); the same arrival-order
    * contract as [[lagFeatures]] applies across batches.
    *
    * Scale shape: ONE stateful key exchange; per-key state is the open
    * session's turn list — GAP-BOUNDED (a session ends after
    * `sessionGap` of silence), never history-sized, the exact bound
    * the batch operator's per-session collect relies on. Null
    * key/time/type events are not turns and are skipped (the batch
    * contract).
    *
    * OPERATIONAL NOTE for `timeoutMs > 0`: with ProcessingTimeTimeout
    * registered, Spark considers every trigger worth running (timers
    * may fire), so the DEFAULT trigger(0) runs empty timer-check
    * micro-batches BACK-TO-BACK — a busy loop that burns a core and
    * starves `processAllAvailable`'s no-new-data window under load.
    * Give the writeStream an explicit
    * `Trigger.ProcessingTime(...)` of the same order as `timeoutMs`,
    * and in tests bound any `processAllAvailable` wait.
    *
    * CHECKPOINT COMPATIBILITY: the idle-flush tombstone (round 17)
    * widened the per-key state from 3 to 4 fields — a query CANNOT
    * resume from a pre-tombstone checkpoint (Spark fails the state
    * schema check at restore). Restart such a pipeline from a fresh
    * checkpoint directory.
    *
    * STATE GROWTH: the tombstone keeps (key, session_idx) coordinates
    * unique after an idle flush, but it means keyed state grows with
    * ALL-TIME key cardinality (pre-r17 `state.remove()` bounded it by
    * active keys).
    */
  def sessionTranscripts(events: DataFrame,
                         sessionGap: Long = 300L * 1000000L,
                         timeoutMs: Long = -1L): DataFrame = {
    require(sessionGap > 0, s"sessionGap must be positive, got $sessionGap")
    val t = TemporalJoins.toMicros(col("ts"), events.schema("ts").dataType)
    val withT = events.withColumn("__ef_t", t)
    val inSchema = withT.schema
    val tIdx = inSchema.fieldIndex("__ef_t")
    val idIdx = inSchema.fieldIndex("event_id")
    val typeIdx = inSchema.fieldIndex("event_type")
    val keyIdxs = Seq("user_id").map(inSchema.fieldIndex)

    val keySchema = StructType(Seq("user_id").map(kc => inSchema(inSchema.fieldIndex(kc))))
    val stateSchema = StructType(Seq(
      StructField("last_t", LongType, nullable = false),
      StructField("session_idx", LongType, nullable = false),
      StructField("turns", ArrayType(StringType), nullable = false),
      StructField("flushed", BooleanType, nullable = false)))
    val outSchema = StructType(keySchema.fields ++ Seq(
      StructField("session_idx", LongType, nullable = false),
      StructField("n_turns", LongType, nullable = false),
      StructField("transcript", StringType, nullable = false)))
    val keyEnc = Encoders.row(keySchema)
    val stateEnc = Encoders.row(stateSchema)
    val outEnc = Encoders.row(outSchema)

    def sessionRow(key: Row, sess: Long, turns: Seq[String]): Row =
      Row.fromSeq((0 until key.size).map(key.get) ++
        Seq(sess, turns.size.toLong, turns.mkString(" ")))

    def fn(key: Row, it: Iterator[Row], state: GroupState[Row]): Iterator[Row] = {
      if (state.hasTimedOut) {
        val s = state.get
        // idle flush: the open session closes by silence. Keep a
        // TOMBSTONE (same session_idx, flushed=true, empty turns)
        // instead of state.remove(): removal forgot the per-key
        // counter, so the key's next event restarted at session_idx=1
        // and the stream emitted DUPLICATE (key, session_idx)
        // coordinates after any idle flush (r16 advice). The
        // tombstone keeps numbering monotone and dense — the next
        // event opens session_idx + 1. The tombstone stays, one tiny
        // row per idle key, inert until the key returns.
        val turns = s.getSeq[String](2)
        state.update(Row(s.getLong(0), s.getLong(1),
          Seq.empty[String], true))
        if (turns.nonEmpty)
          Iterator.single(sessionRow(key, s.getLong(1), turns))
        else Iterator.empty
      } else {
        val keyNull = (0 until key.size).exists(key.isNullAt)
        val valid = it.toVector.filter(r =>
          !keyNull && !r.isNullAt(tIdx) && !r.isNullAt(typeIdx))
        if (valid.isEmpty) Iterator.empty
        else {
          // (time, id, type): the batch operator's turn-struct order
          val ordered = valid.sortWith { (a, b) =>
            val c = java.lang.Long.compare(a.getLong(tIdx), b.getLong(tIdx))
            val ci = if (c != 0) c else cmpId(a.get(idIdx), b.get(idIdx))
            (if (ci != 0) ci else cmpId(a.get(typeIdx), b.get(typeIdx))) < 0
          }
          var (lastT, sess, turns) = state.getOption match {
            case Some(s) if s.getBoolean(3) =>
              // post-flush resume: session s(1) was already emitted by
              // the idle flush, so new events open the NEXT session
              // regardless of event-time gap; lastT = None keeps the
              // gap check from bumping the index a second time
              (None: Option[Long], s.getLong(1) + 1L,
                Vector.empty[String])
            case Some(s) =>
              (Some(s.getLong(0)), s.getLong(1),
                s.getSeq[String](2).toVector)
            case None => (None: Option[Long], 1L, Vector.empty[String])
          }
          val closed = Vector.newBuilder[Row]
          ordered.foreach { r =>
            val tv = r.getLong(tIdx)
            if (lastT.exists(p => tv - p > sessionGap)) {
              if (turns.nonEmpty) closed += sessionRow(key, sess, turns)
              turns = Vector.empty
              sess += 1
            }
            turns :+= r.getString(typeIdx)
            lastT = Some(tv)
          }
          state.update(Row(lastT.get, sess, turns, false))
          if (timeoutMs > 0) state.setTimeoutDuration(timeoutMs)
          closed.result().iterator
        }
      }
    }

    withT
      .groupByKey((r: Row) => Row.fromSeq(keyIdxs.map(r.get)))(keyEnc)
      .flatMapGroupsWithState[Row, Row](
        OutputMode.Append,
        if (timeoutMs > 0) GroupStateTimeout.ProcessingTimeTimeout()
        else GroupStateTimeout.NoTimeout())(fn _)(stateEnc, outEnc)
  }

  /** Streaming per-key event-rate anomaly flags: each micro-batch's
    * events bin exactly as [[graft.ops.EventFeatures.rateAnomalies]]
    * does, the counts ACCUMULATE in a [[ManifestStore]] under
    * `storeDir`, and the batch's touched keys are re-flagged against
    * their full accumulated bin history — `sink` receives
    * (key, bin_start_us, n_events, p50, flagged) rows for every bin of
    * every key the batch touched, plus the epoch id.
    *
    * Exactly-once arithmetic without an idempotent-sink leap of faith:
    * store rows are keyed (key, bin, EPOCH) — `bin_key` joins the
    * three with the 0x1F unit separator, so a key value containing the
    * separator is rejected up front — and a replayed epoch therefore
    * OVERWRITES its own rows instead of double-counting; read-time
    * `sum` over a (key, bin)'s epoch rows is the true total. The sink
    * itself must still be idempotent per epoch (the house contract).
    *
    * Scale shape: per batch ONE (key, bin) partial-agg shuffle over the
    * batch (batch-sized), one store upsert of those rows, and a
    * key-PRUNED store read ([[ManifestStore.readWhere]] pushes the
    * touched-key predicate into the version-dir parquet scans — batch
    * cost tracks the touched keys' history, not total store size)
    * followed by the shared flag arithmetic on bins. `compactEvery`
    * folds the store's version dirs on the store's one cadence
    * ([[ManifestStore.compactOnCadence]]) so file counts stay bounded
    * on a long-running stream.
    */
  def rateAnomalies(events: DataFrame, storeDir: String,
                    checkpointDir: String,
                    binMicros: Long = 3600L * 1000000L, compactEvery: Int = 0)
                   (sink: (DataFrame, Long) => Unit): StreamingQuery = {
    val Sep = "\u001F"
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], epoch: Long) =>
        val spark = batch.sparkSession
        val bins = graft.ops.EventFeatures
          .binCounts(batch.toDF(), "user_id", "ts", binMicros)
          // read twice (store upsert + touched-key list) → pinned;
          // bounded by the batch's (key, bin) cardinality
          .pin()
        val touched = bins.select(col("user_id")).distinct()
          .collect().map(_.get(0)).toSeq
        if (touched.nonEmpty) {
          require(!touched.exists(_.toString.contains(Sep)),
            s"rateAnomalies: key values must not contain the 0x1F separator")
          val rows = bins.select(
            concat_ws(Sep, col("user_id"), col("bin_start_us"), lit(epoch))
              .as("bin_key"),
            col("user_id"), col("bin_start_us"), col("n_events"))
          val head = ManifestStore.upsert(rows, storeDir)
          // full history of the touched keys only — pruned below the
          // version window (safe: `key` is embedded in the row key, so
          // the predicate is version-invariant)
          val hist = ManifestStore
            .readWhere(spark, storeDir, head, "bin_key", col("user_id").isin(touched: _*))
            .groupBy(col("user_id"), col("bin_start_us"))
            .agg(sum(col("n_events")).as("n_events"))
            .pin() // the flag helper reads it twice
          sink(graft.ops.EventFeatures.flagBins(hist, "user_id", 300L), epoch)
          ManifestStore.compactOnCadence(spark, storeDir, compactEvery, head)(
            ManifestStore.compact(spark, storeDir, "bin_key"))
          ()
        } else sink(
          graft.ops.EventFeatures.flagBins(
            bins.withColumn("bin_start_us", col("bin_start_us").cast("long")),
            "user_id", 300L), epoch)
      }
      .start()
  }
}
