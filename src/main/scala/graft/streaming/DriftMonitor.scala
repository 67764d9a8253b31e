package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.core.Pin._
import graft.ext.TextAnalysis

/** STREAMING corpus-drift monitor: per micro-batch, the ingest's
  * quality-shape rates are compared against a PINNED baseline profile
  * (trained once from a trusted snapshot — the NbBundle/LmBundle
  * discipline applied to monitoring) and folded into a persisted
  * integer CUSUM per metric, the classic sequential change detector:
  *
  *   s_up'  = max(0, s_up + (x − μ − slack))      (upward page)
  *   s_dn'  = max(0, s_dn + (μ − x − slack))      (downward page)
  *   alarm  = s_up' > threshold ∨ s_dn' > threshold
  *
  * — a one-batch blip within `slack` of baseline decays to nothing,
  * while a SUSTAINED shift accumulates and alarms even when each
  * individual batch looks unremarkable. That is the monitoring gap the
  * per-batch gates (quality cut, lexicon screen) cannot see: each
  * batch passes its own bar while the corpus quietly shifts.
  *
  * All three metrics are ×10⁴ RATES over the batch (one shared grain,
  * so one slack/threshold pair means the same thing for each):
  * `quality_rate` (share of non-null-text docs passing
  * [[TextAnalysis.qualityScore]] ≥ minQuality), `null_text_rate`
  * (share of ALL rows with null text), `short_doc_rate` (share of
  * non-null-text docs under 10 tokens). Every update is exact integer
  * arithmetic.
  *
  * REPLAY SAFETY: CUSUM is a running sum — not redelivery-idempotent —
  * so a HIGH-WATER epoch marker rides in the SAME state table and the
  * (skip | update+mark) decision publishes as ONE atomic scratch-swap
  * ([[SketchStream.maintainCms]]'s law, same crash-window recovery).
  * Within one checkpoint lineage epochs are monotonically increasing,
  * so `epoch ≤ high-water` identifies every replay and ONE marker row
  * suffices — the state table never grows with stream lifetime. A
  * fresh checkpoint against an existing monitor table reads re-batched
  * history as replays — new checkpoint, new monitor `name`.
  *
  * Scale shape: per batch, ONE aggregation over the batch itself (a
  * handful of counters), joined against the metric-bounded profile and
  * state tables — per-batch cost never grows with history, state is
  * |metrics| rows + one high-water marker row.
  */
object DriftMonitor {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** One monitor decision, reported per batch via `onBatch`: `alarms`
    * = metrics whose CUSUM crossed the threshold AFTER this update
    * (empty when quiet); `action` ∈ merged | skipped_replay |
    * skipped_stale | empty_batch. A running lineage only ever
    * redelivers its NEWEST uncommitted epoch, so `skipped_replay`
    * (epoch == high water) is the in-lineage crash-replay case;
    * `skipped_stale` (epoch < high water) means the submission is
    * OUTSIDE the lineage — a manual [[updateBatch]]/[[updateBatchBy]]
    * caller out of order, or a fresh-checkpoint restart re-reading
    * already-folded history under restarted epoch numbers —
    * distinguished (and WARN-logged) so the caller notices the
    * monotone-lineage contract dropped the batch.
    */
  final case class DriftEvent(epoch: Long, action: String,
                              alarms: Seq[String])

  /** The pinned baseline-profile table for monitor `name`. */
  def profileTable(name: String): String = s"${name}_profile"

  /** The maintained CUSUM state table for monitor `name` (kind='s'
    * metric rows + ONE kind='e' high-water epoch marker — one table so
    * the update and its marker commit atomically).
    */
  def stateTable(name: String): String = s"${name}_state"

  private def scratch(name: String): String = s"${name}_state__merge"

  /** The shared metric law: (metric, x) ×10⁴ rates over `df`. A batch
    * (or snapshot) with zero rows yields zero metric rows; rates over
    * non-null-text docs are absent when no such doc exists (no signal,
    * not a zero — an all-null batch should not read as "quality went
    * to 0").
    */
  def metrics(df: DataFrame, textCol: String = "text",
              minQuality: Int = 3): DataFrame = {
    val agg = df.agg(
      count(lit(1)).as("__dm_rows"),
      sum(when(col(textCol).isNull, 1L).otherwise(0L)).as("__dm_nulls"),
      sum(when(col(textCol).isNotNull, 1L)).as("__dm_docs"),
      sum(when(col(textCol).isNotNull &&
        TextAnalysis.qualityScore(col(textCol)) >= minQuality, 1L)
        .otherwise(0L)).as("__dm_good"),
      sum(when(col(textCol).isNotNull &&
        TextAnalysis.tokenCount(col(textCol)) < 10, 1L)
        .otherwise(0L)).as("__dm_short"))
    agg.select(explode(array(
        struct(lit("quality_rate").as("metric"),
          when(col("__dm_docs") > 0L,
            expr("(__dm_good * 10000) div __dm_docs")).as("x")),
        struct(lit("null_text_rate").as("metric"),
          when(col("__dm_rows") > 0L,
            expr("(__dm_nulls * 10000) div __dm_rows")).as("x")),
        struct(lit("short_doc_rate").as("metric"),
          when(col("__dm_docs") > 0L,
            expr("(__dm_short * 10000) div __dm_docs")).as("x"))))
        .as("m"))
      .select(col("m.metric").as("metric"), col("m.x").as("x"))
      .filter(col("x").isNotNull)
  }

  /** [[metrics]] resolved PER GROUP (source domain, language, shard):
    * (groupCol, metric, x) — the same three ×10⁴ rates over each
    * group's own rows, null-group rows a group of their own (the batch
    * family's convention), absent signals absent (not zero). One
    * group-keyed partial aggregation; output is |groups|×3-bounded.
    */
  def metricsBy(df: DataFrame, groupCol: String = "source",
                textCol: String = "text",
                minQuality: Int = 3): DataFrame = {
    val agg = df.groupBy(col(groupCol)).agg(
      count(lit(1)).as("__dm_rows"),
      sum(when(col(textCol).isNull, 1L).otherwise(0L)).as("__dm_nulls"),
      sum(when(col(textCol).isNotNull, 1L)).as("__dm_docs"),
      sum(when(col(textCol).isNotNull &&
        TextAnalysis.qualityScore(col(textCol)) >= minQuality, 1L)
        .otherwise(0L)).as("__dm_good"),
      sum(when(col(textCol).isNotNull &&
        TextAnalysis.tokenCount(col(textCol)) < 10, 1L)
        .otherwise(0L)).as("__dm_short"))
    agg.select(col(groupCol), explode(array(
        struct(lit("quality_rate").as("metric"),
          when(col("__dm_docs") > 0L,
            expr("(__dm_good * 10000) div __dm_docs")).as("x")),
        struct(lit("null_text_rate").as("metric"),
          when(col("__dm_rows") > 0L,
            expr("(__dm_nulls * 10000) div __dm_rows")).as("x")),
        struct(lit("short_doc_rate").as("metric"),
          when(col("__dm_docs") > 0L,
            expr("(__dm_short * 10000) div __dm_docs")).as("x"))))
        .as("m"))
      .select(col(groupCol), col("m.metric").as("metric"),
        col("m.x").as("x"))
      .filter(col("x").isNotNull)
  }

  /** PER-GROUP pure batch replay of the CUSUM law — the "WHICH source
    * drifted" face [[cusumTrajectory]]'s global fold cannot answer: a
    * corpus where one domain collapses while nineteen hold steady
    * moves the global rate by 1/20th of the shift (under slack,
    * invisible) but pages that domain's own CUSUM at full strength.
    * `profile` is (groupCol, metric, mu) — per-group baselines from a
    * trusted snapshot ([[metricsBy]] over it). Groups/metrics absent
    * from a batch carry state forward; rows emit only where present;
    * (group, metric) pairs with no profile baseline don't participate
    * (a NEW domain has no baseline to drift FROM — profile it first),
    * and null-group rows don't either (the [[updateBatchBy]] join
    * law). Any group-key type folds through its string form, so long
    * shard ids work; the output group column is that string.
    * Output: (batch_idx, groupCol, metric, x, s_up, s_dn).
    *
    * The driver-side fold collects |groups|×|metrics|-bounded
    * relations per batch — sound exactly when the group key is
    * configuration-sized (source domains, languages, shards: the
    * [[graft.ext.Curation.domainReweight]] apportionment posture), NOT
    * a per-document key.
    */
  def cusumTrajectoryBy(batches: Seq[DataFrame], profile: DataFrame,
                        groupCol: String = "source",
                        textCol: String = "text", minQuality: Int = 3,
                        slack: Long = 200L): DataFrame = {
    require(batches.nonEmpty,
      "cusumTrajectoryBy needs at least one batch")
    val spark = batches.head.sparkSession
    val mu = profile
      .filter(col(groupCol).isNotNull)
      .select(col(groupCol).cast("string"), col("metric"), col("mu"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    var state = Map.empty[(String, String), (Long, Long)]
    val rows = batches.zipWithIndex.flatMap { case (b, i) =>
      val xs = metricsBy(b, groupCol, textCol, minQuality)
        .filter(col(groupCol).isNotNull)
        .select(col(groupCol).cast("string"), col("metric"), col("x"))
        .collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
        .toMap
      xs.toSeq.sortBy(_._1).flatMap { case (gm @ (g, m), x) =>
        mu.get(gm).map { m0 =>
          val (pu, pd) = state.getOrElse(gm, (0L, 0L))
          val su = math.max(0L, pu + (x - m0 - slack))
          val sd = math.max(0L, pd + (m0 - x - slack))
          state += (gm -> (su, sd))
          (i.toLong, g, m, x, su, sd)
        }
      }
    }
    import spark.implicits._
    rows.toDF("batch_idx", groupCol, "metric", "x", "s_up", "s_dn")
  }

  /** PURE batch replay of the CUSUM law — the oracle-gateable face of
    * the monitor (the streaming path's state lives in tables; this
    * folds the identical integer law over an ordered sequence of
    * batch frames with no side effects): per batch, [[metrics]] rates
    * against `profile` (metric, mu), pages
    * `s_up' = max(0, s_up + (x − μ − slack))` /
    * `s_dn' = max(0, s_dn + (μ − x − slack))`, metrics absent from a
    * batch carrying state forward. Output one row per (batch, metric)
    * PRESENT in that batch: (batch_idx, metric, x, s_up, s_dn).
    *
    * The per-batch metric relations are METRIC-BOUNDED (≤ 3 rows), so
    * the driver-side fold collects only configuration-sized data —
    * the [[graft.ext.Curation.domainReweight]] apportionment posture.
    */
  def cusumTrajectory(batches: Seq[DataFrame], profile: DataFrame,
                      textCol: String = "text", minQuality: Int = 3,
                      slack: Long = 200L): DataFrame = {
    require(batches.nonEmpty, "cusumTrajectory needs at least one batch")
    val spark = batches.head.sparkSession
    val mu = profile.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    var state = Map.empty[String, (Long, Long)]
    val rows = batches.zipWithIndex.flatMap { case (b, i) =>
      val xs = metrics(b, textCol, minQuality).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      xs.toSeq.sortBy(_._1).flatMap { case (m, x) =>
        mu.get(m).map { m0 =>
          val (pu, pd) = state.getOrElse(m, (0L, 0L))
          val su = math.max(0L, pu + (x - m0 - slack))
          val sd = math.max(0L, pd + (m0 - x - slack))
          state += (m -> (su, sd))
          (i.toLong, m, x, su, sd)
        }
      }
    }
    import spark.implicits._
    rows.toDF("batch_idx", "metric", "x", "s_up", "s_dn")
  }

  /** Train-once for the PER-GROUP monitor: pin (grp, metric, mu)
    * baselines from a trusted snapshot ([[metricsBy]] law). A monitor
    * `name` is either global or per-group, never both — the two state
    * schemas differ.
    */
  def writeProfileBy(docs: DataFrame, name: String,
                     groupCol: String = "source",
                     textCol: String = "text",
                     minQuality: Int = 3): Unit = {
    val mu = metricsBy(docs, groupCol, textCol, minQuality)
      .select(col(groupCol).as("grp"), col("metric"),
        col("x").as("mu"))
    graft.core.Layout.writeBucketed(mu, profileTable(name), "metric", 1)
  }

  /** Train-once: pin the baseline profile (metric, mu) from a trusted
    * snapshot. Overwrites an existing profile of the same name — the
    * deliberate re-baseline operation.
    */
  def writeProfile(docs: DataFrame, name: String, textCol: String = "text",
                   minQuality: Int = 3): Unit = {
    val mu = metrics(docs, textCol, minQuality)
      .select(col("metric"), col("x").as("mu"))
    graft.core.Layout.writeBucketed(mu, profileTable(name), "metric", 1)
  }

  /** Fail-loud shape guard: a monitor profile is either GLOBAL
    * (metric, mu) or PER-GROUP (grp, metric, mu), and starting the
    * wrong face against it would otherwise die mid-stream (per-group
    * face, global profile: batch-0 join on a missing `grp`) or —
    * worse — silently corrupt state (global face, per-group profile:
    * the metric join fans each batch rate across every group row,
    * |groups| duplicate state rows per metric with per-group mus).
    * Called at START by both maintain faces and
    * [[CurationStream]]'s drift gate, and per batch (schema-only,
    * no job) by both update faces.
    */
  private[streaming] def requireProfileShape(spark: SparkSession,
                                             name: String,
                                             perGroup: Boolean): Unit = {
    val cols = spark.table(profileTable(name)).columns.toSet
    if (perGroup)
      require(cols.contains("grp"),
        s"monitor '$name' has a GLOBAL profile (no grp column) — " +
          "writeProfileBy a per-group baseline for per-group monitoring")
    else
      require(!cols.contains("grp"),
        s"monitor '$name' has a PER-GROUP profile — use the per-group " +
          "face (updateBatchBy/maintainBy) or writeProfile a global " +
          "baseline")
  }

  /** The high-water epoch of the live state (None before any marker)
    * — the shared replay-skip law of both update faces.
    */
  private def highWaterOf(liveDf: Option[DataFrame]): Option[Long] =
    liveDf.flatMap(df =>
      Option(df.filter(col("kind") === "e")
        .agg(max(col("epoch"))).collect().head.get(0))
        .map(_.asInstanceOf[Long]))

  /** The shared skip verdict of both update faces: None = apply the
    * batch; Some(action) = drop it, with the replay/stale distinction
    * (and WARN on stale — see [[DriftEvent]]).
    */
  private def skipActionOf(name: String, liveDf: Option[DataFrame],
                           epoch: Long): Option[String] =
    highWaterOf(liveDf).collect {
      case hw if epoch == hw => "skipped_replay"
      case hw if epoch < hw =>
        log.warn(s"$name: epoch $epoch is below the high-water mark " +
          s"$hw — an out-of-order manual submission or a fresh-" +
          "checkpoint restart re-reading folded history; the monotone-" +
          "lineage contract drops it (state unchanged)")
        "skipped_stale"
    }

  /** Publish pinned `merged` rows as the live state table in one
    * atomic scratch-swap — the shared crash-window law of both update
    * faces (a fix to either belongs HERE, not in one copy).
    */
  private def publishSwap(spark: SparkSession, name: String,
                          merged: DataFrame): Unit = {
    graft.core.Layout.writeBucketed(merged, scratch(name), "kind", 1)
    spark.sql(s"DROP TABLE IF EXISTS ${stateTable(name)}")
    spark.sql(s"ALTER TABLE ${scratch(name)} RENAME TO ${stateTable(name)}")
    spark.catalog.refreshTable(stateTable(name))
  }

  /** Finish an interrupted scratch-swap ([[SketchStream.recoverCms]]'s
    * law): live missing + scratch present → republish the scratch.
    * Every batch calls it first; safe any time.
    */
  def recover(spark: SparkSession, name: String): Boolean = {
    val live = stateTable(name)
    if (!spark.catalog.tableExists(live) &&
        spark.catalog.tableExists(scratch(name))) {
      spark.sql(s"ALTER TABLE ${scratch(name)} RENAME TO $live")
      true
    } else {
      if (spark.catalog.tableExists(live) &&
          spark.catalog.tableExists(scratch(name)))
        spark.sql(s"DROP TABLE ${scratch(name)}")
      false
    }
  }

  /** Current per-metric monitor state: (metric, mu, s_up, s_dn,
    * n_batches, last_x, alarmed) — `alarmed` is the live verdict
    * against `threshold`.
    */
  def currentState(spark: SparkSession, name: String,
                   threshold: Long = 1000L): DataFrame =
    spark.table(stateTable(name))
      .filter(col("kind") === "s")
      .join(spark.table(profileTable(name)), "metric")
      .select(col("metric"), col("mu"), col("s_up"), col("s_dn"),
        col("n_batches"), col("last_x"),
        (col("s_up") > threshold || col("s_dn") > threshold)
          .as("alarmed"))

  /** Current PER-GROUP monitor state: (grp, metric, mu, s_up, s_dn,
    * n_batches, last_x, alarmed) — [[currentState]] with the group
    * dimension.
    */
  def currentStateBy(spark: SparkSession, name: String,
                     threshold: Long = 1000L): DataFrame =
    spark.table(stateTable(name))
      .filter(col("kind") === "s")
      .join(spark.table(profileTable(name)), Seq("grp", "metric"))
      .select(col("grp"), col("metric"), col("mu"), col("s_up"),
        col("s_dn"), col("n_batches"), col("last_x"),
        (col("s_up") > threshold || col("s_dn") > threshold)
          .as("alarmed"))

  /** ONE batch's PER-GROUP monitor update — [[updateBatch]]'s law with
    * the group dimension: per (group, metric) CUSUM pages against the
    * per-group baselines of [[writeProfileBy]]; (group, metric) cells
    * absent from the batch carry state forward; pairs with no baseline
    * don't participate (profile a new domain before monitoring it).
    * Same high-water marker, same atomic scratch-swap, same monotone-
    * epoch lineage contract. Alarms report as "group/metric". State is
    * |groups|×|metrics| rows + one marker — sound when the group key
    * is configuration-sized (domains, languages, shards). A NULL group
    * can never match a baseline (SQL join semantics), so null-group
    * rows are effectively unmonitored here — coalesce the key to a
    * sentinel domain upstream if they need coverage.
    */
  def updateBatchBy(name: String, batch: DataFrame, epoch: Long,
                    groupCol: String = "source",
                    textCol: String = "text", minQuality: Int = 3,
                    slack: Long = 200L,
                    threshold: Long = 1000L): DriftEvent = {
    val spark = batch.sparkSession
    recover(spark, name)
    val live = stateTable(name)
    val liveDf =
      if (spark.catalog.tableExists(live)) Some(spark.table(live))
      else None
    val skip = skipActionOf(name, liveDf, epoch)
    if (skip.isDefined) DriftEvent(epoch, skip.get, Nil)
    else {
      val xs = metricsBy(batch, groupCol, textCol, minQuality)
        .select(col(groupCol).as("grp"), col("metric"), col("x"))
        .pin()
      if (xs.isEmpty) DriftEvent(epoch, "empty_batch", Nil)
      else {
        requireProfileShape(spark, name, perGroup = true)
        val prof = spark.table(profileTable(name))
        val prev = liveDf.map(_.filter(col("kind") === "s"))
          .getOrElse(spark.emptyDataFrame
            .select(lit("").as("kind"), lit("").as("grp"),
              lit("").as("metric"), lit(0L).as("epoch"),
              lit(0L).as("s_up"), lit(0L).as("s_dn"),
              lit(0L).as("n_batches"), lit(0L).as("last_x")).limit(0))
          .select(col("grp"), col("metric"),
            col("s_up").as("__dm_pu"), col("s_dn").as("__dm_pd"),
            col("n_batches").as("__dm_pn"))
        // inner join against the profile: unprofiled (grp, metric)
        // pairs drop here, by contract
        val upd = xs.join(broadcast(prof), Seq("grp", "metric"))
          .join(prev, Seq("grp", "metric"), "left")
          .select(lit("s").as("kind"), col("grp"), col("metric"),
            lit(0L).as("epoch"),
            greatest(lit(0L), coalesce(col("__dm_pu"), lit(0L))
              + (col("x") - col("mu") - lit(slack))).as("s_up"),
            greatest(lit(0L), coalesce(col("__dm_pd"), lit(0L))
              + (col("mu") - col("x") - lit(slack))).as("s_dn"),
            (coalesce(col("__dm_pn"), lit(0L)) + 1L).as("n_batches"),
            col("x").as("last_x"))
        val carried = prev.join(xs, Seq("grp", "metric"), "left_anti")
          .select(lit("s").as("kind"), col("grp"), col("metric"),
            lit(0L).as("epoch"), col("__dm_pu").as("s_up"),
            col("__dm_pd").as("s_dn"), col("__dm_pn").as("n_batches"),
            lit(null).cast("long").as("last_x"))
        val marker = spark.range(1).select(lit("e").as("kind"),
          lit("").as("grp"), lit("").as("metric"),
          lit(epoch).as("epoch"), lit(0L).as("s_up"),
          lit(0L).as("s_dn"), lit(0L).as("n_batches"),
          lit(0L).as("last_x"))
        val merged = Seq(upd, carried, marker)
          .reduce(_ unionByName _)
          .pin()
        publishSwap(spark, name, merged)
        val alarms = merged.filter(col("kind") === "s" &&
            (col("s_up") > threshold || col("s_dn") > threshold))
          .select(concat_ws("/", col("grp"), col("metric")))
          .collect().map(_.getString(0)).sorted
        DriftEvent(epoch, "merged", alarms.toSeq)
      }
    }
  }

  /** Maintain the PER-GROUP drift monitor over a document stream —
    * [[maintain]]'s topology over [[updateBatchBy]].
    */
  def maintainBy(docs: DataFrame, name: String, checkpointDir: String,
                 groupCol: String = "source", textCol: String = "text",
                 minQuality: Int = 3, slack: Long = 200L,
                 threshold: Long = 1000L,
                 onBatch: DriftEvent => Unit = _ => ()): StreamingQuery = {
    require(slack >= 0L, s"slack must be >= 0, got $slack")
    require(threshold > 0L, s"threshold must be positive, got $threshold")
    require(docs.sparkSession.catalog.tableExists(profileTable(name)),
      s"no baseline profile '${profileTable(name)}' — writeProfileBy first")
    requireProfileShape(docs.sparkSession, name, perGroup = true)
    val owner = docs.sparkSession
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], epoch: Long) =>
        val ev = updateBatchBy(name, batch.toDF(), epoch, groupCol,
          textCol, minQuality, slack, threshold)
        if (owner.catalog.tableExists(stateTable(name)))
          owner.catalog.refreshTable(stateTable(name))
        onBatch(ev)
      }
      .start()
  }

  /** ONE batch's monitor update — the reusable core [[maintain]] wraps
    * and [[CurationStream]] composes into its own topology (one stream,
    * not a second reader): recover any interrupted swap, skip an
    * already-marked epoch, otherwise fold the batch's metrics into the
    * CUSUM state and publish state + marker in one atomic scratch-swap.
    * Returns the batch's [[DriftEvent]]. Epoch numbers must belong to
    * ONE checkpoint lineage per monitor `name`.
    */
  def updateBatch(name: String, batch: DataFrame, epoch: Long,
                  textCol: String = "text", minQuality: Int = 3,
                  slack: Long = 200L, threshold: Long = 1000L): DriftEvent = {
    val spark = batch.sparkSession
    recover(spark, name)
    val live = stateTable(name)
    val liveDf =
      if (spark.catalog.tableExists(live)) Some(spark.table(live))
      else None
    // monotone-epoch lineage: anything at or below the high-water
    // marker has already been folded in (an empty batch leaves no mark
    // — but an empty epoch can only be re-delivered while it is still
    // the newest, i.e. above the mark, so it re-reads as empty again)
    val skip = skipActionOf(name, liveDf, epoch)
    if (skip.isDefined) DriftEvent(epoch, skip.get, Nil)
    else {
      val xs = metrics(batch, textCol, minQuality)
        .pin()
      if (xs.isEmpty) DriftEvent(epoch, "empty_batch", Nil)
      else {
        requireProfileShape(spark, name, perGroup = false)
        val prof = spark.table(profileTable(name))
        val prev = liveDf.map(_.filter(col("kind") === "s"))
          .getOrElse(spark.emptyDataFrame
            .select(lit("").as("kind"), lit("").as("metric"),
              lit(0L).as("epoch"), lit(0L).as("s_up"),
              lit(0L).as("s_dn"), lit(0L).as("n_batches"),
              lit(0L).as("last_x")).limit(0))
          .select(col("metric"), col("s_up").as("__dm_pu"),
            col("s_dn").as("__dm_pd"),
            col("n_batches").as("__dm_pn"))
        val upd = xs.join(broadcast(prof), "metric")
          .join(prev, Seq("metric"), "left")
          .select(lit("s").as("kind"), col("metric"),
            lit(0L).as("epoch"),
            greatest(lit(0L), coalesce(col("__dm_pu"), lit(0L))
              + (col("x") - col("mu") - lit(slack))).as("s_up"),
            greatest(lit(0L), coalesce(col("__dm_pd"), lit(0L))
              + (col("mu") - col("x") - lit(slack))).as("s_dn"),
            (coalesce(col("__dm_pn"), lit(0L)) + 1L).as("n_batches"),
            col("x").as("last_x"))
        // metrics absent from THIS batch (e.g. all-null batch has no
        // quality signal) carry their state forward unchanged
        val carried = prev.join(xs, Seq("metric"), "left_anti")
          .select(lit("s").as("kind"), col("metric"),
            lit(0L).as("epoch"), col("__dm_pu").as("s_up"),
            col("__dm_pd").as("s_dn"), col("__dm_pn").as("n_batches"),
            lit(null).cast("long").as("last_x"))
        // this epoch is above the mark (skip check passed), so it IS
        // the new high water — old markers are subsumed, not carried
        val marker = spark.range(1).select(lit("e").as("kind"),
          lit("").as("metric"), lit(epoch).as("epoch"),
          lit(0L).as("s_up"), lit(0L).as("s_dn"),
          lit(0L).as("n_batches"), lit(0L).as("last_x"))
        val merged = Seq(upd, carried, marker)
          .reduce(_ unionByName _)
          .pin()
        publishSwap(spark, name, merged)
        val alarms = merged.filter(col("kind") === "s" &&
            (col("s_up") > threshold || col("s_dn") > threshold))
          .select("metric").collect().map(_.getString(0)).sorted
        DriftEvent(epoch, "merged", alarms.toSeq)
      }
    }
  }

  /** Maintain the drift monitor over a document stream as its own
    * topology (the standalone shape; [[updateBatch]] is the composable
    * core). `slack` and `threshold` are in the shared ×10⁴ rate grain
    * (defaults: ignore per-batch wobble under 2 percentage points;
    * alarm once sustained excess accumulates to 10 rate-points — e.g.
    * five consecutive batches each 4 points beyond slack).
    */
  def maintain(docs: DataFrame, name: String, checkpointDir: String,
               textCol: String = "text", minQuality: Int = 3,
               slack: Long = 200L, threshold: Long = 1000L,
               onBatch: DriftEvent => Unit = _ => ()): StreamingQuery = {
    require(slack >= 0L, s"slack must be >= 0, got $slack")
    require(threshold > 0L, s"threshold must be positive, got $threshold")
    require(docs.sparkSession.catalog.tableExists(profileTable(name)),
      s"no baseline profile '${profileTable(name)}' — writeProfile first")
    requireProfileShape(docs.sparkSession, name, perGroup = false)
    val owner = docs.sparkSession
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], epoch: Long) =>
        val ev = updateBatch(name, batch.toDF(), epoch, textCol,
          minQuality, slack, threshold)
        // the batch session's clone wrote the swap; make sure the
        // OWNER session's catalog sees the republished table too
        if (owner.catalog.tableExists(stateTable(name)))
          owner.catalog.refreshTable(stateTable(name))
        onBatch(ev)
      }
      .start()
  }
}
