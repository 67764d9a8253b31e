package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.core.Pin._
import graft.core.SwapTable
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
  * (skip | update+mark) decision publishes as ONE atomic
  * [[graft.core.SwapTable]] swap, which also owns the crash-window
  * recovery.
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

  /** The shared metric law: (metric, x) ×10⁴ rates over `df`. A batch
    * (or snapshot) with zero rows yields zero metric rows; rates over
    * non-null-text docs are absent when no such doc exists (no signal,
    * not a zero — an all-null batch should not read as "quality went
    * to 0").
    */
  def metrics(df: DataFrame, textCol: String = "text",
              minQuality: Int = 3): DataFrame =
    metricsOf(df, None, textCol, minQuality)

  /** [[metrics]] resolved PER GROUP (source domain, language, shard):
    * (groupCol, metric, x) — the same three ×10⁴ rates over each
    * group's own rows, null-group rows a group of their own (the batch
    * family's convention), absent signals absent (not zero). One
    * group-keyed partial aggregation; output is |groups|×3-bounded.
    */
  def metricsBy(df: DataFrame, groupCol: String = "source",
                textCol: String = "text",
                minQuality: Int = 3): DataFrame =
    metricsOf(df, Some(groupCol), textCol, minQuality)

  /** The metric law over `group`'s groups, or over all of `df` when
    * `group` is None (`groupBy()` with no keys is the global aggregate,
    * one row even over an empty frame).
    */
  private def metricsOf(df: DataFrame, group: Option[String],
                        textCol: String, minQuality: Int): DataFrame = {
    val keys = group.toSeq.map(col)
    val agg = df.groupBy(keys: _*).agg(
      count(lit(1)).as("__dm_rows"),
      sum(when(col(textCol).isNull, 1L).otherwise(0L)).as("__dm_nulls"),
      sum(when(col(textCol).isNotNull, 1L)).as("__dm_docs"),
      sum(when(col(textCol).isNotNull &&
        TextAnalysis.qualityScore(col(textCol)) >= minQuality, 1L)
        .otherwise(0L)).as("__dm_good"),
      sum(when(col(textCol).isNotNull &&
        TextAnalysis.tokenCount(col(textCol)) < 10, 1L)
        .otherwise(0L)).as("__dm_short"))
    agg.select(keys :+ explode(array(
        struct(lit("quality_rate").as("metric"),
          when(col("__dm_docs") > 0L,
            expr("(__dm_good * 10000) div __dm_docs")).as("x")),
        struct(lit("null_text_rate").as("metric"),
          when(col("__dm_rows") > 0L,
            expr("(__dm_nulls * 10000) div __dm_rows")).as("x")),
        struct(lit("short_doc_rate").as("metric"),
          when(col("__dm_docs") > 0L,
            expr("(__dm_short * 10000) div __dm_docs")).as("x"))))
        .as("m"): _*)
      .select(keys ++ Seq(col("m.metric").as("metric"),
        col("m.x").as("x")): _*)
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
                        slack: Long = 200L): DataFrame =
    trajectoryOf(batches, profile, Some(groupCol), textCol, minQuality,
      slack)

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
                      slack: Long = 200L): DataFrame =
    trajectoryOf(batches, profile, None, textCol, minQuality, slack)

  /** The CUSUM fold of both trajectory faces, keyed (group, metric);
    * the group is None throughout for the global face, whose output
    * then has no group column.
    */
  private def trajectoryOf(batches: Seq[DataFrame], profile: DataFrame,
                           group: Option[String], textCol: String,
                           minQuality: Int, slack: Long): DataFrame = {
    require(batches.nonEmpty,
      s"cusumTrajectory${if (group.isDefined) "By" else ""} needs at " +
        "least one batch")
    val spark = batches.head.sparkSession
    def keyed(df: DataFrame, value: String) =
      df.filter(group.fold(lit(true))(g => col(g).isNotNull))
        .select(group.fold(lit(null))(g => col(g)).cast("string"),
          col("metric"), col(value))
        .collect()
        .map(r => (Option(r.getString(0)), r.getString(1)) -> r.getLong(2))
        .toMap
    val mu = keyed(profile, "mu")
    var state = Map.empty[(Option[String], String), (Long, Long)]
    val rows = batches.zipWithIndex.flatMap { case (b, i) =>
      val xs = keyed(metricsOf(b, group, textCol, minQuality), "x")
      xs.toSeq.sortBy(_._1).flatMap { case (gm @ (g, m), x) =>
        mu.get(gm).map { m0 =>
          val (pu, pd) = state.getOrElse(gm, (0L, 0L))
          val su = math.max(0L, pu + (x - m0 - slack))
          val sd = math.max(0L, pd + (m0 - x - slack))
          state += (gm -> (su, sd))
          (i.toLong, g.orNull, m, x, su, sd)
        }
      }
    }
    import spark.implicits._
    val out = rows.toDF("batch_idx", "__dm_grp", "metric", "x", "s_up",
      "s_dn")
    group.fold(out.drop("__dm_grp"))(out.withColumnRenamed("__dm_grp", _))
  }

  /** Train-once for the PER-GROUP monitor: pin (grp, metric, mu)
    * baselines from a trusted snapshot ([[metricsBy]] law). A monitor
    * `name` is either global or per-group, never both — the two state
    * schemas differ.
    */
  def writeProfileBy(docs: DataFrame, name: String,
                     groupCol: String = "source",
                     textCol: String = "text",
                     minQuality: Int = 3): Unit =
    writeProfileOf(docs, name, Some(groupCol), textCol, minQuality)

  /** Train-once: pin the baseline profile (metric, mu) from a trusted
    * snapshot. Overwrites an existing profile of the same name — the
    * deliberate re-baseline operation.
    */
  def writeProfile(docs: DataFrame, name: String, textCol: String = "text",
                   minQuality: Int = 3): Unit =
    writeProfileOf(docs, name, None, textCol, minQuality)

  private def writeProfileOf(docs: DataFrame, name: String,
                             group: Option[String], textCol: String,
                             minQuality: Int): Unit = {
    val mu = metricsOf(docs, group, textCol, minQuality)
      .select(group.map(g => col(g).as("grp")).toSeq ++
        Seq(col("metric"), col("x").as("mu")): _*)
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
                    threshold: Long = 1000L): DriftEvent =
    updateOf(name, batch, epoch, Some(groupCol), textCol, minQuality,
      slack, threshold)

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
                  slack: Long = 200L, threshold: Long = 1000L): DriftEvent =
    updateOf(name, batch, epoch, None, textCol, minQuality, slack,
      threshold)

  /** The update of both faces. The state is keyed (grp, metric) when
    * `group` is set (the batch's `group` column becomes `grp`) and
    * (metric) when it is None; alarms are the keys joined by "/".
    */
  private def updateOf(name: String, batch: DataFrame, epoch: Long,
                       group: Option[String], textCol: String,
                       minQuality: Int, slack: Long,
                       threshold: Long): DriftEvent = {
    val spark = batch.sparkSession
    val live = stateTable(name)
    val liveDf = SwapTable.current(spark, live)
    // monotone-epoch lineage: anything at or below the high-water
    // marker has already been folded in (an empty batch leaves no mark
    // — but an empty epoch can only be re-delivered while it is still
    // the newest, i.e. above the mark, so it re-reads as empty again)
    SwapTable.skipOf(liveDf, "epoch", epoch, live) match {
      case Some(skip) => DriftEvent(epoch, skip, Nil)
      case None =>
        val keys = group.map(_ => "grp").toSeq :+ "metric"
        // one state row: kind, the keys, then the CUSUM columns
        def stateRow(kind: String, keyCols: Seq[Column], ep: Column,
                     sUp: Column, sDn: Column, n: Column,
                     lastX: Column): Seq[Column] =
          (lit(kind).as("kind") +: keyCols.zip(keys).map {
            case (c, k) => c.as(k) }) ++
            Seq(ep.as("epoch"), sUp.as("s_up"), sDn.as("s_dn"),
              n.as("n_batches"), lastX.as("last_x"))
        val blankKeys = keys.map(_ => lit(""))
        val xs = metricsOf(batch, group, textCol, minQuality)
          .select(group.map(g => col(g).as("grp")).toSeq ++
            Seq(col("metric"), col("x")): _*)
          .pin()
        if (xs.isEmpty) DriftEvent(epoch, "empty_batch", Nil)
        else {
          requireProfileShape(spark, name, perGroup = group.isDefined)
          val prof = spark.table(profileTable(name))
          val prev = liveDf.map(_.filter(col("kind") === "s"))
            .getOrElse(spark.emptyDataFrame.select(stateRow("", blankKeys,
              lit(0L), lit(0L), lit(0L), lit(0L), lit(0L)): _*).limit(0))
            .select(keys.map(col) ++ Seq(col("s_up").as("__dm_pu"),
              col("s_dn").as("__dm_pd"), col("n_batches").as("__dm_pn")): _*)
          // inner join against the profile: unprofiled keys drop here,
          // by contract
          val upd = xs.join(broadcast(prof), keys)
            .join(prev, keys, "left")
            .select(stateRow("s", keys.map(col), lit(0L),
              greatest(lit(0L), coalesce(col("__dm_pu"), lit(0L))
                + (col("x") - col("mu") - lit(slack))),
              greatest(lit(0L), coalesce(col("__dm_pd"), lit(0L))
                + (col("mu") - col("x") - lit(slack))),
              coalesce(col("__dm_pn"), lit(0L)) + 1L,
              col("x")): _*)
          // keys absent from THIS batch (e.g. all-null batch has no
          // quality signal) carry their state forward unchanged
          val carried = prev.join(xs, keys, "left_anti")
            .select(stateRow("s", keys.map(col), lit(0L), col("__dm_pu"),
              col("__dm_pd"), col("__dm_pn"), lit(null).cast("long")): _*)
          // this epoch is above the mark (skip check passed), so it IS
          // the new high water — old markers are subsumed, not carried
          val marker = spark.range(1).select(stateRow("e", blankKeys,
            lit(epoch), lit(0L), lit(0L), lit(0L), lit(0L)): _*)
          val merged = Seq(upd, carried, marker)
            .reduce(_ unionByName _)
            .pin()
          SwapTable.publish(merged, live, "kind", 1)
          val alarms = merged.filter(col("kind") === "s" &&
              (col("s_up") > threshold || col("s_dn") > threshold))
            .select(concat_ws("/", keys.map(col): _*))
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
                 onBatch: DriftEvent => Unit = _ => ()): StreamingQuery =
    maintainOf(docs, name, checkpointDir, Some(groupCol), textCol,
      minQuality, slack, threshold, onBatch)

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
               onBatch: DriftEvent => Unit = _ => ()): StreamingQuery =
    maintainOf(docs, name, checkpointDir, None, textCol, minQuality,
      slack, threshold, onBatch)

  private def maintainOf(docs: DataFrame, name: String,
                         checkpointDir: String, group: Option[String],
                         textCol: String, minQuality: Int, slack: Long,
                         threshold: Long,
                         onBatch: DriftEvent => Unit): StreamingQuery = {
    require(slack >= 0L, s"slack must be >= 0, got $slack")
    require(threshold > 0L, s"threshold must be positive, got $threshold")
    require(docs.sparkSession.catalog.tableExists(profileTable(name)),
      s"no baseline profile '${profileTable(name)}' — writeProfile" +
        s"${if (group.isDefined) "By" else ""} first")
    requireProfileShape(docs.sparkSession, name, perGroup = group.isDefined)
    val owner = docs.sparkSession
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], epoch: Long) =>
        val ev = updateOf(name, batch.toDF(), epoch, group, textCol,
          minQuality, slack, threshold)
        SwapTable.refreshOwner(owner, stateTable(name))
        onBatch(ev)
      }
      .start()
  }
}
