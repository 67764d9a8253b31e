package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.core.Pin._

/** STREAMING faces of the RLHF/SFT prep operators — scored responses
  * and chat turns arrive continuously (a labeling queue, a reward
  * model scoring online, a conversation logger), and the training-pair
  * / rendered-conversation views stay current per micro-batch instead
  * of waiting for a nightly batch over the full log. Both stages are
  * the [[EventFeatureStream.rateAnomalies]] accumulate-and-recompute
  * posture: per-batch partial state rows keyed (entity, EPOCH) land in
  * a [[ManifestStore]] — a replayed epoch OVERWRITES its own rows, so
  * exactly-once arithmetic needs no idempotent-sink leap of faith —
  * and each batch re-derives the final view for its TOUCHED entities
  * only, against their full accumulated history, with the exact batch
  * operator's law. The batch faces ([[mergeDpoBatch]] /
  * [[mergeChatBatch]]) are public so a backfill caller folds a closed
  * log through the SAME code path the stream runs — which is what lets
  * the merge laws be oracle-gated (t_dpo_stream / t_chat_stream replay
  * the whole log as one batch-operator pass in SQL).
  *
  * Keys embed in the store row key with the 0x1F unit separator (the
  * rateAnomalies contract): entity ids containing it are rejected up
  * front.
  */
object PreferenceStream {

  private val Sep = "\u001F"

  /** Streaming DPO-pair maintenance over a scored-response stream —
    * the online face of [[graft.ext.Preference.dpoPairs]]: each
    * micro-batch folds through [[mergeDpoBatch]]; `sink` receives the
    * batch operator's row shape (promptCol, chosen_id, chosen_score,
    * rejected_id, rejected_score, margin, n_responses) for touched
    * prompts that clear `minMargin`, plus the epoch.
    */
  def maintainDpo(responses: DataFrame, storeDir: String,
                  checkpointDir: String, promptCol: String = "prompt_id",
                  respCol: String = "response_id",
                  scoreCol: String = "score", minMargin: Long = 1L,
                  compactEvery: Int = 0)
                 (sink: (DataFrame, Long) => Unit): StreamingQuery = {
    require(minMargin >= 1L, s"minMargin must be >= 1, got $minMargin")
    responses.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], epoch: Long) =>
        sink(mergeDpoBatch(batch.toDF(), storeDir, epoch, promptCol,
          respCol, scoreCol, minMargin, compactEvery), epoch)
      }
      .start()
  }

  /** ONE batch's DPO merge — the reusable core [[maintainDpo]] wraps:
    * fold the batch's responses into per-prompt partial verdicts (the
    * argmax/argmin as `min` over (±score, id) structs — the SAME
    * associative fold the batch operator runs, so partials of batches
    * merge into exactly the batch answer over the union), upsert them
    * under (prompt, epoch) — a replayed epoch overwrites its own rows,
    * idempotent by construction — and return the CURRENT pair for
    * every prompt the batch touched, derived from the full partial
    * history.
    *
    * Score integrality is enforced (the dpoPairs contract); null
    * prompt / response / score rows don't vote; prompts whose spread
    * is under the margin floor emit nothing this batch (more responses
    * can widen a spread, never narrow it).
    *
    * Scale shape: per batch ONE prompt-keyed partial aggregation over
    * the batch, one store upsert of ≤ touched-prompt rows, and a
    * prompt-PRUNED store read whose cost tracks the touched prompts'
    * history, not store size. Pruning follows the store layer's own
    * chunked-IN law ([[IngestDedupGate.prunedByKeys]] via
    * [[ManifestStore.readWherePruned]]): keys are sorted and pushed in
    * `isinChunk`-sized IN lists so parquet row-group stats stay
    * effective — one giant IN degrades the scan to a full pass plus an
    * oversized expression tree. A backfill batch touching more than
    * `pushdownKeyLimit` prompts skips pushdown entirely (scanning the
    * store once beats thousands of pruned scans) and restricts to the
    * touched set by a broadcast semi-join against the already-pinned
    * batch partial instead. `compactEvery` folds version dirs on the
    * store's one cadence ([[ManifestStore.compactOnCadence]]).
    */
  def mergeDpoBatch(batch: DataFrame, storeDir: String, epoch: Long,
                    promptCol: String = "prompt_id",
                    respCol: String = "response_id",
                    scoreCol: String = "score", minMargin: Long = 1L,
                    compactEvery: Int = 0, isinChunk: Int = 10000,
                    pushdownKeyLimit: Int = 200000): DataFrame = {
    require(minMargin >= 1L, s"minMargin must be >= 1, got $minMargin")
    val spark = batch.sparkSession
    val scoreType = batch.select(col(scoreCol)).schema.head.dataType
    require(scoreType.isInstanceOf[org.apache.spark.sql.types.ByteType]
        || scoreType.isInstanceOf[org.apache.spark.sql.types.ShortType]
        || scoreType.isInstanceOf[org.apache.spark.sql.types.IntegerType]
        || scoreType.isInstanceOf[org.apache.spark.sql.types.LongType],
      s"mergeDpoBatch needs an integral score column ($scoreCol is " +
        s"$scoreType) — the dpoPairs contract")
    // the batch's own partial verdicts — the associative fold
    val partial = batch
      .filter(col(promptCol).isNotNull && col(respCol).isNotNull &&
        col(scoreCol).isNotNull)
      .select(col(promptCol).cast("string").as("prompt"),
        col(respCol), col(scoreCol).cast("long").as("__dp_s"))
      .groupBy(col("prompt"))
      .agg(
        min(struct((-col("__dp_s")).as("ns"), col(respCol).as("id")))
          .as("c"),
        min(struct(col("__dp_s").as("s"), col(respCol).as("id")))
          .as("r"),
        count(lit(1)).as("n"))
      .pin() // read twice: upsert + touched list
    // BOUNDED key probe (round 22, VERDICT r21 #5): at most
    // pushdownKeyLimit+1 keys ever cross to the driver — the semi-join
    // fallback needs only whether the limit is EXCEEDED, never the
    // keys, so a backfill batch with millions of distinct prompts no
    // longer materializes them all driver-side
    val touched = partial.select(col("prompt"))
      .limit(pushdownKeyLimit + 1)
      .collect().map(_.getString(0)).toSeq
    // empty batch: the sink still receives the OPERATOR's row shape
    // (pairsOf over the empty partial), never a zero-column frame a
    // column-selecting sink would crash on
    if (touched.isEmpty) return pairsOf(partial, promptCol, minMargin)
    // the Sep guard must cover EVERY key: the collected set is complete
    // on the chunked path; on the oversized path the guard rides the
    // row_key expression itself (raise_error — zero extra jobs, fails
    // the seed/upsert action loudly before anything is written)
    require(!touched.exists(_.contains(Sep)),
      "mergeDpoBatch: prompt ids must not contain the 0x1F separator")
    val keyGuard =
      if (touched.size <= pushdownKeyLimit) col("prompt")
      else when(col("prompt").contains(Sep),
        raise_error(lit("mergeDpoBatch: prompt ids must not contain " +
          "the 0x1F separator"))).otherwise(col("prompt"))
    val rows = partial.select(
      concat_ws(Sep, keyGuard, lit(epoch)).as("row_key"),
      col("prompt"), col("c"), col("r"), col("n"))
    ManifestStore.upsert(rows, storeDir)
    ManifestStore.compactOnCadence(spark, storeDir, compactEvery)(
      ManifestStore.compact(spark, storeDir, "row_key"))
    pairsOf(prunedStoreRead(spark, storeDir, "prompt", touched, partial,
      isinChunk, pushdownKeyLimit), promptCol, minMargin)
  }

  /** The merge paths' shared touched-key store read: chunked sorted INs
    * below the store's latest-version window (parquet row-group pruning
    * per chunk — the [[IngestDedupGate.prunedByKeys]] law), falling
    * back above `pushdownKeyLimit` to ONE full-store scan restricted by
    * a broadcast semi-join against the batch's pinned partial (the
    * [[IngestDedupGate.probeBatch]] posture: past ~2·10⁵ keys the
    * chunked scans cost more than reading the store once, and a
    * 10⁵–10⁶-key IN tree would bloat codegen besides).
    */
  private def prunedStoreRead(spark: SparkSession, storeDir: String,
                              keyCol: String, touched: Seq[String],
                              partial: DataFrame, isinChunk: Int,
                              pushdownKeyLimit: Int): DataFrame =
    if (touched.size <= pushdownKeyLimit)
      ManifestStore.readWherePruned(spark, storeDir, "row_key",
        IngestDedupGate.prunedByKeys(_, keyCol, touched, isinChunk))
    else
      ManifestStore.read(spark, storeDir, "row_key")
        .join(broadcast(partial.select(col(keyCol)).distinct()),
          Seq(keyCol), "left_semi")

  /** The CURRENT pairs over the WHOLE maintained store — what a
    * training-data build reads when it wants every prompt's verdict so
    * far (the oracle face: after a closed log folds through
    * [[mergeDpoBatch]], this must equal [[graft.ext.Preference
    * .dpoPairs]] over the union of every batch — gated by
    * t_dpo_stream).
    */
  def currentDpoPairs(spark: SparkSession, storeDir: String,
                      promptCol: String = "prompt_id",
                      minMargin: Long = 1L): DataFrame =
    pairsOf(ManifestStore.read(spark, storeDir, "row_key"), promptCol, minMargin)

  /** Merge partial-verdict store rows with the SAME fold the batch
    * operator runs, then apply the pair law — bit-equal to dpoPairs
    * over every response the merged rows cover.
    */
  private def pairsOf(partials: DataFrame, promptCol: String,
                      minMargin: Long): DataFrame =
    partials
      .groupBy(col("prompt"))
      .agg(min(col("c")).as("c"), min(col("r")).as("r"),
        sum(col("n")).as("n_responses"))
      .select(
        col("prompt").as(promptCol),
        col("c.id").as("chosen_id"),
        (-col("c.ns")).as("chosen_score"),
        col("r.id").as("rejected_id"),
        col("r.s").as("rejected_score"),
        (-col("c.ns") - col("r.s")).as("margin"),
        col("n_responses"))
      .filter(col("margin") >= minMargin)

  /** Streaming chat-render maintenance over a turn stream — the online
    * face of [[graft.ext.Packing.renderChat]]: each micro-batch folds
    * through [[mergeChatBatch]]; `sink` receives renderChat's row
    * shape (convCol, text, n_turns, n_chars) for the touched
    * conversations, plus the epoch.
    */
  def maintainChat(turns: DataFrame, storeDir: String,
                   checkpointDir: String, convCol: String = "conv_id",
                   idxCol: String = "turn_idx", roleCol: String = "role",
                   contentCol: String = "content", compactEvery: Int = 0)
                  (sink: (DataFrame, Long) => Unit): StreamingQuery =
    turns.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], epoch: Long) =>
        sink(mergeChatBatch(batch.toDF(), storeDir, epoch, convCol,
          idxCol, roleCol, contentCol, compactEvery), epoch)
      }
      .start()

  /** ONE batch's chat-turn merge — the reusable core [[maintainChat]]
    * wraps: turns upsert under (conv, turn_idx, epoch); the returned
    * view re-renders every conversation the batch touched from the
    * turns' full history. Read-back keeps the LATEST epoch per
    * (conv, turn_idx) — so an in-lineage replay changes nothing, and a
    * turn RE-SENT in a later epoch REPLACES its predecessor (edit
    * semantics: the batch guard's duplicate-turn_idx fail-loud stays
    * for genuine same-relation duplicates, while the stream's
    * at-least-once redelivery can never trip it).
    *
    * WITHIN-batch ties: two versions of the SAME (conv, turn) landing
    * in one micro-batch collapse deterministically but ORDER-AGNOSTIC —
    * max over the (role, content) struct, NOT arrival order (a
    * micro-batch is a set; Spark gives no stable intra-batch arrival
    * sequence that survives replay, so "last in the batch wins" is not
    * a law this layer can promise). Callers that edit a turn more than
    * once must land the edits in separate epochs (the cross-epoch
    * latest-wins law then applies) or carry an explicit sequence
    * column and pre-collapse before the merge.
    *
    * Scale shape: per batch one conv-keyed dedup over the batch, one
    * store upsert, and a conv-PRUNED store read bounded by the touched
    * conversations' turn counts — never the corpus ([[mergeDpoBatch]]'s
    * chunked-IN / semi-join pruning law, shared via the same helper).
    */
  def mergeChatBatch(batch: DataFrame, storeDir: String, epoch: Long,
                     convCol: String = "conv_id",
                     idxCol: String = "turn_idx",
                     roleCol: String = "role",
                     contentCol: String = "content",
                     compactEvery: Int = 0, isinChunk: Int = 10000,
                     pushdownKeyLimit: Int = 200000): DataFrame = {
    val spark = batch.sparkSession
    // within one batch a duplicate (conv, turn) collapses by max over
    // the (role, content) struct — deterministic and replay-stable but
    // order-AGNOSTIC (see the scaladoc tie-law note); cross-epoch
    // edits resolve by the latest-wins epoch law in renderOf
    val batchTurns = batch
      .filter(col(convCol).isNotNull && col(idxCol).isNotNull &&
        col(roleCol).isNotNull && col(contentCol).isNotNull)
      .select(col(convCol).cast("string").as("conv"),
        col(idxCol).cast("long").as("turn_idx"),
        col(roleCol).cast("string").as("role"),
        col(contentCol).cast("string").as("content"))
      .groupBy(col("conv"), col("turn_idx"))
      .agg(max(struct(col("role"), col("content"))).as("rc"))
      .select(col("conv"), col("turn_idx"),
        col("rc.role").as("role"), col("rc.content").as("content"))
      .pin()
    // BOUNDED key probe — the mergeDpoBatch rationale: only up to
    // pushdownKeyLimit+1 distinct convs cross to the driver
    val touched = batchTurns.select(col("conv")).distinct()
      .limit(pushdownKeyLimit + 1)
      .collect().map(_.getString(0)).toSeq
    // empty batch: keep the operator's row shape (renderOf over the
    // empty collapsed batch), never a zero-column frame
    if (touched.isEmpty)
      return renderOf(batchTurns.withColumn("epoch", lit(epoch)), convCol)
    require(!touched.exists(_.contains(Sep)),
      "mergeChatBatch: conv ids must not contain the 0x1F separator")
    val convGuard =
      if (touched.size <= pushdownKeyLimit) col("conv")
      else when(col("conv").contains(Sep),
        raise_error(lit("mergeChatBatch: conv ids must not contain " +
          "the 0x1F separator"))).otherwise(col("conv"))
    val rows = batchTurns.select(
      concat_ws(Sep, convGuard, col("turn_idx"), lit(epoch))
        .as("row_key"),
      col("conv"), col("turn_idx"), col("role"), col("content"),
      lit(epoch).as("epoch"))
    ManifestStore.upsert(rows, storeDir)
    ManifestStore.compactOnCadence(spark, storeDir, compactEvery)(
      ManifestStore.compact(spark, storeDir, "row_key"))
    renderOf(prunedStoreRead(spark, storeDir, "conv", touched, batchTurns,
      isinChunk, pushdownKeyLimit), convCol)
  }

  /** The CURRENT rendered conversations over the WHOLE maintained
    * store — the oracle face: after a closed log (edits included)
    * folds through [[mergeChatBatch]], this must equal
    * [[graft.ext.Packing.renderChat]] over the latest version of every
    * turn (gated by t_chat_stream).
    */
  def currentChats(spark: SparkSession, storeDir: String,
                   convCol: String = "conv_id"): DataFrame =
    renderOf(ManifestStore.read(spark, storeDir, "row_key"), convCol)

  /** Latest epoch wins per (conv, turn_idx) — replay-idempotent AND
    * turn-edit semantics in one rule — then the batch render.
    */
  private def renderOf(turnRows: DataFrame, convCol: String): DataFrame = {
    val latest = turnRows
      .groupBy(col("conv"), col("turn_idx"))
      .agg(max_by(struct(col("role"), col("content")), col("epoch"))
        .as("rc"))
      .select(col("conv").as(convCol), col("turn_idx"),
        col("rc.role").as("role"), col("rc.content").as("content"))
    graft.ext.Packing.renderChat(latest, convCol, "turn_idx", "role",
      "content")
  }
}
