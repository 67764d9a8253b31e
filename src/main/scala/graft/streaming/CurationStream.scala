package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.core.Pin._
import graft.ext.TextAnalysis

/** The composed streaming curation flagship: one topology chaining the
  * three streaming pieces this engine ships —
  *
  *   [[IngestDedupGate]] (admit only novel documents vs the persisted
  *   signature store) → the [[TextAnalysis.qualityScore]] gate (the
  *   same 4-signal cut the batch flagship [[graft.ext.Curation.curate]]
  *   applies, spam and boilerplate dropped in-stream) → a
  *   [[ManifestStore]]-backed dimension enrich (each micro-batch joins
  *   one PINNED committed dim version — snapshot isolation, the
  *   transactional mirror of the reference's enrichment join,
  *   ksqldb-statements.sql:50–60).
  *
  * This is the shape a crawler-fed training corpus actually runs: the
  * corpus stays deduplicated, quality-gated and provenance-enriched AS
  * IT INGESTS, not in a nightly rewrite. Per micro-batch the work is
  * batch-size × collisions (gate) + a codegen'd map (quality) + one
  * broadcast join against the pinned dim — nothing scales with store
  * or corpus size.
  *
  * Delivery: the sink runs before the gate's store commit (the gate's
  * contract), so the sink must be idempotent per epoch; a replayed
  * batch re-drops against the store and re-joins the same pinned-or-
  * newer dim version.
  */
object CurationStream {

  /** Point-in-time feature attachment stage for [[run]] — the streaming
    * feature-store shape: each micro-batch as-of-joins
    * ([[graft.ops.TemporalJoins.asofJoin]]) against the feature HISTORY
    * pinned from a [[ManifestStore]] at that batch's read, so a doc
    * ingested at `leftTime` t gets the features that were current AT t
    * (leakage-free by construction — a feature row committed with a
    * later `rightTime` never reaches an earlier document, and
    * `tolerance` bounds staleness so a years-old feature surfaces as
    * null instead of silently attaching).
    *
    *  - `dir`/`rowKey`: the store holding the feature history. The
    *    store key must be a ROW-unique id (e.g. a surrogate per
    *    (entity, rightTime) version) so upserts ACCUMULATE history
    *    instead of overwriting it; `rowKey` is dropped before the join.
    *    The as-of uniqueness contract (one feature row per
    *    (keys, rightTime)) is the maintainer's discipline.
    *  - `keys`/`leftTime`/`rightTime`: entity join keys, the stream's
    *    event-time column, and the feature row's effective-from column.
    *
    * Per batch the join is ONE key shuffle of batch + history (the
    * sort-merge as-of formulation — no point-in-time self-join
    * explosion), and the pinned manifest guarantees a concurrent
    * feature commit never tears the batch's view.
    */
  final case class FeatureAsOf(dir: String, rowKey: String,
                               keys: Seq[String], leftTime: String,
                               rightTime: String,
                               tolerance: Option[Long] = None,
                               direction: String = "backward")

  /** In-stream language gate for [[run]] — the streaming face of the
    * round's char-trigram language-ID work: the NB model trains ONCE at
    * stream start from `labeled` (a trusted labeled snapshot) and pins
    * ([[TextAnalysis.trainNbBundle]]); each micro-batch's admitted,
    * quality-passing docs are classified in char-trigram space and only
    * predictions in `keep` survive to decontamination/enrich. A
    * multilingual crawl thus routes to per-language pipelines at
    * ingest, on orthographic evidence — self-reported `lang` metadata
    * (absent or untrusted on real crawls) is never consulted.
    *
    * Per-batch cost: the audited NB scoring plan over the batch (tf
    * map, vocab cut, C-row broadcast, one (doc, class) partial-agg
    * exchange) + one batch-sized id join to filter — nothing scales
    * with the store or the training corpus after start.
    */
  final case class LangGate(labeled: Option[DataFrame], keep: Set[String],
                            labelCol: String = "lang",
                            bundleName: Option[String] = None)

  object LangGate {
    /** Train-at-start gate from a labeled snapshot (the demo/test
      * shape). `labeled: Option[...]` on the case class makes the
      * invalid "persisted gate with a dangling training frame" state
      * unrepresentable — `None` IS the persisted shape, no null
      * DataFrame ever exists to NPE on.
      */
    def apply(labeled: DataFrame, keep: Set[String]): LangGate =
      LangGate(Some(labeled), keep)

    def apply(labeled: DataFrame, keep: Set[String],
              labelCol: String): LangGate =
      LangGate(Some(labeled), keep, labelCol)

    /** Gate from a PERSISTED bundle
      * ([[graft.ext.TextAnalysis.writeNbBundle]]) instead of training
      * at stream start — the production shape: the language model is
      * trained/audited once by a batch job and every stream (and
      * restart) loads the same artifact; the tokenizer rides in the
      * bundle's `_meta`, so the gate scores in exactly the space the
      * model trained under.
      */
    def persisted(bundleName: String, keep: Set[String]): LangGate =
      LangGate(None, keep, bundleName = Some(bundleName))
  }

  /** Model-based quality gate for [[run]] — the streaming face of
    * [[TextAnalysis.qualityClassifier]]'s learned filter, ALWAYS from a
    * persisted bundle ([[TextAnalysis.writeQualityBundle]]): the
    * classifier trains/audits once in a batch job; the stream (and
    * every restart) loads the artifact at start and keeps only docs
    * the model scores `keep` (default `good`). Runs AFTER the rule
    * cut: the rules are the cheap codegen'd floor, the model the
    * learned refinement that catches vocabulary the rules alone would
    * miss. Per-batch cost is the audited NB scoring plan over the
    * batch + one batch-sized id join — nothing retrains, ever.
    */
  final case class QualityGate(bundleName: String, keep: String = "good")

  /** In-stream PERPLEXITY gate for [[run]] — the streaming face of the
    * persisted LM bundles ([[TextAnalysis.writeLmModel]]), i.e. the
    * CCNet production filter: the reference LM trains/audits ONCE on a
    * trusted corpus in a batch job; the stream (and every restart)
    * loads the same artifact at start and keeps only docs whose mean
    * surprisal stays at or under `maxMeanBitsX100` (low-perplexity =
    * head-like text; gibberish and vocabulary soup score high and
    * drop). The smoothing rule (trigram stupid-backoff vs KN) rides in
    * the bundle's `_meta` — the gate scores under exactly the rule the
    * model was written for. Runs after the rule/model quality cuts,
    * before decontamination.
    *
    * Per-batch cost: the audited scoring plan over the batch (row-local
    * trigram explode, joins against the PINNED vocab-bounded model
    * levels, one (doc, gram) partial-agg exchange) + one batch-sized id
    * join — nothing retrains, nothing scales with the corpus.
    */
  final case class PerplexityGate(bundleName: String, maxMeanBitsX100: Long)

  /** In-stream BOILERPLATE-LINE strip for [[run]] — the streaming face
    * of [[graft.ext.Dedup.writeBoilerplateLines]]: the per-domain
    * document-frequency line set (nav bars, cookie banners, footers)
    * is computed/audited ONCE from a trusted corpus snapshot in a
    * batch job; the stream (and every restart) loads the artifact at
    * start and strips the UNION of all domains' boilerplate hashes
    * from each admitted batch's text BEFORE the quality signals read
    * it (CCNet's ordering — boilerplate inflates repetition and
    * deflates quality scores if left in). Novelty signatures stay on
    * the RAW text (the dedup contract, same as `redactPii`).
    *
    * Per-batch cost: row-local line explode + one broadcast join
    * against the (small by construction) hash set + one batch-keyed
    * rebuild — nothing scales with the training corpus.
    */
  final case class BoilerplateStrip(artifactName: String)

  /** In-stream weighted-lexicon safety screen for [[run]] — the
    * streaming face of [[TextAnalysis.lexiconScreen]] (the C4/Dolma
    * list layer): the lexicon (term, category, weight_x100) pins at
    * stream start; each micro-batch's admitted docs are screened under
    * the integer per-mille-of-tokens density budget and only
    * `screen_pass` docs continue. Runs AFTER the boilerplate strip and
    * PII redaction rewrite textCol (the screen reads what ships), and
    * BEFORE the quality gates. Per-batch cost: the row-local token
    * explode + one broadcast lexicon join + one batch-keyed agg —
    * nothing scales with anything but the batch.
    */
  final case class LexiconScreenGate(lexicon: DataFrame,
                                     maxScoreX100PerKtok: Long)

  /** In-stream corpus-drift monitoring for [[run]] — the composed face
    * of [[DriftMonitor]] (one stream, not a second reader over the
    * topic): each micro-batch's NOVEL documents (post-dedup, pre-gate
    * — drift in what is actually arriving as new content, before any
    * quality cut masks it) fold into the monitor's persisted CUSUM
    * state under the gate stream's own epoch lineage; `onDrift` fires
    * per batch with the alarm list. `groupCol = Some(col)` switches to
    * the PER-GROUP monitor (per-(group, metric) CUSUMs vs
    * [[DriftMonitor.writeProfileBy]] baselines — the "which source
    * drifted" readout; alarms report as "group/metric"); None keeps
    * the global [[DriftMonitor.updateBatch]] law. The baseline profile
    * (writeProfile / writeProfileBy, matching the mode — shape-checked
    * at start) must exist at stream start — fail loud, not a silently
    * unmonitored stream. Observability only: the monitor never drops a
    * document.
    */
  final case class DriftGate(name: String, slack: Long = 200L,
                             threshold: Long = 1000L,
                             groupCol: Option[String] = None,
                             onDrift: DriftMonitor.DriftEvent => Unit =
                               _ => ())

  /** Start the composed topology. `docs` must carry (`idCol`,
    * `textCol`, `dimKey`); admitted, quality-passing documents reach
    * `sink` enriched (left outer — a doc with no dim row survives with
    * nulls) with a `quality` column attached.
    *
    * The near-dup threshold (`jaccardNum`/`jaccardDen`) and the
    * maintenance cadence (`compactEvery`) pass straight through to
    * [[IngestDedupGate.gate]]. The shingle size and band layout do not:
    * they are [[graft.ext.Dedup]]'s fixed layout, because the gate's
    * store persists band keys of that layout and a restart that banded
    * differently would match none of them. Unlike the bare gate (cadence
    * off for callers owning an external schedule), the FLAGSHIP defaults to
    * `compactEvery = 64`: it is the run-unattended-for-weeks topology
    * (the reference boots docker-compose and walks away), and 64
    * five-minute batches ≈ one fold per ~5 h — version accumulation
    * stays two orders of magnitude under the ~8.6k-dirs-per-month
    * untended shape while compaction cost stays amortized.
    *
    * `benchmark` (optional) decontaminates in-stream: admitted,
    * quality-passing docs sharing ≥ `minOverlap` word n-grams with the
    * benchmark relation are dropped before the enrich
    * ([[graft.ext.Decontamination]] — the eval set never reaches the
    * training corpus, enforced at ingest rather than in a nightly
    * sweep). The benchmark's distinct gram set is computed ONCE and
    * cached for the life of the query (unpersisted when the query
    * terminates); each micro-batch pays one broadcast-hash probe
    * against it, so the per-batch cost is batch-sized, not
    * benchmark-sized.
    *
    * `broadcastDim = false` is the escape hatch for a dim store past
    * broadcast range (mirrors [[graft.ops.RatingsOps.enrich]]): the
    * hint is dropped and the per-batch join strategy is left to
    * size/AQE — at 100 TB a provenance dim can outgrow any driver-side
    * build, and the composed flagship must not pin it to one.
    *
    * `redactPii = true` rewrites `textCol` through the
    * [[TextAnalysis.redactPii]] chain BEFORE the quality gate — PII
    * never reaches the sink, the store, or the quality signals; the
    * chain is a codegen'd per-row map, so the stream pays zero extra
    * shuffle. NOTE the gate's novelty signatures are computed on the
    * RAW text (dedup is about the ingested artifact), redaction on
    * the admitted copy.
    */
  def run(docs: DataFrame, storeName: String, dimDir: String, dimKey: String,
          checkpointDir: String, idCol: String = "doc_id",
          textCol: String = "text", minQuality: Int = 3,
          jaccardNum: Int = 8, jaccardDen: Int = 10, compactEvery: Int = 64,
          benchmark: Option[DataFrame] = None, minOverlap: Int = 1,
          broadcastDim: Boolean = true, redactPii: Boolean = false,
          gopherGate: Boolean = false,
          minCompressionX1000: Int = 0,
          features: Option[FeatureAsOf] = None,
          langGate: Option[LangGate] = None,
          qualityGate: Option[QualityGate] = None,
          perplexityGate: Option[PerplexityGate] = None,
          boilerplateStrip: Option[BoilerplateStrip] = None,
          lexiconGate: Option[LexiconScreenGate] = None,
          driftGate: Option[DriftGate] = None)
         (sink: (DataFrame, Long) => Unit): StreamingQuery = {
    // drift monitor: the profile must exist BEFORE the stream starts
    driftGate.foreach { dg =>
      require(docs.sparkSession.catalog
          .tableExists(DriftMonitor.profileTable(dg.name)),
        s"no baseline profile '${DriftMonitor.profileTable(dg.name)}' — " +
          "DriftMonitor.writeProfile/writeProfileBy first")
      DriftMonitor.requireProfileShape(docs.sparkSession, dg.name,
        perGroup = dg.groupCol.isDefined)
      dg.groupCol.foreach(g => require(docs.columns.contains(g),
        s"DriftGate.groupCol '$g' is not a stream column " +
          s"(${docs.columns.sorted.mkString(", ")})"))
    }
    // boilerplate strip loads its persisted artifact ONCE, here — a
    // missing table dies at start, not on batch 0; the hash set is
    // pinned so per-batch broadcasts never re-read the table
    val boilerHashes = boilerplateStrip.map(b =>
      graft.ext.Dedup.loadBoilerplateLines(docs.sparkSession,
        b.artifactName).select("line_hash").pin())
    // lexicon pins once at start — a malformed lexicon (missing
    // columns) dies here, not on batch 0
    val lexPinned = lexiconGate.map { lx =>
      require(lx.maxScoreX100PerKtok >= 0,
        "LexiconScreenGate.maxScoreX100PerKtok must be >= 0")
      val cols = lx.lexicon.columns.toSet
      require(Set("term", "category", "weight_x100").subsetOf(cols),
        s"LexiconScreenGate lexicon needs (term, category, weight_x100), " +
          s"got ${cols.toSeq.sorted.mkString(", ")}")
      lx.lexicon.pin()
    }
    // model quality gate loads its persisted bundle ONCE, here — a
    // missing/foreign-tokenizer artifact dies at start, not on batch 0
    val qualityBundle = qualityGate.map(qg =>
      TextAnalysis.loadNbBundle(docs.sparkSession, qg.bundleName))
    // perplexity gate: load + PIN the persisted LM once at start (a
    // missing/unknown-kind artifact dies here, not on batch 0); the
    // pinned model blocks are what every batch's scoring joins read —
    // vocab-bounded, never re-read from the table per batch
    val lmBundle = perplexityGate.map { pg =>
      require(pg.maxMeanBitsX100 > 0,
        s"PerplexityGate.maxMeanBitsX100 must be positive, got " +
          s"${pg.maxMeanBitsX100}")
      val b = TextAnalysis.loadLmModel(docs.sparkSession, pg.bundleName)
      b.copy(model = b.model.pin())
    }
    // language model trains once, here, and pins — per batch only the
    // scoring plan runs (trainNbBundle fails loud on an unlabeled
    // snapshot, so a misconfigured gate dies at start, not on batch 0);
    // a PERSISTED gate loads the batch-trained artifact instead
    // (loadNbBundle fails loud on a missing/foreign-tokenizer bundle)
    val langBundle = langGate.map { lg =>
      require(lg.keep.nonEmpty, "LangGate.keep must name at least one language")
      require(!docs.columns.contains("lang_pred"),
        "doc column `lang_pred` collides with the LangGate output — rename it")
      (lg.bundleName, lg.labeled) match {
        case (Some(nm), _) => TextAnalysis.loadNbBundle(docs.sparkSession, nm)
        case (None, Some(lab)) =>
          TextAnalysis.trainNbBundle(lab, lg.labelCol, textCol,
            tfs = graft.functions.charTrigramTfs)
        case (None, None) => throw new IllegalArgumentException(
          "LangGate needs either a labeled snapshot to train on or a " +
            "persisted bundleName (LangGate.persisted)")
      }
    }
    // when the stream redacts, the benchmark must be redacted the same
    // way before gram extraction — otherwise a benchmark item containing
    // PII-shaped tokens could never match its redacted in-stream copy
    // and would leak past the decontamination gate
    val benchGrams = benchmark.map { b =>
      val src = if (redactPii)
        b.withColumn(textCol, TextAnalysis.redactPii(col(textCol)))
      else b
      graft.ext.Decontamination.benchmarkGrams(src, textCol).cache()
    }
    // Fail at stream START, not mid-stream: a feature column sharing a
    // name with a doc/dim column would make the as-of join's output
    // ambiguous and kill the query on some later batch with an opaque
    // duplicate-column error. The check reads both stores' schemas once
    // (an unseeded feature store also surfaces here, at start, instead
    // of on batch 0).
    features.foreach { f =>
      val spark = docs.sparkSession
      val featCols = ManifestStore.read(spark, f.dir, f.rowKey).columns.toSet --
        Set(f.rowKey, f.rightTime) -- f.keys
      val dimCols = ManifestStore.read(spark, dimDir, dimKey).columns.toSet - dimKey
      val enrichedCols = docs.columns.toSet + "quality" ++ dimCols ++
        langGate.map(_ => "lang_pred")
      val clash = featCols & enrichedCols
      require(clash.isEmpty,
        s"FeatureAsOf columns ${clash.toSeq.sorted.mkString(", ")} collide with " +
          "doc/dim columns — rename them in the feature store (the as-of join " +
          "would produce ambiguous duplicate output columns)")
    }
    val query = IngestDedupGate.gate(docs, storeName, checkpointDir,
      idCol = idCol, textCol = textCol, jaccardNum = jaccardNum,
      jaccardDen = jaccardDen, compactEvery = compactEvery) { (novel, epoch) =>
      // drift monitoring observes the NOVEL batch before any gate —
      // the epoch lineage is the gate stream's own checkpoint, so the
      // monitor's replay markers stay consistent across restarts
      driftGate.foreach { dg =>
        dg.onDrift(dg.groupCol match {
          case Some(g) => DriftMonitor.updateBatchBy(dg.name, novel,
            epoch, g, textCol, minQuality, dg.slack, dg.threshold)
          case None => DriftMonitor.updateBatch(dg.name, novel, epoch,
            textCol, minQuality, dg.slack, dg.threshold)
        })
      }
      val redacted =
        if (redactPii)
          novel.withColumn(textCol, TextAnalysis.redactPii(col(textCol)))
        else novel
      // boilerplate strip rewrites textCol BEFORE the quality signals
      // read it (CCNet ordering); novelty signatures upstream stay on
      // the raw text
      val stripped = boilerHashes.fold(redacted)(hs =>
        graft.ext.Dedup.stripLinesByHashSet(redacted, hs, idCol, textCol))
      // lexicon screen drops over-budget docs on the SHIPPED text
      // (post-redaction/strip), before the quality gates. LEFT join:
      // lexiconScreen only emits rows for non-null-text docs, and the
      // pipeline convention (stripLinesByHashSet, redactPii) is that
      // null-text docs pass through unchanged — a missing screen row
      // means "nothing to screen", i.e. pass, NOT drop.
      val admitted = (lexPinned, lexiconGate) match {
        case (Some(lex), Some(lx)) =>
          val screen = TextAnalysis.lexiconScreen(stripped, lex,
              lx.maxScoreX100PerKtok, idCol, textCol)
            .select(col(idCol), col("screen_pass"))
          stripped.join(screen, Seq(idCol), "left")
            .filter(coalesce(col("screen_pass"), lit(true)))
            .drop("screen_pass")
        case _ => stripped
      }
      // `gopherGate` adds the full Rae et al. repetition rule set
      // ([[TextAnalysis.gopherPass]]) beside the 4-signal quality cut —
      // still a pure codegen'd per-row map (one native expression, zero
      // extra shuffle), so spam that repeats itself past the 2-gram
      // signal's reach is dropped in-stream too
      // `minCompressionX1000` (0 = off) adds the deflate boilerplate
      // cut: drop docs whose per-mille compression ratio falls below
      // the floor (template spam compresses far harder than prose) —
      // another pure per-row native expression, zero extra shuffle
      val gated = admitted
        .withColumn("quality",
          TextAnalysis.qualityScore(col(textCol)).cast("long"))
        .filter(col("quality") >= minQuality &&
          (if (gopherGate) TextAnalysis.gopherPass(col(textCol))
           else lit(true)) &&
          (if (minCompressionX1000 > 0)
            // empty text → octet_length 0 → integer div NULL, which a
            // bare >= filter would SILENTLY drop regardless of the
            // configured floor (r16 advice). Decision: empty docs pass
            // this gate — they carry no boilerplate signal; the
            // quality floor above already owns the too-short cut.
            octet_length(col(textCol)) === 0 ||
              expr(s"deflate_len(`$textCol`) * 1000 div " +
                s"octet_length(`$textCol`)") >= minCompressionX1000.toLong
           else lit(true)))
      // model quality gate: score the rule-passing batch under the
      // PINNED persisted classifier, keep only `keep`-labeled docs
      val mGated = qualityBundle.fold(gated) { b =>
        val keepPreds = TextAnalysis.classifyWith(gated, b, idCol, textCol)
          .filter(col("pred") === qualityGate.get.keep)
          .select(col(idCol))
        gated.join(keepPreds, idCol)
      }
      // language gate: classify the batch under the PINNED model and
      // keep only the routed languages (pred join is batch-sized)
      val routed = langBundle.fold(mGated) { b =>
        val keep = langGate.get.keep
        val preds = TextAnalysis.classifyWith(mGated, b, idCol, textCol)
          .filter(col("pred").isin(keep.toSeq: _*))
          .select(col(idCol), col("pred").as("lang_pred"))
        mGated.join(preds, idCol)
      }
      // perplexity gate: score the batch under the PINNED persisted LM
      // and keep the low-surprisal head (id join is batch-sized)
      val headed = lmBundle.fold(routed) { b =>
        val keep = b.score(routed, idCol, textCol)
          .filter(col("mean_bits_x100") <= perplexityGate.get.maxMeanBitsX100)
          .select(col(idCol))
        routed.join(keep, idCol)
      }
      val clean = benchGrams.fold(headed)(g =>
        graft.ext.Decontamination.decontaminateAgainst(
          headed, broadcast(g), idCol, textCol, minOverlap = minOverlap))
      val dim0 = ManifestStore.read(novel.sparkSession, dimDir, dimKey)
      val dim = if (broadcastDim) broadcast(dim0) else dim0
      val enriched = clean.join(dim, Seq(dimKey), "left_outer")
      // point-in-time feature stage: pin the feature history's current
      // committed version for this batch and as-of join on the entity
      // keys (no broadcast hint — the as-of is a union + window, not a
      // hash join, so the hint would be meaningless)
      val out = features.fold(enriched) { f =>
        val hist = ManifestStore
          .read(novel.sparkSession, f.dir, f.rowKey).drop(f.rowKey)
        graft.ops.TemporalJoins.asofJoin(enriched, hist, f.keys,
          f.leftTime, f.rightTime, f.tolerance, f.direction)
      }
      sink(out, epoch)
    }
    // release the cached gram set when the query ends — without this,
    // repeated run() calls over the same benchmark accumulate cached
    // copies for the life of the session
    benchGrams.foreach { g =>
      val spark = docs.sparkSession
      val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
        import org.apache.spark.sql.streaming.StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit = ()
        override def onQueryProgress(e: QueryProgressEvent): Unit = ()
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
          if (e.id == query.id) {
            g.unpersist()
            spark.streams.removeListener(this)
          }
      }
      spark.streams.addListener(listener)
      // the query could have terminated before the listener attached —
      // unpersist() is idempotent, so the rare double release is safe
      if (!query.isActive) { g.unpersist(); spark.streams.removeListener(listener) }
    }
    query
  }
}
