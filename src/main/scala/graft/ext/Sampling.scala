package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Pin._
import graft.functions.{polyFingerprint, wordGrams}

/** Deterministic splitting/sampling for training-data pipelines: every
  * assignment is a pure function of the row's KEY (polyhash mod a fixed
  * grain), so it is
  *
  *  - stable across runs, engines, partitionings and cluster sizes (no
  *    RNG, no zipWithIndex, no sort) — re-running the pipeline on 10
  *    executors or 1000 yields byte-identical splits;
  *  - a narrow map + filter (NO shuffle) that pushes into the scan;
  *  - leakage-safe by construction: the same key always lands in the
  *    same split, so duplicate documents cannot straddle train/test —
  *    pair with [[Dedup]] keys for near-dup-safe splits;
  *  - reproducible in any engine with the same hash (the DuckDB oracle
  *    verifies assignments row-for-row).
  *
  * `sampleRatio`/`rand()`-based sampling is none of these things (it
  * draws per-task RNG streams that change with partitioning).
  */
object Sampling {

  /** Assignment grain: splits resolve to 1/10000ths. */
  val Grain = 10000L

  /** The hash bucket (0 until Grain) driving every assignment. A null
    * key hashes like the empty string (polyhash("") = 0 → bucket 0),
    * so null-key rows get a deterministic, DISCLOSED assignment (the
    * first split / always sampled) instead of a null bucket that would
    * silently drop them from `sampleByKey` and funnel them into the
    * last split of `assignSplit`.
    */
  def bucket(key: Column): Column =
    pmod(polyFingerprint(coalesce(key.cast("string"), lit(""))), lit(Grain))

  /** Add a `split` column assigning each row to the named fractions
    * (e.g. `Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)`) by
    * cumulative bucket ranges. Fractions must sum to ≤ 1; any residual
    * bucket range is assigned to the LAST split (so weights that sum to
    * 1 cover everything even after integer truncation).
    */
  def assignSplit(df: DataFrame, keyCol: Column,
                  weights: Seq[(String, Double)]): DataFrame = {
    require(weights.nonEmpty, "need at least one split")
    require(weights.forall(_._2 >= 0) && weights.map(_._2).sum <= 1.0 + 1e-9,
      s"weights must be non-negative and sum to <= 1, got $weights")
    val cuts = weights.scanLeft(0L) { case (acc, (_, w)) =>
      acc + math.round(w * Grain)
    }.tail
    val b = bucket(keyCol)
    val expr = weights.init.zip(cuts.init).reverse.foldLeft(
      lit(weights.last._1)) { case (els, ((name, _), cut)) =>
      when(b < cut, lit(name)).otherwise(els)
    }
    df.withColumn("split", expr)
  }

  /** Keep a deterministic `fraction` of rows by key hash — the
    * downsampling primitive (same guarantees as [[assignSplit]]).
    */
  def sampleByKey(df: DataFrame, keyCol: Column, fraction: Double): DataFrame = {
    require(fraction >= 0 && fraction <= 1, s"fraction must be in [0,1], got $fraction")
    df.filter(bucket(keyCol) < math.round(fraction * Grain))
  }

  /** Per-domain keep thresholds (in 1/[[Grain]] buckets) that resample a
    * corpus to integer mixture `weights`, keeping as much data as
    * possible with NO upsampling (the DoReMi-style static re-mix,
    * restricted to downsampling): the largest total T satisfiable from
    * the available counts is `min over d of floor(c_d·W / w_d)`; each
    * domain then needs `floor(w_d·T / W)` rows, i.e. a bucket threshold
    * of `floor(need_d·Grain / c_d)`. ALL arithmetic is Long floor
    * division so any engine (the DuckDB oracle included) reproduces the
    * thresholds exactly; no float ever enters the assignment. The
    * realized per-domain count is `#{keys: bucket(key) < thr_d}` — it
    * tracks `need_d` as the domain's key-hash buckets approach
    * uniformity (exact when thr hits the full [[Grain]]), so the
    * mixture is approximate on small or adversarially-keyed domains and
    * converges at corpus scale. An EXACT quota would need a per-domain
    * global rank — a shuffle + sort of the full corpus, and an
    * assignment that changes whenever any other row is added; this rule
    * is the deterministic, shuffle-free trade.
    *
    * Every weighted domain must be present with a positive count (a
    * zero-count domain makes the target mixture unattainable — fail
    * loudly rather than silently emit an empty corpus).
    */
  def domainMixThresholds(counts: Map[String, Long],
                          weights: Seq[(String, Int)]): Map[String, Long] = {
    require(weights.nonEmpty && weights.forall(_._2 > 0),
      s"weights must be positive, got $weights")
    require(weights.map(_._1).distinct.size == weights.size,
      s"duplicate domains in weights: $weights — the total W would " +
        "double-count while .toMap keeps one threshold")
    val absent = weights.collect {
      case (d, _) if counts.getOrElse(d, 0L) <= 0L => d
    }
    require(absent.isEmpty,
      s"domains $absent have no rows — target mixture unattainable")
    val w = weights.map(_._2.toLong).sum
    val t = weights.map { case (d, wd) => counts(d) * w / wd }.min
    weights.map { case (d, wd) =>
      val need = wd * t / w
      d -> need * Grain / counts(d)
    }.toMap
  }

  /** Resample `df` so the surviving rows match the integer mixture
    * `weights` over `domainCol` (domains without a weight are DROPPED —
    * they have share 0 in the target). Row-level keep/drop is the same
    * pure key-hash rule as [[sampleByKey]]: stable across runs and
    * partitionings, a broadcast join + narrow filter (the only action
    * is one count per domain to size the thresholds — bounded by domain
    * cardinality, the same driver-side footprint as a catalog listing).
    */
  def mixByDomain(df: DataFrame, domainCol: Column, keyCol: Column,
                  weights: Seq[(String, Int)]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val counts = df.groupBy(domainCol.as("__mix_domain")).count()
      .as[(String, Long)].collect().toMap
    // internal column names are collision-proof vs any input schema
    val thr = domainMixThresholds(counts, weights).toSeq
      .toDF("__mix_domain", "__mix_thr")
    df.join(broadcast(thr), domainCol === col("__mix_domain"))
      .filter(bucket(keyCol) < col("__mix_thr"))
      .drop("__mix_domain", "__mix_thr")
  }

  /** Deterministic EPOCH SHUFFLE: materialize the training ORDER for
    * one epoch as (shard, pos) coordinates — the "reshuffle the corpus
    * every epoch" requirement of LLM training runs, without RNG. Each
    * row's order key is `polyhash("ep<epoch>:" ++ key)`, so
    *
    *  - the permutation is a pure function of (epoch, key): stable
    *    across runs, engines, partitionings and cluster sizes, and
    *    RESUMABLE — a restarted job recomputes the identical order;
    *  - different epochs produce (statistically) independent
    *    permutations — the salt rides inside the hash, no reseeding
    *    protocol;
    *  - `shard = ord mod numShards` balances rows across output shards
    *    (hash-uniform, so shard sizes deviate only like √n), and `pos`
    *    is the dense 0-based rank INSIDE the shard in hash order —
    *    (shard, pos) is a complete, gap-free training-order coordinate
    *    a loader can seek by.
    *
    * CONTRACT: `keyCol` unique per row (the [[Packing.packSequences]]
    * rule — duplicate keys collide to one coordinate order and the
    * tie is partition-dependent). Null keys hash like "" ([[bucket]]).
    *
    * Scale shape: one hash exchange into `numShards` window partitions
    * + a per-shard sort — the floor cost of materializing a global
    * order; no single-partition window, no global sort, no
    * zipWithIndex. At 100 TB, numShards is thousands and each shard's
    * sort is corpus/numShards — executor-sized by construction.
    */
  def epochShuffle(df: DataFrame, keyCol: Column, epoch: Int,
                   numShards: Int): DataFrame = {
    require(epoch >= 0, s"epoch must be non-negative, got $epoch")
    require(numShards >= 1, s"numShards must be positive, got $numShards")
    import org.apache.spark.sql.expressions.Window
    val ord = polyFingerprint(
      concat(lit(s"ep$epoch:"), coalesce(keyCol.cast("string"), lit(""))))
    val w = Window.partitionBy(col("shard")).orderBy(col("ord"), keyCol)
    df.withColumn("ord", ord)
      .withColumn("shard", pmod(col("ord"), lit(numShards.toLong)))
      .withColumn("pos", (row_number().over(w) - 1).cast("long"))
  }

  /** TOKEN-balanced output shard plan: assign every row a shard in
    * [0, numShards) such that each shard's token total lands within one
    * document of `ceil(total / numShards)` — the training-writer
    * counterpart of [[epochShuffle]] (which balances ROWS; dataloader
    * throughput follows tokens, so equal-row shards of mixed-length
    * documents are unbalanced exactly where it hurts).
    *
    * Law (integer-exact, engine-portable): rows are laid out in the
    * deterministic (hash bucket, key) order the whole sampling family
    * shares; `shard = min(numShards − 1, cum_excl DIV width)` where
    * `cum_excl` is the exclusive running token total in that order and
    * `width = max(1, ceil(total / numShards))` — contiguous cuts of the
    * prefix sum, so each shard overshoots its quota by at most one
    * document. A NULL token cost rides along at cost 0 (the
    * [[graft.ext.Packing.selectByBudget]] law); `DIV` keeps the
    * division integral (a double divide could misround an exact
    * boundary at corpus scale).
    *
    * Scale shape: the global prefix sum is DECOMPOSED — a per-group
    * running window (groups = `groupWidth`-wide bucket ranges, each a
    * parallel task) plus a broadcast offsets relation of ≤
    * Grain/groupWidth ≤ 10⁴ rows whose own window is single-task but
    * bounded by construction. One scalar aggregate (the grand total)
    * comes to the driver; no corpus-sized sort or single-task window
    * ever runs.
    */
  def planShards(df: DataFrame, keyCol: Column, tokensCol: Column,
                 numShards: Int, groupWidth: Int = 16): DataFrame = {
    require(numShards >= 1, s"numShards must be positive, got $numShards")
    require(groupWidth > 0 && groupWidth <= Grain,
      s"groupWidth must be in [1, $Grain], got $groupWidth")
    import org.apache.spark.sql.expressions.Window
    val bkt = bucket(keyCol)
    val base = df
      .withColumn("__ps_tok", coalesce(tokensCol.cast("long"), lit(0L)))
      .withColumn("__ps_bkt", bkt)
      .withColumn("__ps_grp", (bkt / groupWidth).cast("long"))
    val inGrp = Window.partitionBy("__ps_grp")
      .orderBy(col("__ps_bkt"), keyCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withCum = base.withColumn("__ps_cum", sum("__ps_tok").over(inGrp))
    val totals = base.groupBy("__ps_grp").agg(sum("__ps_tok").as("__ps_total"))
      .pin()
    val offsets = totals
      .withColumn("__ps_off",
        coalesce(sum("__ps_total").over(
          Window.orderBy(col("__ps_grp"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("__ps_grp", "__ps_off")
    val total = totals.agg(coalesce(sum("__ps_total"), lit(0L)).as("t"))
      .head.getLong(0)
    val width = math.max(1L, (total + numShards - 1) / numShards)
    withCum.join(broadcast(offsets), Seq("__ps_grp"))
      .withColumn("shard",
        least(lit((numShards - 1).toLong),
          expr(s"(__ps_off + __ps_cum - __ps_tok) div $width")))
      .drop("__ps_tok", "__ps_bkt", "__ps_grp", "__ps_cum", "__ps_off")
  }

  /** Floor integer `den`-th root of a non-negative BigInt, by binary
    * search over BigInt powers — exact at any magnitude (a double
    * `pow(x, 1/den)` would misround past 2⁵³, silently shifting a
    * threshold at corpus scale).
    */
  private[graft] def iroot(x: BigInt, den: Int): BigInt = {
    require(den >= 1, s"root degree must be >= 1, got $den")
    require(x >= 0, s"iroot needs a non-negative radicand, got $x")
    if (den == 1 || x <= 1) x
    else {
      var lo = BigInt(0)
      var hi = (BigInt(1) << (x.bitLength / den + 1)).min(x)
      while (lo < hi) {
        val mid = (lo + hi + 1) >> 1
        if (mid.pow(den) <= x) lo = mid else hi = mid - 1
      }
      lo
    }
  }

  /** Per-domain keep thresholds for TEMPERATURE-smoothed resampling
    * with `alpha = alphaNum / alphaDen` ∈ [0, 1] — the exponentiated
    * mixture rebalancing multilingual/multi-domain training runs use
    * (sampling probability ∝ p_d^alpha: alpha = 1 keeps the natural
    * mixture, alpha = 0 flattens to uniform, in-between upweights the
    * tail without discarding the head's advantage). Restricted to
    * DOWNSAMPLING (no row is duplicated): the smoothed per-domain keep
    * count interpolates geometrically between the domain's own count
    * (alpha = 1) and the smallest domain's count (alpha = 0),
    *
    *   keep_d = floor((c_d^num · c_min^(den−num))^(1/den)),
    *
    * evaluated in exact BigInt arithmetic ([[iroot]] — no float enters
    * the count), then converted to a bucket threshold
    * `floor(keep_d · Grain / c_d)` exactly as [[domainMixThresholds]].
    * The smallest domain always keeps everything; equal counts are
    * invariant under every alpha. Realized counts track keep_d as the
    * domain's key-hash buckets approach uniformity (the
    * [[domainMixThresholds]] approximation note applies verbatim).
    */
  def temperatureMixThresholds(counts: Map[String, Long], alphaNum: Int,
                               alphaDen: Int): Map[String, Long] = {
    require(alphaDen > 0 && alphaNum >= 0 && alphaNum <= alphaDen,
      s"alpha must be a rational in [0,1]: got $alphaNum/$alphaDen")
    require(counts.nonEmpty, "temperature mix needs at least one domain")
    require(counts.values.forall(_ > 0),
      s"zero-count domain in $counts — thresholds undefined")
    val cmin = BigInt(counts.values.min)
    counts.map { case (d, c) =>
      val keep =
        iroot(BigInt(c).pow(alphaNum) * cmin.pow(alphaDen - alphaNum), alphaDen)
      d -> ((keep * Grain) / c).toLong
    }
  }

  /** Resample `df` to the temperature-`alpha` mixture over `domainCol`
    * (see [[temperatureMixThresholds]]). Null-domain rows are DROPPED —
    * they have no mixture share (and must not shrink c_min). Same
    * execution shape as [[mixByDomain]]: one domain-bounded count
    * action, then a broadcast threshold join + the pure key-hash filter
    * — deterministic across runs, engines and partitionings, and the
    * corpus side is never shuffled.
    */
  def temperatureMix(df: DataFrame, domainCol: Column, keyCol: Column,
                     alphaNum: Int, alphaDen: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val counts = df.filter(domainCol.isNotNull)
      .groupBy(domainCol.as("__tm_domain")).count()
      .as[(String, Long)].collect().toMap
    val thr = temperatureMixThresholds(counts, alphaNum, alphaDen).toSeq
      .toDF("__tm_domain", "__tm_thr")
    df.join(broadcast(thr), domainCol === col("__tm_domain"))
      .filter(bucket(keyCol) < col("__tm_thr"))
      .drop("__tm_domain", "__tm_thr")
  }

  /** Per-row WEIGHTED deterministic sampling: keep a row iff
    * `bucket(key) · den < Grain · num`, where `numCol`/`den` express
    * the row's keep rate as an integer ratio — e.g. quality-weighted
    * upsampling (`numCol` = quality 0–4, `den = 4`: quality-0 rows
    * never kept, quality-4 always, quality-2 at half rate). The same
    * pure key-hash law as [[sampleByKey]] — stable across runs,
    * engines and partitionings, a shuffle-free codegen'd filter that
    * pushes into the scan — but with a per-ROW rate instead of one
    * global fraction. A null or negative `numCol` keeps nothing for
    * that row; `num >= den` always keeps it. Cross-multiplied integer
    * comparison — no float rate ever enters the decision.
    */
  def sampleByRate(df: DataFrame, keyCol: Column, numCol: Column,
                   den: Long): DataFrame = {
    require(den > 0, s"den must be positive, got $den")
    df.filter(bucket(keyCol) * lit(den) <
      lit(Grain) * coalesce(numCol.cast("long"), lit(0L)))
  }

  /** Deterministic UPSAMPLING by rational per-domain repeat factors —
    * the "epochs per domain" knob of published pre-training recipes
    * (e.g. repeat Wikipedia 2.5×, books 1.2×, keep web at 1×): every
    * row of domain d with factor num/den ≥ 0 is emitted
    * `floor(num/den)` times, plus once more iff its key's hash bucket
    * falls under the fractional remainder (`bucket · den < Grain ·
    * (num mod den)` — the [[sampleByRate]] cut, so the extra-copy
    * population is the same deterministic, engine-portable subset
    * every fractional sampler in this family selects). Domains absent
    * from `factors` pass through at 1×.
    *
    * Output: the input columns plus `copy` (0-based repeat index) —
    * (key, copy) is a complete, collision-free training identity for
    * downstream shuffling ([[epochShuffle]] keyed on a (key, copy)
    * concat gives each copy an independent position, which is exactly
    * what repeated-data training wants).
    *
    * Scale shape: one broadcast factor join + a ROW-LOCAL
    * `explode(sequence(...))` — no shuffle at all; the expansion
    * happens inside the scan's stage and composes with pushdown. The
    * blow-up is bounded by max factor (a recipe constant): no skew
    * surface beyond the input's own.
    */
  def upsampleByFactor(df: DataFrame, domainCol: String, keyCol: Column,
                       factors: Seq[(String, (Long, Long))]): DataFrame = {
    factors.foreach { case (d, (num, den)) =>
      require(num >= 0 && den > 0,
        s"factor for '$d' must be non-negative with positive denominator, got $num/$den")
    }
    val spark = df.sparkSession
    import spark.implicits._
    val fdf = factors.map { case (d, (num, den)) => (d, num, den) }
      .toDF(domainCol, "__uf_num", "__uf_den")
    val num = coalesce(col("__uf_num"), lit(1L))
    val den = coalesce(col("__uf_den"), lit(1L))
    val whole = (num - pmod(num, den)) / den // exact: num mod den subtracted first
    val extra = when(
      bucket(keyCol) * den < lit(Grain) * pmod(num, den), 1L).otherwise(0L)
    df.join(broadcast(fdf), Seq(domainCol), "left")
      .withColumn("__uf_n", (whole.cast("long") + extra))
      .filter(col("__uf_n") > 0L)
      .withColumn("copy",
        explode(sequence(lit(0L), col("__uf_n") - 1L)))
      .drop("__uf_num", "__uf_den", "__uf_n")
  }

  /** DSIR importance weights (Xie et al., NeurIPS 2023 — "Data Selection
    * for Language Models via Importance Resampling"): score every corpus
    * document by how much MORE LIKELY its hashed-n-gram bag is under a
    * TARGET distribution (the data you want more of — a trusted
    * high-quality set, an in-domain seed) than under the raw corpus
    * distribution. Features are hashed word {1,2}-grams (the paper's
    * bag-of-hashed-ngrams) folded into `buckets` cells via the same
    * PolyHash every fingerprint in this engine uses, so feature space —
    * and therefore both models — is `buckets`-bounded regardless of
    * corpus size.
    *
    * INTEGER-exact scoring by the floor-log2 bin-length law the LM
    * family uses (L(x) = length(bin(x)); both engines render identical
    * binary strings, no float log): with add-one-smoothed bucket models
    * p̂_b = (tgt_b+1)/(T_t+B) and q̂_b = (raw_b+1)/(T_r+B), a document's
    * importance weight in bits is
    *
    *   dsir_bits = Σ_b c_b·(L(tgt_b+1) − L(raw_b+1))
    *             + n·(L(T_r+B) − L(T_t+B)),
    *
    * where c_b = the doc's occurrences hashing to bucket b and n = Σc_b.
    * Positive ⇒ more target-like than corpus-typical; negative ⇒ the
    * reverse. Null/empty-gram docs score 0 with n_grams 0 (the
    * surprisal-family left-join law). Output: (idCol, dsir_bits,
    * n_grams).
    *
    * Scale shape: grams derive ROW-LOCALLY (one native
    * [[graft.functions.WordGrams]] pass, orders 1 and 2); the per-doc
    * bucket tf relation is pinned once (model counts + scoring join
    * share it — the bigramSurprisal lesson); the raw model is ONE
    * `buckets`-bounded partial-agg shuffle; the target model likewise (the target may be any size —
    * its model is still ≤ `buckets` rows); per-bucket weights and the
    * 1-row total shift BROADCAST back over the pinned tf relation.
    * Nothing corpus-sized crosses an exchange except the one (doc,
    * bucket) tf aggregation every bag-of-features operator pays.
    */
  def dsirWeights(corpus: DataFrame, target: DataFrame, buckets: Int = 4096,
                  idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    def gramBuckets(df: DataFrame): DataFrame =
      df.filter(col(textCol).isNotNull)
        .select(col(idCol),
          explode(wordGrams(col(textCol), 1, 2)).as("__ds_gram"))
        .select(col(idCol),
          pmod(polyFingerprint(col("__ds_gram")), lit(buckets.toLong))
            .as("__ds_b"))
    // pinned: the raw model AND the scoring join both read the corpus
    // tf relation — without the pin the scan + gram explode runs twice
    val dtf = gramBuckets(corpus)
      .groupBy(col(idCol), col("__ds_b"))
      .agg(count(lit(1)).as("__ds_tf"))
      .pin()
    val rawm = dtf.groupBy("__ds_b").agg(sum("__ds_tf").as("__ds_cr"))
    val tgtm = gramBuckets(target)
      .groupBy("__ds_b").agg(count(lit(1)).as("__ds_ct"))
    val weights = rawm.join(tgtm, Seq("__ds_b"), "left_outer")
      .select(col("__ds_b"),
        (length(bin(coalesce(col("__ds_ct"), lit(0L)) + 1)) -
          length(bin(col("__ds_cr") + 1))).cast("long").as("__ds_w"))
    val shift = rawm.agg(sum("__ds_cr").as("__ds_tr"))
      .crossJoin(tgtm.agg(sum("__ds_ct").as("__ds_tt")))
      .select((length(bin(col("__ds_tr") + buckets)) -
        length(bin(col("__ds_tt") + buckets))).cast("long").as("__ds_shift"))
    val agg = dtf.join(broadcast(weights), "__ds_b")
      .groupBy(col(idCol))
      .agg(sum(col("__ds_tf") * col("__ds_w")).as("__ds_gb"),
        sum(col("__ds_tf")).as("__ds_n"))
    corpus.select(col(idCol)).join(agg, Seq(idCol), "left_outer")
      .crossJoin(broadcast(shift))
      .select(col(idCol),
        (coalesce(col("__ds_gb"), lit(0L)) +
          coalesce(col("__ds_n"), lit(0L)) * col("__ds_shift"))
          .as("dsir_bits"),
        coalesce(col("__ds_n"), lit(0L)).as("n_grams"))
  }

  /** DSIR selection: the `n` most target-like corpus documents by
    * [[dsirWeights]], deterministic (weight DESC, id ASC tiebreak — the
    * paper samples with Gumbel noise; a deterministic top-n is this
    * engine's reproducibility law, and at corpus scale the two coincide
    * in expectation). Output adds a 1-based `rank`. The global cut is a
    * TakeOrdered (bounded-heap per task, n rows through the exchange);
    * the rank window then orders only the ≤ n survivors.
    */
  def dsirSelect(corpus: DataFrame, target: DataFrame, n: Int,
                 buckets: Int = 4096, idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    require(n > 0, s"n must be positive, got $n")
    import org.apache.spark.sql.expressions.Window
    val top = dsirWeights(corpus, target, buckets, idCol, textCol)
      .orderBy(col("dsir_bits").desc, col(idCol))
      .limit(n)
    top.withColumn("rank", row_number()
      .over(Window.orderBy(col("dsir_bits").desc, col(idCol))).cast("long"))
  }

  /** Stratified EXACT-N take: deterministically select (up to) `n` rows
    * per stratum — "give me 10k eval docs per domain" — by ascending
    * polyhash(key) order with a key tiebreak, so the selection is a
    * uniform-without-RNG sample that is stable across runs, engines and
    * partitionings (same law as [[sampleByKey]], but an exact count
    * instead of a rate). Output: the input columns + `rank` (1-based
    * position within the stratum's hash order).
    *
    * CONTRACT: `keyCol` must be unique within each stratum (the
    * [[graft.ext.Packing.packSequences]] key-uniqueness rule) — for
    * duplicate keys the (hash, key) order ties completely and which
    * physical duplicate survives the heap cut is partition-dependent,
    * voiding the determinism law above.
    *
    * Scale shape: the cut runs on the bounded-heap
    * [[graft.plans.TopKPerKey]] operator — each map task keeps at most
    * `n` rows per stratum in a heap, so the exchange carries
    * O(strata · n) rows, never a full per-stratum sort of the corpus;
    * the rank window then orders only the ≤ n survivors per stratum.
    */
  def stratifiedTake(df: DataFrame, strataCol: String, keyCol: String,
                     n: Int): DataFrame = {
    require(n > 0, s"n must be positive, got $n")
    import org.apache.spark.sql.graft.Bridge
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{Ascending, SortOrder}
    import org.apache.spark.sql.expressions.Window
    val hashed = df.withColumn("__st_h",
      polyFingerprint(col(keyCol).cast("string")))
    val top = graft.plans.TopKPerKey(
      Seq(UnresolvedAttribute(strataCol)),
      Seq(SortOrder(UnresolvedAttribute("__st_h"), Ascending),
        SortOrder(UnresolvedAttribute(keyCol), Ascending)),
      n, Bridge.logicalPlan(hashed))
    val w = Window.partitionBy(col(strataCol))
      .orderBy(col("__st_h"), col(keyCol))
    Bridge.ofRows(df.sparkSession, top)
      .withColumn("rank", row_number().over(w).cast("long"))
      .drop("__st_h")
  }

  /** Exact integer apportionment (largest-remainder / Hamilton method):
    * split a document budget across domains proportionally to integer
    * weights — floor shares first, then the leftover units go one each
    * to the largest fractional remainders (tie-break: larger weight,
    * then domain name). Σ quotas == budget exactly, the property the
    * rate-threshold mixers ([[mixByDomain]]) cannot give. Pure Long
    * arithmetic: `budget · w` must stay within Long (fine for any sane
    * budget × weight; weights are ratios, not magnitudes).
    */
  def apportion(weights: Seq[(String, Long)],
                budget: Long): Seq[(String, Long)] = {
    require(budget >= 0, s"budget must be non-negative, got $budget")
    require(weights.nonEmpty, "apportion needs at least one weight")
    require(weights.forall(_._2 >= 0), s"weights must be non-negative")
    require(weights.map(_._1).distinct.size == weights.size,
      "duplicate domain in weights")
    val w = weights.map(_._2).sum
    require(w > 0, "weights must not all be zero")
    val base = weights.map { case (d, wt) =>
      (d, wt, budget * wt / w, budget * wt % w)
    }
    val rem = (budget - base.map(_._3).sum).toInt
    base.sortBy { case (d, wt, _, r) => (-r, -wt, d) }
      .zipWithIndex
      .map { case ((d, _, q, _), i) => d -> (q + (if (i < rem) 1L else 0L)) }
      .sortBy(_._1)
  }

  /** CURRICULUM MIXING SCHEDULE: interpolate per-domain token budgets
    * from `startWeights` to `endWeights` over `steps` training phases
    * of `tokensPerStep` tokens each — the staged-mixture recipe
    * (open with web-heavy, close code/quality-heavy) as one exact plan
    * table `(step, domain, tokens)` a trainer (or a per-step
    * [[takeTokenApportioned]]) consumes directly.
    *
    * Integer-exact law: at step s the domain weight is the linear
    * lattice interpolation `start_d·(steps−1−s) + end_d·s` (pure
    * endpoint weights at the first and last step — no float ever
    * enters), and each step's `tokensPerStep` splits across those
    * weights by the same largest-remainder [[apportion]] every mixer
    * here uses, so every step's budgets sum to EXACTLY tokensPerStep.
    * A domain missing from one endpoint carries weight 0 there (it
    * fades in/out linearly); domains at weight 0 for a step emit a
    * 0-token row (the schedule discloses the fade, not just the
    * presence). `steps = 1` is the degenerate single-phase schedule
    * and uses `endWeights` (where training ends up).
    *
    * Driver-side arithmetic over steps × domains (a recipe constant,
    * loudly capped), returned as a DataFrame for joins against
    * realized per-step consumption.
    */
  def mixSchedule(spark: org.apache.spark.sql.SparkSession,
                  startWeights: Seq[(String, Long)],
                  endWeights: Seq[(String, Long)],
                  steps: Int, tokensPerStep: Long): DataFrame = {
    require(steps >= 1, s"steps must be positive, got $steps")
    require(steps <= 100000, s"steps must be a recipe-sized constant, got $steps")
    require(tokensPerStep >= 0, s"tokensPerStep must be non-negative")
    val domains = (startWeights.map(_._1) ++ endWeights.map(_._1)).distinct.sorted
    val sw = startWeights.toMap
    val ew = endWeights.toMap
    val rows = (0 until steps).flatMap { s =>
      val interp = domains.map { d =>
        val w =
          if (steps == 1) ew.getOrElse(d, 0L)
          else sw.getOrElse(d, 0L) * (steps - 1 - s) + ew.getOrElse(d, 0L) * s
        d -> w
      }
      val q =
        if (interp.forall(_._2 == 0L) || tokensPerStep == 0L)
          interp.map { case (d, _) => d -> 0L }.toMap
        else apportion(interp, tokensPerStep).toMap
      domains.map(d => (s.toLong, d, q(d)))
    }
    import spark.implicits._
    rows.toDF("step", "domain", "tokens")
  }

  /** Take EXACTLY the apportioned quota of documents per domain (hash
    * order, deterministic): [[apportion]] fixes per-domain quotas, then
    * one [[stratifiedTake]] at the max quota bounds the exchange
    * (O(domains · maxQuota) heap rows) and a broadcast quota join cuts
    * each domain to its own quota. Domains with fewer rows than their
    * quota return what they have — the shortfall is the caller's
    * under-supply, disclosed by the per-domain counts, never silently
    * back-filled from other domains (that would skew the mix).
    * Output: the selected rows + (rank, quota).
    */
  /** Take a TOKEN-budget-apportioned mix per domain — training mixes
    * are token budgets, not document counts ("1B tokens at 3:2:1 over
    * web:books:code"), and a doc-count quota silently skews toward
    * short-doc domains. [[apportion]] splits `totalTokens` across the
    * weighted domains exactly (largest remainder); within each domain
    * docs are laid out in (hash bucket, key) order — the
    * content-independent reproducible shuffle every mixer here uses —
    * and kept while the INCLUSIVE running token total fits the
    * domain's quota (prefix rule: no later smaller doc back-fills, so
    * membership never depends on what follows the cut). Unweighted
    * domains drop (share 0); a domain with fewer tokens than its quota
    * returns everything it has — the shortfall is the caller's
    * under-supply, disclosed by the output's per-domain sums, never
    * back-filled from other domains. NULL token counts cost 0.
    *
    * Scale shape: the [[Packing.selectByBudget]] decomposed prefix sum
    * with (domain, bucket-range) as the parallel cell — the in-cell
    * window sorts ~1/`groupWidth`·Grain of a domain, never a whole
    * skewed domain in one task; per-cell offsets accumulate under a
    * domain-PARTITIONED window over the cell relation (bounded by
    * domains × Grain/groupWidth rows, [[Packing.MaxOffsetRows]]-capped
    * loudly) and broadcast back with the quotas.
    *
    * Output: the input columns + (`toks`, `quota`).
    */
  def takeTokenApportioned(df: DataFrame, domainCol: String, keyCol: String,
                           tokensCol: Column,
                           weights: Seq[(String, Long)], totalTokens: Long,
                           groupWidth: Int = 16): DataFrame = {
    require(groupWidth > 0 && groupWidth <= Grain,
      s"groupWidth must be in [1, $Grain], got $groupWidth")
    val quotas = apportion(weights, totalTokens)
    val spark = df.sparkSession
    import spark.implicits._
    val qdf = quotas.toDF(domainCol, "quota")
    val bkt = bucket(col(keyCol))
    val base = df.join(broadcast(qdf), domainCol)
      .withColumn("toks", coalesce(tokensCol.cast("long"), lit(0L)))
      .withColumn("__tt_bkt", bkt)
      .withColumn("__tt_grp", (bkt / groupWidth).cast("long"))
    val inCell = org.apache.spark.sql.expressions.Window
      .partitionBy(col(domainCol), col("__tt_grp"))
      .orderBy(col("__tt_bkt"), col(keyCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val withCum = base.withColumn("__tt_cum", sum("toks").over(inCell))
    // guard order matters (the selectByBudget discipline): bound the
    // cell relation BEFORE any window over it runs
    val totals = base.groupBy(col(domainCol), col("__tt_grp"))
      .agg(sum("toks").as("__tt_total"))
      .pin()
    val nOff = totals.count()
    require(nOff <= Packing.MaxOffsetRows,
      s"takeTokenApportioned: $nOff (domain, group) cells exceed the " +
        s"${Packing.MaxOffsetRows} offsets cap — raise groupWidth")
    val offsets = totals
      .withColumn("__tt_off",
        coalesce(sum("__tt_total").over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col(domainCol)).orderBy(col("__tt_grp"))
            .rowsBetween(
              org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col(domainCol), col("__tt_grp"), col("__tt_off"))
    withCum.join(broadcast(offsets), Seq(domainCol, "__tt_grp"))
      .filter(col("__tt_off") + col("__tt_cum") <= col("quota"))
      .drop("__tt_bkt", "__tt_grp", "__tt_cum", "__tt_off")
  }

  def takeApportioned(df: DataFrame, strataCol: String, keyCol: String,
                      weights: Seq[(String, Long)],
                      budget: Long): DataFrame = {
    val quotas = apportion(weights, budget)
    val maxQ = quotas.map(_._2).max
    require(maxQ <= Int.MaxValue, s"quota $maxQ exceeds Int range")
    val spark = df.sparkSession
    import spark.implicits._
    val qdf = quotas.toDF(strataCol, "quota")
    if (maxQ == 0L) return df.join(broadcast(qdf), strataCol)
      .withColumn("rank", lit(0L)).filter(lit(false))
    val taken = stratifiedTake(
      df.join(broadcast(qdf), strataCol), strataCol, keyCol, maxQ.toInt)
    taken.filter(col("rank") <= col("quota"))
  }

  /** UNCERTAINTY sampling — the active-learning selection rule ("what
    * should a human label next"): per group, the `k` rows with the
    * SMALLEST uncertainty score (for the engine's NB classifiers,
    * `margin` — runner-up bits minus winner bits, 0 = the model is
    * torn), ties to the smallest id. A labeling budget pointed at the
    * decision boundary moves a student classifier most per label —
    * the standard margin-based AL heuristic, exact here because the
    * margins are integers.
    *
    * Input: any relation carrying (`groupCol`, `idCol`, `scoreCol`).
    * Output: the selected rows + `rank` (1..k per group, ascending
    * score). Scale shape: the bounded-heap [[graft.plans.TopKPerKey]]
    * cut — each map task keeps ≤ k rows per group, the exchange
    * carries O(groups · k), never a corpus sort.
    */
  def uncertaintySample(scored: DataFrame, k: Int,
                        groupCol: String = "source",
                        idCol: String = "doc_id",
                        scoreCol: String = "margin"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    import org.apache.spark.sql.graft.Bridge
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{Ascending, SortOrder}
    import org.apache.spark.sql.expressions.Window
    val in = scored.filter(col(scoreCol).isNotNull)
    val top = graft.plans.TopKPerKey(
      Seq(UnresolvedAttribute(groupCol)),
      Seq(SortOrder(UnresolvedAttribute(scoreCol), Ascending),
        SortOrder(UnresolvedAttribute(idCol), Ascending)),
      k, Bridge.logicalPlan(in))
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col(scoreCol), col(idCol))
    Bridge.ofRows(scored.sparkSession, top)
      .withColumn("rank", row_number().over(w).cast("long"))
  }
}
