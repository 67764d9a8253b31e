package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Pin._

/** Preference-data machinery: fit Bradley–Terry strengths from
  * pairwise comparison counts — the model underneath RLHF/DPO reward
  * data ("annotators preferred completion A over B n times"), used
  * here to rank items, audit annotator consistency, and pick
  * training pairs with confident margins.
  *
  * Integer-exact like every fitted model in this engine: fixed
  * minorize–maximize (MM) rounds (Hunter 2004) in scaled longs with
  * floor division, so strengths replay bit-identically in the DuckDB
  * oracle. Floats would converge a hair differently per engine; for
  * RANKING, k small MM rounds from the uniform start are what
  * production ladders (chess Elo sites, match-making) actually run.
  */
object Preference {

  /** Strength scale: strengths are multiples of 10⁻⁴ (start = 10⁴).
    * The MM numerators reach wins × Scale² ≈ 10⁸ × n — far inside
    * Long for any real comparison corpus. */
  val Scale: Long = 10000L

  val MaxRounds: Int = 20

  /** Bradley–Terry strengths by `rounds` MM sweeps over a pairwise
    * comparison relation (winner, loser, n — n ≥ 1 comparisons where
    * `winner` beat `loser`):
    *
    *   w_i ← (W_i · Scale²) div Σ_{j vs i} (n_ij · Scale²) div (w_i + w_j)
    *
    * with W_i = i's total wins, every item starting at `Scale` (the
    * uniform strength). Items with ZERO wins would fix at 0 under raw
    * MM (log-likelihood unbounded); they get strength 0 with
    * `n_wins = 0` — DISCLOSED, not dropped, so the caller sees the
    * never-preferred tail explicitly (the standard fix — a conjugate
    * prior — needs data-dependent tuning; rank-0 is the honest
    * untuned answer). An item WITH wins is floored at strength 1, so
    * denominators stay positive in every round (two zero-strength
    * items never share a match: their match would have given one of
    * them a win).
    *
    * Output: (item, strength_x1e4, n_wins, n_comparisons). Scale
    * shape: per round, TWO equi-joins of the pair relation against
    * the |V|-row strengths (one per side) and one partial-agg groupBy
    * — never a cartesian, never a driver collect; `rounds` is a
    * recipe constant.
    */
  /** PREFERENCE-PAIR construction from per-user item ratings — the
    * step BEFORE [[bradleyTerryScores]] in an RLHF/reward-model
    * pipeline: each rater's scores become pairwise verdicts ("this
    * rater scored a above b"), aggregated into the (winner, loser, n)
    * comparison relation the strength model consumes. Per (user,
    * item): n ratings and Σ floor(value·100) (the int8-grid floor
    * convention — one IEEE double op, no rounding tie rule to
    * disagree on cross-engine); user prefers a over b iff
    * `sum_a · n_b > sum_b · n_a` (mean comparison, integer
    * cross-multiplied). Exact mean TIES are undecided — no pair, the
    * honest reading of equal scores. Null user/item/value rows don't
    * vote.
    *
    * Output: (winner, loser, n_pairs), n_pairs = raters preferring
    * winner. Scale shape: one (user, item) partial-agg, one
    * USER-KEYED self-join whose width is the rater's own item count
    * (bounded by the item vocabulary, never the corpus), one
    * (winner, loser) partial-agg.
    */
  def preferencePairs(ratings: DataFrame): DataFrame = {
    val per = ratings
      .filter(col("user_id").isNotNull && col("event_type").isNotNull &&
        col("value").isNotNull)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("__pp_n"),
        sum(floor(col("value").cast("double") * 100.0).cast("long"))
          .as("__pp_s"))
    val a = per.select(col("user_id"), col("event_type").as("__pp_ia"),
      col("__pp_n").as("__pp_na"), col("__pp_s").as("__pp_sa"))
    val b = per.select(col("user_id"), col("event_type").as("__pp_ib"),
      col("__pp_n").as("__pp_nb"), col("__pp_s").as("__pp_sb"))
    a.join(b, Seq("user_id"))
      .filter(col("__pp_ia") < col("__pp_ib"))
      .filter(col("__pp_sa") * col("__pp_nb") =!=
        col("__pp_sb") * col("__pp_na"))
      .select(
        when(col("__pp_sa") * col("__pp_nb") > col("__pp_sb") * col("__pp_na"),
          col("__pp_ia")).otherwise(col("__pp_ib")).as("winner"),
        when(col("__pp_sa") * col("__pp_nb") > col("__pp_sb") * col("__pp_na"),
          col("__pp_ib")).otherwise(col("__pp_ia")).as("loser"))
      .groupBy(col("winner"), col("loser"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  def bradleyTerryScores(comparisons: DataFrame, winnerCol: String,
                         loserCol: String, nCol: String): DataFrame = {
    // pinned once — every MM round (and wins/played/items) references
    // the comparison relation; unpinned, the caller's derivation would
    // re-run per round (the Graph.pageRank edge-pinning posture)
    val c = comparisons.select(
        col(winnerCol).cast("string").as("__bt_w"),
        col(loserCol).cast("string").as("__bt_l"),
        col(nCol).cast("long").as("__bt_n"))
      .filter(col("__bt_w").isNotNull && col("__bt_l").isNotNull &&
        col("__bt_n") > 0 && col("__bt_w") =!= col("__bt_l"))
      .pin()
    // the undirected match matrix both MM sums range over
    val matches = c.select(col("__bt_w").as("a"), col("__bt_l").as("b"),
        col("__bt_n"))
      .union(c.select(col("__bt_l").as("a"), col("__bt_w").as("b"),
        col("__bt_n")))
      .groupBy("a", "b").agg(sum("__bt_n").as("n"))
      .pin()
    val items = matches.select(col("a").as("item")).distinct()
    val wins = c.groupBy(col("__bt_w").as("item"))
      .agg(sum("__bt_n").as("n_wins"))
    val played = matches.groupBy(col("a").as("item"))
      .agg(sum("n").as("n_comparisons"))
    var s = items.withColumn("s", lit(Scale))
    for (_ <- 1 to 3) {
      val denom = matches
        .join(s.select(col("item").as("a"), col("s").as("sa")), "a")
        .join(s.select(col("item").as("b"), col("s").as("sb")), "b")
        .select(col("a").as("item"),
          expr(s"n * ${Scale * Scale} div (sa + sb)").as("d"))
        .groupBy("item").agg(sum("d").as("d"))
      // floor a winner's strength at 1 unit: a pathological count
      // regime (1 win across >2·Scale comparisons) would otherwise
      // floor it to 0 and a later round's (sa + sb) could hit 0
      s = items
        .join(wins, Seq("item"), "left")
        .join(denom, Seq("item"))
        .select(col("item"),
          when(coalesce(col("n_wins"), lit(0L)) > 0,
            greatest(expr(s"coalesce(n_wins, 0) * ${Scale * Scale} div d"),
              lit(1L)))
            .otherwise(lit(0L)).as("s"))
        // |V|-bounded; truncates the per-round lineage
        .pin()
    }
    s.join(wins, Seq("item"), "left")
      .join(played, Seq("item"))
      .select(col("item"), col("s").as("strength_x1e4"),
        coalesce(col("n_wins"), lit(0L)).as("n_wins"),
        col("n_comparisons"))
  }

  /** Head-to-head WIN-RATE report with a 95% WILSON score interval —
    * the readout a model-comparison eval renders next to
    * [[bradleyTerryScores]]' global strengths: per unordered item pair
    * (a < b), a's wins/losses, the ×10⁴ win rate, and the Wilson
    * bounds, ENGINE-EXACT because every float op in
    *
    *   lo/hi = (w + z²/2 ∓ z·√(w·(n−w)/n + z²/4)) / (n + z²)
    *
    * is IEEE-exactly-rounded (×, /, √ — no exp/log anywhere) and the
    * z-constants are fixed DECIMAL LITERALS both engines parse to the
    * same double (z = 1.96: z² = 3.8416, z²/2 = 1.9208, z²/4 =
    * 0.9604 — the documented constants of the law, not recomputed).
    * The same parenthesization on both sides yields the same double,
    * floored ×10⁴ into the gated columns ([[graft.ext.Eval.bleuStats]]'
    * gm posture). `decisive` = the interval excludes 5000 (a coin
    * flip) — the pairs where the verdict count actually supports a
    * preference claim.
    *
    * Output: (item_a, item_b, wins_a, wins_b, n, win_rate_x10000,
    * wilson_lo_x10000, wilson_hi_x10000, decisive), win rate and
    * bounds for item_a. Scale shape: one (pair)-keyed partial agg over
    * the comparison relation — item-vocabulary-bounded, row-local
    * arithmetic after it.
    */
  def winRateReport(comparisons: DataFrame): DataFrame = {
    val c = comparisons.select(
        col("winner").cast("string").as("__wr_w"),
        col("loser").cast("string").as("__wr_l"),
        col("n_pairs").cast("long").as("__wr_n"))
      .filter(col("__wr_w").isNotNull && col("__wr_l").isNotNull &&
        col("__wr_n") > 0 && col("__wr_w") =!= col("__wr_l"))
    val agg = c.select(
        least(col("__wr_w"), col("__wr_l")).as("item_a"),
        greatest(col("__wr_w"), col("__wr_l")).as("item_b"),
        when(col("__wr_w") < col("__wr_l"), col("__wr_n"))
          .otherwise(lit(0L)).as("__wr_wa"),
        when(col("__wr_w") < col("__wr_l"), lit(0L))
          .otherwise(col("__wr_n")).as("__wr_wb"))
      .groupBy(col("item_a"), col("item_b"))
      .agg(sum(col("__wr_wa")).as("wins_a"),
        sum(col("__wr_wb")).as("wins_b"))
      .withColumn("n", col("wins_a") + col("wins_b"))
    // Wilson bounds: fixed parenthesization, documented z literals
    val wD = col("wins_a").cast("double")
    val nD = col("n").cast("double")
    val half = lit(1.96) * sqrt(
      (col("wins_a") * (col("n") - col("wins_a"))).cast("double") / nD
        + lit(0.9604))
    def x1e4(c: Column): Column = floor(lit(10000.0) * c).cast("long")
    agg.select(col("item_a"), col("item_b"), col("wins_a"),
        col("wins_b"), col("n"),
        expr("(wins_a * 10000) div n").as("win_rate_x10000"),
        x1e4(((wD + lit(1.9208)) - half) / (nD + lit(3.8416)))
          .as("wilson_lo_x10000"),
        x1e4(((wD + lit(1.9208)) + half) / (nD + lit(3.8416)))
          .as("wilson_hi_x10000"))
      .withColumn("decisive",
        col("wilson_lo_x10000") > 5000L || col("wilson_hi_x10000") < 5000L)
  }

  /** DPO/reward-model TRAINING-PAIR construction from per-prompt scored
    * responses — the step AFTER scoring (a reward model, a quality
    * rule, [[bradleyTerryScores]] strengths) and BEFORE pair
    * tokenization: per prompt, `chosen` = the highest-scored response
    * and `rejected` = the lowest, emitted only when their score gap
    * clears `minMargin` (a pair the scorer can't separate teaches
    * nothing and injects label noise — the standard margin floor).
    *
    * Tie law (engine-exact, no RNG): highest score ties → smallest
    * response id is chosen; lowest score ties → smallest id is
    * rejected. `margin ≥ minMargin ≥ 1` guarantees chosen ≠ rejected.
    * Null prompt/response/score rows don't participate; prompts with
    * one response (or an under-margin spread) emit nothing —
    * `n_responses` is disclosed per surviving pair so the caller sees
    * the pool each verdict came from.
    *
    * The score column must be INTEGRAL (the engine's integer-exact
    * grain): a fractional reward-model score in [0, 1] would truncate
    * to 0 under a silent cast and collapse every margin — scale such
    * scores to an integer grain upstream (×10⁴, the engine-wide
    * convention) instead. Enforced, not documented-only.
    *
    * Output: (promptCol, chosen_id, chosen_score, rejected_id,
    * rejected_score, margin, n_responses).
    *
    * Scale shape: ONE prompt-keyed partial aggregation — the argmax /
    * argmin fold as `min` over (±score, id) structs, map-side
    * combinable, no self-join, no window, no driver materialization;
    * at 100 TB this is a single shuffle on the prompt key.
    */
  def dpoPairs(responses: DataFrame,
               respCol: String = "response_id",
               minMargin: Long = 1L): DataFrame = {
    require(minMargin >= 1L, s"minMargin must be >= 1, got $minMargin")
    import org.apache.spark.sql.types._
    val scoreType = responses.select(col("score")).schema.head.dataType
    val integral = scoreType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    require(integral,
      s"dpoPairs needs an integral score column (score is $scoreType): " +
        "fractional reward scores truncate to 0 under a long cast and " +
        "collapse margins — pre-scale to an integer grain (x10^4) upstream")
    val r = responses
      .filter(col("prompt_id").isNotNull && col(respCol).isNotNull &&
        col("score").isNotNull)
      .select(col("prompt_id"), col(respCol),
        col("score").cast("long").as("__dp_s"))
    r.groupBy(col("prompt_id"))
      .agg(
        min(struct((-col("__dp_s")).as("ns"), col(respCol).as("id")))
          .as("__dp_c"),
        min(struct(col("__dp_s").as("s"), col(respCol).as("id")))
          .as("__dp_r"),
        count(lit(1)).as("n_responses"))
      .select(col("prompt_id"),
        col("__dp_c.id").as("chosen_id"),
        (-col("__dp_c.ns")).as("chosen_score"),
        col("__dp_r.id").as("rejected_id"),
        col("__dp_r.s").as("rejected_score"),
        (-col("__dp_c.ns") - col("__dp_r.s")).as("margin"),
        col("n_responses"))
      .filter(col("margin") >= minMargin)
  }
}
