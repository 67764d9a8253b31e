package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import graft.functions.{CmsEstimate, CmsPositions, wordTfs}

/** Count-min-sketch frequency machinery for vocabularies too large to
  * aggregate exactly: a web-scale corpus has billions of distinct
  * tokens, almost all in the long tail — an exact
  * `groupBy(word).count()` shuffles every distinct token every
  * partition emits, dominated by tail tokens nobody will look at. The
  * two-pass heavy-hitter path:
  *
  *   1. [[buildCms]]: ONE partial-aggregated pass folds the token
  *      stream into a d×w cell table (≤ d·w rows cross the wire — a
  *      CONFIG bound; 4×16384 longs = 512 KB at the default);
  *   2. [[heavyHitterWords]]: a second scan probes every token
  *      MAP-SIDE against the broadcast table (codegen'd min-of-d-cells
  *      expression) and only tokens whose ESTIMATE reaches the
  *      threshold enter the exact aggregation — the tail dies before
  *      the exchange. Count-min never undercounts, so no true heavy
  *      hitter is pruned, and the exact confirm discards the
  *      collision-inflated survivors: the output is bit-identical to
  *      the plain exact query (the Bloom-gate invisibility contract).
  */
object FreqSketch {

  val DefaultDepth: Int = 4
  val DefaultWidth: Int = 16384

  /** Build-side Column: flat cell positions of a token. */
  def cmsPositions(word: Column, d: Int = DefaultDepth,
                   w: Int = DefaultWidth): Column =
    Bridge.column(CmsPositions(Bridge.expression(word), d, w))

  /** Probe-side Column: count-min estimate against a built table. */
  def cmsEstimate(word: Column, table: Array[Long], d: Int = DefaultDepth,
                  w: Int = DefaultWidth): Column =
    Bridge.column(CmsEstimate(Bridge.expression(word), table, d, w))

  /** Distributed CMS build over a weighted token relation (`word`,
    * `weight`): explode the d positions, sum per cell — partial
    * aggregation means each executor ships its local cells and only
    * ≤ d·w rows reach the driver (config-bounded, never data-bounded).
    */
  def buildCms(tokens: DataFrame, wordCol: Column, weightCol: Column,
               d: Int = DefaultDepth, w: Int = DefaultWidth): Array[Long] = {
    val table = new Array[Long](d * w)
    tokens.select(explode(cmsPositions(wordCol, d, w)).as("pos"),
        weightCol.cast("long").as("wt"))
      .groupBy("pos").agg(sum("wt").as("cnt"))
      .collect()
      .foreach(r => table(r.getLong(0).toInt) = r.getLong(1))
    table
  }

  /** Corpus-wide weighted token relation (`word`, `weight`) via the
    * row-local [[wordTfs]] expression — the build/probe input.
    */
  def tokenWeights(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(explode(wordTfs(col("text"))).as("wt"))
      .select(col("wt.word").as("word"), col("wt.tf").as("weight"))

  // ── HyperLogLog distinct sketch (cross-engine exact) ───────────────

  /** Registers m = 64: the low 6 bits of the 31-bit polyhash index the
    * register, the remaining 25 bits feed the rank. */
  val HllRegisters: Int = 64

  /** Max register rank: 25 payload bits → rank ∈ [1, 26]. */
  val HllMaxRank: Int = 26

  /** Flajolet α₆₄ = 0.7213/(1 + 1.079/64) ≈ 0.70936, scaled ×10⁴ so
    * the estimator is pure integer arithmetic. */
  val HllAlphaX10000: Long = 7094L

  /** HyperLogLog register table (Flajolet et al. 2007) over a hashed
    * item relation — the DISTINCT-COUNT sketch whose state is 64 small
    * integers per group, built with ONE partial-aggregated pass. Unlike
    * Spark's own `approx_count_distinct` (an engine-private HLL++ no
    * other system replays), this sketch is defined on the engine's
    * cross-engine polyhash with pure integer arithmetic, so registers
    * AND estimate are bit-identical in any engine — oracle-gated like
    * every exact operator (t_hll_shingles).
    *
    * Register law: `reg = h mod 64`, payload `w = h div 64` (25 bits),
    * `rank = 26 − bitlength(w)` (w = 0 → 26); the register keeps the
    * MAX rank seen. Duplicates are absorbed by max — the sketch never
    * needs a distinct pass, which is the whole point at 100 TB: the
    * exact distinct count of corpus shingles shuffles billions of
    * (group, hash) rows; this ships ≤ 64 rows per group.
    *
    * Output: (group, reg, rank) — the MERGEABLE state: the sketch of a
    * union of corpora is the elementwise max of their register tables
    * (asserted by spec), so shards/partitions/days combine without
    * re-reading data.
    */
  def hllRegisters(items: DataFrame, groupCol: Column,
                   hashCol: Column): DataFrame = {
    // Range guard (r16 advice): the register/rank split assumes the
    // 31-bit polyhash (values in [0, 2^31−1), 25 payload bits). A wider
    // hash — e.g. the 62-bit polyFingerprint64 — would yield
    // rank = 26 − bitlength(w) ≤ 0 and corrupt registers/estimates
    // SILENTLY; fail loud at the first out-of-range row instead.
    val h = when(hashCol.cast("long") < 0L ||
        hashCol.cast("long") >= graft.functions.PolyFold.P31,
      raise_error(concat(
        lit("hllRegisters expects the 31-bit polyhash in [0, 2^31-1); got "),
        hashCol.cast("string"))).cast("long"))
      .otherwise(hashCol.cast("long"))
    val w = shiftright(h, 6)
    val rank = when(w === 0L, lit(HllMaxRank.toLong))
      .otherwise(lit(HllMaxRank.toLong) - length(bin(w)).cast("long"))
    items.groupBy(groupCol.as("group"),
        pmod(h, lit(HllRegisters.toLong)).as("reg"))
      .agg(max(rank).as("rank"))
  }

  /** Raw HLL estimate per group from a [[hllRegisters]] table, in pure
    * integer arithmetic: with L = max rank and
    * S = Σ_hit 2^(L−rank) + (64 − hit)·2^L (the harmonic-mean
    * denominator rescaled by 2^L so it is an exact integer),
    *
    *   estimate = (α×10⁴ · m² · 2^L) div (10⁴ · S).
    *
    * This is the RAW estimator — no small-range linear-counting or
    * large-range corrections (both need a float log; the raw regime is
    * the corpus-scale one, and `n_regs` + `max_rank` ride along so a
    * caller can apply any correction downstream). Expected error
    * ~1.04/√64 ≈ 13% — the trade for 64 longs of state per group.
    *
    * Output: (group, n_regs, max_rank, hll_distinct).
    */
  def hllEstimate(regs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = HllRegisters.toLong
    regs
      .withColumn("l", max("rank").over(Window.partitionBy("group")))
      .groupBy("group")
      .agg(count(lit(1)).as("n_regs"), max("l").as("max_rank"),
        sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(l - rank AS INT))"))
          .as("sp"))
      .withColumn("s",
        col("sp") + (lit(m) - col("n_regs")) *
          expr("shiftleft(CAST(1 AS BIGINT), CAST(max_rank AS INT))"))
      .withColumn("num", lit(HllAlphaX10000 * m * m) *
        expr("shiftleft(CAST(1 AS BIGINT), CAST(max_rank AS INT))"))
      // `div`, not `/`: the Long→double division could round a
      // hair-below-integer quotient UP and shift the floor by one
      .select(col("group"), col("n_regs"), col("max_rank"),
        expr("num div (10000 * s)").as("hll_distinct"))
  }

  /** Per-domain distinct-shingle report: the corpus-statistics question
    * ("how many distinct 3-shingles does each source contribute?") at
    * sketch cost, with the EXACT count and its relative error ×100
    * alongside — the sf-scale verification columns a 100 TB run drops
    * (the exact arm is the billions-of-rows shuffle the sketch
    * replaces; err_x100 documents what that buys).
    */
  def hllShingleReport(docs: DataFrame): DataFrame = {
    val items = docs
      .filter(col("text").isNotNull && col("source").isNotNull)
      .select(col("source").as("group"),
        explode(Dedup.shingleHashes(col("text"), 3)).as("h"))
    val est = hllEstimate(hllRegisters(items, col("group"), col("h")))
    val exact = items.groupBy("group")
      .agg(countDistinct("h").as("n_exact"))
    est.join(exact, Seq("group"))
      .select(col("group").as("source"), col("n_regs"), col("max_rank"),
        col("hll_distinct"), col("n_exact"),
        expr("abs(hll_distinct - n_exact) * 100 div n_exact").as("err_x100"))
  }

  /** Exact corpus heavy hitters (`word`, `n` with n ≥ threshold)
    * behind the CMS prune — bit-identical to the plain exact
    * aggregation; the sketch only deletes the tail's shuffle.
    */
  def heavyHitterWords(docs: DataFrame, threshold: Long, d: Int = DefaultDepth,
                       w: Int = DefaultWidth): DataFrame = {
    require(threshold >= 1, s"threshold must be >= 1, got $threshold")
    val toks = tokenWeights(docs)
    val table = buildCms(toks, col("word"), col("weight"), d, w)
    toks.filter(cmsEstimate(col("word"), table, d, w) >= threshold)
      .groupBy("word").agg(sum("weight").cast("long").as("n"))
      .filter(col("n") >= threshold)
  }
}
