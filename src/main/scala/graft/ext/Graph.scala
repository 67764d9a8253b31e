package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Pin._

/** Distributed graph signals for curation: PageRank-style authority
  * (the Common-Crawl-lineage quality prior — rank domains/URLs by the
  * link/flow graph before any content filter runs) and synchronized
  * label propagation (spread sparse trusted labels across a similarity
  * graph, e.g. quality labels over near-dup clusters).
  *
  * Both are INTEGER-EXACT power iterations: a fixed, small number of
  * synchronized rounds, every round one equi-join + one partial-agg
  * shuffle, all arithmetic in scaled longs with floor division — the
  * same cross-engine determinism contract as every oracle-gated
  * operator here (floats would drift between engines; iteration counts
  * are recipe constants, never data-dependent).
  */
object Graph {

  /** Rank mass scale: ranks are parts-per-billion of the total mass,
    * so `rank × weight` stays far inside Long for any realistic edge
    * weight (10⁹ × w overflows only past w ≈ 9×10⁹ on one edge).
    */
  val RankScale: Long = 1000000000L

  /** Hard cap on power-iteration rounds: each round extends the
    * unresolved logical plan (join + agg), and past a few tens the
    * Catalyst analysis cost dwarfs the execution — PageRank converges
    * geometrically, so recipes never need more.
    */
  val MaxIterations: Int = 20

  /** PageRank by fixed-round power iteration over a weighted edge
    * relation (src, dst, weight) — the domain-authority prior of the
    * Common Crawl curation lineage, integer-exact:
    *
    *   - nodes = distinct(src ∪ dst), N of them; every node starts at
    *     `RankScale div N` (floor — the lost remainder is < N ppb and
    *     identical in every engine);
    *   - each round, node u sends `rank_u · w_uv div W_u` along each
    *     out-edge (W_u = u's total out-weight), and
    *     `rank'_v = ((100 − d) · (RankScale div N)
    *                 + d · Σ_in contrib) div 100`
    *     with `d = dampX100` (the damping factor ×100, default 85);
    *   - DANGLING nodes (no out-edges) drop their mass instead of
    *     teleporting it — the standard simplification, disclosed here
    *     because it is exact and engine-reproducible, where mass
    *     redistribution would need a per-round global scalar join that
    *     buys nothing for a RANKING signal.
    *
    * Output: (node, rank_ppb). Scale shape: ranks is a |V|-row
    * relation, edges |E|; each of the `iterations` rounds is ONE
    * edges⋈ranks equi-join on src (plus a broadcast of the 1-row node
    * count) and ONE partial-aggregated groupBy on dst — no collect, no
    * cartesian, no data-dependent loop. Non-positive/null-weight and
    * null-endpoint edges are excluded.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               weightCol: String, iterations: Int = 3,
               dampX100: Int = 85): DataFrame = {
    require(iterations >= 1 && iterations <= MaxIterations,
      s"iterations must be in [1, $MaxIterations], got $iterations")
    require(dampX100 >= 0 && dampX100 <= 100,
      s"dampX100 must be in [0, 100], got $dampX100")
    // PIN the edge relation once: every iteration (and the node/out-
    // weight derivations) reference it — unpinned, each reference
    // re-runs the caller's edge derivation (e.g. the corpus-sized lag
    // window behind transitionCounts) per round. The GraphX posture:
    // iterative graph algorithms materialize their edges up front.
    val e = edges.select(col(srcCol).cast("string").as("__pr_src"),
        col(dstCol).cast("string").as("__pr_dst"),
        col(weightCol).cast("long").as("__pr_w"))
      .filter(col("__pr_src").isNotNull && col("__pr_dst").isNotNull &&
        col("__pr_w") > 0)
      .pin()
    val nodes = e.select(col("__pr_src").as("node"))
      .union(e.select(col("__pr_dst").as("node"))).distinct()
      .pin()
    val nn = nodes.agg(count(lit(1)).as("__pr_n"))
    val outW = e.groupBy("__pr_src").agg(sum("__pr_w").as("__pr_ow"))
    val teleport = expr(s"$RankScale div __pr_n")
    var ranks = nodes.crossJoin(broadcast(nn))
      .select(col("node"), teleport.as("rank_ppb"))
    for (_ <- 1 to iterations) {
      val contrib = e.join(outW, "__pr_src")
        .join(ranks.withColumnRenamed("node", "__pr_src"), "__pr_src")
        .select(col("__pr_dst").as("node"),
          expr("rank_ppb * __pr_w div __pr_ow").as("__pr_c"))
        .groupBy("node").agg(sum("__pr_c").as("__pr_contrib"))
      // `div`, not `/`: the Long→double division could round a
      // hair-below-integer quotient UP and shift the floor by one
      ranks = nodes.crossJoin(broadcast(nn))
        .join(contrib, Seq("node"), "left")
        .select(col("node"),
          expr(s"(${100L - dampX100} * ($RankScale div __pr_n) + " +
            s"$dampX100 * coalesce(__pr_contrib, CAST(0 AS BIGINT))) " +
            "div 100").as("rank_ppb"))
        // truncate the per-round lineage: ranks is |V|-bounded, and an
        // unpinned chain re-plans (and re-runs) every prior round
        .pin()
    }
    ranks
  }

  /** Synchronized label propagation over an UNDIRECTED edge relation:
    * spread a sparse trusted label set (node, label) across a
    * similarity graph — e.g. human quality labels over near-dup /
    * same-cluster edges — in `rounds` deterministic sweeps.
    *
    * Per round, simultaneously for every still-unlabeled node: adopt
    * the MAJORITY label among currently-labeled neighbors, ties broken
    * by the SMALLEST label (deterministic, engine-reproducible);
    * nodes labeled in earlier rounds (and the seeds) never change.
    * Synchronized sweeps are what make the result order-independent —
    * the classic asynchronous LPA is run-order-dependent and could
    * never pass a cross-engine oracle.
    *
    * Output: (node, label, round) for every node reachable within
    * `rounds` hops of a seed — `round` = 0 for seeds, else the sweep
    * that labeled the node (the propagation distance, a confidence
    * proxy). Unreached nodes are ABSENT, not null-labeled: the caller
    * decides their fate.
    *
    * Scale shape: each round joins the labeled set to the edge
    * relation once (both ≤ |V|/|E|-bounded) and takes one
    * (node, label) partial-agg plus a per-node top-1 window — all
    * |E|-bounded per round, `rounds` a recipe constant.
    */
  def labelPropagation(edges: DataFrame, aCol: String, bCol: String,
                       seeds: DataFrame, nodeCol: String, labelCol: String,
                       rounds: Int = 2): DataFrame = {
    require(rounds >= 1 && rounds <= MaxIterations,
      s"rounds must be in [1, $MaxIterations], got $rounds")
    // undirect: both orientations of every edge, self-loops dropped
    val half = edges.select(col(aCol).cast("string").as("__lp_a"),
        col(bCol).cast("string").as("__lp_b"))
      .filter(col("__lp_a").isNotNull && col("__lp_b").isNotNull &&
        col("__lp_a") =!= col("__lp_b"))
    // pinned once — each sweep joins it, and the caller's edge
    // derivation (a banding pipeline, a similarity join) must not
    // re-run per round (the pageRank edge-pinning posture)
    val und = half.union(half.select(col("__lp_b").as("__lp_a"),
      col("__lp_a").as("__lp_b"))).distinct().pin()
    var labeled = seeds
      .filter(col(nodeCol).isNotNull && col(labelCol).isNotNull)
      .select(col(nodeCol).cast("string").as("node"),
        col(labelCol).cast("string").as("label"), lit(0L).as("round"))
      .dropDuplicates("node")
      .pin()
    for (r <- 1 to rounds) {
      // majority label among labeled neighbors, smallest label on ties
      val votes = und
        .join(labeled.select(col("node").as("__lp_a"), col("label")),
          "__lp_a")
        .groupBy(col("__lp_b").as("node"), col("label"))
        .agg(count(lit(1)).as("__lp_n"))
      val winners = votes
        .withColumn("__lp_rk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("node")
            .orderBy(col("__lp_n").desc, col("label"))))
        .filter(col("__lp_rk") === 1)
        .select(col("node"), col("label"), lit(r.toLong).as("round"))
      val fresh = winners.join(labeled.select("node"), Seq("node"),
        "left_anti")
      labeled = labeled.union(fresh).pin()
    }
    labeled
  }
}
