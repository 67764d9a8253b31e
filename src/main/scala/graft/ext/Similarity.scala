package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Overlap
import graft.core.Pin._

/** Similarity search over an embedding column (`Array[Float]`):
  * brute-force cosine top-k as the exact baseline, and a random-
  * hyperplane LSH-bucketed variant as the 100 TB scale path.
  *
  * Scale shape: the query set is broadcast (bounded, user-supplied);
  * the corpus side streams through a single map stage — O(|Q|·n), never
  * an n×n product. The LSH variant cuts the candidate set per query to
  * one bucket (expected n/2^planes) before exact rerank.
  */
object Similarity {

  /** Cosine similarity of two float vectors: the native codegen'd
    * [[graft.functions.CosineSim]] expression — one fused loop, double
    * accumulation left-to-right over indices, which is the exact fold
    * order of the DuckDB oracle (list_sum over list_transform), so
    * values are bit-comparable (verified by t_similarity_topk).
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.cosineSim(a, b)

  /** The declarative higher-order-function formulation — semantically
    * identical to [[cosine]] (same fold order) but interpreted per row;
    * kept as the executable spec the native expression is tested against.
    */
  def cosineHof(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (p, q) => p.cast("double") * q.cast("double")),
        lit(0.0), (acc, v) => acc + v)
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
  }

  /** Exact top-k neighbours for each query vector. Queries: a (small)
    * DataFrame (query_id, query_vec) — broadcast; rank by cosine
    * rounded to 6 dp with id tiebreak for cross-engine determinism.
    */
  def topK(corpus: DataFrame, queries: DataFrame, k: Int,
           idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val scored = corpus
      .join(broadcast(queries), col("query_id") =!= col(idCol))
      .withColumn("cos", round(cosine(col("query_vec"), col(vecCol)), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col(idCol))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col(idCol).as("neighbor_id"),
        col("cos"), col("rank").cast("long").as("rank"))
  }

  /** Convenience: use corpus members as queries by id. */
  def topKByIds(corpus: DataFrame, queryIds: Seq[Long], k: Int,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val queries = corpus
      .filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("query_id"), col(vecCol).as("query_vec"))
    topK(corpus, queries, k, idCol, vecCol)
  }

  /** Exact top-k via the custom [[graft.plans.TopKPerKey]] operator:
    * identical results to [[topK]] but the shuffle carries at most k
    * rows per (partition, query) instead of every scored candidate —
    * the scale path for top-k-per-key (see TopKPerKey scaladoc).
    */
  def topKByIdsNative(corpus: DataFrame, queryIds: Seq[Long], k: Int): DataFrame = {
    import org.apache.spark.sql.graft.Bridge
    val queries = corpus
      .filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val scored = corpus
      .join(broadcast(queries), col("query_id") =!= col("vec_id"))
      .withColumn("cos", round(cosine(col("query_vec"), col("embedding")), 6))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("cos"))
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending, SortOrder}
    val plan = graft.plans.TopKPerKey(
      Seq(UnresolvedAttribute("query_id")),
      Seq(SortOrder(UnresolvedAttribute("cos"), Descending),
        SortOrder(UnresolvedAttribute("neighbor_id"), Ascending)),
      k, Bridge.logicalPlan(scored))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    Bridge.ofRows(corpus.sparkSession, plan)
      .withColumn("rank", row_number().over(w).cast("long"))
  }

  // ── INT8 quantized path ────────────────────────────────────────────

  /** Symmetric per-vector INT8 quantization: each vector is scaled by
    * its own max-|x| to the [-127, 127] integer grid,
    * `q_i = floor(x_i · 127 / maxabs)` — the compression step of
    * int8 similarity search (4× less memory traffic than float32 on a
    * billion-vector scan; here additionally an EXACTNESS device: every
    * downstream score is pure integer arithmetic, bit-reproducible in
    * any engine). Floor (not round) so the grid cell is a pure double
    * IEEE expression with no half-way tie rule to disagree on
    * cross-engine.
    *
    * Output: (idCol, qvec array<long>, maxabs double). A zero or empty
    * vector quantizes to all-zero with maxabs 0 (disclosed, not null —
    * it still participates in search and scores 0 against everything).
    * Row-local map — no shuffle, pushes down the scan.
    */
  def quantizeInt8(corpus: DataFrame): DataFrame = {
    val x = col("embedding")
    val maxabs = coalesce(
      array_max(transform(x, v => abs(v.cast("double")))), lit(0.0))
    corpus
      .withColumn("maxabs", maxabs)
      .withColumn("qvec",
        when(col("maxabs") > 0.0,
          transform(x, v =>
            floor(v.cast("double") * lit(127.0) / col("maxabs")).cast("long")))
          .otherwise(transform(x, _ => lit(0L))))
      .select(col("vec_id"), col("qvec"), col("maxabs"))
  }

  /** Exact top-k by INT8-quantized dot product: quantize the corpus
    * ([[quantizeInt8]]), score every candidate with the fused integer
    * kernel ([[graft.functions.intDot]]) and keep k per query through
    * the bounded-heap [[graft.plans.TopKPerKey]] operator. The ranking
    * (qdot DESC, id ASC) never touches a float, so it is deterministic
    * across engines, partitionings and instruction sets — the property
    * float cosine only reaches via the round-to-6dp convention.
    *
    * Scale shape: one quantized corpus scan × broadcast queries; the
    * exchange carries ≤ k rows per (task, query). At 100 TB the
    * quantized corpus is the ¼-width relation you persist and scan
    * instead of the float vectors.
    */
  def int8TopK(corpus: DataFrame, queryIds: Seq[Long], k: Int): DataFrame = {
    import org.apache.spark.sql.graft.Bridge
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending, SortOrder}
    // null vectors cannot be scored (a null qdot has no deterministic
    // rank) — excluded from both sides, the topK float path's posture
    val q = quantizeInt8(corpus.filter(col("embedding").isNotNull))
    val queries = q.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("qvec").as("query_qvec"))
    val scored = q
      .join(broadcast(queries), col("query_id") =!= col("vec_id"))
      .withColumn("qdot", graft.functions.intDot(col("query_qvec"), col("qvec")))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("qdot"))
    val plan = graft.plans.TopKPerKey(
      Seq(UnresolvedAttribute("query_id")),
      Seq(SortOrder(UnresolvedAttribute("qdot"), Descending),
        SortOrder(UnresolvedAttribute("neighbor_id"), Ascending)),
      k, Bridge.logicalPlan(scored))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("qdot").desc, col("neighbor_id"))
    Bridge.ofRows(corpus.sparkSession, plan)
      .withColumn("rank", row_number().over(w).cast("long"))
  }

  // ── BINARY (1-bit) quantized path ──────────────────────────────────

  /** 1-bit SIGN quantization: bit i of the packed vector is
    * `x_i > 0`, packed 32 bits per long word by the shift-free
    * positional fold `word = Σ b(i)·2^(i−lo)` (the word's dims
    * iterated high→low with `acc·2 + b` — a fold both engines replay
    * exactly, and a 32-bit word never touches the sign bit, the
    * cross-engine `1 << 63` overflow trap). 32× less memory traffic
    * than float32 — the coarsest rung of the quantization family
    * (float → int8 → binary); Hamming distance on the packed words
    * approximates angular distance (Charikar 2002 — the same sign-
    * projection idea as the LSH buckets, at full dimensionality).
    *
    * Output: (idCol, bvec array<long>, dims). Null vectors are
    * excluded (no deterministic rank downstream); an EMPTY vector
    * packs to an empty word array with dims 0. Row-local map — no
    * shuffle, pushes down the scan.
    */
  def quantizeBinary(corpus: DataFrame): DataFrame = {
    val x = col("embedding")
    val n = size(x)
    val words = transform(
      sequence(lit(0), floor((n - lit(1)) / lit(32.0)).cast("int")),
      w => aggregate(
        sequence(least((w + lit(1)) * lit(32), n), w * lit(32) + lit(1)),
        lit(0L),
        (acc, i) => acc * lit(2L) +
          when(element_at(x, i) > lit(0f), lit(1L)).otherwise(lit(0L))))
    corpus.filter(x.isNotNull)
      .select(col("vec_id"),
        when(n > 0, words)
          .otherwise(expr("cast(array() AS array<bigint>)")).as("bvec"),
        n.cast("long").as("dims"))
  }

  /** Exact top-k by HAMMING distance over [[quantizeBinary]] packed
    * vectors: per word `bit_count(xor(a, b))`, summed — pure integer,
    * bit-reproducible in any engine, and the cheapest full-scan
    * ranking there is (two instructions per 32 dims). Ranking
    * (hamming ASC, id ASC) through the bounded-heap
    * [[graft.plans.TopKPerKey]] operator; ≤ k rows per (task, query)
    * cross the exchange. The binary rung's role at 100 TB: the packed
    * relation is 1/32 the scan of the float vectors — shortlist here,
    * rerank the shortlist under int8 or float where precision
    * matters.
    */
  def hammingTopK(corpus: DataFrame, queryIds: Seq[Long], k: Int): DataFrame = {
    import org.apache.spark.sql.graft.Bridge
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{Ascending, SortOrder}
    val b = quantizeBinary(corpus.filter(col("embedding").isNotNull))
    val queries = b.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("bvec").as("query_bvec"))
    val scored = b
      .join(broadcast(queries), col("query_id") =!= col("vec_id"))
      .withColumn("hamming", aggregate(
        zip_with(col("query_bvec"), col("bvec"),
          (qa, ca) => bit_count(qa.bitwiseXOR(ca)).cast("long")),
        lit(0L), (acc, v) => acc + v))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("hamming"))
    val plan = graft.plans.TopKPerKey(
      Seq(UnresolvedAttribute("query_id")),
      Seq(SortOrder(UnresolvedAttribute("hamming"), Ascending),
        SortOrder(UnresolvedAttribute("neighbor_id"), Ascending)),
      k, Bridge.logicalPlan(scored))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("hamming"), col("neighbor_id"))
    Bridge.ofRows(corpus.sparkSession, plan)
      .withColumn("rank", row_number().over(w).cast("long"))
  }

  /** Hamming shortlist + EXACT cosine rerank — the binary rung's
    * recall repair, i.e. the production pattern the packed scan exists
    * for: the 1/32-width [[hammingTopK]] pass prunes the corpus to a
    * `rerank`-candidate window per query (zero corpus floats read),
    * then ONLY rerank·|Q| vectors are read back and scored by the
    * shared round-6 exact-cosine tail (same tie-break law as every
    * other rerank composite). At 100 TB the scan is packed-words-
    * shaped; float reads are candidate-bound, never corpus-bound.
    */
  def hammingTopKReranked(corpus: DataFrame, queryIds: Seq[Long],
                          kNn: Int, rerank: Int): DataFrame = {
    require(rerank >= kNn, s"rerank window $rerank must cover kNn=$kNn")
    val cand = hammingTopK(corpus, queryIds, rerank)
      .select(col("query_id"), col("neighbor_id"))
    val queries = corpus.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("__qv"))
    rerankExact(corpus, cand, queries, kNn, "vec_id", "embedding")
  }

  // ── LSH scale path ─────────────────────────────────────────────────

  /** All (table, plane) sign-buckets of a vector in one fused native
    * pass: element t is table t's bucket (see
    * [[graft.functions.LshBuckets]] for numerics + null semantics;
    * [[lshBucketHof]] is the declarative spec it is tested against).
    */
  def lshAllBuckets(vec: Column, tables: Int, planes: Int, dims: Int): Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.functions.LshBuckets(
        org.apache.spark.sql.graft.Bridge.expression(vec), tables, planes, dims))

  /** Sign-bucket of a vector under `planes` random hyperplanes (one
    * hash table): bit p is the sign of <plane_p, v>. The declarative
    * higher-order-function formulation — semantically identical to one
    * slot of [[lshAllBuckets]] but interpreted per row per plane; kept
    * as the executable spec the native expression is tested against.
    */
  def lshBucketHof(vec: Column, table: Int, planes: Int, dims: Int): Column =
    (0 until planes).map { p =>
      val weights = typedLit((0 until dims).map(d =>
        graft.functions.LshBuckets.planeWeight(table, p, d)))
      val proj = aggregate(
        zip_with(vec, weights, (x, w) => x.cast("double") * w),
        lit(0.0), (acc, v) => acc + v)
      when(proj >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** (table, bucket) pairs for `tables` independent hash tables —
    * classic multi-table LSH: recall = 1-(1-p^planes)^tables, tuned by
    * the two knobs. One fused bucket computation per row, then one row
    * per table via posexplode (pos = table index).
    */
  def lshTableBuckets(df: DataFrame, tables: Int, planes: Int, dims: Int,
                      vecCol: String): DataFrame =
    df.select(col("*"),
      posexplode(lshAllBuckets(col(vecCol), tables, planes, dims))
        .as(Seq("tbl", "bucket")))

  /** ANN top-k: candidates = union over hash tables of the query's
    * bucket, deduped, then exact cosine rerank. The join is an equi-join
    * on (table, bucket) against a broadcast query set — candidate volume
    * ~ tables·n/2^planes per query, never an n×n product.
    */
  def annTopK(corpus: DataFrame, queryIds: Seq[Long], k: Int, planes: Int,
              dims: Int): DataFrame =
    annSearch(lshTableBuckets(corpus, 8, planes, dims, "embedding"),
      queryIds, k)

  /** The LSH search phase over a (pre-)bucketed frame (idCol, vecCol,
    * tbl, bucket) — shared by [[annTopK]] (inline bucketing) and
    * [[annTopKIndexed]] (persisted index; zero bucket computation).
    */
  def annSearch(bucketed: DataFrame, queryIds: Seq[Long], k: Int): DataFrame =
    searchProbes(bucketed,
      annQueries(bucketed, queryIds, "vec_id", "embedding"), k, "vec_id", "embedding")

  /** Multi-probe LSH search (Lv et al., VLDB'07): each query probes its
    * own bucket PLUS every perturbation of up to `probeBits` hyperplane
    * signs — `planes + 1` probes per table at `probeBits = 1`, plus the
    * C(planes, 2) 2-bit flips at `probeBits = 2` — recovering near
    * neighbors that one (or two) flipped hyperplane signs pushed into an
    * adjacent bucket. Recall rises toward exact top-k as the probe
    * budget widens — the standard alternative to adding tables, with
    * ZERO index growth: the same bucketed frame (inline or persisted)
    * serves every probe budget, so the recall/latency trade is a
    * per-QUERY decision, not a build-time one. Candidates are deduped
    * before the exact rerank; the probe side stays broadcast (queries ×
    * tables × probe-budget rows).
    */
  def annTopKMultiProbe(corpus: DataFrame, queryIds: Seq[Long], k: Int,
                        planes: Int, dims: Int,
                        probeBits: Int = 1): DataFrame =
    annSearchMultiProbe(lshTableBuckets(corpus, 8, planes, dims, "embedding"),
      queryIds, k, planes, probeBits)

  /** [[annTopKMultiProbe]]'s search phase over a (pre-)bucketed frame —
    * point it at a persisted LSH index for the indexed variant.
    */
  def annSearchMultiProbe(bucketed: DataFrame, queryIds: Seq[Long], k: Int,
                          planes: Int,
                          probeBits: Int = 1): DataFrame = {
    require(planes > 0 && planes < 63, s"planes must be in [1, 62], got $planes")
    require(probeBits == 1 || probeBits == 2,
      s"probeBits must be 1 or 2, got $probeBits")
    val q = annQueries(bucketed, queryIds, "vec_id", "embedding")
    val oneBit = (0 until planes).map(i =>
      col("bucket").bitwiseXOR(lit(1L << i)))
    val twoBit =
      if (probeBits < 2) Seq.empty
      else for { i <- 0 until planes; j <- i + 1 until planes }
        yield col("bucket").bitwiseXOR(lit((1L << i) | (1L << j)))
    val probes = q.select(col("tbl"),
      explode(array(col("bucket") +: (oneBit ++ twoBit): _*)).as("bucket"),
      col("query_id"), col("query_vec"))
    searchProbes(bucketed, probes, k, "vec_id", "embedding")
  }

  /** The query side of an LSH search: each query id's per-table bucket. */
  private def annQueries(bucketed: DataFrame, queryIds: Seq[Long],
                         idCol: String, vecCol: String): DataFrame =
    bucketed
      .filter(col(idCol).isin(queryIds: _*))
      .select(col("tbl"), col("bucket"),
        col(idCol).as("query_id"), col(vecCol).as("query_vec"))

  /** Shared LSH tail: probe join → dedup → exact cosine rerank → top-k. */
  private def searchProbes(bucketed: DataFrame, probes: DataFrame, k: Int,
                           idCol: String, vecCol: String): DataFrame = {
    val candidates = bucketed
      .join(broadcast(probes), Seq("tbl", "bucket"))
      .filter(col("query_id") =!= col(idCol))
      .select(col("query_id"), col("query_vec"), col(idCol), col(vecCol))
      .dropDuplicates("query_id", idCol)
    val scored = candidates
      .withColumn("cos", round(cosine(col("query_vec"), col(vecCol)), 6))
      .select(col("query_id"), col(idCol).as("neighbor_id"), col("cos"))
    rankTopK(scored, k, "cos")
  }

  // ── IVF scale path ─────────────────────────────────────────────────

  /** Top-k per key via the custom TopKPerKey operator over an already-
    * scored frame (query_id, <idCol>, <sortCol>) — THE one definition
    * of the highest-score-then-id cut, shared by every search tail
    * (cosine rerank and integer ADC score alike).
    */
  private def topKOperator(scored: DataFrame, k: Int, idCol: String,
                           sortCol: String = "cos"): DataFrame = {
    import org.apache.spark.sql.graft.Bridge
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending, SortOrder}
    Bridge.ofRows(scored.sparkSession, graft.plans.TopKPerKey(
      Seq(UnresolvedAttribute("query_id")),
      Seq(SortOrder(UnresolvedAttribute(sortCol), Descending),
        SortOrder(UnresolvedAttribute(idCol), Ascending)),
      k, Bridge.logicalPlan(scored)))
  }

  /** The shared search tail: TopKPerKey cut (only k rows per partition
    * and query reach the exchange), then the rank window over the k·|Q|
    * survivors. `scored` = (query_id, neighbor_id, <sortCol>).
    */
  private def rankTopK(scored: DataFrame, k: Int, sortCol: String): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col(sortCol).desc, col("neighbor_id"))
    topKOperator(scored, k, "neighbor_id", sortCol)
      .withColumn("rank", row_number().over(w).cast("long"))
  }

  /** Deterministic coarse-quantizer training for IVF: `k` hash-sampled
    * seed vectors refined by one Lloyd iteration — a real k-means step,
    * with every source of nondeterminism removed so the DuckDB oracle
    * reproduces the centroids bit-for-bit:
    *
    *  - seeds = the k corpus vectors with smallest
    *    (polyhash(idString), id) — a reproducible pseudo-random sample,
    *    no RNG state (lowest-id selection would bias toward however the
    *    generator ordered the data; the hash decorrelates);
    *  - assignment = nearest seed by raw-double cosine, centroid-id
    *    tiebreak (bit-identical folds cross-engine);
    *  - update = element-wise mean via ORDER-INDEPENDENT quantized
    *    integer sums: each coordinate rounds to round(x·1e6) (exact
    *    BIGINT), sums exactly under any row/partition order, and divides
    *    back as one IEEE double division. A naive double sum would give
    *    partition-order-dependent low bits and poison every downstream
    *    hash compare.
    *
    * Returns (cell, cvec: array<double>). Cells that capture no vectors
    * disappear (standard Lloyd behavior); seeds always capture
    * themselves, so the result has k cells unless seeds are duplicates.
    */
  def trainCentroids(corpus: DataFrame, k: Int): DataFrame = {
    val seeds = corpus
      .withColumn("__h", graft.functions.polyFingerprint(col("vec_id").cast("string")))
      .orderBy(col("__h"), col("vec_id")).limit(k)
      .select(col("vec_id").as("cell"), col("embedding").as("svec"))
    val seedScored = corpus.join(broadcast(seeds))
      .select(col("vec_id").as("query_id"), col("embedding"),
        col("cell").as("__cand"), cosine(col("embedding"), col("svec")).as("cos"))
    val a0 = topKOperator(seedScored, 1, "__cand")
      .select(col("__cand").as("cell"), col("embedding"))
    // quantized element-wise mean, grouped per (cell, dim)
    val coords = a0
      .select(col("cell"), posexplode(col("embedding")).as(Seq("d", "x")))
      .select(col("cell"), col("d"),
        round(col("x").cast("double") * 1e6, 0).cast("long").as("q"))
      .groupBy("cell", "d")
      .agg(sum("q").as("sq"), count(lit(1)).as("n"))
      .select(col("cell"), col("d"),
        (col("sq").cast("double") / (col("n").cast("double") * 1e6)).as("c"))
    coords.groupBy("cell")
      .agg(transform(array_sort(collect_list(struct(col("d"), col("c")))),
        s => s.getField("c")).as("cvec"))
  }

  /** IVF (inverted-file) ANN: corpus vectors are assigned to their
    * nearest coarse centroid (the inverted lists); each query probes its
    * `nProbe` nearest centroids and reranks exactly within those lists.
    * Centroids come from [[trainCentroids]] (deterministic k-means).
    * Probing all cells (nProbe = centroids) degenerates to exact brute
    * force, which the test suite asserts. Every stage is a broadcast or
    * cell equi-join + the TopKPerKey operator — no all-pairs product,
    * no global sort.
    */
  def ivfTopK(corpus: DataFrame, queryIds: Seq[Long], k: Int,
              centroids: Int = 16, nProbe: Int = 4): DataFrame =
    ivfSearch(corpus, trainCentroids(corpus, centroids),
      queryIds, k, nProbe)

  /** The untrained round-2 stand-in (centroids = the `centroids`
    * lowest-id corpus vectors, no Lloyd step) — kept only as the
    * comparison baseline for the k-means recall test in LlmOpsSpec.
    */
  def ivfTopKStatic(corpus: DataFrame, queryIds: Seq[Long], k: Int, nProbe: Int = 4): DataFrame = {
    val cents = corpus.orderBy(col("vec_id")).limit(16)
      .select(col("vec_id").as("cell"), col("embedding").cast("array<double>").as("cvec"))
    ivfSearch(corpus, cents, queryIds, k, nProbe)
  }

  /** Inverted-list assignment: nearest trained centroid per corpus
    * vector (top-1 per key via TopKPerKey; cosine + centroid-id
    * tiebreak, matching the oracle's row_number replay). This is the
    * build-time half of IVF — persist its output once, search many.
    */
  def assignCells(corpus: DataFrame, cents: DataFrame): DataFrame =
    assignCellsScored(corpus, cents, "vec_id", "embedding").drop("__cos")

  /** [[assignCells]] keeping the winning cosine as `__cos`: the
    * append path measures drift from the assignment it is ALREADY
    * computing instead of paying a second delta pass.
    */
  private def assignCellsScored(corpus: DataFrame, cents: DataFrame,
                                idCol: String, vecCol: String): DataFrame = {
    val scored = corpus
      .join(broadcast(cents))
      .select(col(idCol).as("query_id"), col(vecCol),
        col("cell").as("__cand"), cosine(col(vecCol), col("cvec")).as("cos"))
    topKOperator(scored, 1, "__cand")
      .select(col("query_id").as(idCol), col(vecCol),
        col("__cand").as("cell"), col("cos").as("__cos"))
  }

  /** The IVF search phase over a trained quantizer `cents(cell, cvec)`:
    * inverted-list assignment, nProbe probing, exact rerank — all
    * broadcast/equi-joins + TopKPerKey.
    */
  def ivfSearch(corpus: DataFrame, cents: DataFrame, queryIds: Seq[Long],
                k: Int, nProbe: Int): DataFrame =
    searchAssigned(assignCells(corpus, cents), cents,
      queryIds, k, nProbe)

  /** The search-only IVF hot path over PRE-ASSIGNED inverted lists
    * `assigned(idCol, vecCol, cell)` and a trained quantizer: probe the
    * nProbe nearest cells per query (queries × broadcast centroids —
    * |Q|·k tiny), then exact-rerank within the probed lists. No
    * training, no corpus-wide assignment — at 100 TB this is the
    * difference between a query touching tables·n rows and touching
    * nProbe/cells of the corpus.
    */
  def searchAssigned(assigned: DataFrame, cents: DataFrame,
                     queryIds: Seq[Long], k: Int, nProbe: Int): DataFrame = {
    val queries = assigned.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val probeScored = queries
      .join(broadcast(cents))
      .select(col("query_id"), col("query_vec"), col("cell").as("__cand"),
        cosine(col("query_vec"), col("cvec")).as("cos"))
    val probes = topKOperator(probeScored, nProbe, "__cand")
      .select(col("query_id"), col("query_vec"), col("__cand").as("cell"))
    // candidates = inverted lists of the probed cells; exact rerank
    val scored = assigned
      .join(broadcast(probes), Seq("cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .dropDuplicates("query_id", "vec_id")
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(cosine(col("query_vec"), col("embedding")), 6).as("cos"))
    rankTopK(scored, k, "cos")
  }

  // ── Hard-negative mining (contrastive-training batches) ────────────

  /** Hard-negative mining over a labelled embedding corpus: for each
    * query anchor, the k HIGHEST-cosine vectors whose `label`
    * DIFFERS from the anchor's — the negatives that actually move a
    * contrastive/triplet loss (random negatives are trivially far and
    * contribute ~zero gradient; the near-but-wrong ones define the
    * decision boundary). Output: (query_id, neighbor_id, neg_label,
    * cos, rank).
    *
    * Exact brute-force rung: broadcast anchor set × one corpus scan
    * (O(|Q|·n)), ranked on round(cos, 6) with id tiebreak through the
    * TopKPerKey operator — at most k rows per (partition, query) reach
    * the exchange. Self-pairs are excluded for free (a vector shares
    * its own label). NULL-label rows participate in NEITHER side — SQL
    * `<>` semantics, identical in the DuckDB oracle.
    */
  def hardNegatives(corpus: DataFrame, queryIds: Seq[Long], k: Int): DataFrame = {
    val queries = corpus.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"),
        col("label").as("__qlab"))
    val scored = corpus
      .join(broadcast(queries), col("label") =!= col("__qlab"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("label").as("neg_label"),
        round(cosine(col("query_vec"), col("embedding")), 6).as("cos"))
    rankTopK(scored, k, "cos")
  }

  /** [[hardNegatives]] through the IVF index instead of a full corpus
    * scan — the 100 TB mining path: anchors probe their `nProbe`
    * nearest coarse cells and only those inverted lists are scored and
    * label-filtered, so a mining pass touches ~nProbe/centroids of the
    * corpus per anchor instead of all of it. Same deterministic
    * quantizer as every IVF rung ([[trainCentroids]]), so the DuckDB
    * oracle replays cells, probes, and candidates bit-for-bit.
    * Approximation is the usual IVF trade (a hard negative hiding in
    * an unprobed cell is missed) — disclosed, and gated by its own
    * oracle replaying the identical probe set.
    */
  def hardNegativesIvf(corpus: DataFrame, queryIds: Seq[Long], k: Int,
                       centroids: Int = 16, nProbe: Int = 4): DataFrame = {
    val cents = trainCentroids(corpus, centroids)
    val assigned = assignCells(corpus, cents)
    val labels = corpus.select(col("vec_id"), col("label"))
    val queries = assigned.filter(col("vec_id").isin(queryIds: _*))
      .join(labels, Seq("vec_id"))
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"),
        col("label").as("__qlab"))
    val probeScored = queries
      .join(broadcast(cents))
      .select(col("query_id"), col("query_vec"), col("__qlab"),
        col("cell").as("__cand"),
        cosine(col("query_vec"), col("cvec")).as("cos"))
    val probes = topKOperator(probeScored, nProbe, "__cand")
      .select(col("query_id"), col("query_vec"), col("__qlab"),
        col("__cand").as("cell"))
    val scored = assigned.join(labels, Seq("vec_id"))
      .join(broadcast(probes), Seq("cell"))
      .filter(col("label") =!= col("__qlab"))
      .dropDuplicates("query_id", "vec_id")
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("label").as("neg_label"),
        round(cosine(col("query_vec"), col("embedding")), 6).as("cos"))
    rankTopK(scored, k, "cos")
  }

  // ── Persisted index lifecycle (write once, query many) ─────────────

  /** Build-and-persist the IVF index artifact: the trained coarse
    * quantizer as `<name>_centroids` and the inverted lists as
    * `<name>_lists`, CELL-BUCKETED via [[graft.core.Layout.writeBucketed]]
    * so a probe's list scan is a bucket-pruned read. Training and
    * corpus-wide assignment run HERE, once — never again on the query
    * path ([[ivfTopKIndexed]]).
    */
  def buildIvfIndex(corpus: DataFrame, name: String, centroids: Int = 16,
                    buckets: Int = 8): Unit = {
    // train once: the centroid frame feeds two write branches (quantizer
    // table + assignment join) — materialize so Lloyd runs a single time
    val cents = trainCentroids(corpus, centroids)
      .pin()
    graft.core.Layout.writeBucketed(cents, s"${name}_centroids", "cell", 1)
    graft.core.Layout.writeBucketed(
      assignCells(corpus, cents), s"${name}_lists", "cell",
      buckets)
    writeIndexMeta(corpus.sparkSession, name,
      Seq("centroids" -> centroids, "buckets" -> buckets),
      dataKeys = Seq("lists" -> "cell"))
    // baseline priced off the JUST-WRITTEN lists (they carry vec+cell):
    // one cosine per vector, no re-scoring of the k centroids
    writeDriftBaseline(corpus.sparkSession, name,
      Seq("ivf_assign" -> assignDistanceAssigned(
        corpus.sparkSession.table(s"${name}_lists"), cents, "vec_id", "embedding")))
  }

  /** One-row build-parameter record per index, checked at append time —
    * the bucket COUNT mismatch is caught by the catalog, but nothing
    * else would be: an append bucketed under different planes/tables
    * values lands in-range and silently corrupts search results.
    *
    * `dataKeys` records each appendable data table's bucket KEY (e.g.
    * `lists=cell;codes=vec_id`) as a `data_keys` string column, so
    * maintenance ([[compactIndex]]) reads the key it must repartition
    * on from the build record instead of re-deriving it from
    * table-existence heuristics — a future index variant or an id
    * column passed inconsistently would otherwise repartition under
    * the wrong key and silently break bucketed co-location.
    */
  private def writeIndexMeta(spark: org.apache.spark.sql.SparkSession,
                             name: String, fields: Seq[(String, Int)],
                             dataKeys: Seq[(String, String)]): Unit = {
    val row = org.apache.spark.sql.Row(
      fields.map(_._2) :+ dataKeys.map { case (t, k) => s"$t=$k" }
        .mkString(";"): _*)
    val schema = org.apache.spark.sql.types.StructType(fields.map { case (f, _) =>
      org.apache.spark.sql.types.StructField(f, org.apache.spark.sql.types.IntegerType)
    } :+ org.apache.spark.sql.types.StructField("data_keys",
      org.apache.spark.sql.types.StringType))
    graft.core.Layout.writeBucketed(
      spark.createDataFrame(java.util.List.of(row), schema),
      s"${name}_meta", fields.head._1, 1)
  }

  private def requireIndexMeta(spark: org.apache.spark.sql.SparkSession,
                               name: String, fields: Seq[(String, Int)]): Unit =
    if (spark.catalog.tableExists(s"${name}_meta")) {
      val m = spark.table(s"${name}_meta").head()
      val built = fields.map { case (f, _) => f -> m.getInt(m.fieldIndex(f)) }
      require(built == fields,
        s"index '$name' append parameters $fields do not match its build $built")
    }

  // ── Drift measurement — the rebuild trigger for frozen quantizers ──

  /** Appends tolerate a delta whose mean quantization error is up to
    * this many × the build corpus's before disclosing (WARN) or, in
    * strict mode, refusing — without a measured trigger, "re-train +
    * rebuild only on drift" is vibes, and daily frozen-quantizer
    * appends silently degrade recall.
    */
  val DefaultMaxDriftRatio = 3.0

  /** Per-vector coarse-assignment distance (1 − cosine to the nearest
    * centroid): the IVF quantization error a drifting corpus inflates.
    */
  private def assignDistance(df: DataFrame, cents: DataFrame,
                             idCol: String, vecCol: String): DataFrame =
    df.join(broadcast(cents))
      .select(col(idCol), (lit(1.0) - cosine(col(vecCol), col("cvec"))).as("d"))
      .groupBy(col(idCol)).agg(min(col("d")).as("d"))

  /** Per-vector PQ reconstruction residual: the squared L2 to the
    * nearest codebook cell, summed over subspaces — what ADC scoring
    * error tracks when the frozen codebooks stop fitting the data.
    */
  private def pqResidual(df: DataFrame, books: DataFrame, m: Int, dims: Int,
                         idCol: String, vecCol: String): DataFrame =
    subspaces(df.select(col(idCol), col(vecCol)), vecCol, "xv", m, dims / m)
      .join(broadcast(books), Seq("subspace"))
      .select(col(idCol), col("subspace"), l2sq(col("xv"), col("cvec")).as("d"))
      .groupBy(col(idCol), col("subspace")).agg(min(col("d")).as("d"))
      .groupBy(col(idCol)).agg(sum(col("d")).as("d"))

  /** [[assignDistance]] when the top-1 assignment ALREADY exists (the
    * build just wrote it): rows carrying (idCol, vecCol, cell) join
    * their assigned centroid — ONE cosine per vector instead of
    * re-scoring all k centroids. How the builds price their baseline.
    */
  private def assignDistanceAssigned(assigned: DataFrame, cents: DataFrame,
                                     idCol: String, vecCol: String): DataFrame =
    assigned.join(broadcast(cents), Seq("cell"))
      .select(col(idCol), (lit(1.0) - cosine(col(vecCol), col("cvec"))).as("d"))

  /** [[pqResidual]] when the codes ALREADY exist: sub-vectors join
    * their chosen cell — ONE squared-L2 per (vector, subspace) instead
    * of scoring all k codebook cells.
    */
  private def pqResidualEncoded(corpus: DataFrame, codes: DataFrame,
                                books: DataFrame, m: Int, dims: Int,
                                idCol: String, vecCol: String): DataFrame =
    subspaces(corpus.select(col(idCol), col(vecCol)), vecCol, "xv", m, dims / m)
      .join(codes.select(col(idCol), col("subspace"), col("cell")),
        Seq(idCol, "subspace"))
      .join(broadcast(books), Seq("subspace", "cell"))
      .select(col(idCol), l2sq(col("xv"), col("cvec")).as("d"))
      .groupBy(col(idCol)).agg(sum(col("d")).as("d"))

  /** Mean + p99 of the `d` column. approx_percentile, not the exact
    * percentile aggregate: exact buffers every distinct distance in one
    * merge buffer — unbounded at build-corpus scale — and the baseline
    * only needs a trigger-quality p99.
    */
  private def distStats(dists: DataFrame): (Double, Double) = {
    val r = dists.agg(avg(col("d")),
      expr("approx_percentile(d, 0.99, 10000)")).head()
    if (r.isNullAt(0)) (0.0, 0.0) else (r.getDouble(0), r.getDouble(1))
  }

  /** Persist the build corpus's quantization-error stats as
    * `<name>_drift` (metric, mean, p99) — the baseline every later
    * [[indexDrift]] comparison and append-time check reads.
    */
  private def writeDriftBaseline(spark: org.apache.spark.sql.SparkSession,
                                 name: String,
                                 stats: Seq[(String, DataFrame)]): Unit =
    graft.core.Layout.writeBucketed(
      spark.createDataFrame(stats.map { case (metric, dists) =>
        val (mean, p99) = distStats(dists); (metric, mean, p99)
      }).toDF("metric", "mean", "p99"),
      s"${name}_drift", "metric", 1)

  /** Quantization-error drift of a delta against the index's FROZEN
    * quantizers: one row per trained artifact (`ivf_assign` for a
    * coarse quantizer, `pq_residual` for PQ codebooks) comparing the
    * delta's error stats to the build corpus's persisted baseline.
    * `mean_ratio` ≳ [[DefaultMaxDriftRatio]] means the frozen training
    * no longer fits the data and the index wants a re-train + rebuild.
    * LSH indexes have no entry by design: sign-buckets are a pure
    * per-row function with no trained state to drift from.
    */
  def indexDrift(spark: org.apache.spark.sql.SparkSession, name: String,
                 delta: DataFrame): DataFrame = {
    require(spark.catalog.tableExists(s"${name}_drift"),
      s"index '$name' has no drift baseline — built before drift tracking " +
        "(rebuild to record one) or an LSH index (no trained state)")
    val base = spark.table(s"${name}_drift").collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val rows = base.toSeq.sortBy(_._1).map { case (metric, (bMean, bP99)) =>
      val dists = metric match {
        case "ivf_assign" =>
          assignDistance(delta, spark.table(s"${name}_centroids"), "vec_id", "embedding")
        case "pq_residual" =>
          val m0 = spark.table(s"${name}_meta").head()
          pqResidual(delta, spark.table(s"${name}_codebooks"),
            m0.getInt(m0.fieldIndex("m")), m0.getInt(m0.fieldIndex("dims")),
            "vec_id", "embedding")
      }
      val (dMean, dP99) = distStats(dists)
      // a zero-error baseline (degenerate corpus == quantizer) has no
      // judgeable ratio: NaN, matching the append gate which skips the
      // metric — NaN > maxDriftRatio is false on both surfaces
      val ratio = if (bMean > 0) dMean / bMean else Double.NaN
      (metric, bMean, bP99, dMean, dP99, ratio)
    }
    spark.createDataFrame(rows).toDF("metric", "build_mean", "build_p99",
      "delta_mean", "delta_p99", "mean_ratio")
  }

  /** The persisted baseline, iff a drift check should run at all —
    * `None` for disabled ratios and for indexes built before drift
    * tracking (those append silently, as before).
    */
  private def driftBaseline(spark: org.apache.spark.sql.SparkSession,
                            name: String, maxDriftRatio: Double
                           ): Option[Map[String, (Double, Double)]] =
    if (maxDriftRatio > 0 && !maxDriftRatio.isInfinite &&
        spark.catalog.tableExists(s"${name}_drift"))
      Some(spark.table(s"${name}_drift").collect()
        .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap)
    else None

  /** Append-time drift gate over distances the append ALREADY computed
    * (the scored assignment/encode frames, pinned by the
    * caller so stats and append share one evaluation): WARN past
    * `maxDriftRatio`, or throw — BEFORE any index mutation — under
    * strict. An empty delta reads as zero drift.
    */
  private def enforceDrift(name: String, base: Map[String, (Double, Double)],
                           dists: Seq[(String, DataFrame)],
                           maxDriftRatio: Double, strict: Boolean): Unit = {
    val drifted = dists.flatMap { case (metric, df) =>
      base.get(metric).collect {
        case (bMean, _) if bMean > 0 =>
          val (dMean, _) = distStats(df)
          (metric, bMean, dMean, dMean / bMean)
      }.filter(_._4 > maxDriftRatio)
    }
    if (drifted.nonEmpty) {
      val msg = s"index '$name': delta drift exceeds $maxDriftRatio× the build corpus — " +
        drifted.map { case (metric, bMean, dMean, ratio) =>
          f"$metric mean $dMean%.4g vs build $bMean%.4g ($ratio%.1f×)"
        }.mkString("; ") +
        " — the frozen quantizers no longer fit the data: re-train + rebuild"
      if (strict) throw new IllegalStateException(msg)
      else org.slf4j.LoggerFactory.getLogger(getClass).warn(msg)
    }
  }

  /** Search-only IVF over the persisted index — the hot path: reads the
    * quantizer + bucketed inverted lists back and runs
    * [[searchAssigned]]. Bit-identical results to [[ivfTopK]] (floats
    * and the quantized-mean doubles round-trip parquet exactly), proven
    * by the shared t_ann_ivf oracle SQL.
    */
  def ivfTopKIndexed(spark: org.apache.spark.sql.SparkSession, name: String,
                     queryIds: Seq[Long], k: Int, nProbe: Int = 4): DataFrame =
    searchAssigned(spark.table(s"${name}_lists"),
      spark.table(s"${name}_centroids"), queryIds, k, nProbe)

  /** Build-and-persist the LSH index artifact: all (table, bucket) rows
    * per vector, bucketed by the join key — [[annTopKIndexed]] then
    * computes zero sign-buckets at query time.
    */
  def buildLshIndex(corpus: DataFrame, name: String, planes: Int, dims: Int): Unit = {
    graft.core.Layout.writeBucketed(
      lshTableBuckets(corpus, 8, planes, dims, "embedding"),
      s"${name}_buckets", "bucket", 8)
    writeIndexMeta(corpus.sparkSession, name, Seq("planes" -> planes,
      "dims" -> dims, "tables" -> 8, "buckets" -> 8),
      dataKeys = Seq("buckets" -> "bucket"))
  }

  /** Search-only ANN over the persisted LSH index. */
  def annTopKIndexed(spark: org.apache.spark.sql.SparkSession, name: String,
                     queryIds: Seq[Long], k: Int): DataFrame =
    annSearch(spark.table(s"${name}_buckets"), queryIds, k)

  /** [[annTopKMultiProbe]] over a persisted LSH index — zero bucket
    * computation, zero index growth; `planes` is validated against the
    * build's `_meta` (a mismatch would silently probe nonexistent or
    * too-few perturbations).
    */
  def annTopKMultiProbeIndexed(spark: org.apache.spark.sql.SparkSession,
                               name: String, queryIds: Seq[Long], k: Int,
                               planes: Int,
                               probeBits: Int = 1): DataFrame = {
    requireIndexMeta(spark, name, Seq("planes" -> planes))
    annSearchMultiProbe(spark.table(s"${name}_buckets"), queryIds, k,
      planes, probeBits)
  }

  // ── Incremental index maintenance (append the delta, never rebuild) ─

  /** Append new vectors to a persisted LSH index: sign-buckets are a
    * pure per-row function, so ONLY the delta is bucketed and appended —
    * the existing index files are neither rescanned nor rewritten, and
    * search results are bit-identical to a full rebuild. At 100 TB the
    * daily ingest touches daily-ingest-sized data, not the corpus.
    * `planes`/`dims`/`tables`/`buckets` must match the build call (a
    * bucket-count mismatch is rejected by the catalog).
    */
  def appendToLshIndex(delta: DataFrame, name: String, planes: Int, dims: Int,
                       tables: Int = 8): Unit = {
    requireIndexMeta(delta.sparkSession, name, Seq("planes" -> planes,
      "dims" -> dims, "tables" -> tables, "buckets" -> 8))
    graft.core.Layout.appendBucketed(
      lshTableBuckets(delta, tables, planes, dims, "embedding"),
      s"${name}_buckets", "bucket", 8)
  }

  /** Append new vectors to a persisted IVF index: the delta is assigned
    * against the FROZEN persisted quantizer (standard IVF maintenance —
    * centroids are not retrained, so existing inverted lists stay
    * valid) and appended to the cell-bucketed lists. Search over the
    * appended index equals search over assign-everything-at-once under
    * the same quantizer. Drift vs the build baseline is measured per
    * append from the assignment being written anyway ([[enforceDrift]]
    * — zero extra delta passes): past `maxDriftRatio` it WARNs — or
    * refuses with `strictDrift` — that a re-train + rebuild is due.
    */
  def appendToIvfIndex(delta: DataFrame, name: String, buckets: Int = 8,
                       maxDriftRatio: Double = DefaultMaxDriftRatio): Unit = {
    if (delta.sparkSession.catalog.tableExists(s"${name}_meta")) {
      val m = delta.sparkSession.table(s"${name}_meta").head()
      require(m.getInt(m.fieldIndex("buckets")) == buckets,
        s"index '$name' append buckets=$buckets does not match its build " +
          s"buckets=${m.getInt(m.fieldIndex("buckets"))}")
    }
    val spark = delta.sparkSession
    val base = driftBaseline(spark, name, maxDriftRatio)
    val cents = spark.table(s"${name}_centroids")
    // drift is read off the SAME assignment the append writes — with a
    // baseline present the scored frame is checkpointed so the stats
    // job and the append share one evaluation (zero extra delta passes)
    val scored0 = assignCellsScored(delta, cents, "vec_id", "embedding")
    val scored = if (base.isDefined) scored0.pin() else scored0
    base.foreach(b => enforceDrift(name, b,
      Seq("ivf_assign" ->
        scored.select(col("vec_id"), (lit(1.0) - col("__cos")).as("d"))),
      maxDriftRatio, false))
    graft.core.Layout.appendBucketed(
      scored.drop("__cos"), s"${name}_lists", "cell", buckets)
  }

  // ── Product quantization (PQ) — the memory-bound ANN scale path ────

  /** One row per (vector, subspace): the vector sliced into `m`
    * contiguous sub-vectors of `sub` dims, cast to double (exact).
    */
  private def subspaces(df: DataFrame, vecCol: String, out: String,
                        m: Int, sub: Int): DataFrame =
    df.select(col("*"), posexplode(array((0 until m).map(j =>
        slice(col(vecCol), j * sub + 1, sub).cast("array<double>")): _*))
      .as(Seq("subspace", out)))
      .drop(vecCol)

  /** Squared L2 between two double vectors — left-to-right fold, the
    * exact IEEE operation sequence the DuckDB oracle replays.
    */
  private def l2sq(x: Column, c: Column): Column =
    aggregate(zip_with(x, c, (a, b) => (a - b) * (a - b)),
      lit(0.0), (acc, v) => acc + v)

  /** The per-query ADC lookup table: quantized sub-dot-products of each
    * query sub-vector against every codebook cell — (query_id, subspace,
    * <cellOut>, pd), |Q|·m·k rows, always broadcast. THE one definition
    * of the quantized-score arithmetic, shared by every PQ search path
    * so the three tails cannot drift.
    */
  private def adcLut(qSub: DataFrame, codebooks: DataFrame,
                     cellOut: String = "cell"): DataFrame =
    qSub.join(broadcast(codebooks), Seq("subspace"))
      .select(col("query_id"), col("subspace"), col("cell").as(cellOut),
        round(aggregate(zip_with(col("qv"), col("cvec"), (a, b) => a * b),
          lit(0.0), (acc, v) => acc + v) * 1e6, 0).cast("long").as("pd"))

  /** Deterministic per-subspace PQ codebook training: the SAME
    * hash-sampled seed ids as [[trainCentroids]] (no RNG), one Lloyd
    * refinement per subspace with squared-L2 assignment (cell-id
    * tiebreak) and the ORDER-INDEPENDENT quantized-integer mean, so the
    * DuckDB oracle retrains bit-identical codebooks. Returns
    * (subspace, cell, cvec: array<double>) — m × k rows.
    */
  def pqTrainCodebooks(corpus: DataFrame, m: Int = 8, k: Int = 16,
                       dims: Int = 64): DataFrame = {
    require(dims % m == 0, s"dims $dims must split into $m subspaces")
    val sub = dims / m
    val seeds = corpus
      .withColumn("__h", graft.functions.polyFingerprint(col("vec_id").cast("string")))
      .orderBy(col("__h"), col("vec_id")).limit(k)
      .select(col("vec_id").as("cell"), col("embedding").as("__sv"))
    val seedSub = subspaces(seeds, "__sv", "cv", m, sub)
    val corpSub = subspaces(corpus.select(col("vec_id"), col("embedding")), "embedding",
      "xv", m, sub)
    // per-(vector, subspace) argmin as a partial-aggregated min-struct
    // (round 22, guide §2.3): the broadcast join emits all k candidate
    // cells of a subvector inside ONE task, so the map-side partial
    // collapses them k→1 before the exchange — previously a window
    // (full k× exchange + sort). (d, cell) never ties (cells unique),
    // so xv in the struct tail is never compared.
    val a0 = corpSub.join(broadcast(seedSub), Seq("subspace"))
      .select(col("vec_id"), col("subspace"),
        struct(l2sq(col("xv"), col("cv")).as("d"), col("cell").as("c"),
          col("xv").as("v")).as("__dcv"))
      .groupBy(col("vec_id"), col("subspace"))
      .agg(min(col("__dcv")).as("__m"))
      .select(col("subspace"), col("__m.c").as("cell"), col("__m.v").as("xv"))
    val coords = a0
      .select(col("subspace"), col("cell"), posexplode(col("xv")).as(Seq("d", "x")))
      .select(col("subspace"), col("cell"), col("d"),
        round(col("x") * 1e6, 0).cast("long").as("q"))
      .groupBy("subspace", "cell", "d")
      .agg(sum("q").as("sq"), count(lit(1)).as("n"))
      .select(col("subspace"), col("cell"), col("d"),
        (col("sq").cast("double") / (col("n").cast("double") * 1e6)).as("c"))
    coords.groupBy("subspace", "cell")
      .agg(transform(array_sort(collect_list(struct(col("d"), col("c")))),
        s => s.getField("c")).as("cvec"))
  }

  /** PQ encoding: each vector's nearest codebook cell per subspace —
    * (idCol, subspace, cell), i.e. m small codes per vector instead of
    * 4·dims bytes of floats. At 100 TB this 32× compression is what
    * lets the candidate scan live in memory.
    */
  def pqEncode(corpus: DataFrame, codebooks: DataFrame, m: Int = 8,
               dims: Int = 64): DataFrame =
    pqEncodeScored(corpus, codebooks, m, dims, "vec_id", "embedding").drop("__d")

  /** [[pqEncode]] keeping the winning cell's squared-L2 as `__d` — the
    * per-subspace reconstruction residual the append-time drift check
    * reads for free (the encode already computed it).
    */
  private def pqEncodeScored(corpus: DataFrame, codebooks: DataFrame, m: Int,
                             dims: Int, idCol: String,
                             vecCol: String): DataFrame = {
    val sub = dims / m
    val corpSub = subspaces(corpus.select(col(idCol), col(vecCol)), vecCol,
      "xv", m, sub)
    // argmin via partial-aggregated min-struct instead of a window —
    // the pqTrainCodebooks rationale: map-side k→1 collapse, the
    // corpus-scale exchange ships one code per (vector, subspace)
    // instead of all k scored candidates, and no per-group sort runs
    corpSub.join(broadcast(codebooks), Seq("subspace"))
      .select(col(idCol), col("subspace"),
        struct(l2sq(col("xv"), col("cvec")).as("d"), col("cell").as("c"))
          .as("__dc"))
      .groupBy(col(idCol), col("subspace"))
      .agg(min(col("__dc")).as("__m"))
      .select(col(idCol), col("subspace"), col("__m.c").as("cell"),
        col("__m.d").as("__d"))
  }

  /** PQ ANN top-k by asymmetric distance computation (ADC): per query,
    * an m×k lookup table of quantized sub-dot-products (one broadcast,
    * |Q|·m·k rows — tiny); the corpus side is a linear scan of CODES
    * only, never the float vectors. Scores are integer sums of the
    * quantized per-subspace dots — order-independent, so the DuckDB
    * oracle reproduces every score exactly. Approximate-IP ranking by
    * construction (the PQ trade: memory for exactness); the exact
    * rerank of the survivors, when wanted, is [[topK]] over k·|Q| ids.
    * Inline training is the build-path gate, as with [[ivfTopK]].
    */
  def pqTopK(corpus: DataFrame, queryIds: Seq[Long], kNn: Int): DataFrame = {
    val sub = 64 / 8
    val cents = pqTrainCodebooks(corpus, 8, 16, 64)
      .pin()
    val codes = pqEncode(corpus, cents, 8, 64)
    val queries = corpus.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("embedding"))
    val qSub = subspaces(queries, "embedding", "qv", 8, sub)
    val lut = adcLut(qSub, cents)
    val scored = codes.join(broadcast(lut), Seq("subspace", "cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .groupBy("query_id", "vec_id")
      .agg(sum("pd").as("score"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("score"))
    rankTopK(scored, kNn, "score")
  }

  /** PQ ADC candidate selection + EXACT cosine rerank — the standard
    * recall repair for PQ's quantization error: ADC over codes prunes
    * the corpus to a `rerank`-candidate window per query (memory-bound,
    * zero corpus floats read), then ONLY those rerank·|Q| vectors are
    * read back and scored exactly. Float reads are candidate-bound,
    * never corpus-bound — at 100 TB the scan stays codes-shaped and the
    * rerank touches rerank/n of the corpus. `rerank = n` degenerates to
    * exact brute force (the spec asserts it); both stages' tie-breaks
    * (integer ADC score, round-6 cosine, neighbor-id) replay exactly in
    * the oracle.
    */
  def pqTopKReranked(corpus: DataFrame, queryIds: Seq[Long], kNn: Int,
                     rerank: Int): DataFrame = {
    require(rerank >= kNn, s"rerank window $rerank must cover kNn=$kNn")
    val cand = pqTopK(corpus, queryIds, rerank)
      .select(col("query_id"), col("neighbor_id"))
    val queries = corpus.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("__qv"))
    rerankExact(corpus, cand, queries, kNn, "vec_id", "embedding")
  }

  /** The shared exact-rerank tail: candidate (query_id, neighbor_id)
    * pairs join back ONLY their own float vectors (reads stay
    * candidate-bound, never corpus-bound) and re-score by the round-6
    * exact cosine — one definition shared by every rerank composite so
    * the tie-break rules cannot drift. `queries` exposes
    * (query_id, __qv).
    */
  private def rerankExact(corpus: DataFrame, cand: DataFrame,
                          queries: DataFrame, kNn: Int,
                          idCol: String, vecCol: String): DataFrame = {
    // cand is rerank·|Q| rows by construction — broadcast it explicitly
    // (guide §3.1) so the float read-back is a corpus SCAN probed by a
    // tiny hash relation, never a corpus shuffle by neighbor_id (the
    // post-window size estimate is unreliable, so AQE alone can pick a
    // sort-merge join here)
    val scored = broadcast(cand)
      .join(corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__nv")),
        Seq("neighbor_id"))
      .join(broadcast(queries), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("__qv"), col("__nv")), 6).as("cos"))
    rankTopK(scored, kNn, "cos")
  }

  /** IVF×PQ candidate selection + EXACT cosine rerank — the full
    * production ANN recipe (FAISS's IVFPQ + refine): probing prunes the
    * corpus to nProbe inverted lists, ADC over codes ranks the
    * survivors memory-bound, and only the top-`rerank` window per query
    * reads float vectors back for the exact re-score. At 100 TB the
    * scan is codes-shaped AND list-pruned, and float reads are
    * rerank·|Q|, never corpus-bound. Inline training is the build-path
    * oracle gate; [[ivfPqTopKRerankedIndexed]] is the zero-training
    * production path over the persisted composite.
    */
  def ivfPqTopKReranked(corpus: DataFrame, queryIds: Seq[Long], kNn: Int,
                        rerank: Int): DataFrame = {
    require(rerank >= kNn, s"rerank window $rerank must cover kNn=$kNn")
    val cand = ivfPqTopK(corpus, queryIds, rerank, 6)
      .select(col("query_id"), col("neighbor_id"))
    val queries = corpus.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("__qv"))
    rerankExact(corpus, cand, queries, kNn, "vec_id", "embedding")
  }

  /** The rerank composite over the PERSISTED IVF×PQ index: candidates
    * from [[ivfPqTopKIndexed]] (zero training, zero encoding, zero
    * corpus floats), then the exact re-score reads only the window's
    * vectors from `corpus` (the float table the index was built from —
    * the index itself stores codes, not floats, by design). Queries
    * supply their own vectors.
    */
  def ivfPqTopKRerankedIndexed(spark: org.apache.spark.sql.SparkSession,
                               name: String, queries: DataFrame,
                               corpus: DataFrame, kNn: Int, rerank: Int): DataFrame = {
    require(rerank >= kNn, s"rerank window $rerank must cover kNn=$kNn")
    val cand = ivfPqTopKIndexed(spark, name, queries, rerank)
      .select(col("query_id"), col("neighbor_id"))
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("__qv"))
    rerankExact(corpus, cand, q, kNn, "vec_id", "embedding")
  }

  /** IVF×PQ composite ANN — the standard large-scale architecture: the
    * IVF coarse quantizer prunes the candidate set to the nProbe probed
    * inverted lists (touching nProbe/cells of the corpus), then ADC
    * over PQ codes scores the survivors without reading a single
    * corpus float vector. Both quantizers train by the proven
    * deterministic recipes, so the whole composite replays exactly in
    * the oracle. Inline training = the build-path gate; persist
    * assigned+codes via the index lifecycle for the production path.
    */
  def ivfPqTopK(corpus: DataFrame, queryIds: Seq[Long], kNn: Int, nProbe: Int = 6): DataFrame = {
    val sub = 64 / 8
    // the coarse quantizer and the PQ codebooks are INDEPENDENT
    // training chains, each ending in an eager pin — overlap them
    // (guide §2.6, the recall-grid pattern) so the second chain's jobs
    // back-fill executors during the first's tail
    val Seq(cents, pqcents) = Overlap.all(Seq(
      () => trainCentroids(corpus, 16).pin(),
      () => pqTrainCodebooks(corpus, 8, 16, 64)
        .pin()))
    val assigned = assignCells(corpus, cents)
      .select(col("vec_id"), col("cell"))
    val codes = pqEncode(corpus, pqcents, 8, 64)
      .withColumnRenamed("cell", "code")
    val queries = corpus.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("embedding"))
    val probeScored = queries.join(broadcast(cents))
      .select(col("query_id"), col("cell").as("__cand"),
        cosine(col("embedding"), col("cvec")).as("cos"))
    val probes = topKOperator(probeScored, nProbe, "__cand")
      .select(col("query_id"), col("__cand").as("cell"))
    val cand = assigned.join(broadcast(probes), Seq("cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"))
    val qSub = subspaces(queries, "embedding", "qv", 8, sub)
    ivfPqScore(cand, codes, adcLut(qSub, pqcents, "code"), kNn, "vec_id")
  }

  /** The shared IVF×PQ scoring tail: probe-pruned candidate ids joined
    * to their m codes, scored against the broadcast ADC LUT, integer-
    * summed per (query, vector), ranked. Shared by the inline composite
    * and the persisted-index search so the two cannot drift.
    */
  private def ivfPqScore(cand: DataFrame, codes: DataFrame, lut: DataFrame,
                         kNn: Int, idCol: String): DataFrame = {
    val scored = cand.join(codes, Seq(idCol))
      .join(broadcast(lut), Seq("query_id", "subspace", "code"))
      .groupBy("query_id", idCol)
      .agg(sum("pd").as("score"))
      .select(col("query_id"), col(idCol).as("neighbor_id"), col("score"))
    rankTopK(scored, kNn, "score")
  }

  /** Build-and-persist the PQ index artifact: trained codebooks as
    * `<name>_codebooks` and the m-code encoding as `<name>_codes`,
    * bucketed by the ADC join key. Training + corpus encoding run HERE,
    * once; [[pqTopKIndexed]] is the codes-scan-only hot path.
    */
  def buildPqIndex(corpus: DataFrame, name: String, m: Int = 8,
                   codebookSize: Int = 16, dims: Int = 64, buckets: Int = 8): Unit = {
    val cents = pqTrainCodebooks(corpus, m, codebookSize, dims)
      .pin()
    graft.core.Layout.writeBucketed(cents, s"${name}_codebooks", "cell", 1)
    graft.core.Layout.writeBucketed(
      pqEncode(corpus, cents, m, dims), s"${name}_codes",
      "cell", buckets)
    writeIndexMeta(corpus.sparkSession, name,
      Seq("m" -> m, "codebook_size" -> codebookSize, "dims" -> dims,
        "buckets" -> buckets),
      dataKeys = Seq("codes" -> "cell"))
    // baseline priced off the JUST-WRITTEN codes: one L2 per chosen
    // cell, no re-scoring of the k codebook cells
    writeDriftBaseline(corpus.sparkSession, name,
      Seq("pq_residual" -> pqResidualEncoded(corpus,
        corpus.sparkSession.table(s"${name}_codes"), cents, m, dims, "vec_id",
        "embedding")))
  }

  /** Append new vectors to a persisted PQ index: the delta is encoded
    * against the FROZEN codebooks and appended to the codes table —
    * same maintenance contract as [[appendToIvfIndex]].
    */
  def appendToPqIndex(delta: DataFrame, name: String, m: Int = 8,
                      dims: Int = 64, buckets: Int = 8,
                      maxDriftRatio: Double = DefaultMaxDriftRatio): Unit = {
    requireIndexMeta(delta.sparkSession, name,
      Seq("m" -> m, "dims" -> dims, "buckets" -> buckets))
    val spark = delta.sparkSession
    val base = driftBaseline(spark, name, maxDriftRatio)
    val cents = spark.table(s"${name}_codebooks")
    val enc0 = pqEncodeScored(delta, cents, m, dims, "vec_id", "embedding")
    val enc = if (base.isDefined) enc0.pin() else enc0
    base.foreach(b => enforceDrift(name, b,
      Seq("pq_residual" ->
        enc.groupBy(col("vec_id")).agg(sum(col("__d")).as("d"))),
      maxDriftRatio, false))
    graft.core.Layout.appendBucketed(
      enc.drop("__d"), s"${name}_codes", "cell", buckets)
  }

  /** Search-only PQ ANN over the persisted index: per query, the m×k
    * LUT against the stored codebooks, then one codes-table scan — no
    * training, no encoding, no float vectors read from the corpus
    * (queries supply their own). m/dims are checked against the build's
    * recorded parameters — a mismatched caller would slice subspaces
    * wrong and return plausible-but-wrong neighbors, the same silent
    * corruption the append paths already reject.
    */
  def pqTopKIndexed(spark: org.apache.spark.sql.SparkSession, name: String,
                    queries: DataFrame, kNn: Int): DataFrame = {
    requireIndexMeta(spark, name, Seq("m" -> 8, "dims" -> 64))
    val sub = 64 / 8
    val cents = spark.table(s"${name}_codebooks")
    val codes = spark.table(s"${name}_codes")
    val qSub = subspaces(
      queries.select(col("vec_id").as("query_id"), col("embedding")), "embedding", "qv", 8, sub)
    val lut = adcLut(qSub, cents)
    val scored = codes.join(broadcast(lut), Seq("subspace", "cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .groupBy("query_id", "vec_id")
      .agg(sum("pd").as("score"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("score"))
    rankTopK(scored, kNn, "score")
  }

  // ── Persisted IVF×PQ composite index (the production query path) ───

  /** Build-and-persist the IVF×PQ composite index: the coarse quantizer
    * (`_centroids`) and its cell-bucketed inverted lists (`_lists` —
    * bare (id, cell): the composite never reads corpus floats, that is
    * its memory story), plus the PQ codebooks (`_codebooks`) and the
    * id-bucketed m-code encoding (`_codes` — bucketed by id because the
    * composite's code lookup joins probe-pruned candidate IDS, unlike
    * plain PQ's full codes scan). BOTH trainings and both corpus-wide
    * passes run HERE, once — [[ivfPqTopKIndexed]] is the zero-training
    * hot path, the answer to the inline composite's train-per-query
    * shape.
    */
  def buildIvfPqIndex(corpus: DataFrame, name: String, centroids: Int = 16,
                      m: Int = 8, codebookSize: Int = 16, dims: Int = 64,
                      buckets: Int = 8): Unit = {
    val cents = trainCentroids(corpus, centroids)
      .pin()
    graft.core.Layout.writeBucketed(cents, s"${name}_centroids", "cell", 1)
    graft.core.Layout.writeBucketed(
      assignCells(corpus, cents).select(col("vec_id"), col("cell")),
      s"${name}_lists", "cell", buckets)
    val books = pqTrainCodebooks(corpus, m, codebookSize, dims)
      .pin()
    graft.core.Layout.writeBucketed(books, s"${name}_codebooks", "cell", 1)
    graft.core.Layout.writeBucketed(
      pqEncode(corpus, books, m, dims), s"${name}_codes",
      "vec_id", buckets)
    writeIndexMeta(corpus.sparkSession, name,
      Seq("centroids" -> centroids, "m" -> m,
        "codebook_size" -> codebookSize, "dims" -> dims, "buckets" -> buckets),
      dataKeys = Seq("lists" -> "cell", "codes" -> "vec_id"))
    // baselines priced off the JUST-WRITTEN artifacts, not a re-run of
    // either training-side scoring pass; the composite's bare (id,cell)
    // lists re-attach vectors by id join
    val spark = corpus.sparkSession
    writeDriftBaseline(spark, name,
      Seq("ivf_assign" -> assignDistanceAssigned(
        corpus.select(col("vec_id"), col("embedding"))
          .join(spark.table(s"${name}_lists"), Seq("vec_id")),
        cents, "vec_id", "embedding"),
        "pq_residual" -> pqResidualEncoded(corpus,
          spark.table(s"${name}_codes"), books, m, dims, "vec_id", "embedding")))
  }

  /** Search-only IVF×PQ over the persisted composite: probes from the
    * stored quantizer, candidate ids from the bucket-pruned inverted
    * lists, ADC from the stored codes against the per-query LUT — zero
    * training, zero encoding, zero corpus floats on the query path
    * (queries supply their own vectors). Bit-identical to [[ivfPqTopK]]
    * under the same quantizers, proven by the shared t_ann_ivfpq oracle.
    * m/dims are meta-checked like [[pqTopKIndexed]].
    */
  def ivfPqTopKIndexed(spark: org.apache.spark.sql.SparkSession, name: String,
                       queries: DataFrame, kNn: Int): DataFrame = {
    requireIndexMeta(spark, name, Seq("m" -> 8, "dims" -> 64))
    val cents = spark.table(s"${name}_centroids")
    val lists = spark.table(s"${name}_lists")
    val books = spark.table(s"${name}_codebooks")
    val codes = spark.table(s"${name}_codes").withColumnRenamed("cell", "code")
    val q = queries.select(col("vec_id").as("query_id"), col("embedding"))
    val probeScored = q.join(broadcast(cents))
      .select(col("query_id"), col("cell").as("__cand"),
        cosine(col("embedding"), col("cvec")).as("cos"))
    val probes = topKOperator(probeScored, 6, "__cand")
      .select(col("query_id"), col("__cand").as("cell"))
    val cand = lists.join(broadcast(probes), Seq("cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"))
    val qSub = subspaces(q, "embedding", "qv", 8, 64 / 8)
    ivfPqScore(cand, codes, adcLut(qSub, books, "code"), kNn, "vec_id")
  }

  /** Append new vectors to a persisted IVF×PQ index: the delta is
    * assigned against the FROZEN coarse quantizer (inverted lists stay
    * valid) and encoded against the FROZEN codebooks — the same
    * maintenance contract as [[appendToIvfIndex]] + [[appendToPqIndex]],
    * in one call over one composite artifact. Daily ingest touches
    * daily-ingest-sized data; "rebuild on drift" is MEASURED, not
    * vibes — both quantizers' error ratios are checked per append
    * against the build baseline ([[indexDrift]]).
    */
  def appendToIvfPqIndex(delta: DataFrame, name: String, m: Int = 8,
                         dims: Int = 64, buckets: Int = 8,
                         maxDriftRatio: Double = DefaultMaxDriftRatio,
                         strictDrift: Boolean = false): Unit = {
    requireIndexMeta(delta.sparkSession, name,
      Seq("m" -> m, "dims" -> dims, "buckets" -> buckets))
    val spark = delta.sparkSession
    val base = driftBaseline(spark, name, maxDriftRatio)
    val scored0 = assignCellsScored(delta, spark.table(s"${name}_centroids"),
      "vec_id", "embedding")
    val scored = if (base.isDefined) scored0.pin() else scored0
    val enc0 = pqEncodeScored(delta, spark.table(s"${name}_codebooks"), m,
      dims, "vec_id", "embedding")
    val enc = if (base.isDefined) enc0.pin() else enc0
    // BOTH quantizers' drift from the frames the append writes anyway;
    // the strict path throws before either table has been touched
    base.foreach(b => enforceDrift(name, b,
      Seq("ivf_assign" ->
        scored.select(col("vec_id"), (lit(1.0) - col("__cos")).as("d")),
        "pq_residual" ->
          enc.groupBy(col("vec_id")).agg(sum(col("__d")).as("d"))),
      maxDriftRatio, strictDrift))
    graft.core.Layout.appendBucketed(
      scored.select(col("vec_id"), col("cell")),
      s"${name}_lists", "cell", buckets)
    graft.core.Layout.appendBucketed(
      enc.drop("__d"), s"${name}_codes", "vec_id", buckets)
  }

  /** The outcome of one [[maintainIndex]] call: which index kind was
    * touched, whether the delta was appended under the frozen quantizers
    * or the index was re-trained + rebuilt, and the worst measured
    * quantization-error ratio that drove the decision (NaN when every
    * baseline was degenerate-zero — treated as in-bounds, like the
    * append gate).
    */
  final case class IndexMaintenance(action: String, kind: String,
                                    maxMeanRatio: Double)

  /** Drift-GATED index maintenance — the one-call answer to "append the
    * daily delta, unless the frozen quantizers no longer fit, in which
    * case re-train and rebuild": measures [[indexDrift]] of `delta`
    * against the persisted build baseline, then either appends under
    * the frozen quantizers (every `mean_ratio` ≤ `maxDriftRatio`) or
    * re-trains + rebuilds the whole index over `indexed ∪ delta` with
    * the build parameters recorded in `_meta`. The plain appends WARN
    * on drift but leave the degraded index in place; this helper closes
    * that loop.
    *
    * `indexed` is the CURRENT indexed corpus's float vectors (the
    * system-of-record relation the index was built from plus every
    * delta appended since) — required because the PQ and IVF×PQ
    * artifacts deliberately persist codes, never corpus floats, so a
    * re-train cannot read its training data out of the index. It must
    * NOT be derived from the index's own tables (the rebuild overwrites
    * them in place).
    *
    * The index kind is inferred from the persisted artifacts
    * (`_centroids` → IVF, `_codebooks` → PQ, both → IVF×PQ); LSH is
    * rejected — sign-buckets have no trained state to drift, append
    * directly. Cost: one delta-sized drift pass, then either the
    * delta-sized append (its own internal gate is disabled — this
    * helper IS the gate) or the corpus-sized rebuild.
    */
  def maintainIndex(spark: org.apache.spark.sql.SparkSession, name: String,
                    indexed: DataFrame, delta: DataFrame,
                    maxDriftRatio: Double = DefaultMaxDriftRatio): IndexMaintenance = {
    require(maxDriftRatio > 0 && !maxDriftRatio.isInfinite,
      s"maxDriftRatio must be a positive finite ratio, got $maxDriftRatio")
    val hasIvf = spark.catalog.tableExists(s"${name}_centroids")
    val hasPq = spark.catalog.tableExists(s"${name}_codebooks")
    require(hasIvf || hasPq,
      s"index '$name' has no trained quantizer to drift (LSH or unbuilt) — " +
        "append directly, there is nothing to re-train")
    val kind = (hasIvf, hasPq) match {
      case (true, true)  => "ivfpq"
      case (true, false) => "ivf"
      case _             => "pq"
    }
    val ratios = indexDrift(spark, name, delta)
      .select(col("mean_ratio")).collect().map(_.getDouble(0))
      .filterNot(_.isNaN)
    val maxRatio = if (ratios.isEmpty) Double.NaN else ratios.max
    val meta = spark.table(s"${name}_meta").head()
    def mi(f: String) = meta.getInt(meta.fieldIndex(f))
    if (maxRatio > maxDriftRatio) {
      // pinned BEFORE the rebuild: `indexed` may derive from the index's
      // own persisted tables (the streaming maintainer recovers it from
      // the inverted lists), and the build starts by dropping + deleting
      // those files — an unpinned plan would scan deleted data. The pin
      // costs one corpus materialization on a path that is already
      // corpus-sized by definition.
      val corpus = indexed.select(col("vec_id"), col("embedding"))
        .unionByName(delta.select(col("vec_id"), col("embedding")))
        .pin()
      kind match {
        case "ivf"   => buildIvfIndex(corpus, name, mi("centroids"),
          mi("buckets"))
        case "pq"    => buildPqIndex(corpus, name, mi("m"),
          mi("codebook_size"), mi("dims"), mi("buckets"))
        case "ivfpq" => buildIvfPqIndex(corpus, name, mi("centroids"),
          mi("m"), mi("codebook_size"), mi("dims"), mi("buckets"))
      }
      IndexMaintenance("rebuilt", kind, maxRatio)
    } else {
      // in-bounds (or no judgeable baseline): append under the frozen
      // quantizers; maxDriftRatio = 0 disables the append's own gate so
      // the delta is not re-measured
      kind match {
        case "ivf"   => appendToIvfIndex(delta, name, mi("buckets"), maxDriftRatio = 0.0)
        case "pq"    => appendToPqIndex(delta, name, mi("m"), mi("dims"),
          mi("buckets"), maxDriftRatio = 0.0)
        case "ivfpq" => appendToIvfPqIndex(delta, name, mi("m"), mi("dims"),
          mi("buckets"), maxDriftRatio = 0.0)
      }
      IndexMaintenance("appended", kind, maxRatio)
    }
  }

  /** Per-table result of [[compactIndex]]: parquet file counts before
    * and after the rewrite — the number an operator alerts on.
    */
  final case class TableCompaction(table: String, filesBefore: Long,
                                   filesAfter: Long)

  /** COMPACT a persisted index's appendable data tables: every
    * [[appendToLshIndex]]/[[appendToIvfIndex]]/... lands the delta as
    * additional per-bucket files, so a long append cadence accumulates
    * an unbounded small-file tail that every search then lists and
    * opens. Compaction is a FILE-LEVEL fold: each data table is pinned,
    * repartitioned onto its bucket key (same Murmur3-mod law as the
    * bucketed write, so each task holds exactly one bucket) and
    * rewritten under the identical Layout spec — afterwards the table
    * holds `buckets` files regardless of how many appends preceded.
    * NOTHING is retrained: the frozen `_centroids`/`_codebooks`
    * quantizer artifacts, `_meta`, and the drift baseline are untouched
    * (they are written once and never appended), and search over the
    * compacted index is bit-identical to before (spec-gated) — rows
    * only moved between files. This is the gate store's
    * [[graft.streaming.IngestDedupGate.compactStore]] for the ANN
    * indexes; [[graft.streaming.AnnIndexStream]] runs it on a
    * `compactEvery` cadence.
    *
    * CRASH-SAFE: each table is republished through
    * [[graft.core.SwapTable]], whose scratch-then-swap keeps a complete
    * copy on disk at every instant, for a reader mid-scan and for a
    * crash mid-rewrite. A crash after the DROP leaves the rows only in
    * the scratch table; the next [[compactIndex]] call finishes that
    * swap ([[graft.core.SwapTable.recover]]) instead of recompacting.
    * The bucket KEY per table comes from the build's `_meta`
    * `data_keys` record ([[writeIndexMeta]]); indexes persisted by
    * earlier builds fall back to the historical table-existence
    * heuristic.
    */
  def compactIndex(spark: org.apache.spark.sql.SparkSession, name: String,
                   idCol: String = "vec_id"): Seq[TableCompaction] = {
    require(spark.catalog.tableExists(s"${name}_meta"),
      s"index '$name' has no _meta — nothing built to compact")
    val meta = spark.table(s"${name}_meta").head()
    val buckets = meta.getInt(meta.fieldIndex("buckets"))
    val keyByTable: Seq[(String, String)] =
      if (meta.schema.fieldNames.contains("data_keys"))
        meta.getString(meta.fieldIndex("data_keys")).split(";").toSeq
          .map { kv =>
            val Array(sfx, k) = kv.split("=", 2)
            (s"${name}_$sfx", k)
          }
      else {
        // pre-data_keys index: the historical heuristic (the PQ code
        // table buckets by cell standalone but by id under IVF×PQ,
        // whose search joins it id-keyed after the list probe)
        val hasIvf = spark.catalog.tableExists(s"${name}_centroids")
        val hasPq = spark.catalog.tableExists(s"${name}_codebooks")
        Seq(
          (s"${name}_buckets", "bucket"),
          (s"${name}_lists", "cell"),
          (s"${name}_codes", if (hasIvf && hasPq) idCol else "cell"))
      }
    val targets = keyByTable.filter { case (t, _) =>
      spark.catalog.tableExists(t) ||
        // orphaned swap: the previous compaction crashed after DROP —
        // the rows live only in the scratch table; keep it a target so
        // the recovery branch below republishes it
        spark.catalog.tableExists(graft.core.SwapTable.scratch(t))
    }
    require(targets.nonEmpty,
      s"index '$name' has no data tables (_buckets/_lists/_codes)")
    targets.map { case (table, key) =>
      if (graft.core.SwapTable.recover(spark, table)) {
        // no recompaction: the scratch held the complete compacted rows
        val n = parquetFileCount(spark, table)
        TableCompaction(table, n, n)
      } else {
        val before = parquetFileCount(spark, table)
        // The source is the table's files read as RAW parquet, not
        // the catalog table: a catalog scan CLAIMS the bucketed
        // HashPartitioning (so the optimizer deletes this repartition
        // as redundant) while auto-bucketed-scan simultaneously
        // un-buckets the actual read — each task then holds several
        // bucket ids and the bucketed writer fans out to task×bucket
        // files instead of `buckets`. The raw read claims nothing, the
        // exchange stays, and its hash-mod law matches the writer's
        // bucket-id law, so each task lands exactly one file.
        val raw = graft.core.Parquet.read(spark,
          s"${spark.conf.get("spark.sql.warehouse.dir")}/$table")
        graft.core.SwapTable.publish(
          raw.repartition(buckets, col(key)), table, key, buckets)
        TableCompaction(table, before, parquetFileCount(spark, table))
      }
    }
  }

  private def parquetFileCount(spark: org.apache.spark.sql.SparkSession,
                               table: String): Long = {
    val loc = new org.apache.hadoop.fs.Path(
      s"${spark.conf.get("spark.sql.warehouse.dir")}/$table")
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(loc)) 0L
    else fs.listStatus(loc)
      .count(f => f.isFile && f.getPath.getName.endsWith(".parquet")).toLong
  }

  /** Embedding-cosine near-duplicate pairs (dedup family): same-bucket
    * candidate pairs (unioned over hash tables) with cosine ≥ threshold
    * — bucket equi-joins, no all-pairs product.
    *
    * HOT-BUCKET-GUARDED like [[graft.ext.Dedup.nearDupPairsFromFeatures]]:
    * bit-identical vectors collapse to their min-id representative
    * BEFORE bucketing (m exact copies put ONE row in each bucket, not m
    * rows and m²/2 in-task pairs), any bucket still wider than
    * `maxBucket` DISTINCT vectors is excluded and disclosed (WARN), and
    * rep pairs expand back to member pairs afterwards — identical
    * vectors give bit-identical cosines, so output matches the unguarded
    * join row-for-row whenever no representative bucket overflows.
    * Candidate generation and dedup stay on BARE id pairs (16 bytes/row
    * through the shuffles); vectors re-attach after the distinct cut.
    */
  def embeddingNearDups(corpus: DataFrame, threshold: Double, planes: Int,
                        dims: Int, tables: Int = 8,
                        maxBucket: Int = graft.ext.Dedup.DefaultMaxBucketWidth): DataFrame = {
    // exact-collapse: one window keyed by the raw vector bits (null
    // vectors never bucketed — same as the unguarded posexplode drop)
    val grouped = corpus.filter(col("embedding").isNotNull)
      .select(col("vec_id"), col("embedding"))
      .withColumn("rep", min(col("vec_id")).over(Window.partitionBy(col("embedding"))))
      .pin()
    val reps = grouped.filter(col("vec_id") === col("rep"))
    // bucket representatives ONCE (single fused LshBuckets evaluation in
    // the checkpoint job), with bucket width attached in the same pass:
    // the overflow disclosure and the capped join both read the
    // materialized bare (tbl, bucket, id, width) rows
    val bucketRows = lshTableBuckets(reps, tables, planes, dims, "embedding")
      .select(col("tbl"), col("bucket"), col("vec_id"))
      .withColumn("__w", count(lit(1)).over(Window.partitionBy("tbl", "bucket")))
      .pin()
    val capped = bucketRows.filter(col("__w") <= maxBucket).drop("__w")
    val l = capped.select(col("tbl"), col("bucket"), col("vec_id").as("id_a"))
    val r = capped.select(col("tbl"), col("bucket"), col("vec_id").as("id_b"))
    val candidates = l.join(r, Seq("tbl", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val va = reps.select(col("vec_id").as("id_a"), col("embedding").as("va"))
    val vb = reps.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
    val repPairs = candidates.join(va, "id_a").join(vb, "id_b")
      .withColumn("cos", round(cosine(col("va"), col("vb")), 6))
      .filter(col("cos") >= threshold)
      .select(col("id_a").as("ra"), col("id_b").as("rb"), col("cos"))
    // expansion: cross-group member pairs inherit the rep pair's cosine
    // (bit-identical vectors), intra-group pairs score the rep against
    // itself through the SAME expression the unguarded join would run
    val ga = grouped.select(col("vec_id").as("a"), col("rep").as("ra"))
    val gb = grouped.select(col("vec_id").as("b"), col("rep").as("rb"))
    val cross = repPairs.join(ga, "ra").join(gb, "rb")
      .select(least(col("a"), col("b")).as("id_a"),
        greatest(col("a"), col("b")).as("id_b"), col("cos"))
    val selfCos = reps
      .withColumn("cos", round(cosine(col("embedding"), col("embedding")), 6))
      .filter(col("cos") >= threshold)
      .select(col("rep").as("r0"), col("cos"))
    val ma = grouped.select(col("vec_id").as("a"), col("rep").as("r0"))
    val mb = grouped.select(col("vec_id").as("b"), col("rep").as("r0"))
    val intra = ma.join(mb, "r0").filter(col("a") < col("b")).join(selfCos, "r0")
      .select(col("a").as("id_a"), col("b").as("id_b"), col("cos"))
    Overlap.disclosing("embeddingNearDups",
      s"LSH bucket(s) wider than $maxBucket DISTINCT vectors excluded from " +
        "candidate generation (recall loss, not a failure)",
      bucketRows.filter(col("__w") > maxBucket)
        .select(col("tbl"), col("bucket"), col("__w").as("n")).distinct()
    )(cross.union(intra))
  }

  /** The embedding-LSH recall audit — third member of the
    * candidate-generation audit family ([[graft.ext.Dedup.lshRecallAudit]]
    * for MinHash banding, [[graft.ext.Dedup.simhashRecallAudit]] for the
    * Hamming ball): on a deterministic key-hash sample, the production
    * (tables, planes, dims, maxBucket) random-hyperplane config's
    * member pairs vs EXACT all-pairs cosine ground truth at
    * `threshold`. Recall says what the hyperplane tables + hot-bucket
    * cap MISS at this similarity cut (the number LSH-table/plane tuning
    * otherwise guesses at); precision what the buckets admit below it.
    *
    * Candidates are [[embeddingNearDups]] run at threshold −1 — every
    * bucket-cohabitant member pair through the EXACT production plan
    * (collapse, cap, expansion), then split by the real threshold for
    * the verified count. Ground truth is the one O(s²) relation in the
    * engine, DISCLOSED and sample-bounded: dense vectors admit no
    * sparse inverted index, so the audit's honesty comes from the
    * sample cut. A FRACTION alone grows linearly with the corpus (and
    * the truth join quadratically), so the sample is additionally
    * capped at `maxSample` vectors by ABSOLUTE count — the
    * deterministic ascending-(fingerprint, id) prefix
    * ([[graft.ext.Sampling.stratifiedTake]]'s order law, so the kept
    * set is engine-reproducible and independent of partitioning) —
    * bounding truth work at maxSample²/2 cosines no matter the corpus
    * (default 4096 → ≤ 8.4M). The cap engaging is WARN-disclosed and
    * visible in the report row (`n_sampled` == maxSample).
    *
    * Zero-norm vectors are excluded from the sample up front: they
    * have no cosine to anything (0/0), so neither truth nor candidate
    * side could ever pair them — excluding them keeps the two sides'
    * null conventions identical instead of leaking a Spark-side
    * cos-cut asymmetry. One row out, the audit family's columns.
    */
  def embeddingRecallAudit(emb: DataFrame, sampleFraction: Double = 0.25,
                           threshold: Double = 0.25, planes: Int = 7,
                           dims: Int = 64, tables: Int = 8,
                           maxBucket: Int = graft.ext.Dedup.DefaultMaxBucketWidth,
                           maxSample: Int = 4096): DataFrame =
    embeddingRecallGrid(emb, Seq((tables, planes)), sampleFraction,
      threshold, dims, maxBucket, maxSample)
      .drop("tables", "planes")

  /** The CONFIG GRID over [[embeddingRecallAudit]] — the
    * [[graft.ext.Dedup.lshRecallGrid]] posture for hyperplane LSH: all
    * `(tables, planes)` configs share ONE capped deterministic sample
    * and ONE exact all-pairs ground truth (the O(maxSample²) relation
    * is priced ONCE for the whole sweep — the entire point of a grid
    * over separate audits); only the bucket join re-runs per config.
    * The default grid sweeps both axes around the production (8, 7):
    * more tables → more chances to collide → recall up, precision
    * down; more planes → finer buckets → recall down, precision up.
    * Output: one audit row per config, keyed by (tables, planes).
    */
  def embeddingRecallGrid(emb: DataFrame,
                          configs: Seq[(Int, Int)] =
                            Seq((4, 7), (8, 7), (8, 9)),
                          sampleFraction: Double = 0.25,
                          threshold: Double = 0.25, dims: Int = 64,
                          maxBucket: Int = graft.ext.Dedup.DefaultMaxBucketWidth,
                          maxSample: Int = 4096): DataFrame = {
    require(configs.nonEmpty, "embeddingRecallGrid needs at least one config")
    require(configs.distinct.size == configs.size,
      s"duplicate configs in $configs")
    require(threshold >= -1.0 && threshold <= 1.0,
      s"threshold must be a cosine in [-1, 1], got $threshold")
    require(maxSample >= 2, s"maxSample must be >= 2, got $maxSample")
    val frac = graft.ext.Sampling.sampleByKey(
      emb.filter(col("embedding").isNotNull &&
          size(filter(col("embedding"), x => x =!= lit(0.0f))) > 0)
        .select(col("vec_id"), col("embedding")),
      col("vec_id"), sampleFraction)
    val nFrac = frac.count()
    if (nFrac > maxSample)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"embeddingRecallGrid: fraction sample has $nFrac vectors > " +
          s"maxSample=$maxSample — keeping the deterministic ascending-" +
          "fingerprint prefix (truth join stays maxSample^2/2-bounded)")
    val samp = frac
      .orderBy(graft.functions.polyFingerprint(col("vec_id").cast("string")),
        col("vec_id"))
      .limit(maxSample)
      .pin()
    val a = samp.select(col("vec_id").as("id_a"), col("embedding").as("va"))
    val b = samp.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
    val truth = a.join(b, col("id_a") < col("id_b"))
      .filter(round(cosine(col("va"), col("vb")), 6) >= threshold)
      .select("id_a", "id_b").pin()
    configs.map { case (tables, planes) =>
      val cands = embeddingNearDups(samp, -1.0, planes, dims, tables, maxBucket)
        .pin()
      val verified = cands.filter(col("cos") >= threshold)
      val hits = truth.join(cands, Seq("id_a", "id_b"), "left_semi")
      samp.agg(count(lit(1)).as("n_sampled"))
        .crossJoin(truth.agg(count(lit(1)).as("n_truth_pairs")))
        .crossJoin(cands.agg(count(lit(1)).as("n_candidates")))
        .crossJoin(verified.agg(count(lit(1)).as("n_verified")))
        .crossJoin(hits.agg(count(lit(1)).as("n_hits")))
        .select(lit(tables.toLong).as("tables"),
          lit(planes.toLong).as("planes"),
          col("n_sampled"), col("n_truth_pairs"), col("n_candidates"),
          col("n_verified"), col("n_hits"),
          when(col("n_truth_pairs") > 0L,
            expr("(n_hits * 10000) div n_truth_pairs")).as("recall_x10000"),
          when(col("n_candidates") > 0L,
            expr("(n_verified * 10000) div n_candidates"))
            .as("precision_x10000"))
    }.reduce(_ unionByName _)
  }

  // ── SemDeDup: cluster-then-cosine semantic dedup ───────────────────

  /** Cap on vectors per k-means cell in [[semDedupPairs]]: a capped
    * cell computes at most cap²/2 in-task pairs (~8M cosines — seconds
    * of work). SemDeDup's contract is that `centroids` is sized so
    * cells hold ~10³–10⁴ vectors; a cell past this cap means the
    * clustering is too coarse for the corpus and is excluded +
    * disclosed rather than allowed to go quadratic.
    */
  val DefaultMaxCellWidth: Int = 4096

  /** SemDeDup-style semantic near-dup PAIRS (cluster-then-threshold:
    * k-means partitions the embedding space, exact cosine runs only
    * WITHIN each cell — the pruning idea of SemDeDup, Abbas et al.
    * 2023, arXiv:2303.09540): (id_a, id_b, cos) for every same-cell
    * pair with `round(cos, 6) >= threshold`, id_a < id_b. Differs from
    * [[embeddingNearDups]] (LSH-bucketed, favors high thresholds) in
    * recall shape: a cell is a coarse Voronoi region, so moderate-
    * similarity pairs that LSH tables would scatter still meet — at
    * the cost of missing pairs straddling a cell boundary (the
    * SemDeDup trade; raise `centroids` to tighten cells).
    *
    * Scale shape: reuses the IVF trainer ([[trainCentroids]] — seeds,
    * one Lloyd step, broadcast assignment); the assignment is
    * checkpointed once (disclosure probe + both self-join sides read
    * it); per-cell widths partial-aggregate to ≤ `centroids` rows and
    * broadcast back; the within-cell self-join shuffles on the cell
    * key, so pair work is Σ w_c²/2 bounded by [[DefaultMaxCellWidth]]
    * — never a corpus cross-join.
    */
  def semDedupPairs(corpus: DataFrame, threshold: Double,
                    maxCell: Int = DefaultMaxCellWidth): DataFrame = {
    require(maxCell >= 2, s"maxCell must be >= 2, got $maxCell")
    val vecs = corpus.filter(col("embedding").isNotNull)
    val cents = trainCentroids(vecs, 16)
    val assigned = assignCells(vecs, cents).pin()
    val widths = assigned.groupBy("cell").agg(count(lit(1)).as("n"))
    val capped = assigned.join(
      broadcast(widths.filter(col("n") <= maxCell).select("cell")), "cell")
    val a = capped.select(col("cell"), col("vec_id").as("id_a"),
      col("embedding").as("__va"))
    val b = capped.select(col("cell"), col("vec_id").as("id_b"),
      col("embedding").as("__vb"))
    Overlap.disclosing("semDedupPairs",
      s"cell(s) wider than $maxCell vectors excluded from pair generation " +
        "(recall loss, not a failure — raise `centroids`)",
      widths.filter(col("n") > maxCell)) {
      a.join(b, "cell").filter(col("id_a") < col("id_b"))
        .withColumn("cos", round(cosine(col("__va"), col("__vb")), 6))
        .filter(col("cos") >= threshold)
        .select(col("id_a"), col("id_b"), col("cos"))
    }
  }

  /** Connected-component labels over the [[semDedupPairs]] graph —
    * (idCol, cluster_id), every input id labeled (untouched vectors
    * are their own singleton cluster), via the same min-label
    * propagation as the MinHash dedup path; feed to
    * [[graft.ext.Dedup.keepList]] for the keep-one-representative
    * artifact SemDeDup prescribes.
    */
  def semDedupClusters(corpus: DataFrame, threshold: Double): DataFrame =
    graft.ext.Dedup.clusterLabels(
      corpus.select(col("vec_id").as("id")),
      semDedupPairs(corpus, threshold, DefaultMaxCellWidth)
        .select(col("id_a").as("src"), col("id_b").as("dst")),
      50, false)
      .select(col("id").as("vec_id"), col("cluster_id"))

  /** Cluster-stratified DIVERSITY sampling — a small subset that COVERS
    * the embedding space instead of mirroring its density (the
    * cluster-balanced selection step of SemDeDup/D4-style pipelines: a
    * head-heavy corpus sampled uniformly re-creates the head; sampling
    * an EQUAL quota per k-means cell keeps the tail represented). Cells
    * come from the same deterministic [[trainCentroids]] quantizer the
    * IVF family uses; within each cell the quota is the
    * [[graft.ext.Sampling.stratifiedTake]] law (ascending
    * polyhash(id) — uniform-without-RNG, stable across runs, engines
    * and partitionings). Output: (idCol, cell, rank); null-vector rows
    * are dropped (they belong to no cell).
    *
    * Scale shape: one broadcast-centroid assignment pass over the
    * corpus (the IVF assignment shape), then the bounded-heap
    * TopKPerKey cut — the exchange carries O(centroids · n) rows,
    * never a per-cell corpus sort.
    */
  def diversitySample(corpus: DataFrame, n: Int, centroids: Int = 16): DataFrame = {
    require(n > 0, s"n must be positive, got $n")
    require(centroids > 0, s"centroids must be positive, got $centroids")
    val vecs = corpus.filter(col("embedding").isNotNull)
    val cents = trainCentroids(vecs, centroids)
    val assigned = assignCells(vecs, cents)
      .select(col("vec_id"), col("cell"))
    graft.ext.Sampling.stratifiedTake(assigned, "cell", "vec_id", n)
  }

  /** Embedding-space HEALTH report — one row of the numbers an index
    * owner checks before trusting a new embedding drop: vector count,
    * null-vector count, zero-norm count (cosine-undefined — they break
    * similarity silently), and the p50/p90 of the quantized squared
    * norm (round(‖v‖²·1e6), the cross-engine fixed-point law) via the
    * histogram percentile formulation — no corpus sort. The dot fold
    * is the [[cosineHof]] fold order, so both engines quantize the
    * same doubles.
    */
  def normReport(corpus: DataFrame): DataFrame = {
    def dotSelf(x: Column): Column =
      aggregate(zip_with(x, x, (p, q) => p.cast("double") * q.cast("double")),
        lit(0.0), (acc, v) => acc + v)
    val n2 = when(col("embedding").isNull, lit(null))
      .otherwise(round(dotSelf(col("embedding")) * 1e6, 0).cast("long"))
    val base = corpus.select(n2.as("__nr_n2")).pin()
    val stats = base.agg(
      count(lit(1)).as("n_vecs"),
      sum(when(col("__nr_n2").isNull, 1L).otherwise(0L)).as("n_null"),
      sum(when(col("__nr_n2") === 0L, 1L).otherwise(0L)).as("n_zero"))
    val pct = graft.ext.Curation.groupPercentiles(
        base.filter(col("__nr_n2").isNotNull).withColumn("__nr_g", lit(1)),
        "__nr_g", "__nr_n2", Seq(50, 90))
      .select(col("p50").as("p50_norm2_x1e6"), col("p90").as("p90_norm2_x1e6"))
    stats.crossJoin(broadcast(pct))
  }

  /** ANN quality report — recall@k of the LSH search against exact
    * brute force, per query: the number every index deployment watches
    * (a recall drop is how you notice the planes stopped fitting the
    * data). Output: (query_id, n_exact, n_hit, recall_x100). Both
    * sides are the existing audited searches; the comparison is a
    * |Q|·k-bounded semi-join — this report costs one extra exact
    * search over the bounded query set, nothing corpus-shaped.
    */
  def annRecallReport(corpus: DataFrame, queryIds: Seq[Long], k: Int): DataFrame = {
    val ann = annTopK(corpus, queryIds, k, 4, 64)
      .select("query_id", "neighbor_id")
    recallAgainstExact(ann, corpus, queryIds, k, "vec_id", "embedding")
  }

  /** Shared recall tail for the ANN recall reports: exact top-k over
    * the bounded query set, semi-join the ANN result against it,
    * per-query hit/exact counts and the integer recall ratio.
    */
  private def recallAgainstExact(ann: DataFrame, corpus: DataFrame,
                                 queryIds: Seq[Long], k: Int,
                                 idCol: String, vecCol: String): DataFrame = {
    val exact = topKByIds(corpus, queryIds, k, idCol, vecCol)
      .select("query_id", "neighbor_id")
    val hits = exact.join(ann, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
    exact.groupBy("query_id").agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("query_id"), "left_outer")
      .select(col("query_id"), col("n_exact"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        expr("coalesce(n_hit, 0) * 100 div n_exact").as("recall_x100"))
  }

  /** [[annRecallReport]] for the MULTI-PROBE search — the recall side
    * of the probe-budget trade (multi-probe candidates strictly
    * contain single-probe's, so its recall can only rise; this report
    * puts the actual number next to it).
    */
  def annRecallReportMultiProbe(corpus: DataFrame, queryIds: Seq[Long],
                                k: Int): DataFrame = {
    val ann = annTopKMultiProbe(corpus, queryIds, k, 4, 64, probeBits = 1)
      .select("query_id", "neighbor_id")
    recallAgainstExact(ann, corpus, queryIds, k, "vec_id", "embedding")
  }

  // ── Embedding classifiers (Rocchio nearest-centroid, IVF kNN) ──────

  /** Per-label prototype vectors (Rocchio/nearest-centroid training):
    * the element-wise mean embedding of each label's training vectors.
    * Same ORDER-INDEPENDENT quantized-integer mean as
    * [[trainCentroids]]' Lloyd update — each coordinate rounds to
    * round(x·1e6) (exact in a Long), sums exactly under any partition
    * order, and divides back as one IEEE double division — so the
    * DuckDB oracle reproduces every centroid bit-for-bit. Output:
    * (labelCol, cvec: array<double>).
    *
    * Scale shape: one (label, dim) partial-agg shuffle — the exchange
    * carries at most |labels|·dims rows after map-side combine, never
    * the corpus.
    */
  def labelCentroids(labeled: DataFrame): DataFrame =
    labeled
      .filter(col("embedding").isNotNull)
      .select(col("label"), posexplode(col("embedding")).as(Seq("d", "x")))
      .select(col("label"), col("d"),
        round(col("x").cast("double") * 1e6, 0).cast("long").as("q"))
      .groupBy("label", "d")
      .agg(sum("q").as("sq"), count(lit(1)).as("n"))
      .select(col("label"), col("d"),
        (col("sq").cast("double") / (col("n").cast("double") * 1e6)).as("c"))
      .groupBy("label")
      .agg(transform(array_sort(collect_list(struct(col("d"), col("c")))),
        s => s.getField("c")).as("cvec"))

  /** Nearest-centroid (Rocchio) classification: every query vector gets
    * the label of its most-cosine-similar class prototype, label-id
    * tiebreak. Output: (idCol, pred_label, cos) — cos rounded to 6
    * places, the cross-engine comparison contract. Queries with a NULL
    * embedding are DROPPED (no prediction row — a null vector has no
    * cosine against anything); the oracle mirrors the drop with an
    * `embedding IS NOT NULL` predicate on the query side.
    *
    * Scale shape: the |labels|-row centroid table is broadcast; the
    * corpus streams through one scored map stage and the bounded-heap
    * TopKPerKey top-1 cut — no corpus-side sort, no all-pairs.
    */
  def classifyRocchio(queries: DataFrame, labeled: DataFrame): DataFrame = {
    val cents = labelCentroids(labeled)
    val scored = queries
      .filter(col("embedding").isNotNull)
      .select(col("vec_id").as("query_id"), col("embedding"))
      .join(broadcast(cents))
      .select(col("query_id"), col("label").as("__cand"),
        cosine(col("embedding"), col("cvec")).as("cos"))
    topKOperator(scored, 1, "__cand")
      .select(col("query_id").as("vec_id"), col("__cand").as("pred_label"),
        round(col("cos"), 6).as("cos"))
  }

  /** Bulk kNN classification over the IVF probe path: each query probes
    * its nProbe nearest coarse cells (quantizer = [[trainCentroids]] on
    * the TRAINING split only), exact-reranks within the probed inverted
    * lists, and takes the majority label of its k nearest training
    * neighbours (vote-count tiebreak: lowest label wins). Output:
    * (idCol, pred_label, votes). Null-embedding queries are DROPPED
    * (same contract as [[classifyRocchio]], mirrored in the oracle).
    *
    * Scale shape — deliberately DIFFERENT from [[searchAssigned]]:
    * there the query set is bounded and the probe table broadcasts;
    * here the query side is corpus-scale (classify-everything), so
    * candidates come from a PLAIN cell equi-join (one shuffle keyed on
    * cell, AQE-skew-splittable), then the bounded-heap TopKPerKey cut
    * and a |Q|·k-row label join. Broadcasting corpus-scale probes
    * would be the 100 TB scale-killer this variant exists to avoid.
    */
  def knnClassify(train: DataFrame, queries: DataFrame, k: Int = 10,
                  centroids: Int = 16): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val trainVecs = train.filter(col("embedding").isNotNull)
    val cents = trainCentroids(trainVecs, centroids)
    val assigned = assignCells(trainVecs, cents)
    val probeScored = queries
      .filter(col("embedding").isNotNull)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      .join(broadcast(cents))
      .select(col("query_id"), col("query_vec"), col("cell").as("__cand"),
        cosine(col("query_vec"), col("cvec")).as("cos"))
    val probes = topKOperator(probeScored, 4, "__cand")
      .select(col("query_id"), col("query_vec"), col("__cand").as("cell"))
    val scored = assigned
      .join(probes, Seq("cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(cosine(col("query_vec"), col("embedding")), 6).as("cos"))
    val neighbors = rankTopK(scored, k, "cos")
    val labels = trainVecs
      .select(col("vec_id").as("neighbor_id"), col("label").as("__cand"))
    val votes = neighbors.join(labels, "neighbor_id")
      .groupBy(col("query_id"), col("__cand"))
      .agg(count(lit(1)).as("votes"))
    topKOperator(votes, 1, "__cand", sortCol = "votes")
      .select(col("query_id").as("vec_id"), col("__cand").as("pred_label"),
        col("votes"))
  }
}
