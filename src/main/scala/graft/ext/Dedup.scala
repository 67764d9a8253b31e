package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Overlap
import graft.core.Pin._
import graft.functions.{PolyFold, polyFingerprint, polyFingerprint64}

/** Deduplication family for training-data pipelines: exact, MinHash+LSH
  * near-dup, SimHash, and n-gram Jaccard — designed for the 100 TB
  * posture:
  *
  *  - candidate generation is LSH-banded (shingle → minhash → band →
  *    bucket equi-join): the only shuffle is on band keys, candidate
  *    pairs are O(collisions), never the O(n²) all-pairs cross join;
  *  - exact-Jaccard verification runs only on candidate pairs;
  *  - every hash is integer arithmetic on PolyHash (codegen'd Catalyst
  *    expression) so the DuckDB oracle reproduces signatures exactly;
  *  - HOT-BUCKET GUARD: exact duplicates collapse to one representative
  *    BEFORE banding (m identical copies contribute one band row, not m
  *    rows and m²/2 in-task pairs — the dup-heavy corpus a dedup
  *    pipeline exists for is exactly the one that would otherwise put a
  *    skew cliff inside its own candidate join), and any band bucket
  *    still wider than [[DefaultMaxBucketWidth]] distinct documents is
  *    excluded from candidate generation and DISCLOSED (an
  *    [[graft.core.Overlap.Disclosure]] record, joined before the
  *    operator returns; [[bandOverflow]] is the same relation on
  *    demand), so pathological spam degrades recall visibly instead of
  *    OOMing a task.
  */
object Dedup {

  /** Cap on DISTINCT documents per (band, bandKey) after exact-collapse:
    * a capped bucket emits at most cap²/2 in-task candidate pairs. Keys
    * wider than this (near-identical-but-distinct spam) are excluded
    * from candidate generation and disclosed.
    */
  val DefaultMaxBucketWidth: Int = 256

  /** MinHash permutation constants (a·h + b mod P). Fixed primes —
    * deterministic across engines and runs.
    */
  val Perms: Seq[(Long, Long)] = Seq(
    (1299721L, 7L), (15485863L, 131071L), (32452843L, 524287L),
    (49979687L, 6700417L), (67867967L, 999999937L), (86028121L, 998244353L),
    (104395301L, 1000000007L), (122949823L, 1610612741L))

  /** The near-dup layout: word `ShingleN`-gram shingles, `NumBands`
    * bands of `RowsPerBand` signature rows. Constants, not parameters:
    * the ingest gate's store persists band keys of this layout, and a
    * reader banding otherwise would silently match none of them. Only
    * [[lshRecallGrid]] sweeps other band shapes.
    */
  val ShingleN: Int = 3
  val NumBands: Int = 4
  val RowsPerBand: Int = 2
  require(NumBands * RowsPerBand == Perms.length, "layout must tile Perms")

  /** Word n-gram shingles (n consecutive words joined by a space). */
  def shingles(text: Column, n: Int): Column = {
    val ws = split(text, " ")
    when(size(ws) >= n,
      transform(sequence(lit(0), size(ws) - n),
        i => concat_ws(" ", (0 until n).map(j => element_at(ws, i + j + 1)): _*)))
      .otherwise(array(text)) // short doc: the whole text is the shingle
  }

  /** Distinct shingle hash set — the document's Jaccard feature set.
    * Native single-pass expression (graft.functions.ShingleHashes);
    * [[shingleHashesHof]] is the declarative spec it is tested against.
    */
  def shingleHashes(text: Column, n: Int = 3): Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.functions.ShingleHashes(
        org.apache.spark.sql.graft.Bridge.expression(text), n))

  /** The higher-order-function formulation — semantically identical but
    * interpreted per row (~1 ms/doc); kept as the executable spec. The
    * isNotNull guard pins null-text → null, matching the native
    * expression (the bare when/otherwise chain would yield [null]).
    */
  def shingleHashesHof(text: Column, n: Int = 3): Column =
    when(text.isNotNull,
      array_distinct(transform(shingles(text, n), s => polyFingerprint(s))))
      .otherwise(lit(null))

  /** MinHash signature: per permutation, min over the hash set — one
    * fused native pass (graft.functions.MinHashSig); the HOF spec below
    * is what it is tested bitwise against.
    */
  def minhashSignature(hashes: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.functions.MinHashSig(
        org.apache.spark.sql.graft.Bridge.expression(hashes), Perms))

  /** Declarative spec of [[minhashSignature]] (interpreted per row). */
  def minhashSignatureHof(hashes: Column): Column =
    array(Perms.map { case (a, b) =>
      coalesce(array_min(transform(hashes,
          h => (lit(a) * h + lit(b)) % lit(PolyFold.P31))),
        lit(PolyFold.P31))
    }: _*)

  /** SimHash (bits-wide): majority vote per bit position over the hash
    * set — near-identical docs land at small Hamming distance. One
    * fused native pass (graft.functions.SimHash); [[simhashHof]] is the
    * executable spec it is tested bitwise against.
    */
  def simhash(hashes: Column, bits: Int = 16): Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.functions.SimHash(
        org.apache.spark.sql.graft.Bridge.expression(hashes), bits))

  /** Declarative spec of [[simhash]] — `bits` interpreted filter/size
    * passes per row (the round-2 shape).
    */
  def simhashHof(hashes: Column, bits: Int = 16): Column =
    (0 until bits).map { b =>
      val ones = size(filter(hashes, h => shiftright(h, b).bitwiseAND(1) === 1))
      when(ones * 2 >= size(hashes), lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Per-document dedup features over a corpus. */
  def features(docs: DataFrame, idCol: String = "doc_id",
               textCol: String = "text"): DataFrame =
    docs.select(col(idCol),
      shingleHashes(col(textCol), ShingleN).as("hashes"))
      .withColumn("sig", minhashSignature(col("hashes")))
      .withColumn("simhash", simhash(col("hashes")))

  /** LSH banding: signature → (band, bandKey) rows of the
    * [[NumBands]] × [[RowsPerBand]] layout. Docs sharing any band key
    * are near-dup candidates.
    */
  def bands(sigDf: DataFrame, idCol: String): DataFrame =
    bandsOf(sigDf, idCol, NumBands, RowsPerBand)

  /** [[bands]] by any (b, r) shape, for [[lshRecallGrid]]'s sweep. */
  private def bandsOf(sigDf: DataFrame, idCol: String, b: Int,
                      r: Int): DataFrame = {
    require(b * r == Perms.length,
      s"bands ($b) x rowsPerBand ($r) must equal the " +
        s"signature width (${Perms.length}); an out-of-range slice would " +
        "give every doc an empty band key and explode candidates to n^2")
    val bandStructs = array((0 until b).map { i =>
      struct(lit(i).as("band"),
        array_join(transform(slice(col("sig"), i * r + 1, r),
          _.cast("string")), "_").as("bkey"))
    }: _*)
    sigDf.select(col(idCol), explode(bandStructs).as("b"))
      .select(col(idCol), col("b.band"), col("b.bkey"))
  }

  /** Exact-duplicate collapse: feats plus a `rep` column — the minimum
    * id among documents with a BIT-IDENTICAL distinct shingle-hash set
    * (sig, bands, Jaccard all derive from `hashes`, so hash-set equality
    * is exactly the equivalence the LSH machinery observes). Null-hash
    * docs (null text) are their own representative — the unguarded join
    * never matched them either (null band keys). One hash-partitioned
    * window, no driver state.
    */
  def withExactReps(feats: DataFrame, idCol: String = "doc_id"): DataFrame =
    feats.withColumn("rep",
      when(col("hashes").isNull, col(idCol))
        .otherwise(min(col(idCol)).over(Window.partitionBy(col("hashes")))))

  /** Disclosed overflow: (band, bkey, n_docs) for every band bucket
    * wider than `maxBucket` rows of the given feature frame. Run it over
    * REPRESENTATIVES (post-collapse): non-empty means distinct-content
    * spam is saturating a bucket and those keys were excluded from
    * candidate generation — recall loss you can see, not an OOM.
    */
  def bandOverflow(feats: DataFrame, idCol: String = "doc_id",
                   maxBucket: Int = DefaultMaxBucketWidth): DataFrame =
    bands(feats, idCol)
      .filter(col("bkey").isNotNull)
      .groupBy("band", "bkey").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > maxBucket)

  /** Candidate pairs: equi-join on (band, bandKey) — a hash shuffle on
    * the band key, never an all-pairs product. Pairs are deduped and
    * canonically ordered (a < b). Buckets wider than `maxBucket` are
    * excluded (see [[bandOverflow]] for the disclosure side); the window
    * that measures width shuffles on the same (band, bkey) key the join
    * uses, so the cap adds no extra exchange on the hot path.
    */
  def lshCandidates(features: DataFrame, idCol: String = "doc_id",
                    maxBucket: Int = DefaultMaxBucketWidth): DataFrame =
    bucketPairs(withWidth(bands(features, idCol)), idCol, maxBucket)

  /** Non-null band rows plus their bucket's width `__w` (one window). */
  private def withWidth(banded: DataFrame): DataFrame =
    banded.filter(col("bkey").isNotNull)
      .withColumn("__w", count(lit(1)).over(Window.partitionBy("band", "bkey")))

  /** The capped (band, bkey) self-join over [[withWidth]] rows. */
  private def bucketPairs(widthed: DataFrame, idCol: String,
                          maxBucket: Int): DataFrame = {
    val capped = widthed.filter(col("__w") <= maxBucket).drop("__w")
    val l = capped.withColumnRenamed(idCol, "doc_a")
    val r = capped.withColumnRenamed(idCol, "doc_b")
    l.join(r, Seq("band", "bkey"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  /** Attach exact-Jaccard (inter, uni) to canonically-ordered candidate
    * pairs — THE single definition of the Jaccard arithmetic
    * (set-semantics intersection over distinct shingle hashes, union by
    * inclusion–exclusion), shared by the corpus-level pipeline and the
    * streaming ingest gate so the two can never diverge. `featsA` /
    * `featsB` expose (`idCol`, `hashes`).
    */
  def withJaccard(pairs: DataFrame, aCol: String, bCol: String,
                  featsA: DataFrame, featsB: DataFrame,
                  idCol: String = "doc_id"): DataFrame = {
    val ha = featsA.select(col(idCol).as(aCol), col("hashes").as("__ha"))
    val hb = featsB.select(col(idCol).as(bCol), col("hashes").as("__hb"))
    withJaccardCols(pairs.join(ha, aCol).join(hb, bCol))
  }

  /** The (inter, uni) arithmetic itself, over pre-attached `__ha` /
    * `__hb` hash-set columns — the core [[withJaccard]] delegates to,
    * for callers whose join shape already carries one side's hashes
    * (the ingest gate's band store does, to spare a second store scan).
    */
  def withJaccardCols(pairs: DataFrame): DataFrame =
    pairs
      .withColumn("inter", size(array_intersect(col("__ha"), col("__hb"))).cast("long"))
      .withColumn("uni", (size(col("__ha")) + size(col("__hb"))).cast("long") - col("inter"))
      .drop("__ha", "__hb")

  /** The Jaccard ≥ num/den cut over (inter, uni) columns as integer
    * cross-multiplication — no float ratio, replayed exactly by the
    * DuckDB oracle.
    */
  def jaccardAtLeast(num: Int, den: Int): Column =
    col("inter") * den >= col("uni") * num

  /** Representative-level pipeline core: exact-collapse (one window),
    * capped LSH candidates + exact-Jaccard verification over
    * REPRESENTATIVES only, plus eager overflow disclosure. Returns
    * (grouped, repPairs): `grouped` = feats + rep, pinned —
    * it feeds many plan branches (band self-join, hash re-attach, member
    * expansion) and Catalyst has no cross-branch subexpression reuse, so
    * one executor-local materialization beats re-running the window (and
    * any unmaterialized signature stage) per branch; `repPairs` =
    * (doc_a, doc_b, inter, uni) over rep ids, doc_a < doc_b.
    */
  private def repLevelPairs(feats: DataFrame, idCol: String,
                            maxBucket: Int): (DataFrame, DataFrame) = {
    val grouped = withExactReps(feats, idCol).pin()
    val repFeats = grouped.filter(col(idCol) === col("rep"))
    // band rows + bucket width in ONE window pass, materialized once:
    // the overflow disclosure and the capped self-join both read it
    val widthed = withWidth(bands(repFeats, idCol)).pin()
    val cands = bucketPairs(widthed, idCol, maxBucket)
    val repPairs = withJaccard(cands, "doc_a", "doc_b", repFeats, repFeats, idCol)
      .select("doc_a", "doc_b", "inter", "uni")
    Overlap.disclosing("lsh candidate generation",
      s"band bucket(s) wider than $maxBucket DISTINCT documents excluded " +
        "from candidate generation (recall loss, not a failure)",
      widthed.filter(col("__w") > maxBucket)
        .select(col("band"), col("bkey"), col("__w").as("n")).distinct()
    )((grouped, repPairs))
  }

  /** Exact n-gram Jaccard verification over candidate pairs, from
    * features (the output of [[features]]; pre-materialized frames skip
    * re-running the signature stage). HOT-BUCKET-GUARDED: candidates are
    * generated at representative level ([[withExactReps]] + capped
    * join), then rep pairs EXPAND back to member pairs — identical hash
    * sets mean identical (inter, uni) cross-group and inter = uni = |h|
    * within a group, so the output is row-for-row what the unguarded
    * join would produce whenever no REPRESENTATIVE bucket exceeds the
    * cap (exact duplicates can no longer widen one). NOTE: pair-level
    * output is inherently quadratic in group size on dup-heavy corpora
    * (m²/2 true pairs exist); the linear-output consumables are
    * [[nearDupClusters]] / [[keepList]] / [[dedupedCorpus]], which never
    * materialize intra-group pairs.
    */
  def nearDupPairsFromFeatures(feats: DataFrame, idCol: String = "doc_id",
                               maxBucket: Int = DefaultMaxBucketWidth): DataFrame = {
    val (grouped, repPairs) = repLevelPairs(feats, idCol, maxBucket)
    val rp = repPairs.select(col("doc_a").as("ra"), col("doc_b").as("rb"),
      col("inter"), col("uni"))
    val ga = grouped.select(col(idCol).as("a"), col("rep").as("ra"))
    val gb = grouped.select(col(idCol).as("b"), col("rep").as("rb"))
    val cross = rp.join(ga, "ra").join(gb, "rb")
      .select(least(col("a"), col("b")).as("doc_a"),
        greatest(col("a"), col("b")).as("doc_b"), col("inter"), col("uni"))
    val sz = grouped.filter(col(idCol) === col("rep"))
      .select(col("rep").as("r0"), size(col("hashes")).cast("long").as("h"))
    val ma = grouped.select(col(idCol).as("a"), col("rep").as("r0"))
    val mb = grouped.select(col(idCol).as("b"), col("rep").as("r0"))
    val intra = ma.join(mb, "r0").filter(col("a") < col("b")).join(sz, "r0")
      .select(col("a").as("doc_a"), col("b").as("doc_b"),
        col("h").as("inter"), col("h").as("uni"))
    cross.union(intra)
  }

  /** One-shot near-dup pipeline over raw documents. The signature stage
    * evaluates exactly ONCE per document: [[nearDupPairsFromFeatures]]
    * materializes the collapsed feature frame via an eager local
    * checkpoint (executor-local blocks, lineage truncated, released by
    * the ContextCleaner once unreferenced). At pipeline scale, write
    * [[features]] to a real table and call
    * [[nearDupPairsFromFeatures]] directly.
    */
  def nearDupPairs(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text",
                   maxBucket: Int = DefaultMaxBucketWidth): DataFrame =
    nearDupPairsFromFeatures(features(docs, idCol, textCol), idCol, maxBucket)

  /** LSH CONFIG RECALL AUDIT — the eval of the dedup configuration
    * itself: on a deterministic key-hash sample
    * ([[Sampling.sampleByKey]]'s shuffle-free law), compare the banding
    * layout's candidate pairs against EXACT ground truth and report
    *
    *   recall_x10000    = |truth ∩ candidates|·10⁴ div |truth|
    *   precision_x10000 = |candidates verified ≥ threshold|·10⁴ div |candidates|
    *
    * Ground truth = every sample pair sharing ≥ 1 shingle whose
    * sample-wide document frequency is ≤ `maxShingleDf` (the disclosed
    * df cut that keeps the inverted-index pair generation bounded —
    * the [[winnowOverlap]] posture: corpus-wide template shingles
    * can't explode the audit, and a true pair at J ≥ num/den shares
    * ~half its shingles, so losing only the template ones from the
    * INDEX almost never loses the pair), verified by exact integer
    * Jaccard at `jaccardNum/jaccardDen`. Candidates = the plain
    * [[lshCandidates]] of the fixed [[NumBands]] × [[RowsPerBand]]
    * layout — the one the ingest gate and the clustering run —
    * including its hot-bucket cap, whose recall cost is exactly what
    * this audit makes visible. One row out:
    * (n_sampled, n_truth_pairs, n_candidates, n_verified, n_hits,
    * recall_x10000, precision_x10000).
    *
    * Scale shape: everything downstream of the sample cut is
    * sample-sized — at 100 TB the audit runs on a 10⁻³ fraction and
    * stays a small job; the df-capped inverted index bounds pair
    * generation at Σ_shingle df² ≤ maxShingleDf · Σ df. Null-text docs
    * are excluded up front (they can never pair on either side).
    */
  def lshRecallAudit(docs: DataFrame, sampleFraction: Double = 0.25,
                     jaccardNum: Int = 1, jaccardDen: Int = 2,
                     idCol: String = "doc_id", textCol: String = "text",
                     maxBucket: Int = DefaultMaxBucketWidth,
                     maxShingleDf: Int = 200): DataFrame =
    lshRecallGrid(docs, Seq((NumBands, RowsPerBand)), sampleFraction,
      jaccardNum, jaccardDen, idCol, textCol, maxBucket, maxShingleDf)
      .drop("num_bands", "rows_per_band")

  /** The CONFIG GRID over [[lshRecallAudit]] — the sweep that answers
    * the question the single audit only scores: WHICH banding layout
    * to run. All configs share ONE deterministic sample, ONE
    * tokenize+shingle pass, and ONE df-capped exact ground truth (the
    * expensive artifacts — candidates per config are the cheap part),
    * so an s-vector sample prices a c-config sweep at truth + c band
    * joins, not c audits. The only entry point that bands any shape
    * but the fixed layout: each config goes through [[bandsOf]], which
    * requires it to tile the full [[Perms]]-wide signature (bands ×
    * rows == 8), so the default grid (8,1)/(4,2)/(2,4) sweeps the
    * recall/precision trade at constant signature cost: more bands of
    * fewer rows → match on ANY shorter key → recall monotonically up,
    * precision down (the S-curve law the oracle's ordered rows
    * exhibit). The (4,2) row is the layout production runs. Output: one
    * [[lshRecallAudit]] row per config, keyed by (num_bands,
    * rows_per_band).
    */
  def lshRecallGrid(docs: DataFrame,
                    configs: Seq[(Int, Int)] = Seq((8, 1), (4, 2), (2, 4)),
                    sampleFraction: Double = 0.25,
                    jaccardNum: Int = 1, jaccardDen: Int = 2,
                    idCol: String = "doc_id", textCol: String = "text",
                    maxBucket: Int = DefaultMaxBucketWidth,
                    maxShingleDf: Int = 200): DataFrame = {
    require(configs.nonEmpty, "lshRecallGrid needs at least one config")
    require(configs.distinct.size == configs.size,
      s"duplicate configs in $configs")
    require(jaccardDen >= 1 && jaccardNum >= 0 && jaccardNum <= jaccardDen,
      s"jaccard threshold must be 0 <= num <= den, got $jaccardNum/$jaccardDen")
    require(maxShingleDf >= 1,
      s"maxShingleDf must be >= 1, got $maxShingleDf")
    val samp = Sampling.sampleByKey(
      docs.filter(col(textCol).isNotNull), col(idCol), sampleFraction)
    // only the columns this audit consumes: hashes (truth + Jaccard)
    // and the MinHash sig (banding) — [[features]]' simhash column
    // would be computed and pinned for nothing here
    val feats = samp
      .select(col(idCol), shingleHashes(col(textCol), ShingleN).as("hashes"))
      .withColumn("sig", minhashSignature(col("hashes")))
      .pin()
    auditGrid("lshRecallGrid", feats, idCol, configs,
      ("num_bands", "rows_per_band"), jaccardNum, jaccardDen, maxShingleDf) {
      (b, r) => bucketPairs(withWidth(bandsOf(feats, idCol, b, r)), idCol,
        maxBucket)
    }
  }

  /** The SIMHASH analog of [[lshRecallAudit]] — the eval of the
    * Hamming-ball dedup CONFIG against the same exact-Jaccard ground
    * truth: the block-combination join finds every pair within
    * `maxHamming` by construction (modulo the disclosed bucket cap),
    * so what this audit measures is the SEMANTIC gap — how well
    * `bits`-wide signature proximity at the chosen radius tracks real
    * Jaccard similarity at `jaccardNum/jaccardDen` (simhash tuning is
    * otherwise blind: the radius is picked by folklore). Candidates =
    * [[simhashNearDups]] member pairs of the SAME (bits, blocks,
    * maxHamming, maxBucket) config the production run uses. One row
    * out, the [[lshRecallAudit]] columns; same sample-bounded scale
    * shape, same df-capped truth index.
    */
  def simhashRecallAudit(docs: DataFrame, sampleFraction: Double = 0.25,
                         jaccardNum: Int = 1, jaccardDen: Int = 2,
                         idCol: String = "doc_id", textCol: String = "text",
                         n: Int = 3, bits: Int = 60, blocks: Int = 6,
                         maxHamming: Int = 3,
                         maxBucket: Int = DefaultMaxBucketWidth,
                         maxShingleDf: Int = 200): DataFrame =
    simhashRecallGrid(docs, Seq((blocks, maxHamming)), sampleFraction,
      jaccardNum, jaccardDen, idCol, textCol, n, bits, maxBucket,
      maxShingleDf)
      .drop("blocks", "max_hamming")

  /** The CONFIG GRID over [[simhashRecallAudit]] — the
    * [[lshRecallGrid]] posture for the Hamming ball: all `(blocks,
    * maxHamming)` configs share ONE sample, ONE tokenize+shingle pass,
    * ONE `bits`-wide signature column and ONE df-capped exact ground
    * truth; only the block-combination join re-runs per config. The
    * default grid fixes blocks = 6 and sweeps the radius 1 → 3: a
    * wider ball admits strictly more signature pairs, so recall rises
    * monotonically and precision falls — the ordered rows that tell a
    * tuner where signature proximity stops tracking Jaccard. Output:
    * one audit row per config, keyed by (blocks, max_hamming).
    */
  def simhashRecallGrid(docs: DataFrame,
                        configs: Seq[(Int, Int)] = Seq((6, 1), (6, 2), (6, 3)),
                        sampleFraction: Double = 0.25,
                        jaccardNum: Int = 1, jaccardDen: Int = 2,
                        idCol: String = "doc_id", textCol: String = "text",
                        n: Int = 3, bits: Int = 60,
                        maxBucket: Int = DefaultMaxBucketWidth,
                        maxShingleDf: Int = 200): DataFrame = {
    require(configs.nonEmpty, "simhashRecallGrid needs at least one config")
    require(configs.distinct.size == configs.size,
      s"duplicate configs in $configs")
    require(jaccardDen >= 1 && jaccardNum >= 0 && jaccardNum <= jaccardDen,
      s"jaccard threshold must be 0 <= num <= den, got $jaccardNum/$jaccardDen")
    require(maxShingleDf >= 1,
      s"maxShingleDf must be >= 1, got $maxShingleDf")
    val samp = Sampling.sampleByKey(
      docs.filter(col(textCol).isNotNull), col(idCol), sampleFraction)
    // hashes ONLY: this audit's banding is the 60-bit simhash computed
    // below — [[features]]' MinHash sig and 16-bit simhash columns
    // would be computed and pinned for nothing
    val feats = samp
      .select(col(idCol), shingleHashes(col(textCol), n).as("hashes"))
      .pin()
    // the Hamming-0 collapse and the intra-group expansion are
    // radius-INDEPENDENT and run ONCE for the whole sweep; only the
    // block-combination join runs per config
    val grouped = hammingGrouped(feats
      .select(col(idCol), simhash(col("hashes"), bits).as("simhash")),
      idCol, "simhash")
    val intra = hammingIntraPairs(grouped, idCol).select("doc_a", "doc_b")
    auditGrid("simhashRecallGrid", feats, idCol, configs,
      ("blocks", "max_hamming"), jaccardNum, jaccardDen, maxShingleDf) {
      (blocks, maxHamming) =>
        hammingCrossPairs(grouped, idCol, bits, blocks, maxHamming, maxBucket)
          .select("doc_a", "doc_b").union(intra)
    }
  }

  /** The recall grids' sweep over pinned sample features: the truth
    * chain ([[sampledExactTruth]]) and each config's candidate pin are
    * INDEPENDENT until the report join, so their jobs overlap (guide
    * §2.6 posture: actions are only sequential because the driver calls
    * them sequentially; plan shapes are untouched). One
    * [[auditReport]] row per config, keyed by the two `keys` columns.
    */
  private def auditGrid(who: String, feats: DataFrame, idCol: String,
                        configs: Seq[(Int, Int)], keys: (String, String),
                        jaccardNum: Int, jaccardDen: Int, maxShingleDf: Int)
                       (cands: (Int, Int) => DataFrame): DataFrame = {
    val truth +: pinned = Overlap.all(
      (() => sampledExactTruth(feats, idCol, jaccardNum, jaccardDen,
        maxShingleDf, who)) +:
        configs.map { case (x, y) => () => cands(x, y).pin() })
    configs.zip(pinned).map { case ((x, y), c) =>
      auditReport(feats, truth, c, idCol, jaccardNum, jaccardDen)
        .select(lit(x.toLong).as(keys._1), lit(y.toLong).as(keys._2), col("*"))
    }.reduce(_ unionByName _)
  }

  /** Shared df-capped exact-Jaccard ground truth of the recall audits:
    * every sample pair sharing ≥ 1 shingle of document frequency
    * ≤ `maxShingleDf` (drop disclosed under `who`), verified
    * by exact integer Jaccard. Returns (doc_a, doc_b), pinned.
    */
  private def sampledExactTruth(feats: DataFrame, idCol: String,
                                jaccardNum: Int, jaccardDen: Int,
                                maxShingleDf: Int, who: String): DataFrame = {
    val ex = feats.select(col(idCol), explode(col("hashes")).as("__la_h"))
    // shingle document frequency via ONE partial-aggregated shuffle
    // (map-side combine ships (hash, count) rows, never the exploded
    // postings — the previous window-count formulation shuffled and
    // SORTED the full posting relation, then re-ran it on both sides
    // of a postings self-join)
    val hdf = ex.groupBy("__la_h").agg(count(lit(1)).as("__la_df"))
    // df-capped posting list per shingle (the cap is applied BEFORE
    // collect_list, so a boilerplate shingle's postings never
    // materialize in an aggregation buffer), then candidate pairs
    // GENERATED IN-TASK from each sorted list: all C(df, 2)
    // combinations with a < b, df ≤ maxShingleDf — the self-join this
    // replaces shuffled the postings twice more to build the same set
    val kept = ex.join(hdf.filter(col("__la_df") <= maxShingleDf)
      .select("__la_h"), "__la_h")
    val posting = kept.groupBy("__la_h")
      .agg(sort_array(collect_list(col(idCol))).as("__la_ids"))
    val ids = col("__la_ids")
    val truthCand = posting
      .filter(size(ids) >= 2)
      .select(explode(flatten(transform(ids, (a, i) =>
        transform(slice(ids, i + lit(2), size(ids) - i - lit(1)),
          b => struct(a.as("doc_a"), b.as("doc_b")))))).as("__la_p"))
      .select(col("__la_p.doc_a"), col("__la_p.doc_b"))
      .distinct()
    // the disclosure probe and the truth materialization are
    // independent — overlap their jobs (both recompute the cheap hdf
    // subtree off the pinned feats; a shared checkpoint would insert a
    // serial job barrier that costs more than the recompute)
    Overlap.disclosing(who,
      s"shingle(s) wider than $maxShingleDf sampled docs excluded from the " +
        "ground-truth index (truth pairs sharing ONLY those shingles are " +
        "not counted)",
      hdf.filter(col("__la_df") > maxShingleDf)
        .select(col("__la_h").as("h"), col("__la_df").as("df"))) {
      withJaccard(truthCand, "doc_a", "doc_b", feats, feats, idCol)
        .filter(jaccardAtLeast(jaccardNum, jaccardDen))
        .select("doc_a", "doc_b").pin()
    }
  }

  /** The audits' shared one-row readout over (sample features, truth
    * pairs, candidate pairs): counts + recall/precision ×10⁴.
    */
  private def auditReport(feats: DataFrame, truth: DataFrame,
                          cands: DataFrame, idCol: String,
                          jaccardNum: Int, jaccardDen: Int): DataFrame = {
    val verified = withJaccard(cands, "doc_a", "doc_b", feats, feats, idCol)
      .filter(jaccardAtLeast(jaccardNum, jaccardDen))
    val hits = truth.join(cands, Seq("doc_a", "doc_b"), "left_semi")
    feats.agg(count(lit(1)).as("n_sampled"))
      .crossJoin(truth.agg(count(lit(1)).as("n_truth_pairs")))
      .crossJoin(cands.agg(count(lit(1)).as("n_candidates")))
      .crossJoin(verified.agg(count(lit(1)).as("n_verified")))
      .crossJoin(hits.agg(count(lit(1)).as("n_hits")))
      .select(col("n_sampled"), col("n_truth_pairs"), col("n_candidates"),
        col("n_verified"), col("n_hits"),
        when(col("n_truth_pairs") > 0L,
          expr("(n_hits * 10000) div n_truth_pairs")).as("recall_x10000"),
        when(col("n_candidates") > 0L,
          expr("(n_verified * 10000) div n_candidates"))
          .as("precision_x10000"))
  }

  /** Asymmetric CONTAINMENT detection — quotes, boilerplate, a short
    * doc embedded in a long one: directed pairs where ≥ `num/den` of
    * the CONTAINED document's distinct shingle hashes also appear in
    * the container. Deliberately NOT built on the MinHash-LSH candidate
    * generation: Jaccard-tuned banding misses exactly the
    * high-containment / low-Jaccard pairs this exists for (a 15-word
    * quote inside a 500-word page has tiny Jaccard). Instead, an EXACT
    * inverted-index overlap join — explode distinct hashes, self-join
    * on the hash, count shared hashes per pair — with the quadratic
    * blowup bounded by the HOT-HASH guard: shingles appearing in more
    * than `maxDf` documents are dropped from the universe (WARN
    * disclosure, the dedup family's cap-and-disclose pattern; a
    * boilerplate shingle in every doc would otherwise put n²/2 pairs
    * through the join). Both `inter` and the per-doc size are counted
    * over the KEPT universe, so the ratio stays consistent; a document
    * whose every shingle is ultra-common drops out entirely
    * (disclosed, not silent). Integer cross-multiplied threshold — no
    * float ratio, replayed exactly by the DuckDB oracle.
    *
    * Output: (doc_id, container_id, inter, n_grams) — doc_id's
    * `n_grams` kept hashes overlap the container on `inter` of them.
    */
  def containmentPairs(docs: DataFrame, num: Int = 9, den: Int = 10,
                       idCol: String = "doc_id", textCol: String = "text",
                       n: Int = 3,
                       maxDf: Int = DefaultMaxBucketWidth): DataFrame = {
    require(num > 0 && den > 0 && num <= den,
      s"containment threshold must be a ratio in (0, 1], got $num/$den")
    require(maxDf >= 2, s"maxDf must be >= 2, got $maxDf")
    val feats = docs
      .select(col(idCol), shingleHashes(col(textCol), n).as("hashes"))
      .filter(col("hashes").isNotNull)
    val ex = feats.select(col(idCol), explode(col("hashes")).as("h"))
    // hash document-frequency, materialized once: the disclosure probe
    // and the universe cut both read it
    val hdf = ex.groupBy("h").agg(count(lit(1)).as("hdf")).pin()
    // materialized once: `sizes` and BOTH sides of the self-join below
    // read `kept` — without the checkpoint the corpus-wide shingle
    // explode + universe-cut join would be three separate plan subtrees
    // (up to three corpus scans in one action). The disclosure probe
    // runs next to this pin.
    val kept = Overlap.disclosing("containment",
      s"shingle hash(es) in more than $maxDf documents dropped from the " +
        "overlap universe (boilerplate guard; recall loss on pairs whose " +
        "overlap was only those shingles)",
      hdf.filter(col("hdf") > maxDf)) {
      ex.join(hdf.filter(col("hdf") <= maxDf).select("h"), "h")
        .pin()
    }
    val sizes = kept.groupBy(col(idCol))
      .agg(count(lit(1)).as("nh"))
    // shared-hash counts per pair GENERATED IN-TASK from each hash's
    // df-capped sorted posting list (≤ maxDf ids by the universe cut
    // above, so ≤ C(maxDf, 2) pairs per hash) — the self-join this
    // replaces shuffled the kept postings twice more to emit the same
    // multiset of pairs into the (doc_a, doc_b) count
    val posting = kept.groupBy(col("h"))
      .agg(sort_array(collect_list(col(idCol))).as("__ct_ids"))
    val cids = col("__ct_ids")
    val inter = posting
      .filter(size(cids) >= 2)
      .select(explode(flatten(transform(cids, (a, i) =>
        transform(slice(cids, i + lit(2), size(cids) - i - lit(1)),
          b => struct(a.as("doc_a"), b.as("doc_b")))))).as("__ct_p"))
      .select(col("__ct_p.doc_a"), col("__ct_p.doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    val j = inter
      .join(sizes.select(col(idCol).as("doc_a"), col("nh").as("nh_a")), "doc_a")
      .join(sizes.select(col(idCol).as("doc_b"), col("nh").as("nh_b")), "doc_b")
    val aInB = j.filter(col("inter") * den >= col("nh_a") * num)
      .select(col("doc_a").as(idCol), col("doc_b").as("container_id"),
        col("inter"), col("nh_a").as("n_grams"))
    val bInA = j.filter(col("inter") * den >= col("nh_b") * num)
      .select(col("doc_b").as(idCol), col("doc_a").as("container_id"),
        col("inter"), col("nh_b").as("n_grams"))
    aInB.union(bInA)
  }

  // ── SimHash Hamming-ball near-dup (Manku et al., WWW'07 §3) ────────

  /** Block-combination join plan for Hamming-distance candidate
    * generation: the signature is cut into `blocks` equal slices; a pair
    * within Hamming distance k differs in at most k slices, so it agrees
    * EXACTLY on at least `blocks − k` of them — and therefore shares at
    * least one of the C(blocks, blocks−k) combination keys. Joining on
    * every combination finds every qualifying pair with NO all-pairs
    * product, and the key width is (blocks−k) slices — e.g. 6 blocks of
    * 10 bits at k = 3 gives 20 join tables with 30-bit keys (≈10⁹ key
    * space), selective enough that buckets stay narrow at corpus scale,
    * where a naive (k+1)-band cut of the same signature would leave
    * 15-bit keys that saturate at billions of documents.
    */
  def simhashCombos(blocks: Int, agree: Int): Seq[Seq[Int]] =
    (0 until blocks).combinations(agree).map(_.toSeq).toSeq

  /** SimHash near-dup pairs: (doc_a, doc_b, hamming) for every pair of
    * documents whose `bits`-wide simhash signatures are within
    * `maxHamming` — the signature-level dedup family (cheap, one 64-bit
    * word per doc) complementing the exact-Jaccard MinHash path.
    *
    * 100 TB posture mirrors [[nearDupPairsFromFeatures]]:
    *
    *  - HAMMING-0 COLLAPSE: documents with BIT-IDENTICAL signatures
    *    (exact dups and signature collisions alike — Hamming distance to
    *    every third signature is identical by definition) collapse to a
    *    min-id representative before banding, so m copies contribute one
    *    band row, never m²/2 in-task pairs;
    *  - candidate generation is the [[simhashCombos]] block-combination
    *    equi-join over representatives — the only shuffles are the
    *    collapse window and the combo-key join, each O(collisions);
    *  - any combo bucket wider than `maxBucket` representatives is
    *    excluded and DISCLOSED (WARN), the same visible-recall-loss
    *    posture as the LSH guard;
    *  - verification is one `bit_count(xor)` per candidate pair;
    *  - rep pairs expand back to member pairs exactly (cross-group pairs
    *    inherit the rep pair's Hamming distance; intra-group pairs are
    *    Hamming 0). Null-text docs have null signatures and never pair.
    */
  def simhashNearDups(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text", n: Int = 3, bits: Int = 60,
                      blocks: Int = 6, maxHamming: Int = 3,
                      maxBucket: Int = DefaultMaxBucketWidth): DataFrame =
    hammingNearDups(
      docs.select(col(idCol),
        simhash(shingleHashes(col(textCol), n), bits).as("simhash")),
      idCol, "simhash", bits, blocks, maxHamming, maxBucket)

  /** Hamming-ball near-dup pairs over PRECOMPUTED integer signatures —
    * the [[simhashNearDups]] machinery (which delegates here) exposed
    * signature-level, so ANY `bits`-wide hash reuses the full guarded
    * plan: perceptual media dHash ([[Multimodal.nearDupMediaPairs]]),
    * an externally-computed simhash, a feature fingerprint. Signatures
    * may use all 64 bits (signed values are fine — slices are
    * mask-extracted, and XOR/bit_count are sign-agnostic); null
    * signatures never pair. Output: (doc_a, doc_b, hamming) member
    * pairs, ids ordered doc_a < doc_b.
    */
  def hammingNearDups(sigs: DataFrame, idCol: String = "doc_id",
                      sigCol: String = "simhash", bits: Int = 64,
                      blocks: Int = 8, maxHamming: Int = 3,
                      maxBucket: Int = DefaultMaxBucketWidth): DataFrame = {
    val grouped = hammingGrouped(sigs, idCol, sigCol)
    hammingCrossPairs(grouped, idCol, bits, blocks, maxHamming, maxBucket)
      .union(hammingIntraPairs(grouped, idCol))
  }

  /** The Hamming-0 collapse shared by every `(blocks, maxHamming)`
    * config over one signature column: sigs plus a `rep` — minimum id
    * among BIT-IDENTICAL signatures (null signatures are their own
    * rep). Pinned once; [[simhashRecallGrid]] reuses it across its
    * whole config sweep (the collapse and the intra-group expansion
    * are radius-independent).
    */
  private[graft] def hammingGrouped(sigs: DataFrame, idCol: String,
                                    sigCol: String): DataFrame =
    sigs.select(col(idCol), col(sigCol).as("simhash"))
      .withColumn("rep",
        when(col("simhash").isNull, col(idCol))
          .otherwise(min(col(idCol)).over(Window.partitionBy("simhash"))))
      .pin()

  /** Intra-group member pairs of a [[hammingGrouped]] frame — Hamming 0
    * by construction, config-independent.
    */
  private[graft] def hammingIntraPairs(grouped: DataFrame,
                                       idCol: String): DataFrame = {
    val ma = grouped.filter(col("simhash").isNotNull)
      .select(col(idCol).as("a"), col("rep").as("r0"))
    val mb = grouped.filter(col("simhash").isNotNull)
      .select(col(idCol).as("b"), col("rep").as("r0"))
    ma.join(mb, "r0").filter(col("a") < col("b"))
      .select(col("a").as("doc_a"), col("b").as("doc_b"),
        lit(0L).as("hamming"))
  }

  /** One config's cross-group member pairs over a shared
    * [[hammingGrouped]] frame: block-combination candidate join over
    * representatives, exact `bit_count(xor)` verification, member
    * expansion.
    */
  private[graft] def hammingCrossPairs(grouped: DataFrame, idCol: String,
                                       bits: Int, blocks: Int,
                                       maxHamming: Int,
                                       maxBucket: Int): DataFrame = {
    require(bits >= 1 && bits <= 64, s"bits must be in [1, 64], got $bits")
    require(bits % blocks == 0,
      s"bits ($bits) must split evenly into blocks ($blocks)")
    require(blocks > maxHamming,
      s"need blocks ($blocks) > maxHamming ($maxHamming): a pair at " +
        "distance k only guarantees blocks - k intact slices, so fewer " +
        "blocks than k+1 would guarantee no shared combination key")
    val sliceBits = bits / blocks
    val agree = blocks - maxHamming
    val combos = simhashCombos(blocks, agree)
    val reps = grouped.filter(col(idCol) === col("rep"))
      .select(col(idCol), col("simhash"))
    def blockVal(blk: Int): Column =
      shiftright(col("simhash"), blk * sliceBits)
        .bitwiseAND(lit((1L << sliceBits) - 1))
    // combo key = the agreed slices packed into one long (disjoint bit
    // ranges; the oracle replays the identical arithmetic)
    val bandStructs = array(combos.zipWithIndex.map { case (combo, ci) =>
      struct(lit(ci).as("band"),
        combo.zipWithIndex.map { case (blk, pos) =>
          shiftleft(blockVal(blk), pos * sliceBits)
        }.reduce[Column](_ + _).as("bkey"))
    }: _*)
    val banded = reps.filter(col("simhash").isNotNull)
      .select(col(idCol), explode(bandStructs).as("b"))
      .select(col(idCol), col("b.band"), col("b.bkey"))
      .withColumn("__w", count(lit(1)).over(Window.partitionBy("band", "bkey")))
      .pin() // feeds the disclosure probe AND the capped join
    val capped = banded.filter(col("__w") <= maxBucket).drop("__w")
    val l = capped.select(col(idCol).as("doc_a"), col("band"), col("bkey"))
    val r = capped.select(col(idCol).as("doc_b"), col("band"), col("bkey"))
    val cands = l.join(r, Seq("band", "bkey"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    val sa = reps.select(col(idCol).as("doc_a"), col("simhash").as("__sa"))
    val sb = reps.select(col(idCol).as("doc_b"), col("simhash").as("__sb"))
    val repPairs = cands.join(sa, "doc_a").join(sb, "doc_b")
      .withColumn("hamming",
        bit_count(col("__sa").bitwiseXOR(col("__sb"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
    val rp = repPairs.select(col("doc_a").as("ra"), col("doc_b").as("rb"),
      col("hamming"))
    val ga = grouped.select(col(idCol).as("a"), col("rep").as("ra"))
    val gb = grouped.select(col(idCol).as("b"), col("rep").as("rb"))
    Overlap.disclosing("simhash candidate generation",
      s"combo bucket(s) wider than $maxBucket representatives excluded " +
        "from candidate generation (recall loss, not a failure)",
      banded.filter(col("__w") > maxBucket)
        .select(col("band"), col("bkey"), col("__w").as("n")).distinct()) {
      rp.join(ga, "ra").join(gb, "rb")
        .select(least(col("a"), col("b")).as("doc_a"),
          greatest(col("a"), col("b")).as("doc_b"), col("hamming"))
    }
  }

  /** Exact dedup: representative (min id) + multiplicity per distinct
    * key — one hash aggregation, map-side combined.
    */
  def exactByKey(df: DataFrame, keyCol: Column, idCol: String): DataFrame =
    df.groupBy(keyCol.as("dedup_key"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  // ── Near-dup clustering + canonical keep-list ──────────────────────

  /** Cheap per-round fixpoint signature shared by the clustering
    * loops: (row count, exact DECIMAL sum of the rows' xxhash64) over
    * ALL columns — type-agnostic (string ids hash like longs; the old
    * raw value sums nulled out on strings), order-independent, and
    * exact integer arithmetic so two equal sets can never disagree.
    * Equality is NECESSARY for set equality, not sufficient — callers
    * confirm a reported fixpoint with one exact set-difference.
    */
  private def labelSig(df: DataFrame): (Long, java.math.BigDecimal) = {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)"))).head
    (r.getLong(0), r.getDecimal(1))
  }

  /** Connected components by iterative min-label propagation: every node
    * starts labelled with its own id; each round, a node adopts the
    * minimum label in its closed neighbourhood; at fixpoint every
    * component carries its minimum member id as the cluster label.
    *
    * Scale shape: one equi-join (edges ⋈ labels on src) plus one hash
    * aggregation (min per id) per round — all key-partitioned shuffles,
    * never a collected graph on the driver. Rounds = graph diameter,
    * which for near-dup clusters (cliques-with-bridges) is small; the
    * convergence probe is a cheap per-round [[labelSig]] signature, and
    * ONE exact `exceptAll` against the previous round confirms the
    * first fixpoint it reports. Each round is pinned: lineage stays
    * O(1) instead of growing a plan per round, and the pinned data is
    * released by the ContextCleaner once the next round supersedes it.
    *
    * `nodes` must expose `id`; `edges` must expose (`src`, `dst`) —
    * undirected, either orientation; symmetrized here.
    *
    * If the loop exits at `maxRounds` without reaching the fixpoint (a
    * component of diameter > maxRounds — gradual-mutation spam chains),
    * the labels are NOT the transitive closure. The checksum probe
    * detects this exactly, so non-convergence is never silent: default
    * is a WARN log naming rounds used (partial labels returned, each
    * still a component member so downstream keep-lists stay safe —
    * just split); `strict = true` throws instead, for pipelines where
    * a split cluster must halt the job rather than ship.
    *
    * Per-round frames are pinned lazily by [[graft.core.Pin]], which
    * decides from the context whether they survive executor loss.
    */
  def clusterLabels(nodes: DataFrame, edges: DataFrame,
                    maxRounds: Int = 50, strict: Boolean = false): DataFrame = {
    // lazy pins: one action per round, not two (Pin.pinLazily)
    val sym = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .pinLazily()
    // candidate generation must not rerun per round (hence the pin above).
    // Round 22 (guide §2.3): only nodes TOUCHED BY AN EDGE can ever
    // change label — the fixpoint runs over the dup graph's own node
    // set (sym is symmetric, so `src` covers both endpoints); every
    // isolated node labels itself in ONE left join at the end. Each
    // round's join/aggregation is dup-graph-bounded, never
    // corpus-bounded — at 100 TB the difference between shuffling the
    // corpus O(diameter) times and shuffling only the dup membership.
    var labels = sym.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("label")).pinLazily()
    var rounds = 0
    var converged = false
    // carry the previous round's signature forward: labelSig(labels)
    // this round IS labelSig(next) of the last one — recomputing it
    // would double the per-round signature cost (clusterEdges' curSig
    // pattern)
    var curSig = labelSig(labels)
    while (!converged && rounds < maxRounds) {
      val viaNeighbour = sym.join(labels, sym("src") === labels("id"))
        .select(sym("dst").as("id"), col("label"))
      val next = labels.union(viaNeighbour)
        .groupBy("id").agg(min("label").as("label")).pinLazily()
      // Fixpoint probe, exact in two stages: per round a CHEAP
      // partial-agg signature (row count + exact DECIMAL sum of the
      // rows' 64-bit hashes — type-agnostic, so string ids can never
      // null it the way the old raw label sum did), and when the
      // signature first reports a fixpoint, ONE exact set-difference
      // confirms it — the declared convergence never rests on a hash,
      // but the per-round cost is an aggregation, not a join (the
      // 100 TB difference for O(diameter) rounds).
      val nextSig = labelSig(next)
      converged = nextSig == curSig && next.exceptAll(labels).isEmpty
      curSig = nextSig
      labels = next
      rounds += 1
    }
    if (!converged) {
      val msg = s"clusterLabels exited UNCONVERGED after $maxRounds rounds: " +
        "a component has diameter > maxRounds and its labels are split " +
        "(not the full transitive closure). Raise maxRounds or pre-collapse " +
        "exact duplicates."
      if (strict) throw new IllegalStateException(msg)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(msg)
    }
    // isolated nodes (no edge) label themselves — the clusterLabelsStar
    // output posture
    nodes.select(col("id"))
      .join(labels.select(col("id"), col("label")), Seq("id"), "left")
      .select(col("id"), coalesce(col("label"), col("id")).as("cluster_id"))
  }

  /** Connected components by ALTERNATING large-star/small-star edge
    * rewriting (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14): each round rewrites the edge set so every edge
    * points closer to its component's minimum id —
    *
    *  - large-star: per node u with neighbourhood N(u), let
    *    m = min(N(u) ∪ {u}); every STRICTLY LARGER neighbour v > u is
    *    re-attached as (v, m);
    *  - small-star: orient every edge toward the smaller endpoint; per
    *    node u over its smaller neighbours, m = min(N(u)); re-attach
    *    every smaller neighbour AND u itself to m.
    *
    * The fixpoint is a star forest — every node holds a direct edge to
    * its component minimum — reached in O(log n) rounds on ANY graph,
    * vs. O(diameter) for [[clusterLabels]]' plain min-label
    * propagation. That is the 100 TB difference for chain-shaped
    * components (gradual-mutation spam: doc i ≈ doc i+1 for 10⁵ docs —
    * diameter 10⁵, but ~17 star rounds).
    *
    * Scale shape per round: two hash aggregations (per-node min) + two
    * broadcast-free equi-joins + one distinct — all key-partitioned
    * shuffles on node ids; the edge set never grows past the input
    * size (every rewrite maps an existing edge to one output edge,
    * deduplicated), and nothing is collected to the driver. The
    * convergence probe is two-stage and EXACT: a cheap per-round
    * (count, Σ xxhash64(src, dst)) signature in exact DECIMAL — works
    * for any id type, unlike the lossy raw id sums it replaced — and
    * ONE set-difference confirming the first reported fixpoint (both
    * sides are canonical distinct sets, so equal counts + empty
    * difference ⟺ set equality): the round map is a deterministic
    * function of the edge set, so an unchanged canonical set IS the
    * fixpoint, and the declared convergence never rests on a hash.
    *
    * Same contract as [[clusterLabels]]: `nodes` exposes `id`, `edges`
    * exposes (`src`, `dst`) undirected; returns (id, cluster_id) with
    * cluster_id = component min; isolated nodes label themselves.
    * Non-convergence at `maxRounds` warns (or throws under `strict`)
    * with labels = each node's best-known min — still component
    * members, just possibly split. Rounds pin as in [[clusterLabels]].
    */
  def clusterLabelsStar(nodes: DataFrame, edges: DataFrame,
                        maxRounds: Int = 25, strict: Boolean = false): DataFrame = {
    // lazy pins: one action per round, not two (Pin.pinLazily)
    // canonical orientation (big, small); self-loops and duplicates out
    def canon(e: DataFrame): DataFrame = e
      .filter(col("src") =!= col("dst"))
      .select(greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      .distinct()
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("src"), col("dst"))
        .union(e.select(col("dst").as("src"), col("src").as("dst")))
      val mins = sym.groupBy(col("src").as("u"))
        .agg(min(col("dst")).as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      sym.join(mins, sym("src") === mins("u"))
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
    }
    def smallStar(e: DataFrame): DataFrame = {
      val dir = canon(e) // src > dst everywhere below
      val mins = dir.groupBy(col("src").as("u")).agg(min(col("dst")).as("m"))
      dir.join(mins, dir("src") === mins("u"))
        .select(dir("dst").as("src"), col("m").as("dst"))
        .union(mins.select(col("u").as("src"), col("m").as("dst")))
    }
    // Fixpoint probe, exact in two stages (see clusterLabels): a cheap
    // per-round signature (count + exact DECIMAL sum of 64-bit row
    // hashes — type-agnostic, immune to the string-id NULL degeneration
    // and the numeric swap collisions of the old raw id sums), then ONE
    // exact set-difference confirming the first reported fixpoint —
    // both sides are canonical DISTINCT sets, so equal counts + empty
    // difference ⟺ set equality. Declared convergence never rests on
    // a hash; the per-round cost stays an aggregation, not a join.
    def sameEdges(a: DataFrame, aSig: (Long, java.math.BigDecimal),
                  b: DataFrame, bSig: (Long, java.math.BigDecimal)): Boolean =
      aSig == bSig && b.exceptAll(a).isEmpty
    var cur = canon(edges).pinLazily()
    var curSig = labelSig(cur)
    var rounds = 0
    var converged = curSig._1 == 0L // edge-free graph: all singletons
    while (!converged && rounds < maxRounds) {
      val next = canon(smallStar(largeStar(cur))).pinLazily()
      val nextSig = labelSig(next)
      converged = sameEdges(cur, curSig, next, nextSig)
      cur = next
      curSig = nextSig
      rounds += 1
    }
    if (!converged) {
      val msg = s"clusterLabelsStar exited UNCONVERGED after $maxRounds " +
        "alternating rounds: labels below are each node's best-known " +
        "minimum, not necessarily the full transitive closure. Raise " +
        "maxRounds (fixpoint is O(log n) rounds)."
      if (strict) throw new IllegalStateException(msg)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(msg)
    }
    // star forest: every non-root node carries a direct edge to its
    // component min; roots and isolated nodes label themselves
    val rootOf = cur.groupBy(col("src").as("id")).agg(min(col("dst")).as("l"))
    nodes.select(col("id"))
      .join(rootOf, Seq("id"), "left")
      .select(col("id"), coalesce(col("l"), col("id")).as("cluster_id"))
  }

  /** Near-duplicate clusters over a corpus: capped representative-level
    * LSH candidates verified by exact Jaccard ≥ num/den (integer
    * cross-multiply — no float ratio, so the DuckDB oracle replays the
    * cut exactly), then transitive closure via [[clusterLabels]].
    * Returns (idCol, cluster_id) for EVERY document; singletons label
    * themselves.
    *
    * Edge set = rep pairs passing the cut PLUS one STAR edge per
    * non-representative member (member → rep): m identical copies
    * contribute m-1 edges, never m²/2 — and the components (hence
    * labels: each component's min member id) are provably identical to
    * the full member-pair edge set, because an identical copy's Jaccard
    * with ANY third document equals its representative's. The whole
    * clustering chain is therefore immune to the dup-heavy skew cliff,
    * not just the candidate join.
    */
  def nearDupClusters(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text",
                      jaccardNum: Int = 8, jaccardDen: Int = 10,
                      maxBucket: Int = DefaultMaxBucketWidth,
                      maxRounds: Int = 50, strict: Boolean = false): DataFrame = {
    val edges = nearDupEdgeSet(docs, idCol, textCol, jaccardNum,
      jaccardDen, maxBucket)
    clusterLabels(docs.select(col(idCol).as("id")), edges, maxRounds, strict)
      .select(col("id").as(idCol), col("cluster_id"))
  }

  /** [[nearDupClusters]] with the transitive closure computed by
    * [[clusterLabelsStar]] instead of plain propagation — identical
    * components (same verified edge set, both algorithms compute the
    * exact transitive closure), but convergence in O(log n) alternating
    * rounds instead of O(diameter): the variant to reach for when the
    * dup graph may contain long mutation CHAINS rather than tight
    * cliques. Gated by the same DuckDB recursive-CTE oracle as
    * [[nearDupClusters]] — the two paths must agree bit-for-bit.
    */
  def nearDupClustersStar(docs: DataFrame, idCol: String = "doc_id",
                          textCol: String = "text",
                          jaccardNum: Int = 8, jaccardDen: Int = 10,
                          maxBucket: Int = DefaultMaxBucketWidth,
                          maxRounds: Int = 25, strict: Boolean = false): DataFrame = {
    val edges = nearDupEdgeSet(docs, idCol, textCol, jaccardNum,
      jaccardDen, maxBucket)
    clusterLabelsStar(docs.select(col(idCol).as("id")), edges,
      maxRounds, strict)
      .select(col("id").as(idCol), col("cluster_id"))
  }

  /** The shared verified near-dup edge set (rep-level LSH candidates
    * passing the exact integer Jaccard cut, plus one star edge per
    * exact-copy member) both clustering algorithms close over.
    */
  private def nearDupEdgeSet(docs: DataFrame, idCol: String,
                             textCol: String, jaccardNum: Int,
                             jaccardDen: Int, maxBucket: Int): DataFrame = {
    val (grouped, repPairs) = repLevelPairs(
      features(docs, idCol, textCol), idCol, maxBucket)
    val repEdges = repPairs
      .filter(jaccardAtLeast(jaccardNum, jaccardDen))
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val starEdges = grouped.filter(col(idCol) =!= col("rep"))
      .select(col(idCol).as("src"), col("rep").as("dst"))
    repEdges.union(starEdges)
  }

  /** Canonical keep-list: one representative (min id = the cluster
    * label) per cluster, with the member count — the consumable dedup
    * artifact, not intermediate pair edges.
    */
  def keepList(clusters: DataFrame, idCol: String = "doc_id"): DataFrame =
    clusters.groupBy("cluster_id")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_members"))
      .select(col("keep_id"), col("n_members"))

  /** QUALITY-AWARE keep list: per near-dup cluster keep the
    * highest-`scoreCol` member (tie: lowest id) instead of the first
    * occurrence — what a production dedup actually wants (the cluster's
    * cleanest serialization survives, not whichever copy crawled
    * first). `scored` must expose (idCol, scoreCol) for every
    * clustered id; an id missing a score competes with score NULL and
    * loses to any scored member (nulls sort last under the descending
    * struct law). Output: (cluster_id, keep_id, score, n_members).
    *
    * Scale shape: one id equi-join of the label frame against the
    * score projection, one cluster-keyed partial aggregation — the
    * argmax is a min(struct(-score, id)), never a per-cluster sort.
    */
  def keepBest(clusters: DataFrame, scored: DataFrame,
               scoreCol: String = "quality",
               idCol: String = "doc_id"): DataFrame =
    clusters.join(scored.select(col(idCol), col(scoreCol)), Seq(idCol))
      .groupBy("cluster_id")
      .agg(
        // null-last law via a leading null flag (0 = scored, 1 =
        // null): any scored member beats an unscored one, and the raw
        // score is compared in its OWN numeric type — no long cast
        // that would truncate a fractional 0..1 quality to 0 and
        // silently degenerate the argmax into a lowest-id pick
        min(struct(
          when(col(scoreCol).isNull, lit(1)).otherwise(lit(0)).as("nullf"),
          (-col(scoreCol)).as("negs"),
          col(idCol).as("i"), col(scoreCol).as("s"))).as("__kb_top"),
        count(lit(1)).as("n_members"))
      .select(col("cluster_id"), col("__kb_top.i").as("keep_id"),
        col("__kb_top.s").as("score"), col("n_members"))

  /** The deduplicated corpus: keep exactly the cluster representatives
    * (a document survives iff it IS its cluster's min id — a filter on
    * the label frame, then a semi-join to re-attach payloads; the
    * payload never rides through the clustering shuffles).
    */
  def dedupedCorpus(docs: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text",
                    jaccardNum: Int = 8, jaccardDen: Int = 10,
                    maxBucket: Int = DefaultMaxBucketWidth,
                    maxRounds: Int = 50, strict: Boolean = false): DataFrame = {
    val keep = nearDupClusters(docs, idCol, textCol, jaccardNum, jaccardDen,
      maxBucket, maxRounds, strict)
      .filter(col(idCol) === col("cluster_id"))
      .select(col(idCol))
    docs.join(keep, Seq(idCol), "left_semi")
  }

  /** Base for the per-passage occurrence key `doc_id · 2²⁰ + chunk_id`:
    * one long totally orders (document, passage) occurrences so
    * "first occurrence" is a skew-safe `min` AGGREGATION, never a
    * per-hash row_number window a boilerplate passage could turn into a
    * single-reducer task. Contract: ids are non-negative integrals
    * BELOW 2⁴³ (the key doc_id·2²⁰ + idx must fit a 63-bit Long — a
    * 63-bit fingerprint used directly as an id overflows and corrupts
    * the first-occurrence order; re-key such corpora first), and
    * documents have fewer than 2²⁰ passages (a 100 TB web corpus is
    * ~10³ passages/doc; size `window` accordingly). Violations FAIL
    * LOUDLY at execution ([[dedupPassages]] guards the key packing) —
    * a non-numeric id would otherwise cast to a null key, null wins
    * every min, and every passage would silently drop.
    */
  val PassageKeyBase: Long = 1L << 20

  /** Exclusive upper bound on [[dedupPassages]] doc ids: the packed key
    * `id · PassageKeyBase + chunk_id` must stay inside a positive Long.
    */
  val MaxPassageDocId: Long = Long.MaxValue / PassageKeyBase

  /** PASSAGE-level exact dedup — the CCNet/RefinedWeb "duplicated
    * line removal" stage, over fixed `window`-word passages (the corpus
    * is delimiter-agnostic; a caller with real paragraph breaks can
    * pre-split and pass window-sized units). Every passage is hashed
    * corpus-wide; a passage occurring more than once keeps only its
    * first occurrence (`keepFirst = true`, ties broken by the
    * [[PassageKeyBase]] key) or is dropped everywhere (`keepFirst =
    * false` — the boilerplate-removal mode), and each document is
    * reassembled from its surviving passages in order.
    *
    * Output: (idCol, clean_text, n_passages, n_kept) for EVERY input
    * document — null text stays null, a fully-deduplicated document
    * becomes the empty string, so corpus row count is preserved.
    *
    * Dedup is by the 62-bit packed double PolyHash of the passage
    * text ([[graft.functions.PolyHash64]]): content-keyed collapse
    * must survive corpus scale, and a 31-bit key space birthday-
    * collides around 2¹⁶ distinct passages — 62 bits pushes the bound
    * past 2³¹ (collisions remain possible in principle, disclosed).
    *
    * `perDocument = true` scopes duplication to WITHIN each document —
    * the intra-doc repeated-span trim (choruses, templated
    * boilerplate repeated inside one page) rather than corpus-wide
    * dedup: a passage repeated across documents is untouched, only
    * repeats inside the same document collapse (or drop entirely
    * under `keepFirst = false`).
    *
    * Scale shape: passages derive from the scan by a row-local
    * explode (zero shuffle); the first-occurrence table is ONE
    * partial-aggregated hash-keyed shuffle (`min(key), count` combine
    * map-side, so a passage duplicated 10⁸ times still emits one row
    * per map task); the flag join re-shuffles passages on the hash
    * (one row per hash on the build side — AQE's skew split handles
    * hot boilerplate keys); reassembly is one doc-keyed shuffle.
    * Nothing is collected to the driver and no global window runs.
    * (Per-document scope keys those shuffles on (doc, hash) — finer,
    * so strictly less skew-prone.)
    */
  def dedupPassages(docs: DataFrame, window: Int = 8,
                    idCol: String = "doc_id", textCol: String = "text",
                    keepFirst: Boolean = true,
                    perDocument: Boolean = false): DataFrame = {
    require(window > 0, s"window must be positive, got $window")
    dedupChunked(docs,
      graft.ext.TextAnalysis.chunkDocuments(docs, window, window, idCol, textCol),
      idCol, textCol, keepFirst, perDocument, "dedupPassages")
  }

  /** CONTENT-DEFINED chunking (the word-level analog of CDC/Rabin
    * chunking in dedup storage systems, and of the variable-passage
    * split RefinedWeb-style pipelines use to survive edits): a chunk
    * boundary falls AFTER word `i` exactly when the PolyHash of the
    * trailing `window`-word shingle ending at `i` is ≡ 0 mod `divisor`
    * — a pure function of LOCAL content, so inserting or deleting a
    * word re-synchronizes the chunking within one boundary instead of
    * shifting every downstream chunk the way fixed-stride
    * [[graft.ext.TextAnalysis.chunkDocuments]] windows do. Expected
    * chunk length ≈ `divisor` words (geometric); the final chunk always
    * closes at the document end, and a document shorter than
    * `window + 1` words is one chunk. Output: (idCol, chunk_id
    * (0-based), chunk_text); null-text docs emit nothing (the
    * chunkDocuments contract).
    *
    * Entirely ROW-LOCAL — ONE native byte pass per document computes
    * the boundary hashes and slices the chunks
    * ([[graft.functions.CdcChunksExpr]], round 22; the HOF chain it
    * replaces stays as the executable spec, [[cdcChunksHof]] — the
    * winnowFingerprints precedent: the interpreted chain built a
    * window-word shingle string per boundary candidate).
    */
  def cdcChunks(docs: DataFrame, window: Int = 4, divisor: Int = 8,
                idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(window > 0, s"window must be positive, got $window")
    require(divisor > 1, s"divisor must be > 1 (1 cuts after every word), got $divisor")
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol), posexplode(
          graft.functions.cdcChunkTexts(col(textCol), window, divisor))
        .as(Seq("chunk_id", "chunk_text")))
      .select(col(idCol), col("chunk_id").cast("long").as("chunk_id"),
        col("chunk_text"))
  }

  /** The declarative HOF formulation of [[cdcChunks]] — kept as the
    * executable SPEC the native [[graft.functions.CdcChunksExpr]] is
    * tested against (NativeExprSpec), exactly the
    * [[winnowFingerprintsHof]] pattern.
    */
  private[graft] def cdcChunksHof(docs: DataFrame, window: Int = 4,
                                  divisor: Int = 8, idCol: String = "doc_id",
                                  textCol: String = "text"): DataFrame = {
    require(window > 0, s"window must be positive, got $window")
    require(divisor > 1, s"divisor must be > 1 (1 cuts after every word), got $divisor")
    val reserved = docs.columns.filter(_.startsWith("__cdc_"))
    require(reserved.isEmpty,
      s"column(s) ${reserved.mkString(", ")} collide with cdcChunks' " +
        "reserved prefix '__cdc_' — rename before chunking")
    val ws = col("__cdc_ws")
    val n = size(ws)
    def trailing(i: Column): Column = concat_ws(" ",
      (window - 1 to 0 by -1).map(j => element_at(ws, i - j)): _*)
    // boundary candidates stop at n−1: a boundary AT the last word would
    // duplicate the closing bound. The size guard matters — Spark's
    // sequence(a, b) DESCENDS when b < a instead of being empty.
    val cuts = when(n - 1 >= window,
      filter(sequence(lit(window), n - 1),
        i => pmod(polyFingerprint(trailing(i)), lit(divisor.toLong)) === 0))
      .otherwise(expr("cast(array() AS array<int>)"))
    // `bounds` (which embeds the O(n·window) boundary-hash scan) is
    // STAGED through a materialized column: inlined, every element_at
    // inside the slicing lambda re-evaluated the whole scan —
    // O(n·chunks) hash work per document, measured 16.8 s at sf0.1 vs
    // 1.6 s staged. CollapseProject leaves the alias alone (non-cheap,
    // referenced three times), so each stage evaluates once per row.
    val bounds = col("__cdc_bounds")
    val chunks = transform(sequence(lit(2), size(bounds)),
      j => concat_ws(" ", slice(ws,
        element_at(bounds, j - 1) + 1,
        element_at(bounds, j) - element_at(bounds, j - 1))))
    docs.filter(col(textCol).isNotNull)
      .withColumn("__cdc_ws", split(col(textCol), " "))
      .withColumn("__cdc_bounds", concat(array(lit(0)), cuts, array(n)))
      .select(col(idCol), posexplode(chunks).as(Seq("chunk_id", "chunk_text")))
      .select(col(idCol), col("chunk_id").cast("long").as("chunk_id"),
        col("chunk_text"))
  }

  /** WINNOWING fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD'03 —
    * the MOSS algorithm): hash every k-word gram, slide a w-wide
    * window over the hash sequence, and keep each window's MINIMUM
    * (ties → RIGHTMOST, the paper's rule), deduplicating consecutive
    * windows that select the same gram. The guarantee the shingle/
    * minhash family can't give: any match of at least w+k−1 words
    * between two documents is CAUGHT by at least one shared selected
    * fingerprint, while only ~2/(w+1) of all gram hashes are kept —
    * position-aware plagiarism/code-clone detection at a fraction of
    * the full shingle relation's size.
    *
    * Output: (idCol, pos, fp) — pos is the selected gram's 1-based
    * word index, fp its 62-bit [[graft.functions.PolyFingerprint64]]
    * hash; docs with fewer than k words emit nothing, docs with fewer
    * than w grams emit their global minimum (one window over what
    * exists). Entirely ROW-LOCAL, zero shuffle: the whole selection is
    * ONE fused native pass over the text bytes
    * ([[graft.functions.WinnowFps]] — gram hashes fold directly over
    * byte spans, no per-gram allocation; the interpreted HOF chain it
    * replaced measured 5.5 s at sf0.1). [[winnowFingerprintsHof]] is
    * the declarative executable spec it is tested against; the DuckDB
    * oracle (t_winnow) replays window/min/rightmost-tie relationally.
    */
  def winnowFingerprints(docs: DataFrame, k: Int = 4, w: Int = 5,
                         idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame = {
    require(k >= 1, s"k (gram width) must be >= 1, got $k")
    require(w >= 1, s"w (window width) must be >= 1, got $w")
    import org.apache.spark.sql.graft.Bridge
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol),
        explode(Bridge.column(graft.functions.WinnowFps(
          Bridge.expression(col(textCol)), k, w))).as("__wn_s"))
      .select(col(idCol), col("__wn_s.pos").as("pos"),
        col("__wn_s.fp").as("fp"))
  }

  /** The declarative HOF formulation of [[winnowFingerprints]] — kept
    * as the EXECUTABLE SPEC the fused native expression
    * ([[graft.functions.WinnowFps]]) is tested against (the
    * LshBuckets/lshBucketHof precedent): staged gram-hash array, a
    * window-min aggregate with the rightmost-tie `<=`, array_distinct.
    * Interpreted HOFs per row — ~an order of magnitude slower than the
    * native byte pass; never on the hot path.
    */
  private[graft] def winnowFingerprintsHof(
      docs: DataFrame, k: Int = 4, w: Int = 5,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(k >= 1, s"k (gram width) must be >= 1, got $k")
    require(w >= 1, s"w (window width) must be >= 1, got $w")
    val reserved = docs.columns.filter(_.startsWith("__wn_"))
    require(reserved.isEmpty,
      s"column(s) ${reserved.mkString(", ")} collide with " +
        "winnowFingerprints' reserved prefix '__wn_'")
    val ws = col("__wn_ws")
    val n = size(ws)
    def gram(i: Column): Column =
      concat_ws(" ", (0 until k).map(j => element_at(ws, i + j)): _*)
    // size guard: Spark's sequence(a, b) DESCENDS when b < a
    val grams = when(n - (k - 1) >= 1,
      transform(sequence(lit(1), n - (k - 1)),
        i => polyFingerprint64(gram(i))))
      .otherwise(expr("cast(array() AS array<bigint>)"))
    val g = col("__wn_g")
    val m = size(g)
    val sel = transform(sequence(lit(1), greatest(m - (w - 1), lit(1))),
      j => aggregate(sequence(j, least(j + lit(w - 1), m)),
        struct(lit(0L).as("pos"), lit(Long.MaxValue).as("fp")),
        (acc, i) => when(element_at(g, i) <= acc("fp"),
            struct(i.cast("long").as("pos"),
              element_at(g, i).as("fp")))
          .otherwise(acc)))
    docs.filter(col(textCol).isNotNull)
      .withColumn("__wn_ws", split(col(textCol), " "))
      .withColumn("__wn_g", grams)
      .filter(m >= 1)
      .select(col(idCol), explode(array_distinct(sel)).as("__wn_s"))
      .select(col(idCol), col("__wn_s.pos").as("pos"),
        col("__wn_s.fp").as("fp"))
  }

  /** Document-pair OVERLAP via shared [[winnowFingerprints]] — the
    * MOSS pair report: docs sharing at least `minShared` selected
    * fingerprints, with the shared count as the overlap strength. The
    * winnowing guarantee makes this a complete detector for matches of
    * w+k−1 words or longer at a fraction of a full shingle self-join's
    * cost (only ~2/(w+1) of grams are fingerprints, and only SELECTED
    * fingerprints join).
    *
    * Scale shape: (doc, fp) distinct → fp-keyed equi-join (never a
    * cross join); any fingerprint shared by more than `maxBucket`
    * documents (the m²/2 skew cliff — template spam selecting the same
    * gram corpus-wide) is EXCLUDED from pair generation and disclosed
    * with a WARN, the established cap-and-disclose guard. Output:
    * (doc_a, doc_b, shared), doc_a < doc_b.
    */
  def winnowOverlap(docs: DataFrame, k: Int = 4, w: Int = 5,
                    minShared: Int = 2,
                    maxBucket: Int = DefaultMaxBucketWidth,
                    idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    require(maxBucket >= 2, s"maxBucket must be >= 2, got $maxBucket")
    // pin the fingerprint relation: it feeds the width table AND both
    // sides of the pair join — unpinned, the interpreted HOF window
    // scan re-runs three times (measured 14.6 s → ~5 s at sf0.1)
    val fps = winnowFingerprints(docs, k, w, idCol, textCol)
      .select(col(idCol), col("fp")).distinct()
      .pin()
    val width = fps.groupBy("fp").agg(count(lit(1)).as("__wo_n"))
      .pin()
    val keep = fps.join(width.filter(col("__wo_n") <= maxBucket), "fp")
      .select(col(idCol), col("fp"))
    val a = keep.select(col(idCol).as("doc_a"), col("fp"))
    val b = keep.select(col(idCol).as("doc_b"), col("fp"))
    Overlap.disclosing("winnowOverlap",
      s"fingerprint bucket(s) wider than $maxBucket documents excluded " +
        "from pair generation (recall loss on corpus-wide template grams, " +
        "not a failure)",
      width.filter(col("__wo_n") > maxBucket)
        .select(col("fp"), col("__wo_n").as("n"))) {
      a.join(b, "fp")
        .filter(col("doc_a") < col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(count(lit(1)).as("shared"))
        .filter(col("shared") >= minShared.toLong)
    }
  }

  /** [[dedupPassages]] over CONTENT-DEFINED chunks ([[cdcChunks]])
    * instead of fixed windows — the edit-robust passage dedup: a
    * near-copy with a word inserted or dropped still shares every
    * chunk after the next content boundary, where fixed windows shift
    * and share nothing. Same first-occurrence min-key law, same output
    * contract and scale shape as [[dedupPassages]].
    */
  def dedupPassagesCdc(docs: DataFrame, window: Int = 4, divisor: Int = 8,
                       idCol: String = "doc_id", textCol: String = "text",
                       keepFirst: Boolean = true,
                       perDocument: Boolean = false): DataFrame =
    dedupChunked(docs, cdcChunks(docs, window, divisor, idCol, textCol),
      idCol, textCol, keepFirst, perDocument, "dedupPassagesCdc")

  /** Corpus-level LINE dedup — CCNet's first pipeline stage (Wenzek et
    * al. 2020 run it before anything else: identical lines across a
    * crawl are overwhelmingly boilerplate — headers, nav bars, cookie
    * banners): every line (split on `\n`) is deduplicated under the
    * same packed-key first-occurrence law as [[dedupPassages]], the
    * survivors re-joined with `\n` so line structure is preserved.
    * `perDocument = true` restricts the scope to within-document
    * repeats ([[graft.ext.TextAnalysis.gopherLineStats]]' removal
    * counterpart); `keepFirst = false` drops EVERY copy of a repeated
    * line. Output: (idCol, clean_text, n_passages, n_kept) — the
    * shared passage-dedup contract, where a "passage" is a line.
    *
    * Scale shape: inherited wholesale — one (hash)-keyed partial-agg
    * min, a hash equi-join flag, one doc-keyed rebuild; the skew-safe
    * min AGGREGATION (never a per-hash window) is what lets the
    * empty-line group, which every multiline document contributes to,
    * combine map-side instead of landing on one reducer.
    */
  def dedupLines(docs: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text", keepFirst: Boolean = true,
                 perDocument: Boolean = false): DataFrame = {
    val lines = docs.filter(col(textCol).isNotNull)
      .select(col(idCol),
        posexplode(split(col(textCol), "\n")).as(Seq("chunk_id", "chunk_text")))
      .select(col(idCol), col("chunk_id").cast("long").as("chunk_id"),
        col("chunk_text"))
    dedupChunked(docs, lines, idCol, textCol, keepFirst, perDocument,
      "dedupLines", "\n")
  }

  /** Corpus-level PARAGRAPH dedup — [[dedupLines]] at blank-line
    * granularity (split on `\n\n`), the Dolma/C4 paragraph rung
    * between line dedup and whole-document dedup: repeated paragraphs
    * (syndicated boilerplate blocks, quoted headers) collapse under
    * the same packed-key first-occurrence law, survivors re-joined
    * with `\n\n` so paragraph structure is preserved. Same output
    * contract ((idCol, clean_text, n_passages, n_kept)) and the same
    * skew-safe min-aggregation scale shape.
    */
  def dedupParagraphs(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text", keepFirst: Boolean = true,
                      perDocument: Boolean = false): DataFrame = {
    val paras = docs.filter(col(textCol).isNotNull)
      .select(col(idCol),
        posexplode(split(col(textCol), "\n\n")).as(Seq("chunk_id", "chunk_text")))
      .select(col(idCol), col("chunk_id").cast("long").as("chunk_id"),
        col("chunk_text"))
    dedupChunked(docs, paras, idCol, textCol, keepFirst, perDocument,
      "dedupParagraphs", "\n\n")
  }

  /** Boilerplate-line STRIP by per-domain DOCUMENT FREQUENCY — the
    * CCNet/Dolma refinement of line dedup: drop EVERY copy of any line
    * that appears in more than `maxDfPermille`‰ of its domain's
    * documents (nav bars, cookie banners, footers — the first copy is
    * exactly as boilerplate as the last, so [[dedupLines]]'
    * first-occurrence law is the wrong tool), while a line merely
    * quoted by a couple of documents survives in all of them (its DF
    * is far below any sane threshold; dedupLines would strip its
    * second copy). Domains with fewer than `minDomainDocs` documents
    * are exempt — in a 3-doc domain one shared line is already 333‰,
    * and a DF signal over so few documents is noise, not boilerplate.
    *
    * The cut is integer CROSS-MULTIPLIED (`df·1000 > t·n_docs`), never
    * a float ratio, so the DuckDB oracle replays it exactly
    * (t_strip_boilerplate). Output: (idCol, domainCol, clean_text,
    * n_lines, n_kept) for every non-null-text, non-null-domain doc;
    * line order is preserved, all-boilerplate docs keep an empty
    * clean_text rather than vanishing.
    *
    * Scale shape: one distinct pass over (domain, line-hash, doc) +
    * one (domain, hash) count build the DF relation (both partial-agg
    * key shuffles — the empty-line group every multiline doc
    * contributes combines map-side); domain doc-counts are a
    * |domains|-row aggregate joined in (AQE broadcasts it); the
    * flagging join back onto the line relation keys on (domain, hash)
    * against the boilerplate-only side, which is small by construction
    * (lines OVER the DF threshold), so AQE broadcasts that too; one
    * doc-keyed rebuild. Nothing is ever collected to the driver.
    */
  def stripBoilerplateLines(docs: DataFrame, idCol: String = "doc_id",
                            textCol: String = "text",
                            domainCol: String = "source",
                            maxDfPermille: Int = 500,
                            minDomainDocs: Int = 4): DataFrame = {
    require(maxDfPermille > 0 && maxDfPermille <= 1000,
      s"maxDfPermille must be in (0, 1000], got $maxDfPermille")
    require(minDomainDocs >= 1,
      s"minDomainDocs must be >= 1, got $minDomainDocs")
    val base = docs.filter(col(textCol).isNotNull && col(domainCol).isNotNull)
    val lines = base.select(col(idCol), col(domainCol),
        posexplode(split(col(textCol), "\n")).as(Seq("chunk_id", "chunk_text")))
      .withColumn("__bp_h", polyFingerprint64(col("chunk_text")))
    val boiler = boilerLineSet(base, lines, idCol, domainCol,
        maxDfPermille, minDomainDocs)
      .select(col(domainCol), col("line_hash").as("__bp_h"),
        lit(true).as("__bp_drop"))
    lines.join(boiler, Seq(domainCol, "__bp_h"), "left")
      .groupBy(col(idCol), col(domainCol))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("__bp_drop").isNull, lit(1L)).otherwise(lit(0L)))
          .as("n_kept"),
        array_join(transform(
          array_sort(collect_list(when(col("__bp_drop").isNull,
            struct(col("chunk_id"), col("chunk_text"))))),
          s => s("chunk_text")), "\n").as("clean_text"))
      .select(col(idCol), col(domainCol), col("clean_text"),
        col("n_lines"), col("n_kept"))
  }

  /** URL-level dedup — the crawl-frontier stage
    * [[graft.ext.TextAnalysis.canonicalizeUrl]] exists for: the same
    * page arrives under tracking-param/case/port variants across
    * snapshots, and byte-exact URL dedup misses all of them. Every row
    * keeps its canonical key; the FIRST occurrence per canonical URL
    * (smallest `idCol` — the engine-independent tie rule) is flagged
    * `url_keep`, so the caller filters or audits. Null-URL rows are
    * their own occurrence (kept — no URL is not a duplicate of no
    * URL).
    *
    * Output: input columns + (canon_url, url_keep). Scale shape: one
    * row-local canonicalization map + one (canon_url)-keyed min
    * partial-agg + one equi-join back — the exactByKey posture on the
    * canonical key.
    */
  def dedupByUrl(docs: DataFrame, idCol: String = "doc_id",
                 urlCol: String = "url"): DataFrame = {
    val withCanon = docs.withColumn("canon_url",
      TextAnalysis.canonicalizeUrl(col(urlCol)))
    val firsts = withCanon.filter(col("canon_url").isNotNull)
      .groupBy(col("canon_url"))
      .agg(min(col(idCol)).as("__ud_first"))
    withCanon.join(firsts, Seq("canon_url"), "left")
      .withColumn("url_keep",
        col("canon_url").isNull || col(idCol) === col("__ud_first"))
      .drop("__ud_first")
  }

  /** Shared DF computation of the boilerplate family: the
    * (domainCol, line_hash, df, domain_docs) relation of lines OVER
    * the per-domain document-frequency threshold. `base` = non-null
    * text/domain docs, `lines` their exploded hashed line relation.
    */
  private def boilerLineSet(base: DataFrame, lines: DataFrame,
                            idCol: String, domainCol: String,
                            maxDfPermille: Int,
                            minDomainDocs: Int): DataFrame = {
    val domDocs = base.groupBy(col(domainCol))
      .agg(count(lit(1)).as("domain_docs"))
    lines.select(col(domainCol), col("__bp_h"), col(idCol))
      .distinct()
      .groupBy(col(domainCol), col("__bp_h"))
      .agg(count(lit(1)).as("df"))
      .join(domDocs, domainCol)
      .filter(col("domain_docs") >= minDomainDocs.toLong &&
        col("df") * 1000L > col("domain_docs") * maxDfPermille.toLong)
      .select(col(domainCol), col("__bp_h").as("line_hash"),
        col("df"), col("domain_docs"))
  }

  /** Persist the boilerplate line-hash ARTIFACT a stream gate (or a
    * later batch job) strips against — the production lifecycle shape
    * shared with the NB/LM bundles: the DF relation is computed ONCE
    * from a trusted corpus snapshot, audited, and every consumer
    * (including stream restarts) loads the same table. Writes
    * `<name>_lines` (domainCol, line_hash, df, domain_docs) bucketed
    * on line_hash, and `<name>_meta` recording the threshold knobs the
    * artifact was built under.
    */
  def writeBoilerplateLines(docs: DataFrame, name: String,
                            idCol: String = "doc_id",
                            textCol: String = "text",
                            domainCol: String = "source",
                            maxDfPermille: Int = 500,
                            minDomainDocs: Int = 4,
                            buckets: Int = 8): Unit = {
    require(maxDfPermille > 0 && maxDfPermille <= 1000,
      s"maxDfPermille must be in (0, 1000], got $maxDfPermille")
    val base = docs.filter(col(textCol).isNotNull && col(domainCol).isNotNull)
    val lines = base.select(col(idCol), col(domainCol),
        posexplode(split(col(textCol), "\n")).as(Seq("chunk_id", "chunk_text")))
      .withColumn("__bp_h", polyFingerprint64(col("chunk_text")))
    graft.core.Layout.writeBucketed(
      boilerLineSet(base, lines, idCol, domainCol, maxDfPermille,
        minDomainDocs),
      s"${name}_lines", "line_hash", buckets)
    val spark = docs.sparkSession
    import spark.implicits._
    graft.core.Layout.writeBucketed(
      Seq((domainCol, maxDfPermille, minDomainDocs))
        .toDF("domain_col", "max_df_permille", "min_domain_docs"),
      s"${name}_meta", "domain_col", 1)
  }

  /** Load a persisted boilerplate artifact written by
    * [[writeBoilerplateLines]]: the (domain, line_hash, df,
    * domain_docs) table, no recomputation.
    */
  def loadBoilerplateLines(spark: org.apache.spark.sql.SparkSession,
                           name: String): DataFrame =
    spark.table(s"${name}_lines")

  /** Strip every line whose hash is in `lineHashes` (one `line_hash`
    * column; duplicates fine) — the CONSUMER side of the boilerplate
    * artifact, domain-agnostic by design: a stream batch usually
    * carries no trusted domain column, so the gate strips the UNION of
    * all domains' boilerplate. Rewrites `textCol` in place (line order
    * preserved, all-boilerplate docs keep empty text), leaving every
    * other column untouched; null-text docs pass through unchanged.
    *
    * Scale shape: row-local line explode, one broadcast join against
    * the (small by construction) hash set, one doc-keyed rebuild + one
    * id join back — batch-sized work, nothing scales with the corpus
    * the artifact was trained on.
    */
  def stripLinesByHashSet(docs: DataFrame, lineHashes: DataFrame,
                          idCol: String = "doc_id",
                          textCol: String = "text"): DataFrame = {
    val lines = docs.filter(col(textCol).isNotNull)
      .select(col(idCol),
        posexplode(split(col(textCol), "\n")).as(Seq("chunk_id", "chunk_text")))
      .withColumn("__bs_h", polyFingerprint64(col("chunk_text")))
    val set = broadcast(lineHashes
      .select(col("line_hash").as("__bs_h")).distinct()
      .withColumn("__bs_drop", lit(true)))
    val clean = lines.join(set, Seq("__bs_h"), "left")
      .groupBy(col(idCol))
      .agg(array_join(transform(
        array_sort(collect_list(when(col("__bs_drop").isNull,
          struct(col("chunk_id"), col("chunk_text"))))),
        s => s("chunk_text")), "\n").as("__bs_clean"))
    docs.join(clean, Seq(idCol), "left")
      .withColumn(textCol,
        when(col(textCol).isNotNull, coalesce(col("__bs_clean"), lit("")))
          .otherwise(col(textCol)))
      .drop("__bs_clean")
  }

  /** Shared tail of the passage-dedup family: hash + pack + flag +
    * reassemble over any (idCol, chunk_id, chunk_text) relation.
    */
  private def dedupChunked(docs: DataFrame, chunksRel: DataFrame,
                           idCol: String, textCol: String,
                           keepFirst: Boolean, perDocument: Boolean,
                           opName: String, joiner: String = " "): DataFrame = {
    // key-packing guard (the knob-rejection posture): a doc id that is
    // non-numeric (try_cast → null), negative, or >= 2^43 — or a
    // document with >= 2^20 passages — would wrap/null the packed key
    // and silently corrupt the first-occurrence order (null keys win
    // every min → every passage dropped). Fail AT EXECUTION, row-local,
    // with the operator and violating values NAMED (a plain ANSI cast
    // would throw first with an anonymous frame); valid inputs pay one
    // branch, no extra action or scan.
    require(!idCol.contains("`"),
      s"$opName: idCol must not contain a backtick, got '$idCol'")
    val idL = expr(s"try_cast(`$idCol` AS BIGINT)")
    val keyOk = idL.isNotNull && idL >= 0 && idL < MaxPassageDocId &&
      col("chunk_id") < PassageKeyBase
    val p = chunksRel
      .withColumn("__pd_h", polyFingerprint64(col("chunk_text")))
      .withColumn("__pd_k",
        when(keyOk, idL * PassageKeyBase + col("chunk_id"))
          .otherwise(raise_error(concat(
            lit(s"$opName: '$idCol' must cast to a long in " +
              s"[0, $MaxPassageDocId) and documents must have fewer than " +
              s"$PassageKeyBase passages (re-key or raise `window`); " +
              s"violating row: $idCol="),
            coalesce(col(idCol).cast("string"), lit("null")),
            lit(", chunk_id="), col("chunk_id").cast("string")))))
    val scopeCols = if (perDocument) Seq(idCol, "__pd_h") else Seq("__pd_h")
    val firsts = p.groupBy(scopeCols.map(col): _*)
      .agg(min("__pd_k").as("__pd_first"), count(lit(1)).as("__pd_n"))
    val flagged = p.join(firsts, scopeCols)
      .withColumn("__pd_keep",
        if (keepFirst) col("__pd_k") === col("__pd_first")
        else col("__pd_n") === 1)
    val agg = flagged.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_passages"),
        sum(when(col("__pd_keep"), lit(1L)).otherwise(lit(0L))).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(when(col("__pd_keep"),
            struct(col("chunk_id"), col("chunk_text"))))),
          x => x("chunk_text")), joiner).as("__pd_clean"))
    docs.select(col(idCol), col(textCol))
      .join(agg, Seq(idCol), "left_outer")
      .select(col(idCol),
        when(col(textCol).isNull, lit(null).cast("string"))
          .otherwise(coalesce(col("__pd_clean"), lit(""))).as("clean_text"),
        coalesce(col("n_passages"), lit(0L)).as("n_passages"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  /** Streaming exact dedup: at-least-once delivery → effectively-once
    * processing by dropping duplicate keys within the watermark horizon
    * (`dropDuplicatesWithinWatermark` — state per key is evicted once
    * the watermark passes it, so state is bounded by the horizon's key
    * cardinality, not the stream's). The input must carry a watermark.
    */
  def streamingExact(stream: DataFrame, idCols: String*): DataFrame =
    stream.dropDuplicatesWithinWatermark(idCols.head, idCols.tail: _*)

  /** Per-document DUPLICATION PROFILE — the "how much of this document
    * is boilerplate" quality signal (the corpus-wide complement of
    * [[graft.ext.TextAnalysis.repetitionStats]]' within-doc view, and
    * the document-level readout of the n-gram duplication that
    * [[dedupPassages]] removes): for each document, the share of its
    * DISTINCT word-`n`-gram shingles that also occur in at least
    * `minDocs` documents corpus-wide. Output per input row: `n_shingles`
    * (distinct shingles), `dup_shingles` (those with corpus document
    * frequency ≥ `minDocs`), and the filterable `dup_frac_x100 =
    * dup_shingles·100 div n_shingles` (0 for null-text rows). Distinct
    * (not positional) shingles on purpose: a phrase repeated WITHIN one
    * document is [[graft.ext.TextAnalysis.repetitionStats]]' signal —
    * here it must not inflate the cross-document score.
    *
    * Scale shape: shingle sets are the native single-pass
    * [[graft.functions.ShingleHashes]] map over the scan (8-byte
    * hashes through every exchange, never shingle text); document
    * frequency is ONE partial-aggregated hash-keyed shuffle (map tasks
    * emit ≤ distinct-shingle rows; a 10⁸-doc boilerplate shingle
    * combines map-side — its df row is still one row); the flag join
    * back is hash-keyed with a 1-row-per-hash build side (AQE
    * broadcasts small dfs, skew-splits hot probes), and the per-doc
    * rollup partial-aggregates before its exchange. No pair explosion
    * anywhere — this is a profile, not a candidate generator, so the
    * hot-bucket guard is structurally unnecessary.
    */
  def duplicationProfile(docs: DataFrame, n: Int = 3, minDocs: Int = 2,
                         idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame = {
    require(n >= 1, s"shingle width must be >= 1, got $n")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val hs = docs.filter(col(textCol).isNotNull)
      .select(col(idCol), explode(shingleHashes(col(textCol), n)).as("__dp_h"))
      // pinned: dfreq AND the flag join both read hs — without the pin
      // the corpus scan + shingle explode runs twice, contradicting the
      // single-pass claim above (the nbParts/Decontamination pattern)
      .pin()
    val dfreq = hs.groupBy("__dp_h").agg(count(lit(1)).as("__dp_df"))
    val agg = hs.join(dfreq, "__dp_h")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("__dp_df") >= minDocs, lit(1L)).otherwise(lit(0L)))
          .as("dup_shingles"))
    docs.select(col(idCol))
      .join(agg, Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("dup_shingles"), lit(0L)).as("dup_shingles"),
        when(coalesce(col("n_shingles"), lit(0L)) > 0,
          expr("(dup_shingles * 100) div n_shingles"))
          .otherwise(lit(0L)).as("dup_frac_x100"))
  }

  /** Cross-DOMAIN duplication matrix — "which sources copy from each
    * other": for every pair of domains sharing at least one distinct
    * word-`n`-gram shingle, the count of shared distinct shingle
    * hashes and that count as an x100 share of EACH side's distinct
    * shingle vocabulary. The corpus-audit complement of
    * [[duplicationProfile]] (which scores documents): syndicated
    * boilerplate, mirrored sites and template reuse show up as hot
    * off-diagonal cells before any dedup runs. Output:
    * (domain_a, domain_b, shared_shingles, share_a_x100,
    * share_b_x100), domain_a < domain_b; null-domain and null-text
    * rows are excluded (no meaningful cell).
    *
    * Scale shape: ONE partial-aggregated distinct over (domain, hash)
    * — vocab × domain-presence bounded, never corpus-sized; per-hash
    * domain sets collect at most |domains| entries, and the pair
    * expansion is ROW-LOCAL (≤ D²/2 pairs per hash). A shingle
    * present in more than `maxDomains` domains is EXCLUDED from pair
    * counting (universal boilerplate would otherwise quadratically
    * dominate exactly when domains are fine-grained, e.g. URLs) —
    * run [[crossDomainOverflow]] for the disclosed exclusion list;
    * share denominators still count every distinct shingle. The
    * domain-count `types` table is |domains| rows and broadcasts.
    */
  def crossDomainDup(docs: DataFrame, n: Int = 3,
                     domainCol: String = "source",
                     idCol: String = "doc_id", textCol: String = "text",
                     maxDomains: Int = 64): DataFrame = {
    require(n >= 1, s"shingle width must be >= 1, got $n")
    require(maxDomains >= 2, s"maxDomains must be >= 2, got $maxDomains")
    val hd = docs
      .filter(col(textCol).isNotNull && col(domainCol).isNotNull)
      .select(col(domainCol).cast("string").as("__cd_dom"),
        explode(shingleHashes(col(textCol), n)).as("__cd_h"))
      .distinct()
    val types = hd.groupBy("__cd_dom").agg(count(lit(1)).as("__cd_types"))
    val pairs = hd.groupBy("__cd_h")
      .agg(sort_array(collect_set(col("__cd_dom"))).as("__cd_ds"))
      .filter(size(col("__cd_ds")).between(2, maxDomains))
      .select(explode(col("__cd_ds")).as("domain_a"), col("__cd_ds"))
      .select(col("domain_a"), explode(col("__cd_ds")).as("domain_b"))
      .filter(col("domain_a") < col("domain_b"))
      .groupBy("domain_a", "domain_b")
      .agg(count(lit(1)).as("shared_shingles"))
    val ta = broadcast(types.select(col("__cd_dom").as("domain_a"),
      col("__cd_types").as("__cd_ta")))
    val tb = broadcast(types.select(col("__cd_dom").as("domain_b"),
      col("__cd_types").as("__cd_tb")))
    pairs.join(ta, Seq("domain_a")).join(tb, Seq("domain_b"))
      .select(col("domain_a"), col("domain_b"), col("shared_shingles"),
        expr("(shared_shingles * 100) div __cd_ta").as("share_a_x100"),
        expr("(shared_shingles * 100) div __cd_tb").as("share_b_x100"))
  }

  /** Disclosure companion of [[crossDomainDup]]: the shingle hashes
    * excluded from pair counting because they occur in more than
    * `maxDomains` domains, with their domain count — non-empty means
    * the matrix under-counts universal boilerplate (visibly, not
    * silently).
    */
  def crossDomainOverflow(docs: DataFrame, n: Int = 3,
                          domainCol: String = "source",
                          textCol: String = "text",
                          maxDomains: Int = 64): DataFrame =
    docs.filter(col(textCol).isNotNull && col(domainCol).isNotNull)
      .select(col(domainCol).cast("string").as("__cd_dom"),
        explode(shingleHashes(col(textCol), n)).as("h"))
      .distinct()
      .groupBy("h").agg(countDistinct(col("__cd_dom")).as("n_domains"))
      .filter(col("n_domains") > maxDomains)

  /** SoftDeDup — duplicate-aware DOWN-WEIGHTING instead of removal
    * (She et al. 2024, "SoftDedup: an efficient data reweighting method
    * for speeding up language model pre-training"): hard dedup throws
    * information away at an arbitrary threshold; soft dedup keeps every
    * document but lowers the sampling weight of common ones. Per
    * document, COMMONNESS = mean corpus document-frequency of its
    * distinct word-`n`-gram shingles ([[duplicationProfile]]'s df law —
    * distinct on purpose: intra-doc repetition is repetitionStats'
    * signal), and the weight is its reciprocal. Integer-exact so both
    * engines agree bit for bit:
    *
    *   commonness_x100 = (Σ df · 100) div n_shingles   (≥ 100; 100 ⇔ all unique)
    *   weight_x100     = 10000 div commonness_x100     (≤ 100; 100 ⇔ unique doc)
    *
    * A document whose every shingle is corpus-unique keeps full weight;
    * one whose shingles appear in k documents on average weighs ≈ 1/k.
    * Null-text / shingle-less rows keep weight 100 (nothing duplicated
    * about them — the conservative posture for a REWEIGHTING pass;
    * quality gates are a different operator's job). Output for every
    * input row: (idCol, n_shingles, sum_df, commonness_x100,
    * weight_x100).
    *
    * Scale shape: identical to [[duplicationProfile]] — one pinned
    * shingle explode, one partial-aggregated df shuffle, one hash-keyed
    * flag join, one doc-keyed rollup; no pair explosion.
    */
  def softDedupWeights(docs: DataFrame, n: Int = 3,
                       idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    require(n >= 1, s"shingle width must be >= 1, got $n")
    val hs = docs.filter(col(textCol).isNotNull)
      .select(col(idCol), explode(shingleHashes(col(textCol), n)).as("__sd_h"))
      .pin()
    val dfreq = hs.groupBy("__sd_h").agg(count(lit(1)).as("__sd_df"))
    val agg = hs.join(dfreq, "__sd_h")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"), sum("__sd_df").as("sum_df"))
    docs.select(col(idCol))
      .join(agg, Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("sum_df"), lit(0L)).as("sum_df"),
        when(coalesce(col("n_shingles"), lit(0L)) > 0,
          expr("(sum_df * 100) div n_shingles"))
          .otherwise(lit(0L)).as("commonness_x100"),
        when(coalesce(col("n_shingles"), lit(0L)) > 0,
          expr("10000 div ((sum_df * 100) div n_shingles)"))
          .otherwise(lit(100L)).as("weight_x100"))
  }

  /** SoftDeDup SELECTION: the [[softDedupWeights]] weights applied as a
    * deterministic keep rule — document kept iff its [[graft.ext.
    * Sampling.bucket]] polyhash falls under weight_x100/100 (the
    * shuffle-free sampleByRate law, so the draw is reproducible across
    * runs, partitionings and engines; no RNG). Output: the kept rows'
    * (idCol, weight_x100) — in expectation each duplicated cluster
    * contributes ~1 document's worth of mass, without the cliff of a
    * hard threshold.
    */
  def softDedupSample(docs: DataFrame, n: Int = 3,
                      idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame =
    graft.ext.Sampling.sampleByRate(
      softDedupWeights(docs, n, idCol, textCol),
      col(idCol), col("weight_x100"), den = 100)
      .select(col(idCol), col("weight_x100"))

  /** Shared front half of the ExactSubstr family ([[dupSpanStats]] /
    * [[removeDupSpans]]): per document, the SORTED array of 0-based
    * token positions starting a duplicated `minLen`-token window.
    * A window (stride 1 — every position, unlike [[dedupPassages]]'
    * stride-`window` passages) is duplicated when its PolyHash occurs
    * ≥ 2 times corpus-wide; under `keepFirst` the globally-first
    * occurrence (min packed `id·PassageKeyBase + pos` key) is NOT
    * flagged, so one copy of every duplicated substring survives —
    * the Lee et al. ExactSubstr posture; `keepFirst = false` flags
    * every occurrence (boilerplate removal). Only documents with ≥ 1
    * flagged window appear in the output.
    *
    * Scale shape: the windows relation is one row per TOKEN (stride 1
    * is the point of ExactSubstr — ~`minLen`× the passage relation),
    * but window text is hashed row-locally inside the scan stage and
    * only (id, pos, hash, key) ever reaches an exchange. Then the
    * dedupPassages shuffle plan: one partial-aggregated hash-keyed
    * count/min (a span duplicated 10⁸ times still combines map-side),
    * one hash-keyed flag join (1 row per hash build side; AQE splits
    * hot boilerplate keys), and one doc-keyed collect bounded by
    * document length. No pair explosion, no global window, nothing on
    * the driver.
    */
  private def dupSpanStarts(docs: DataFrame, minLen: Int, idCol: String,
                            textCol: String, keepFirst: Boolean,
                            opName: String): DataFrame = {
    require(minLen >= 2,
      s"$opName: minLen must be >= 2 (1 would flag every repeated word), got $minLen")
    require(!idCol.contains("`"),
      s"$opName: idCol must not contain a backtick, got '$idCol'")
    val idL = expr(s"try_cast(`$idCol` AS BIGINT)")
    val keyOk = idL.isNotNull && idL >= 0 && idL < MaxPassageDocId &&
      col("__ds_i") < PassageKeyBase
    // window hashes in ONE native byte pass per document (round 22,
    // graft.functions.GramHashes — bit-identical to
    // polyFingerprint64(concat_ws(" ", slice(ws, pos + 1, minLen))),
    // spec-asserted): the HOF chain it replaces allocated a
    // minLen-word string per TOKEN inside the scan stage
    val wins = docs.filter(col(textCol).isNotNull)
      .select(col(idCol),
        explode(graft.functions.gramHashes(col(textCol), minLen))
          .as("__ds_g"))
      .select(col(idCol), col("__ds_g.pos").cast("int").as("__ds_i"),
        col("__ds_g.fp").as("__ds_h"))
    val p = wins.select(col(idCol), col("__ds_i"), col("__ds_h"),
      when(keyOk, idL * PassageKeyBase + col("__ds_i"))
        .otherwise(raise_error(concat(
          lit(s"$opName: '$idCol' must cast to a long in " +
            s"[0, $MaxPassageDocId) and documents must have fewer than " +
            s"$PassageKeyBase tokens; violating row: $idCol="),
          coalesce(col(idCol).cast("string"), lit("null")),
          lit(", pos="), col("__ds_i").cast("string")))).as("__ds_k"))
    val firsts = p.groupBy("__ds_h")
      .agg(min("__ds_k").as("__ds_first"), count(lit(1)).as("__ds_n"))
    p.join(firsts, "__ds_h")
      .filter(col("__ds_n") >= 2 &&
        (if (keepFirst) col("__ds_k") =!= col("__ds_first") else lit(true)))
      .groupBy(col(idCol))
      .agg(array_sort(collect_list(col("__ds_i"))).as("__ds_starts"))
  }

  /** Row-local fold merging a SORTED array of flagged window starts
    * into maximal duplicated spans (fixed window length `minLen`;
    * adjacency merges: a window starting exactly at the previous end
    * extends the span). `finish` projects the wanted shape out of the
    * (curStart, curEnd, closed-interval accumulator) state.
    */
  private def foldSpans(starts: Column, minLen: Int, accInit: Column,
                        onClose: (Column, Column, Column) => Column,
                        finish: (Column, Column, Column) => Column): Column = {
    val acc0 = struct(lit(-1L).as("s"), lit(-1L).as("e"), accInit.as("acc"))
    aggregate(starts, acc0,
      (a, s0) => {
        val s = s0.cast("long")
        val open = a.getField("s") >= 0
        val ext = open && s <= a.getField("e")
        struct(
          when(ext, a.getField("s")).otherwise(s).as("s"),
          (s + minLen).as("e"),
          when(ext, a.getField("acc"))
            .otherwise(when(open,
              onClose(a.getField("acc"), a.getField("s"), a.getField("e")))
              .otherwise(a.getField("acc"))).as("acc"))
      },
      a => {
        val open = a.getField("s") >= 0
        finish(
          when(open, onClose(a.getField("acc"), a.getField("s"),
            a.getField("e"))).otherwise(a.getField("acc")),
          a.getField("s"), a.getField("e"))
      })
  }

  /** ExactSubstr-STYLE duplicated-span statistics (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better" —
    * the suffix-array ExactSubstr pass re-expressed as hashed
    * stride-1 windows): a token is DUPLICATED when any `minLen`-token
    * window covering it also occurs elsewhere in the corpus; per
    * document, overlapping/adjacent flagged windows merge into
    * maximal spans. Output for EVERY input row: (idCol, n_tokens,
    * dup_tokens, n_spans, max_span) — null text → all zeros. Under
    * `keepFirst` (default) the globally-first occurrence of each
    * window is exempt, so a corpus-unique document scores 0 even when
    * it is the COPIED-FROM source. As with the passage family, dedup
    * is by PolyHash — a 31-bit collision merges unrelated windows
    * (disclosed trade).
    */
  def dupSpanStats(docs: DataFrame, minLen: Int = 10,
                   idCol: String = "doc_id", textCol: String = "text",
                   keepFirst: Boolean = true): DataFrame = {
    val flagged = dupSpanStarts(docs, minLen, idCol, textCol, keepFirst,
      "dupSpanStats")
    val stats = flagged.select(col(idCol),
      foldSpans(col("__ds_starts"), minLen,
        accInit = struct(lit(0L).as("dup"), lit(0L).as("spans"),
          lit(0L).as("mx")),
        onClose = (acc, s, e) => struct(
          (acc.getField("dup") + (e - s)).as("dup"),
          (acc.getField("spans") + 1L).as("spans"),
          greatest(acc.getField("mx"), e - s).as("mx")),
        finish = (acc, _, _) => acc).as("__ds_r"))
    docs.select(col(idCol), col(textCol))
      .join(stats, Seq(idCol), "left_outer")
      .select(col(idCol),
        when(col(textCol).isNull, lit(0L))
          .otherwise(size(split(col(textCol), " ")).cast("long"))
          .as("n_tokens"),
        coalesce(col("__ds_r").getField("dup"), lit(0L)).as("dup_tokens"),
        coalesce(col("__ds_r").getField("spans"), lit(0L)).as("n_spans"),
        coalesce(col("__ds_r").getField("mx"), lit(0L)).as("max_span"))
  }

  /** ExactSubstr-style duplicated-span REMOVAL: drops every token of
    * every duplicated span ([[dupSpanStats]] semantics, including the
    * `keepFirst` exemption) and reassembles the survivors in order.
    * Output for EVERY input row: (idCol, clean_text, n_tokens,
    * kept_tokens); null text stays null, a fully-duplicated document
    * becomes the empty string. The coverage test is row-local:
    * flagged starts fold into merged intervals (few, even when many
    * windows flag) and each token index probes them with `exists` —
    * O(tokens · spans) per row, never a shuffle.
    */
  def removeDupSpans(docs: DataFrame, minLen: Int = 10,
                     idCol: String = "doc_id", textCol: String = "text",
                     keepFirst: Boolean = true): DataFrame = {
    val flagged = dupSpanStarts(docs, minLen, idCol, textCol, keepFirst,
      "removeDupSpans")
    val ivs = flagged.select(col(idCol),
      foldSpans(col("__ds_starts"), minLen,
        accInit = array().cast("array<struct<s:bigint,e:bigint>>"),
        onClose = (acc, s, e) =>
          concat(acc, array(struct(s.as("s"), e.as("e")))),
        finish = (acc, _, _) => acc).as("__ds_ivs"))
    val ws = split(col(textCol), " ")
    val kept = filter(sequence(lit(0), size(col("__ds_ws")) - 1),
      t => !exists(col("__ds_ivs"),
        iv => t.cast("long") >= iv.getField("s") &&
          t.cast("long") < iv.getField("e")))
    docs.select(col(idCol), col(textCol))
      .join(ivs, Seq(idCol), "left_outer")
      .withColumn("__ds_ws", ws)
      .withColumn("__ds_ivs",
        coalesce(col("__ds_ivs"),
          array().cast("array<struct<s:bigint,e:bigint>>")))
      .withColumn("__ds_kept", kept)
      .select(col(idCol),
        when(col(textCol).isNull, lit(null).cast("string"))
          .otherwise(concat_ws(" ", transform(col("__ds_kept"),
            t => element_at(col("__ds_ws"), t + 1)))).as("clean_text"),
        when(col(textCol).isNull, lit(0L))
          .otherwise(size(col("__ds_ws")).cast("long")).as("n_tokens"),
        when(col(textCol).isNull, lit(0L))
          .otherwise(size(col("__ds_kept")).cast("long")).as("kept_tokens"))
  }

  /** NORMALIZED exact-dup groups: byte-exact grouping after
    * [[TextAnalysis.normalizeText]] — catches the most common crawl
    * duplicate byte-exact grouping misses (same page re-serialized
    * with different casing/punctuation/whitespace) at hash-groupBy
    * cost, far below near-dup banding. Output: one row per group with
    * > 1 member, (norm_fp, keep_id, n_copies); the 31-bit PolyHash
    * group key is the same collision posture as the media dup grouping
    * (pair with [[nearDupPairs]] when collisions matter).
    *
    * Scale shape: one codegen'd normalize+hash map over the scan, one
    * partial-agg groupBy of 8-byte keys.
    */
  def normalizedDupGroups(docs: DataFrame, idCol: String = "doc_id",
                          textCol: String = "text"): DataFrame =
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol),
        polyFingerprint64(TextAnalysis.normalizeText(col(textCol)))
          .as("norm_fp"))
      .groupBy("norm_fp")
      .agg(min(col(idCol)).as("keep_id"),
        count(lit(1)).as("n_copies"))
      .filter(col("n_copies") > 1)

  /** CONTINUATION-pair detection — the pagination-split problem: a
    * crawler that saved one article as pages A, B leaves A's last
    * `window` words equal to B's first `window` words (overlapping
    * page renders). Pairs where tail(A) == head(B), found by an
    * equi-join on the boundary-gram hash and VERIFIED on the actual
    * gram text (hash collisions cannot fabricate a pair). Docs shorter
    * than `window` words have no reliable boundary and are excluded.
    * Output: (prev_id, next_id, boundary_gram).
    *
    * Scale shape: one codegen'd map emits two (hash, gram) boundary
    * keys per doc; one hash equi-join pairs tails with heads —
    * boundary-gram hashes are near-unique, so the join is
    * collision-bounded, never all-pairs.
    */
  def continuationPairs(docs: DataFrame, window: Int = 8,
                        idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    require(window > 0, s"window must be positive, got $window")
    val ws = split(col(textCol), " ")
    val n = size(ws)
    val head = concat_ws(" ", slice(ws, 1, window))
    val tail = concat_ws(" ", slice(ws, -window, window))
    val base = docs.filter(col(textCol).isNotNull && n >= window)
      .select(col(idCol), head.as("__cp_head"), tail.as("__cp_tail"))
    val tails = base.select(col(idCol).as("prev_id"),
      col("__cp_tail").as("boundary_gram"),
      polyFingerprint(col("__cp_tail")).as("__cp_h"))
    val heads = base.select(col(idCol).as("next_id"),
      col("__cp_head").as("__cp_hg"),
      polyFingerprint(col("__cp_head")).as("__cp_h"))
    tails.join(heads, "__cp_h")
      .filter(col("prev_id") =!= col("next_id") &&
        col("boundary_gram") === col("__cp_hg"))
      .select("prev_id", "next_id", "boundary_gram")
  }

  /** Per-DOMAIN exact-duplicate rates: docs, distinct text
    * fingerprints, duplicate count and ×100 share per source — the
    * "which feed ships dupes" triage number that decides where dedup
    * effort goes. One hash map over the scan, one (domain, fp)
    * partial-agg, one domain rollup.
    */
  def domainDupRates(docs: DataFrame, domainCol: String = "source",
                     textCol: String = "text"): DataFrame =
    docs.filter(col(textCol).isNotNull && col(domainCol).isNotNull)
      .groupBy(col(domainCol),
        polyFingerprint64(col(textCol)).as("__dr_fp"))
      .agg(count(lit(1)).as("__dr_c"))
      .groupBy(domainCol)
      .agg(sum("__dr_c").as("n_docs"),
        count(lit(1)).as("n_distinct"),
        (sum("__dr_c") - count(lit(1))).as("n_dups"))
      .withColumn("dup_x100", expr("n_dups * 100 div n_docs"))

  /** Doc-level MIRROR detection: exact text fingerprints shared by
    * more than one DOMAIN — syndication/mirror sites at document
    * granularity (the [[crossDomainDup]] shingle matrix tells you two
    * domains overlap; this names the actual mirrored documents).
    * Output: (content_fp, n_sources, n_copies, keep_id) for every
    * cross-domain group. One codegen'd hash map over the scan + one
    * fp-keyed partial aggregation — 8-byte keys through the exchange.
    */
  def mirrorDocs(docs: DataFrame, domainCol: String = "source",
                 idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame =
    docs.filter(col(textCol).isNotNull && col(domainCol).isNotNull)
      .select(col(idCol), col(domainCol),
        polyFingerprint64(col(textCol)).as("content_fp"))
      .groupBy("content_fp")
      .agg(countDistinct(col(domainCol)).as("n_sources"),
        count(lit(1)).as("n_copies"),
        min(col(idCol)).as("keep_id"))
      .filter(col("n_sources") > 1)

  /** Contrastive TRAINING TRIPLETS mined from the corpus itself —
    * (anchor, positive, negative) rows for embedding-model training:
    * positives are verified near-dup pairs at Jaccard ≥ jNum/jDen
    * (integer cross-multiplied, the [[nearDupPairs]] pipeline), and
    * each pair's negative is a deterministic hash-random corpus doc —
    * the doc at hash rank (polyhash(anchor:positive) mod n) in a global
    * hash ordering, skipping forward past the pair itself (three
    * candidate ranks r, r+1, r+2 mod n guarantee a non-member for any
    * corpus of ≥ 3 docs). RNG-free: the same corpus always yields the
    * same triplets, on any engine or partitioning.
    *
    * Scale shape: the global hash ranking is the DECOMPOSED prefix-sum
    * (bucket-grouped row_numbers + per-group count offsets, the
    * Packing posture — never a single-task global window); negatives
    * resolve through a rank equi-join carrying 3 rows per pair; the
    * near-dup side inherits the guarded LSH machinery wholesale.
    */
  def contrastiveTriplets(docs: DataFrame, jNum: Int = 1, jDen: Int = 2,
                          idCol: String = "doc_id",
                          textCol: String = "text",
                          groupWidth: Int = 16): DataFrame = {
    require(jNum >= 0 && jDen > 0 && jNum <= jDen,
      s"jaccard threshold $jNum/$jDen must be a fraction in [0, 1]")
    require(groupWidth > 0, s"groupWidth must be positive, got $groupWidth")
    val pairs = nearDupPairs(docs, idCol, textCol)
      .filter(col("inter") * jDen >= col("uni") * jNum)
      .select(col("doc_a").as("anchor_id"), col("doc_b").as("positive_id"))
    val bkt = Sampling.bucket(col(idCol))
    val base = docs.select(col(idCol)).withColumn("__ct_bkt", bkt)
      .withColumn("__ct_grp", (col("__ct_bkt") / groupWidth).cast("long"))
    val inGrp = Window.partitionBy("__ct_grp")
      .orderBy(col("__ct_bkt"), col(idCol))
    val withRn = base
      .withColumn("__ct_rn", row_number().over(inGrp).cast("long"))
    // per-group offsets: bounded by Grain/groupWidth rows, broadcast
    val offsets = base.groupBy("__ct_grp")
      .agg(count(lit(1)).as("__ct_cnt"))
      .withColumn("__ct_off",
        coalesce(sum("__ct_cnt").over(
          Window.orderBy("__ct_grp")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("__ct_grp", "__ct_off")
    val ranked = withRn.join(broadcast(offsets), "__ct_grp")
      .select(col(idCol).as("__ct_cand"),
        (col("__ct_rn") + col("__ct_off")).as("__ct_rank"))
    val n = docs.agg(count(lit(1)).as("__ct_n"))
    val cands = pairs.crossJoin(broadcast(n))
      .withColumn("__ct_h", pmod(polyFingerprint(
        concat(col("anchor_id").cast("string"), lit(":"),
          col("positive_id").cast("string"))), col("__ct_n")))
      .select(col("anchor_id"), col("positive_id"), col("__ct_n"),
        col("__ct_h"), explode(array(lit(0L), lit(1L), lit(2L))).as("__ct_k"))
      .withColumn("__ct_rank",
        pmod(col("__ct_h") + col("__ct_k"), col("__ct_n")) + 1)
    cands.join(ranked, "__ct_rank")
      .filter(col("__ct_cand") =!= col("anchor_id") &&
        col("__ct_cand") =!= col("positive_id"))
      .groupBy("anchor_id", "positive_id")
      .agg(min(struct(col("__ct_k"), col("__ct_cand"))).as("__ct_pick"))
      .select(col("anchor_id"), col("positive_id"),
        col("__ct_pick.__ct_cand").as("negative_id"))
  }
}
