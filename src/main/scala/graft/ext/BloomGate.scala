package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import graft.core.Pin._
import graft.functions.{BloomBitPositions, BloomBits, BloomMightContain}

/** Bloom-filter membership gate for corpus-vs-corpus scale: when the
  * reference key set is itself corpus-sized (decontaminating against an
  * earlier 100 TB snapshot's grams, not an eval set), neither a
  * broadcast IN-list nor a full shuffle join of every corpus gram is
  * acceptable. The gate:
  *
  *   1. folds the reference keys into an m-bit Bloom bitset with ONE
  *      distributed partial-aggregated pass (k bit positions per key,
  *      OR-combined per 64-bit word — ≤ m/64 rows ever reach the
  *      driver, a CONFIG bound, not a data bound);
  *   2. probes corpus keys MAP-SIDE through a codegen'd expression
  *      carrying the bitset as a task-shipped reference object — the
  *      overwhelming non-member majority dies before any exchange;
  *   3. confirms survivors with the exact join — Bloom has zero false
  *      negatives, so the confirm join removes exactly the false
  *      positives and the final result is bit-identical to the
  *      unfiltered exact operator (the j_salted_join "provably
  *      invisible" contract: the oracle is the PLAIN exact query).
  *
  * Build and probe share [[BloomBits.positions]] (double-hashed XXH64),
  * so membership can never drift between the two sides.
  */
object BloomGate {

  val DefaultNumBits: Int = 1 << 20
  val DefaultK: Int = 5

  /** Build-side Column: the k bit positions of a long key. */
  def bitPositions(key: Column, numBits: Int = DefaultNumBits,
                   k: Int = DefaultK): Column =
    Bridge.column(BloomBitPositions(Bridge.expression(key), numBits, k))

  /** Probe-side Column over a built bitset: map-side, codegen'd. */
  def mightContain(key: Column, words: Array[Long],
                   numBits: Int = DefaultNumBits, k: Int = DefaultK): Column =
    Bridge.column(BloomMightContain(Bridge.expression(key), words, numBits, k))

  /** Distributed Bloom build over a long-keyed relation: explode the k
    * positions, OR-fold per word — partial aggregation means each
    * executor contributes its local word map and only ≤ numBits/64
    * word rows cross the wire. Missing words (no bit set) stay 0.
    */
  def buildBits(keys: DataFrame, keyCol: Column,
                numBits: Int = DefaultNumBits, k: Int = DefaultK): Array[Long] = {
    require(numBits % 64 == 0, s"numBits must be a multiple of 64, got $numBits")
    val words = new Array[Long](numBits / 64)
    keys.select(explode(bitPositions(keyCol, numBits, k)).as("pos"))
      .select((col("pos") / 64).cast("int").as("w"),
        expr("shiftleft(1L, cast(pos % 64 AS int))").as("bit"))
      .groupBy("w").agg(expr("bit_or(bit)").as("bits"))
      .collect()
      .foreach(r => words(r.getInt(0)) = r.getLong(1))
    words
  }

  /** Exact decontamination behind a Bloom prefilter: bit-identical to
    * [[Decontamination.decontaminateAgainst]] (the bench gram set is
    * exact-joined only by corpus grams that survive the probe), with
    * the corpus-side gram stream cut map-side before its one exchange.
    * `grams` must be a one-column (`gram`, long) relation; at true
    * corpus-vs-corpus scale pass a persisted gram table and size
    * `numBits` to its cardinality.
    */
  def decontaminateAgainst(corpus: DataFrame, grams: DataFrame, minOverlap: Int = 1,
                           numBits: Int = DefaultNumBits,
                           k: Int = DefaultK): DataFrame = {
    require(minOverlap >= 1, s"minOverlap must be >= 1, got $minOverlap")
    val bits = buildBits(grams, col("gram"), numBits, k)
    val report = corpus.select(col("doc_id"),
        explode(Dedup.shingleHashes(col("text"), 3)).as("gram"))
      .filter(mightContain(col("gram"), bits, numBits, k))
      .join(grams, "gram")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("overlap_grams"))
      .filter(col("overlap_grams") >= minOverlap)
    corpus.join(report.select(col("doc_id")), Seq("doc_id"), "left_anti")
  }

  /** [[decontaminateAgainst]] with the gram set derived from the bench
    * relation inline (distinct shingle hashes).
    */
  def decontaminate(corpus: DataFrame, bench: DataFrame, minOverlap: Int = 1,
                    numBits: Int = DefaultNumBits, k: Int = DefaultK): DataFrame =
    decontaminateAgainst(corpus,
      Decontamination.benchmarkGrams(bench).pin(), minOverlap, numBits, k)
}
