package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.RatingsOps

/** The reference topology (SURVEY.md §0 diagram) as one Structured
  * Streaming graph. Every derived relation is the SAME RatingsOps plan
  * the batch/oracle path runs — a streaming DataFrame goes in, so
  * Catalyst plans the incremental execution; nothing is reimplemented.
  *
  *   ratings ──┬─ live  = filter NOT LIKE          (ksqldb-statements.sql:13–14)
  *             ├─ test  = filter LIKE              (ksqldb-statements.sql:16–17)
  *             ├─ enriched = ⟕ customers           (ksqldb-statements.sql:50–60)
  *             │    ├─ unhappyPlatinum             (ksqldb-statements.sql:62–68)
  *             │    ├─ perCustomer15min (tumbling) (ksqldb-statements.sql:88–93)
  *             │    └─ byClubStatus1min (tumbling) (README.md:333–353)
  *             └─ hopping/session windows          (README.md:321–325)
  *
  * Watermark policy (SURVEY.md §2.8): the reference declares NO watermark
  * — ksqlDB absorbs late data via changelog re-emission. Spark needs one
  * for state cleanup, so it is an explicit parameter (default 10 min);
  * run windowed aggs in update output mode for `EMIT CHANGES` parity
  * (append mode would delay results until watermark close).
  *
  * The customers side is stream-STATIC: Spark re-binds the static plan
  * every micro-batch, so a refreshable static source (parquet dir, Delta)
  * reproduces the reference's live-update probe (README.md:201–210);
  * for true changelog semantics maintain the customers table with
  * [[ManifestStore.maintain]] and enrich through
  * [[ManifestStore.joinEachBatch]].
  */
final case class RatingsPipeline(
    ratings: DataFrame,
    live: DataFrame,
    test: DataFrame,
    enriched: DataFrame,
    unhappyPlatinum: DataFrame,
    perCustomer15min: DataFrame,
    byClubStatus1min: DataFrame,
    hopping10m5m: DataFrame,
    session30m: DataFrame)

object RatingsPipeline {

  def apply(ratings: DataFrame, customers: DataFrame,
            watermark: String = "10 minutes"): RatingsPipeline = {
    val live = RatingsOps.live(ratings, "%test%")
    val test = RatingsOps.test(ratings, "%test%")
    val enriched = RatingsOps.enrich(ratings, customers)
    val watermarked = enriched.withWatermark("ts", watermark)
    val ratingsWm = ratings.withWatermark("ts", watermark)
    RatingsPipeline(
      ratings = ratings,
      live = live,
      test = test,
      enriched = enriched,
      unhappyPlatinum =
        RatingsOps.unhappyPlatinum(enriched, 3.0, "platinum"),
      perCustomer15min = RatingsOps.perCustomer15min(watermarked),
      byClubStatus1min = RatingsOps.byClubStatus1min(watermarked),
      // A4 streaming halves: hopping 10m/5m per CHANNEL, session 30m gap
      // per USER_ID — built-in window()/session_window(), watermarked.
      hopping10m5m = ratingsWm
        .groupBy(window(col("ts"), "10 minutes", "5 minutes").as("w"),
          col("CHANNEL"))
        .agg(count(lit(1)).as("N"))
        .select(col("w.start").as("WINDOW_START"), col("CHANNEL"), col("N")),
      session30m = ratingsWm
        .groupBy(session_window(col("ts"), "30 minutes").as("w"),
          col("USER_ID"))
        .agg(count(lit(1)).as("N_EVENTS"))
        .select(col("USER_ID"), col("w.start").as("SESSION_START"),
          col("w.end").as("SESSION_END"), col("N_EVENTS")))
  }
}
