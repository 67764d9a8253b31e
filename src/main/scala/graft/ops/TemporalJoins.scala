package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructField, StructType,
  TimestampNTZType, TimestampType}
import graft.core.Overlap
import graft.core.Pin._

/** Temporal joins Spark has no native operator for — AS-OF
  * (point-in-time: each left row picks the single nearest right row at
  * or before — or, `direction = "forward"`, at or after — its
  * timestamp, per key; the feature-store join every training pipeline
  * needs for leakage-free feature attachment) and RANGE (each left row
  * matches the right intervals containing its timestamp). Both are
  * expressed as compositions Catalyst can optimize — no custom physical
  * operator is required because the semantics decompose into
  * window/equi-join primitives:
  *
  *  - AS-OF: the sort-merge formulation — union the two sides tagged,
  *    one window per key carries the latest right payload forward, left
  *    rows read it. ONE shuffle on the key (both sides), no point-in-
  *    time self-join explosion, no driver work. This is the formulation
  *    that survives 100 TB: per-key event history sorts inside its own
  *    partition; a hot key degrades to a single sorted partition (the
  *    inherent lower bound for sort-based as-of), never a cross join.
  *    `direction = "forward"` is the SAME window with the time ordering
  *    reversed; `tolerance` nulls out matches staler than a bound —
  *    both knobs are row-local post-processing on the carried match, so
  *    the shuffle shape is identical to the unbounded join.
  *  - RANGE: the bin-and-verify formulation — intervals explode into
  *    covered fixed-width bins (bounded by a disclosed cap), left
  *    timestamps bin once, an equi-join on (keys, bin) prunes the
  *    quadratic space, and the exact range predicate verifies. Work is
  *    O(|left| + Σ bins(interval) + matches) — never the
  *    BroadcastNestedLoopJoin a naive `t BETWEEN start AND end` join
  *    plan falls into when the build side outgrows broadcast range.
  *    `joinType = "left_outer"` preserves unmatched left rows with null
  *    interval payload (the attach-containing-window-else-null
  *    enrichment shape) by pushing the verify predicate into the join
  *    condition — still the same single (keys, bin) equi-shuffle.
  */
object TemporalJoins {

  /** Exact integer floor division of a long column by a positive
    * constant — `floor(col / m)` promotes to double and can misround
    * near 2⁵³; `(c - pmod(c, m)) div m` stays integer-exact for every
    * long (pmod is non-negative, so the numerator is the exact largest
    * multiple of m at or below c, and `div` of an exact multiple is the
    * floor).
    */
  private def floorDivExpr(colName: String, m: Long): Column =
    expr(s"(`$colName` - pmod(`$colName`, ${m}L)) div ${m}L")

  /** Epoch-micros of a time column, by declared type: TimestampType
    * reads directly; TIMESTAMP_NTZ (what `isAdjustedToUTC=false` parquet
    * infers as under Spark 4's default conf) casts to TimestampType
    * first — under the engine's pinned-UTC sessions that cast is a
    * bit-identical reinterpretation of the stored micros, and
    * `unix_micros` on raw NTZ is an analysis error. Numeric time
    * columns pass through in their own units (documented contract).
    * The engine's one event-time rule: every event operator, batch and
    * streaming, reads its time column through it.
    */
  private[graft] def toMicros(c: Column, dt: DataType): Column = dt match {
    case TimestampType    => unix_micros(c)
    case TimestampNTZType => unix_micros(c.cast(TimestampType))
    case _                => c.cast("long")
  }

  private def requireNoReserved(df: DataFrame, side: String,
                                prefix: String): Unit = {
    val hit = df.columns.filter(_.startsWith(prefix))
    require(hit.isEmpty,
      s"$side column(s) ${hit.mkString(", ")} use the reserved internal " +
        s"prefix '$prefix' — rename before joining (withColumn would " +
        "silently replace them and change join semantics)")
  }

  /** AS-OF join: every `left` row, plus `right`'s payload columns from
    * the single right row NEAREST its timestamp on the `direction` side
    * — `"backward"` (default): the greatest `rightTime <=` the left
    * row's `leftTime`; `"forward"`: the smallest `rightTime >=` it;
    * `"nearest"`: whichever of those two is closer in time (ties go
    * BACKWARD — the leakage-conservative side) — for the same `keys`
    * (inclusive match either way — a right row AT the left timestamp is
    * visible), or nulls when no right row qualifies (left-outer
    * semantics; left row count is preserved). `nearest` costs no extra
    * shuffle: both carries share the one key partitioning (two sorts,
    * one exchange) and the choice is row-local.
    *
    * `tolerance` bounds match staleness: a nearest match farther than
    * `tolerance` from the left timestamp yields NULL payload instead —
    * the feature-freshness guard (an unbounded-lookback as-of silently
    * attaches a years-old feature row; with a tolerance the row
    * surfaces as missing and the pipeline can impute or drop).
    * Units: MICROSECONDS for timestamp-typed time columns; the
    * column's own units for numeric time columns. Inclusive bound
    * (staleness == tolerance still matches).
    *
    * Contracts (violations would make "the" match ill-defined):
    *  - `right` is unique per (keys, rightTime) — pre-aggregate first
    *    (e.g. latest-by-key per timestamp) if it is not;
    *  - right rows with a null key or null time never match anything
    *    and are dropped here (a null-keyed LEFT row still flows
    *    through, with null payload);
    *  - right payload column names must not collide with left columns,
    *    and neither side may use the reserved `__aj_` prefix.
    */
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
               leftTime: String = "ts", rightTime: String = "ts",
               tolerance: Option[Long] = None,
               direction: String = "backward"): DataFrame = {
    require(keys.nonEmpty, "asofJoin needs at least one key column")
    require(Seq("backward", "forward", "nearest").contains(direction),
      s"direction must be backward, forward, or nearest, got $direction")
    tolerance.foreach(t =>
      require(t >= 0, s"tolerance must be >= 0, got $t"))
    requireNoReserved(left, "left", "__aj_")
    requireNoReserved(right, "right", "__aj_")
    val payload = right.columns.toSeq
      .filterNot(c => keys.contains(c) || c == rightTime)
    require(payload.nonEmpty,
      s"right side carries no payload columns beyond keys $keys and time " +
        s"'$rightTime'")
    val clash = payload.intersect(left.columns.toSeq)
    require(clash.isEmpty,
      s"right payload column(s) ${clash.mkString(", ")} collide with left " +
        "columns — rename before joining")
    val leftCols = left.columns.toSeq
    // the payload rides as ONE struct so a matched right row is taken
    // as a unit — per-column last(ignoreNulls) would leak an OLDER
    // row's value through any null payload column of the true match.
    // The matched right TIME rides beside it (field "t") so the
    // tolerance check reads the actual matched row's timestamp.
    val pType = StructType(payload.map(c => right.schema(c)))
    val cType = StructType(Seq(StructField("p", pType),
      StructField("t", right.schema(rightTime).dataType)))
    // aligned union schema: [left columns..., __aj_p, __aj_t, __aj_tag]
    val lPart = left.select(
      leftCols.map(col) ++ Seq(lit(null).cast(cType).as("__aj_p"),
        col(leftTime).as("__aj_t"), lit(1).as("__aj_tag")): _*)
    val rPart = right
      .filter(keys.map(col(_).isNotNull).reduce(_ && _) &&
        col(rightTime).isNotNull)
      .select(
        leftCols.map(c => if (keys.contains(c)) col(c)
          else lit(null).cast(left.schema(c).dataType).as(c)) ++
        Seq(struct(struct(payload.map(col): _*).as("p"),
            col(rightTime).as("t")).as("__aj_p"),
          col(rightTime).as("__aj_t"), lit(0).as("__aj_tag")): _*)
    // tag orders right (0) before left (1) at equal timestamps → the
    // inclusive match; rows-between running `last ignoreNulls` is the
    // carry-forward. Forward direction = the same carry with time
    // DESCENDING: the "last right seen so far" is then the smallest
    // rightTime >= the left row's time. Nearest runs BOTH carries —
    // same partitioning, so Catalyst plans one exchange with two sorts
    // — and chooses row-locally.
    val wB = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__aj_t").asc, col("__aj_tag").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wF = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__aj_t").desc, col("__aj_tag").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val unioned = lPart.union(rPart)
    // staleness of a matched row, measured toward its match direction;
    // micros for timestamps, raw column units otherwise
    def asUnits(c: Column, isLeft: Boolean): Column =
      toMicros(c, if (isLeft) left.schema(leftTime).dataType
                  else right.schema(rightTime).dataType)
    val lt = asUnits(col("__aj_t"), isLeft = true)
    def valid(p: Column, backward: Boolean): Column = {
      val staleness =
        if (backward) lt - asUnits(p("t"), isLeft = false)
        else asUnits(p("t"), isLeft = false) - lt
      tolerance.fold(p.isNotNull)(tol => p.isNotNull && staleness <= lit(tol))
    }
    val chosen = direction match {
      case "backward" | "forward" =>
        val backward = direction == "backward"
        unioned
          .withColumn("__aj_p", last(col("__aj_p"), ignoreNulls = true)
            .over(if (backward) wB else wF))
          .filter(col("__aj_tag") === 1)
          .withColumn("__aj_sel",
            when(valid(col("__aj_p"), backward), col("__aj_p")))
      case _ => // nearest: closer of the two sides, ties backward
        val carried = unioned
          .withColumn("__aj_pb", last(col("__aj_p"), ignoreNulls = true).over(wB))
          .withColumn("__aj_pf", last(col("__aj_p"), ignoreNulls = true).over(wF))
          .filter(col("__aj_tag") === 1)
        val db = lt - asUnits(col("__aj_pb")("t"), isLeft = false)
        val df = asUnits(col("__aj_pf")("t"), isLeft = false) - lt
        val vb = valid(col("__aj_pb"), backward = true)
        val vf = valid(col("__aj_pf"), backward = false)
        carried.withColumn("__aj_sel",
          when(vb && (!vf || db <= df), col("__aj_pb"))
            .when(vf, col("__aj_pf")))
    }
    chosen.select(leftCols.map(col) ++
      payload.map(c => col("__aj_sel")("p")(c).as(c)): _*)
  }

  /** Cap on time bins per interval in [[rangeJoin]]: an interval
    * spanning more bins than this (relative to `binMicros`) would
    * explode into an unbounded row blow-up; such intervals are EXCLUDED
    * from the join and disclosed (WARN), mirroring the dedup family's
    * hot-bucket guard — pick `binMicros` near the typical interval
    * length so intervals cover a handful of bins.
    */
  val DefaultMaxBinsPerInterval: Int = 1024

  /** RANGE (interval) join: (left row, right row) for every pair with
    * equal `keys` and `startCol <= timeCol < endCol` (half-open, the
    * convention window semantics use). Output: all left columns + all
    * right columns except the keys.
    *
    * `joinType`: `"inner"` (default — unmatched rows on either side
    * drop) or `"left_outer"` (every left row survives; interval columns
    * are null when no interval contains it — including left rows with
    * null keys/times, which can never match). Either way a matching
    * (left, interval) pair emits exactly once: an interval covering the
    * left timestamp covers its bin exactly once.
    *
    * Null keys/times/bounds never match and (inner) are filtered;
    * degenerate intervals (end <= start) match nothing by the half-open
    * predicate. Neither side may use the reserved `__rj_` prefix.
    */
  def rangeJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                timeCol: String, startCol: String, endCol: String,
                binMicros: Long = 300L * 1000000L,
                maxBins: Int = DefaultMaxBinsPerInterval,
                joinType: String = "inner"): DataFrame = {
    require(keys.nonEmpty, "rangeJoin needs at least one key column")
    require(binMicros > 0, s"binMicros must be positive, got $binMicros")
    require(maxBins > 0, s"maxBins must be positive, got $maxBins")
    require(Seq("inner", "left_outer").contains(joinType),
      s"joinType must be inner or left_outer, got $joinType")
    requireNoReserved(left, "left", "__rj_")
    requireNoReserved(right, "right", "__rj_")
    val clash = right.columns.toSeq.filterNot(keys.contains)
      .intersect(left.columns.toSeq)
    require(clash.isEmpty,
      s"right column(s) ${clash.mkString(", ")} collide with left columns " +
        "— rename before joining")
    val rBase = right
      .filter(keys.map(col(_).isNotNull).reduce(_ && _) &&
        col(startCol).isNotNull && col(endCol).isNotNull)
      .withColumn("__rj_s", toMicros(col(startCol), right.schema(startCol).dataType))
      .withColumn("__rj_e", toMicros(col(endCol), right.schema(endCol).dataType))
      // end is EXCLUSIVE: an interval ending exactly on a bin edge does
      // not cover that bin — last covered instant is end-1 micro.
      // Bin indices use exact integer floor division (floor(x/m) on
      // doubles can misround a bin edge near 2^53 micros, silently
      // missing a match).
      .withColumn("__rj_b0", floorDivExpr("__rj_s", binMicros))
      .withColumn("__rj_e1", col("__rj_e") - 1)
      .withColumn("__rj_b1", floorDivExpr("__rj_e1", binMicros))
      .withColumn("__rj_nb",
        when(col("__rj_e") > col("__rj_s"),
          col("__rj_b1") - col("__rj_b0") + 1).otherwise(lit(0L)))
      // materialized once: the disclosure probe below and the join both
      // read the interval side (the semDedupPairs guard pattern)
      .pin()
    val rBinned = rBase
      .filter(col("__rj_nb").between(1, maxBins))
      .withColumn("__rj_bin", explode(sequence(col("__rj_b0"), col("__rj_b1"))))
      .drop("__rj_nb", "__rj_b0", "__rj_b1", "__rj_e1")
    val lTimed = left
      .withColumn("__rj_t", toMicros(col(timeCol), left.schema(timeCol).dataType))
      .withColumn("__rj_bin", floorDivExpr("__rj_t", binMicros))
    val joined = joinType match {
      case "inner" =>
        val lBinned = lTimed.filter(
          keys.map(col(_).isNotNull).reduce(_ && _) && col(timeCol).isNotNull)
        lBinned.join(rBinned, keys :+ "__rj_bin")
          .filter(col("__rj_t") >= col("__rj_s") && col("__rj_t") < col("__rj_e"))
          .drop("__rj_bin", "__rj_t", "__rj_s", "__rj_e")
      case _ =>
        // left_outer: the verify predicate moves INTO the join condition
        // so a left row with no containing interval (or a null key/time
        // — null equi-keys never match) survives once with null interval
        // payload. Right keys ride under reserved names to keep the
        // condition unambiguous; the equi part still drives the one
        // (keys, bin) shuffle.
        val rRenamed = keys.zipWithIndex.foldLeft(
          rBinned.withColumnRenamed("__rj_bin", "__rj_rbin")) {
          case (df, (k, i)) => df.withColumnRenamed(k, s"__rj_k$i")
        }
        val cond = keys.zipWithIndex
          .map { case (k, i) => lTimed(k) === rRenamed(s"__rj_k$i") }
          .reduce(_ && _) &&
          lTimed("__rj_bin") === rRenamed("__rj_rbin") &&
          lTimed("__rj_t") >= rRenamed("__rj_s") &&
          lTimed("__rj_t") < rRenamed("__rj_e")
        lTimed.join(rRenamed, cond, "left_outer")
          .drop("__rj_bin", "__rj_t", "__rj_rbin", "__rj_s", "__rj_e")
          .drop(keys.indices.map(i => s"__rj_k$i"): _*)
    }
    // disclosure probe: over-wide intervals leave the join, visibly.
    // The probe is a dim-sized action (right is the interval side).
    Overlap.disclosing("rangeJoin",
      s"interval(s) spanning more than $maxBins bins of $binMicros micros " +
        "excluded from the join (raise binMicros or maxBins)",
      rBase.filter(col("__rj_nb") > maxBins)
        .select(keys.map(col) :+ col("__rj_nb").as("bins"): _*))(joined)
  }

  /** INTERVAL-OVERLAP equi-join — both sides are intervals (media
    * spans, sessions, validity windows): per key, every (left, right)
    * pair whose half-open [start, end) windows overlap, with the
    * overlap length attached (`overlap_micros`). Completes the
    * temporal family next to the point-in-interval [[rangeJoin]] and
    * the [[asofJoin]].
    *
    * Same bin-and-verify shape as rangeJoin — both sides explode into
    * covered `binMicros` bins and meet on a (keys, bin) equi-join —
    * with the FIRST-SHARED-BIN claim de-duplicating pairs row-locally:
    * an overlapping pair's bin ranges intersect starting at
    * max(left start-bin, right start-bin), so the pair is emitted only
    * in that bin — no DISTINCT shuffle over the joined output. Exact
    * integer bin arithmetic throughout (a double floor near 2^53
    * micros would silently miss a bin edge).
    *
    * Guards inherit the family posture: over-wide intervals (spanning
    * more than `maxBins` bins) leave the join with a WARN disclosure —
    * the RIGHT side is pinned and probed like rangeJoin's interval
    * side; the LEFT side's probe is a limit-21 short-circuit scan (no
    * corpus-sized pin). Null keys/bounds and empty intervals
    * (end ≤ start) drop on both sides.
    */
  def intervalJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                   leftStartCol: String, leftEndCol: String,
                   rightStartCol: String, rightEndCol: String): DataFrame = {
    require(keys.nonEmpty, "intervalJoin needs at least one key column")
    requireNoReserved(left, "left", "__ij_")
    requireNoReserved(right, "right", "__ij_")
    val clash = right.columns.toSeq.filterNot(keys.contains)
      .intersect(left.columns.toSeq)
    require(clash.isEmpty,
      s"right column(s) ${clash.mkString(", ")} collide with left columns " +
        "— rename before joining")
    def prep(df: DataFrame, sCol: String, eCol: String,
             sOut: String, eOut: String, b0: String, b1: String): DataFrame =
      df.filter(keys.map(col(_).isNotNull).reduce(_ && _) &&
          col(sCol).isNotNull && col(eCol).isNotNull)
        .withColumn(sOut, toMicros(col(sCol), df.schema(sCol).dataType))
        .withColumn(eOut, toMicros(col(eCol), df.schema(eCol).dataType))
        .withColumn(b0, floorDivExpr(sOut, 300L * 1000000L))
        .withColumn("__ij_e1", col(eOut) - 1)
        .withColumn(b1, floorDivExpr("__ij_e1", 300L * 1000000L))
        .withColumn("__ij_nb",
          when(col(eOut) > col(sOut), col(b1) - col(b0) + 1)
            .otherwise(lit(0L)))
        .drop("__ij_e1")
    val lBase = prep(left, leftStartCol, leftEndCol,
      "__ij_ls", "__ij_le", "__ij_lb0", "__ij_lb1")
    val rBase = prep(right, rightStartCol, rightEndCol,
      "__ij_rs", "__ij_re", "__ij_rb0", "__ij_rb1").pin()
    // one probe over both sides, `side` naming which one a row is from
    def over(base: DataFrame, side: String): DataFrame =
      base.filter(col("__ij_nb") > DefaultMaxBinsPerInterval)
        .select(lit(side).as("side") +: keys.map(col) :+ col("__ij_nb").as("bins"): _*)
    val lBinned = lBase.filter(col("__ij_nb").between(1, DefaultMaxBinsPerInterval))
      .withColumn("__ij_bin",
        explode(sequence(col("__ij_lb0"), col("__ij_lb1"))))
      .drop("__ij_nb", "__ij_lb1")
    val rBinned = rBase.filter(col("__ij_nb").between(1, DefaultMaxBinsPerInterval))
      .withColumn("__ij_bin",
        explode(sequence(col("__ij_rb0"), col("__ij_rb1"))))
      .drop("__ij_nb", "__ij_rb1")
    Overlap.disclosing("intervalJoin",
      s"interval(s) spanning more than ${DefaultMaxBinsPerInterval} bins excluded " +
        "(raise binMicros or maxBins)",
      over(lBase, "left").unionByName(over(rBase, "right"))) {
      lBinned.join(rBinned, keys :+ "__ij_bin")
        .filter(col("__ij_ls") < col("__ij_re") &&
          col("__ij_rs") < col("__ij_le") &&
          col("__ij_bin") === greatest(col("__ij_lb0"), col("__ij_rb0")))
        .withColumn("overlap_micros",
          least(col("__ij_le"), col("__ij_re")) -
            greatest(col("__ij_ls"), col("__ij_rs")))
        .drop("__ij_bin", "__ij_lb0", "__ij_rb0", "__ij_ls", "__ij_le",
          "__ij_rs", "__ij_re")
    }
  }
}
