package graft

import org.apache.spark.sql.functions._
import graft.ops.TemporalJoins

/** AS-OF and RANGE join semantics beyond the oracle (which checks them
  * against DuckDB's native ASOF JOIN / raw range predicate on events):
  * tie inclusivity, null handling, the matched-row-as-a-unit payload
  * law, bin spanning, guard disclosure, and plan shape (the range join
  * must be an equi-join, never a nested-loop product).
  */
class TemporalJoinsSpec extends SparkSuite {

  private def T(s: String) = ts(s)

  test("lagFeatures: seq/lag/gap/session per key, null rows pass through, one exchange") {
    import spark.implicits._
    val ev = Seq(
      (1L, "u", 10.0, T("2024-01-01 10:00:00")),
      (2L, "u", 20.0, T("2024-01-01 10:02:00")), // gap 2 min, same session
      (3L, "u", 30.0, T("2024-01-01 10:10:00")), // gap 8 min > 5 → new session
      (4L, "v", 40.0, T("2024-01-01 10:00:00")), // own timeline
      (5L, null.asInstanceOf[String], 50.0, T("2024-01-01 10:00:00")),
      (6L, "u", 60.0, null.asInstanceOf[java.sql.Timestamp]))
      .toDF("event_id", "user_id", "value", "ts")
    val out = graft.ops.EventFeatures.lagFeatures(ev)
    val rows = out.select("event_id", "seq", "prev_value", "gap_micros",
        "session_idx")
      .as[(Long, Option[Long], Option[Double], Option[Long], Option[Long])]
      .collect().map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(rows(1L) == ((Some(1L), None, None, Some(1L))))
    assert(rows(2L) == ((Some(2L), Some(10.0), Some(120000000L), Some(1L))))
    assert(rows(3L) == ((Some(3L), Some(20.0), Some(480000000L), Some(2L))))
    assert(rows(4L) == ((Some(1L), None, None, Some(1L))))
    // null key / null time: row preserved, features null
    assert(rows(5L) == ((None, None, None, None)))
    assert(rows(6L) == ((None, None, None, None)))
    assert(rows.size == 6, "every input row appears exactly once")
    // all four windows ride ONE key exchange + sort
    val plan = out.queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected a single exchange, got $exchanges:\n$plan")
  }

  test("rateAnomalies: planted burst flagged vs the key's own median, quiet keys and single bins never flag") {
    import spark.implicits._
    // user u: five 1-hour bins of 2 events + one burst bin of 12 —
    // median 2, 12·100 > 300·2 → flagged; user v: uniform 3/bin → none;
    // user w: one bin (median = itself) → can never flag
    def at(h: Int, m: Int) = T(f"2024-01-01 $h%02d:$m%02d:00")
    var id = 0L
    def ev(u: String, h: Int, n: Int) = (0 until n).map { i =>
      id += 1; (id, u, at(h, i % 60))
    }
    val events = ((0 until 5).flatMap(h => ev("u", h, 2)) ++ ev("u", 5, 12) ++
      (0 until 4).flatMap(h => ev("v", h, 3)) ++ ev("w", 7, 9))
      .toDF("event_id", "user_id", "ts")
    val out = graft.ops.EventFeatures.rateAnomalies(events)
      .as[(String, Long, Long, Long, Long)].collect()
    val flagged = out.filter(_._5 == 1L)
    assert(flagged.map(r => (r._1, r._3)).toSeq == Seq(("u", 12L)),
      s"only u's burst bin must flag: ${flagged.toSeq}")
    assert(out.filter(_._1 == "u").forall(_._4 == 2L), "u's median is 2")
    assert(out.filter(_._1 == "v").forall(_._5 == 0L), "uniform v never flags")
    assert(out.filter(_._1 == "w").forall(_._5 == 0L), "single-bin w never flags")
    assert(out.length == 11, s"one row per (key, bin): ${out.length}")
    intercept[IllegalArgumentException] {
      graft.ops.EventFeatures.rateAnomalies(events, factorX100 = 100)
    }
  }

  test("asof join: inclusive tie, carry-forward, no-prior null, null right rows never match") {
    import spark.implicits._
    val left = Seq(
      (1L, "u", T("2024-01-01 10:00:00")), // before any state → null
      (2L, "u", T("2024-01-01 10:05:00")), // == state@10:05 → inclusive
      (3L, "u", T("2024-01-01 10:09:00")), // between → carries 10:05
      (4L, "u", T("2024-01-01 10:20:00")), // after 10:10 → latest wins
      (5L, "v", T("2024-01-01 10:30:00")), // other key: own timeline
      (6L, "w", T("2024-01-01 10:00:00")), // key with no right rows
      (7L, null.asInstanceOf[String], T("2024-01-01 10:00:00")))
      .toDF("event_id", "k", "t")
    val right = Seq(
      ("u", T("2024-01-01 10:05:00"), 100L),
      ("u", T("2024-01-01 10:10:00"), 200L),
      ("v", T("2024-01-01 10:00:00"), 300L),
      ("v", T("2024-01-01 11:00:00"), 999L), // in the future for event 5
      (null.asInstanceOf[String], T("2024-01-01 09:00:00"), 777L))
      .toDF("k", "t", "state")
      .union(Seq(("u", null.asInstanceOf[java.sql.Timestamp], 888L))
        .toDF("k", "t", "state"))
    val out = TemporalJoins.asofJoin(left, right, Seq("k"), "t", "t")
      .select("event_id", "state")
      .as[(Long, Option[Long])].collect().toMap
    assert(out == Map(1L -> None, 2L -> Some(100L), 3L -> Some(100L),
      4L -> Some(200L), 5L -> Some(300L), 6L -> None, 7L -> None), out)
    assert(out.size == 7, "left row count preserved")
  }

  test("asof join: matched row is taken as a unit — its null column never leaks an older value") {
    import spark.implicits._
    val left = Seq((1L, "u", T("2024-01-01 10:30:00")))
      .toDF("event_id", "k", "t")
    val right = Seq(
      ("u", T("2024-01-01 10:00:00"), Some(100L), Some("old")),
      ("u", T("2024-01-01 10:20:00"), None, Some("new")))
      .toDF("k", "t", "a", "b")
    val got = TemporalJoins.asofJoin(left, right, Seq("k"), "t", "t")
      .select("a", "b").as[(Option[Long], String)].collect().toSeq
    // the 10:20 row matches; its a=null must NOT fall back to 100
    assert(got == Seq((None, "new")), got)
  }

  test("asof join: contract violations rejected") {
    import spark.implicits._
    val l = Seq((1L, "u", T("2024-01-01 10:00:00"))).toDF("event_id", "k", "t")
    val collide = Seq(("u", T("2024-01-01 09:00:00"), 5L))
      .toDF("k", "t", "event_id") // payload name collides with left
    intercept[IllegalArgumentException](
      TemporalJoins.asofJoin(l, collide, Seq("k"), "t", "t"))
    val noPayload = Seq(("u", T("2024-01-01 09:00:00"))).toDF("k", "t")
    intercept[IllegalArgumentException](
      TemporalJoins.asofJoin(l, noPayload, Seq("k"), "t", "t"))
    intercept[IllegalArgumentException](
      TemporalJoins.asofJoin(l, collide, Seq(), "t", "t"))
  }

  test("range join: half-open bounds, multi-bin intervals, degenerate and over-wide intervals excluded") {
    import spark.implicits._
    val left = Seq(
      (1L, "u", T("2024-01-01 10:00:00")), // == start → in
      (2L, "u", T("2024-01-01 10:09:59")), // inside, later bin
      (3L, "u", T("2024-01-01 10:10:00")), // == end → OUT (half-open)
      (4L, "v", T("2024-01-01 10:05:00")), // wrong key
      (5L, "u", T("2024-01-01 09:59:59"))) // just before
      .toDF("event_id", "k", "t")
    val iv = Seq(
      (10L, "u", T("2024-01-01 10:00:00"), T("2024-01-01 10:10:00")),
      (11L, "u", T("2024-01-01 10:10:00"), T("2024-01-01 10:10:00")), // empty
      (12L, "v", T("2024-01-01 10:00:00"), T("2024-01-01 10:10:00")))
      .toDF("iid", "k", "s", "e")
    // 1-minute bins → the 10-min interval spans 10 bins
    val out = TemporalJoins.rangeJoin(left, iv, Seq("k"), "t", "s", "e",
        binMicros = 60L * 1000000L)
      .select("event_id", "iid").as[(Long, Long)].collect().toSet
    assert(out == Set((1L, 10L), (2L, 10L), (4L, 12L)), out)
    // over-wide guard: with maxBins = 2 the 10-bin intervals are
    // excluded (disclosed via WARN) and nothing matches
    val gated = TemporalJoins.rangeJoin(left, iv, Seq("k"), "t", "s", "e",
      binMicros = 60L * 1000000L, maxBins = 2)
    assert(gated.count() == 0L)
    intercept[IllegalArgumentException](
      TemporalJoins.rangeJoin(left, iv, Seq("k"), "t", "s", "e",
        binMicros = 0L))
  }

  test("asof join: tolerance nulls out stale matches, boundary staleness inclusive") {
    import spark.implicits._
    val left = Seq(
      (1L, "u", T("2024-01-01 10:30:00")), // match@10:00 → 30 min stale
      (2L, "u", T("2024-01-01 10:31:00")), // 31 min stale → nulled
      (3L, "u", T("2024-01-01 10:00:00"))) // exact hit, staleness 0
      .toDF("event_id", "k", "t")
    val right = Seq(("u", T("2024-01-01 10:00:00"), 100L))
      .toDF("k", "t", "state")
    val out = TemporalJoins.asofJoin(left, right, Seq("k"), "t", "t",
        tolerance = Some(30L * 60L * 1000000L))
      .select("event_id", "state").as[(Long, Option[Long])].collect().toMap
    // 30:00 staleness == tolerance → INCLUSIVE, still matches
    assert(out == Map(1L -> Some(100L), 2L -> None, 3L -> Some(100L)), out)
    intercept[IllegalArgumentException](
      TemporalJoins.asofJoin(left, right, Seq("k"), "t", "t",
        tolerance = Some(-1L)))
  }

  test("asof join: forward direction picks the nearest at-or-after row; tolerance bounds forward staleness") {
    import spark.implicits._
    val left = Seq(
      (1L, "u", T("2024-01-01 10:00:00")), // next = 10:05
      (2L, "u", T("2024-01-01 10:05:00")), // == right ts → inclusive
      (3L, "u", T("2024-01-01 10:06:00")), // next = 10:20
      (4L, "u", T("2024-01-01 10:21:00")), // nothing after → null
      (5L, "w", T("2024-01-01 10:00:00"))) // key with no right rows
      .toDF("event_id", "k", "t")
    val right = Seq(
      ("u", T("2024-01-01 10:05:00"), 100L),
      ("u", T("2024-01-01 10:20:00"), 200L))
      .toDF("k", "t", "state")
    val out = TemporalJoins.asofJoin(left, right, Seq("k"), "t", "t",
        direction = "forward")
      .select("event_id", "state").as[(Long, Option[Long])].collect().toMap
    assert(out == Map(1L -> Some(100L), 2L -> Some(100L), 3L -> Some(200L),
      4L -> None, 5L -> None), out)
    // forward tolerance: event 3's next match is 14 min ahead → nulled
    // at a 10-min bound; event 1's is 5 min ahead → kept
    val bounded = TemporalJoins.asofJoin(left, right, Seq("k"), "t", "t",
        tolerance = Some(10L * 60L * 1000000L), direction = "forward")
      .select("event_id", "state").as[(Long, Option[Long])].collect().toMap
    assert(bounded == Map(1L -> Some(100L), 2L -> Some(100L), 3L -> None,
      4L -> None, 5L -> None), bounded)
    intercept[IllegalArgumentException](
      TemporalJoins.asofJoin(left, right, Seq("k"), "t", "t",
        direction = "sideways"))
  }

  test("asof join: nearest picks the closer side, ties go backward, tolerance bounds both sides") {
    import spark.implicits._
    val left = Seq(
      (1L, "u", T("2024-01-01 10:04:00")), // 4 min after 10:00, 1 min before 10:05 → forward
      (2L, "u", T("2024-01-01 10:01:00")), // 1 min after 10:00, 4 min before 10:05 → backward
      (3L, "u", T("2024-01-01 10:02:30")), // equidistant (150 s both) → tie → BACKWARD
      (4L, "u", T("2024-01-01 09:00:00")), // only a forward match exists
      (5L, "u", T("2024-01-01 11:00:00")), // only a backward match exists
      (6L, "w", T("2024-01-01 10:00:00"))) // no right rows at all
      .toDF("event_id", "k", "t")
    val right = Seq(
      ("u", T("2024-01-01 10:00:00"), 100L),
      ("u", T("2024-01-01 10:05:00"), 200L))
      .toDF("k", "t", "state")
    val out = TemporalJoins.asofJoin(left, right, Seq("k"), "t", "t",
        direction = "nearest")
      .select("event_id", "state").as[(Long, Option[Long])].collect().toMap
    assert(out == Map(1L -> Some(200L), 2L -> Some(100L), 3L -> Some(100L),
      4L -> Some(100L), 5L -> Some(200L), 6L -> None), out)
    // tolerance applies to BOTH sides: at a 2-min bound, event 1 keeps
    // its 1-min forward match, event 4's 60-min forward match nulls,
    // event 2 keeps its 1-min backward match, event 5's 55-min nulls
    val bounded = TemporalJoins.asofJoin(left, right, Seq("k"), "t", "t",
        tolerance = Some(2L * 60L * 1000000L), direction = "nearest")
      .select("event_id", "state").as[(Long, Option[Long])].collect().toMap
    assert(bounded == Map(1L -> Some(200L), 2L -> Some(100L), 3L -> None,
      4L -> None, 5L -> None, 6L -> None), bounded)
    intercept[IllegalArgumentException](
      TemporalJoins.asofJoin(left, right, Seq("k"), "t", "t",
        direction = "sideways"))
  }

  test("asof join: nearest plans one exchange (both carries share the key partitioning)") {
    import spark.implicits._
    val left = Seq((1L, "u", T("2024-01-01 10:00:00"))).toDF("event_id", "k", "t")
    val right = Seq(("u", T("2024-01-01 09:00:00"), 5L)).toDF("k", "t", "state")
    val plan = TemporalJoins.asofJoin(left, right, Seq("k"), "t", "t",
        direction = "nearest")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges <= 1, s"nearest must not add a shuffle:\n$plan")
  }

  test("asof/range/salted joins: reserved internal column names rejected loudly") {
    import spark.implicits._
    val l = Seq((1L, "u", T("2024-01-01 10:00:00"))).toDF("event_id", "k", "t")
    val r = Seq(("u", T("2024-01-01 09:00:00"), 5L)).toDF("k", "t", "state")
    intercept[IllegalArgumentException](TemporalJoins.asofJoin(
      l.withColumn("__aj_t", lit(1)), r, Seq("k"), "t", "t"))
    intercept[IllegalArgumentException](TemporalJoins.asofJoin(
      l, r.withColumn("__aj_p", lit(1)), Seq("k"), "t", "t"))
    val iv = Seq((10L, "u", T("2024-01-01 10:00:00"), T("2024-01-01 10:10:00")))
      .toDF("iid", "k", "s", "e")
    intercept[IllegalArgumentException](TemporalJoins.rangeJoin(
      l.withColumn("__rj_bin", lit(1)), iv, Seq("k"), "t", "s", "e"))
    intercept[IllegalArgumentException](graft.ops.SkewJoin.saltedJoin(
      l.withColumn("__sj_s", lit(1)), r.drop("t"), Seq("k"), "event_id"))
  }

  test("range join left_outer: every left row survives exactly once unmatched, matched rows multiply, null-key rows preserved") {
    import spark.implicits._
    val left = Seq(
      (1L, "u", T("2024-01-01 10:05:00")),  // inside both overlapping ivs
      (2L, "u", T("2024-01-01 10:30:00")),  // inside nothing
      (3L, "v", T("2024-01-01 10:05:00")),  // wrong key → unmatched
      (4L, null.asInstanceOf[String], T("2024-01-01 10:05:00")), // null key
      (5L, "u", null.asInstanceOf[java.sql.Timestamp]))          // null time
      .toDF("event_id", "k", "t")
    val iv = Seq(
      (10L, "u", T("2024-01-01 10:00:00"), T("2024-01-01 10:10:00")),
      (11L, "u", T("2024-01-01 10:04:00"), T("2024-01-01 10:06:00")))
      .toDF("iid", "k", "s", "e")
    val out = TemporalJoins.rangeJoin(left, iv, Seq("k"), "t", "s", "e",
        binMicros = 60L * 1000000L, joinType = "left_outer")
      .select("event_id", "iid").as[(Long, Option[Long])].collect().toSeq
    assert(out.sorted == Seq(1L -> Some(10L), 1L -> Some(11L), 2L -> None,
      3L -> None, 4L -> None, 5L -> None).sorted, out)
    // row-count preservation law: |left_outer| >= |left|, and the
    // unmatched tail is exactly the left rows the inner join drops
    val inner = TemporalJoins.rangeJoin(left, iv, Seq("k"), "t", "s", "e",
      binMicros = 60L * 1000000L)
    assert(out.size == inner.count() + 4)
    intercept[IllegalArgumentException](
      TemporalJoins.rangeJoin(left, iv, Seq("k"), "t", "s", "e",
        joinType = "full_outer"))
  }

  test("plan shape: range join is an equi-join on (keys, bin) — no nested-loop product; asof is one window, no join") {
    import spark.implicits._
    val left = Seq((1L, "u", T("2024-01-01 10:00:00"))).toDF("event_id", "k", "t")
    val iv = Seq((10L, "u", T("2024-01-01 10:00:00"), T("2024-01-01 10:10:00")))
      .toDF("iid", "k", "s", "e")
    val rPlan = TemporalJoins.rangeJoin(left, iv, Seq("k"), "t", "s", "e")
      .queryExecution.executedPlan.toString
    assert(!rPlan.contains("BroadcastNestedLoopJoin") &&
      !rPlan.contains("CartesianProduct"), rPlan)
    val loPlan = TemporalJoins.rangeJoin(left, iv, Seq("k"), "t", "s", "e",
        joinType = "left_outer")
      .queryExecution.executedPlan.toString
    assert(!loPlan.contains("BroadcastNestedLoopJoin") &&
      !loPlan.contains("CartesianProduct"), loPlan)
    val right = Seq(("u", T("2024-01-01 09:00:00"), 5L)).toDF("k", "t", "state")
    val aPlan = TemporalJoins.asofJoin(left, right, Seq("k"), "t", "t")
      .queryExecution.executedPlan.toString
    assert(aPlan.contains("Window") && !aPlan.contains("Join"), aPlan)
  }

  test("intervalJoin: half-open touch excluded, multi-bin pair once, equi-join plan") {
    import spark.implicits._
    val M = 60L * 1000000L // one minute in micros
    // left windows per key u: A [0, 10m), B [20m, 30m)
    val l = Seq((1L, "u", 0L * M, 10L * M), (2L, "u", 20L * M, 30L * M))
      .toDF("l_id", "k", "ls", "le")
    // right: X [5m, 25m) overlaps BOTH (spans many 5-min bins with A —
    // the pair must appear ONCE); Y [10m, 12m) TOUCHES A at 10m
    // (half-open: no overlap) and misses B; Z empty interval drops
    val r = Seq((10L, "u", 5L * M, 25L * M), (11L, "u", 10L * M, 12L * M),
      (12L, "u", 7L * M, 7L * M))
      .toDF("r_id", "k", "rs", "re")
    val out = TemporalJoins.intervalJoin(l, r, Seq("k"),
        "ls", "le", "rs", "re")
      .select("l_id", "r_id", "overlap_micros")
      .as[(Long, Long, Long)].collect().toSet
    assert(out == Set(
      (1L, 10L, 5L * M),  // A ∩ X = [5m, 10m)
      (2L, 10L, 5L * M)), // B ∩ X = [20m, 25m)
      s"got $out")
    val plan = TemporalJoins.intervalJoin(l, r, Seq("k"),
        "ls", "le", "rs", "re")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan)
  }
}
