package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Tables

/** Relational breadth over the TPC-H-ish corpus: multi-way joins,
  * semi/anti joins, grouped and windowed aggregation, session/hopping
  * windows (SURVEY.md §2.4/§2.5 + TESTDATA.md).
  *
  * Money arithmetic: inputs are 2-decimal doubles; every SUM happens on
  * exact scaled integers (`round(x*100)::bigint` cents) so results are
  * order-independent and bit-identical to the DuckDB oracle — summing
  * raw doubles would be partition-order-dependent at any scale.
  */
object RelationalQueries {

  /** Exact cents: CAST(ROUND(x*100) AS BIGINT) — deterministic in both
    * engines (round-half-away on an exact-2-decimal double is exact).
    */
  private def cents(c: Column): Column = round(c * 100).cast("long")

  val defs: Seq[QueryDef] = Seq(

    // TPC-H Q1 shape: scan-heavy grouped aggregation with derived measures.
    QueryDef("q1_agg",
      """SELECT l_returnflag, l_linestatus,
        |       CAST(sum(CAST(round(l_quantity*100) AS BIGINT)) AS BIGINT) AS sum_qty_cents,
        |       CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
        |       CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT) AS sum_disc_c4,
        |       CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT)) * (100 + CAST(round(l_tax*100) AS BIGINT))) AS BIGINT) AS sum_charge_c6,
        |       count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
      val li = Tables.lineitem(s, d)
      val price = cents(col("l_extendedprice"))
      val disc = lit(100) - cents(col("l_discount"))
      val tax = lit(100) + cents(col("l_tax"))
      li.filter(col("l_shipdate") <= lit("2001-09-02 00:00:00").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(cents(col("l_quantity"))).as("sum_qty_cents"),
          sum(price).as("sum_base_cents"),
          sum(price * disc).as("sum_disc_c4"),
          sum(price * disc * tax).as("sum_charge_c6"),
          count(lit(1)).as("count_order"))
    }.sortedBy(col("l_returnflag"), col("l_linestatus")),

    // TPC-H Q3 shape: 3-way join, grouped revenue, top-N
    // (TakeOrderedAndProject — no global sort).
    QueryDef("q3_top_orders",
      """SELECT l.l_orderkey AS o_orderkey,
        |       CAST(sum(CAST(round(l.l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l.l_discount*100) AS BIGINT))) AS BIGINT) AS revenue_c4,
        |       o.o_orderdate, o.o_orderpriority
        |FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |  AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l.l_shipdate > TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY 1, 3, 4
        |ORDER BY revenue_c4 DESC, o_orderkey LIMIT 10""".stripMargin) { (s, d) =>
      val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, d)
        .filter(col("o_orderdate") < lit("1998-01-01 00:00:00").cast("timestamp"))
      val l = Tables.lineitem(s, d)
        .filter(col("l_shipdate") > lit("1997-01-01 00:00:00").cast("timestamp"))
      // customer scales linearly with data (150k×SF) — no broadcast hint;
      // AQE picks broadcast at small SF and shuffled-hash/SMJ at scale.
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .groupBy(col("l_orderkey").as("o_orderkey"),
          col("o_orderdate"), col("o_orderpriority"))
        .agg((sum(cents(col("l_extendedprice")) *
          (lit(100) - cents(col("l_discount"))))).as("revenue_c4"))
        .select("o_orderkey", "revenue_c4", "o_orderdate", "o_orderpriority")
        .orderBy(col("revenue_c4").desc, col("o_orderkey"))
        .limit(10)
    },

    // TPC-H Q5 shape: 6-way join through region→nation→(customer,supplier).
    QueryDef("q5_nation_revenue",
      """SELECT n.n_name,
        |       CAST(sum(CAST(round(l.l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l.l_discount*100) AS BIGINT))) AS BIGINT) AS revenue_c4
        |FROM region r
        |JOIN nation n ON n.n_regionkey = r.r_regionkey
        |JOIN customer c ON c.c_nationkey = n.n_nationkey
        |JOIN orders o ON o.o_custkey = c.c_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = n.n_nationkey
        |WHERE r.r_name = 'ASIA'
        |  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o.o_orderdate < TIMESTAMP '2000-01-01 00:00:00'
        |GROUP BY 1 ORDER BY revenue_c4 DESC, n_name""".stripMargin) { (s, d) =>
      val region = Tables.region(s, d).filter(col("r_name") === "ASIA")
      val nation = Tables.nation(s, d)
      val cust = Tables.customer(s, d)
      val sup = Tables.supplier(s, d)
      val ord = Tables.orders(s, d).filter(
        col("o_orderdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
        col("o_orderdate") < lit("2000-01-01 00:00:00").cast("timestamp"))
      val li = Tables.lineitem(s, d)
      // customer/supplier scale linearly (150k×SF / 10k×SF) — broadcast
      // hints only on the genuinely bounded dims (nation 25 rows, region
      // 5 rows); AQE chooses the strategy for the scaling sides.
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(cust, ord("o_custkey") === cust("c_custkey"))
        .join(sup,
          li("l_suppkey") === sup("s_suppkey") &&
          sup("s_nationkey") === cust("c_nationkey"))
        .join(broadcast(nation), cust("c_nationkey") === nation("n_nationkey"))
        .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
        .groupBy(col("n_name"))
        .agg((sum(cents(col("l_extendedprice")) *
          (lit(100) - cents(col("l_discount"))))).as("revenue_c4"))
    }.sortedBy(col("revenue_c4").desc, col("n_name")),

    // LEFT SEMI: orders having a heavy lineitem (EXISTS).
    QueryDef("j_semi_orders",
      """SELECT o_orderkey, o_orderstatus FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 49)
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val heavy = Tables.lineitem(s, d).filter(col("l_quantity") > 49)
      Tables.orders(s, d)
        .join(heavy, col("o_orderkey") === heavy("l_orderkey"), "left_semi")
        .select("o_orderkey", "o_orderstatus")
    }.sortedBy(col("o_orderkey")),

    // LEFT ANTI: customers with no orders (NOT EXISTS).
    QueryDef("j_anti_customers",
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      val o = Tables.orders(s, d)
      Tables.customer(s, d)
        .join(o, col("c_custkey") === o("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
    }.sortedBy(col("c_custkey")),

    // Window function: top-3 orders per customer by totalprice.
    QueryDef("w_rank_orders",
      """SELECT * FROM (
        |  SELECT o_custkey, o_orderkey,
        |         CAST(round(o_totalprice*100) AS BIGINT) AS total_cents,
        |         row_number() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders)
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"),
          cents(col("o_totalprice")).as("total_cents"),
          row_number().over(w).as("rn"))
        .filter(col("rn") <= 3)
    }.sortedBy(col("o_custkey"), col("rn")),

    // Running (cumulative) sum per order in linenumber sequence. The
    // corpus contains duplicate (l_orderkey, l_linenumber) pairs, so the
    // window order adds quantity-cents as a tiebreak — remaining ties are
    // whole-row duplicates, for which any order yields the same prefix
    // sums. Output sorted by the running sum too, for a stable row order.
    QueryDef("w_running_sum",
      """SELECT l_orderkey, l_linenumber,
        |       CAST(sum(CAST(round(l_quantity*100) AS BIGINT))
        |         OVER (PARTITION BY l_orderkey
        |               ORDER BY l_linenumber, CAST(round(l_quantity*100) AS BIGINT)
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_qty_cents
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, running_qty_cents""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("l_orderkey"))
        .orderBy(col("l_linenumber"), cents(col("l_quantity")))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          sum(cents(col("l_quantity"))).over(w).as("running_qty_cents"))
    }.sortedBy(col("l_orderkey"), col("l_linenumber"), col("running_qty_cents")),

    // DISTINCT aggregation.
    QueryDef("a_distinct_parts",
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
        |       count(DISTINCT l_suppkey) AS n_supps
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"))
    }.sortedBy(col("l_returnflag")),

    // ROLLUP: hierarchical subtotals (flag, flag+status, grand total).
    // Note DuckDB orders NULLS LAST by default while Spark orders NULLS
    // FIRST — the oracle pins NULLS FIRST explicitly.
    QueryDef("a_rollup",
      """SELECT l_returnflag, l_linestatus,
        |       CAST(sum(CAST(round(l_quantity*100) AS BIGINT)) AS BIGINT) AS qty_cents,
        |       count(*) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(cents(col("l_quantity"))).as("qty_cents"),
          count(lit(1)).as("n"))
    }.sortedBy(col("l_returnflag"), col("l_linestatus")),

    // CUBE: all grouping combinations.
    QueryDef("a_cube",
      """SELECT l_returnflag, l_linestatus,
        |       CAST(sum(CAST(round(l_quantity*100) AS BIGINT)) AS BIGINT) AS qty_cents
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(cents(col("l_quantity"))).as("qty_cents"))
    }.sortedBy(col("l_returnflag"), col("l_linestatus")),

    // Pivot: per-user event-type counts as columns — Spark's pivot with
    // EXPLICIT values (no discovery pass over the corpus; the value
    // list is part of the schema contract at scale), absent combos 0.
    // The oracle states the conditional aggregation it compiles to.
    QueryDef("a_pivot_events", {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val conds = types.map(t =>
        s"  CAST(sum(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END) AS BIGINT) AS $t")
      s"""SELECT user_id,
         |${conds.mkString(",\n")}
         |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin
    }) { (s, d) =>
      val types = Seq("click", "error", "purchase", "signup", "view")
      val pivoted = Tables.events(s, d).groupBy("user_id")
        .pivot("event_type", types).count()
      pivoted.select(col("user_id") +:
        types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
    }.sortedBy(col("user_id")),

    // Per-key moving-window aggregate (last 3 events): quantized-cent
    // integer sums so the frame arithmetic is order-independent on
    // both engines (a float frame sum would expose DuckDB's
    // segment-tree accumulation order).
    QueryDef("w_moving_sum",
      """SELECT event_id, user_id,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER w AS BIGINT)
        |    AS mov_sum_x100,
        |  CAST(count(*) OVER w AS BIGINT) AS n_window
        |FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id")).rowsBetween(-2, 0)
      Tables.events(s, d)
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("event_id"), col("user_id"),
          sum(round(col("value") * 100, 0).cast("long")).over(w)
            .cast("long").as("mov_sum_x100"),
          count(lit(1)).over(w).cast("long").as("n_window"))
    }.sortedBy(col("event_id")),

    // Session windows (30-min gap) per user over the events stream table —
    // Spark session_window vs. gaps-and-islands SQL in the oracle. A
    // session closes when the next event is >= gap after the previous one.
    QueryDef("s_session_window",
      """WITH flags AS (
        |  SELECT user_id, ts, event_id,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
        |              THEN 1 ELSE 0 END AS new_session
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), sessions AS (
        |  SELECT user_id, ts,
        |         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                                ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flags)
        |SELECT user_id, min(ts) AS session_start,
        |       max(ts) + INTERVAL 30 MINUTE AS session_end,
        |       count(*) AS n_events
        |FROM sessions GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("w.start").as("session_start"),
          col("w.end").as("session_end"), col("n_events"))
    }.sortedBy(col("user_id"), col("session_start")),

    // Hopping (sliding) window: 10-min windows every 5 min, per event_type.
    QueryDef("h_hopping_window",
      """WITH hops AS (
        |  SELECT e.event_type,
        |         make_timestamp(((floor(epoch(e.ts) / 300) - k.k) * 300)::BIGINT * 1000000) AS window_start
        |  FROM events e CROSS JOIN (VALUES (0), (1)) k(k)
        |)
        |SELECT window_start, event_type, count(*) AS n
        |FROM hops GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "10 minutes", "5 minutes").as("w"),
          col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("w.start").as("window_start"), col("event_type"), col("n"))
    }.sortedBy(col("window_start"), col("event_type")),

    // AS-OF join (point-in-time): every event picks the user's most
    // recent prior-or-equal purchase value. The right side is made
    // unique per (user, ts) by construction (max(value), non-null);
    // DuckDB verifies with its NATIVE ASOF LEFT JOIN operator — an
    // independent algorithm agreeing row-for-row with the union +
    // carry-forward-window formulation.
    QueryDef("j_asof_state",
      """WITH r AS (
        |  SELECT user_id, ts, max(value) AS last_purchase
        |  FROM events
        |  WHERE event_type = 'purchase' AND value IS NOT NULL
        |  GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, e.ts, e.event_type, r.last_purchase
        |FROM events e ASOF LEFT JOIN r
        |  ON e.user_id = r.user_id AND e.ts >= r.ts
        |ORDER BY e.event_id""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val state = ev
        .filter(col("event_type") === "purchase" && col("value").isNotNull)
        .groupBy("user_id", "ts").agg(max("value").as("last_purchase"))
      graft.ops.TemporalJoins.asofJoin(
        ev.select("event_id", "user_id", "ts", "event_type"), state,
        keys = Seq("user_id"))
    }.sortedBy(col("event_id")),

    // AS-OF with a TOLERANCE bound (feature freshness): same join, but
    // a nearest match staler than 30 minutes nulls out instead of
    // silently attaching — the leakage/staleness guard real feature
    // stores require. The oracle reads the matched row's ts off
    // DuckDB's native ASOF operator and replays the null-out as a CASE.
    QueryDef("j_asof_tolerance",
      """WITH r AS (
        |  SELECT user_id, ts, max(value) AS last_purchase
        |  FROM events
        |  WHERE event_type = 'purchase' AND value IS NOT NULL
        |  GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, e.ts, e.event_type,
        |       CASE WHEN e.ts - r.ts <= INTERVAL 30 MINUTE
        |            THEN r.last_purchase END AS last_purchase
        |FROM events e ASOF LEFT JOIN r
        |  ON e.user_id = r.user_id AND e.ts >= r.ts
        |ORDER BY e.event_id""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val state = ev
        .filter(col("event_type") === "purchase" && col("value").isNotNull)
        .groupBy("user_id", "ts").agg(max("value").as("last_purchase"))
      graft.ops.TemporalJoins.asofJoin(
        ev.select("event_id", "user_id", "ts", "event_type"), state,
        keys = Seq("user_id"), tolerance = Some(30L * 60L * 1000000L))
    }.sortedBy(col("event_id")),

    // AS-OF with direction = FORWARD: each event picks the user's
    // NEXT purchase at-or-after its timestamp (label attachment /
    // time-to-event shape). Same engine window with the time ordering
    // reversed; DuckDB's ASOF operator takes the reversed inequality.
    QueryDef("j_asof_forward",
      """WITH r AS (
        |  SELECT user_id, ts, max(value) AS next_purchase
        |  FROM events
        |  WHERE event_type = 'purchase' AND value IS NOT NULL
        |  GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, e.ts, e.event_type, r.next_purchase
        |FROM events e ASOF LEFT JOIN r
        |  ON e.user_id = r.user_id AND e.ts <= r.ts
        |ORDER BY e.event_id""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val state = ev
        .filter(col("event_type") === "purchase" && col("value").isNotNull)
        .groupBy("user_id", "ts").agg(max("value").as("next_purchase"))
      graft.ops.TemporalJoins.asofJoin(
        ev.select("event_id", "user_id", "ts", "event_type"), state,
        keys = Seq("user_id"), direction = "forward")
    }.sortedBy(col("event_id")),

    // AS-OF with direction = NEAREST: whichever of the backward/forward
    // matches is closer in time, ties backward (the leakage-conservative
    // side). Engine: both carries over ONE key exchange (two sorts),
    // row-local choice; oracle: two native ASOF joins + the same CASE.
    QueryDef("j_asof_nearest",
      """WITH r AS (
        |  SELECT user_id, ts, max(value) AS near_purchase
        |  FROM events
        |  WHERE event_type = 'purchase' AND value IS NOT NULL
        |  GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, e.ts, e.event_type,
        |       CASE WHEN rb.ts IS NOT NULL AND (rf.ts IS NULL
        |                  OR e.ts - rb.ts <= rf.ts - e.ts)
        |            THEN rb.near_purchase
        |            WHEN rf.ts IS NOT NULL THEN rf.near_purchase
        |       END AS near_purchase
        |FROM events e
        |ASOF LEFT JOIN r rb ON e.user_id = rb.user_id AND e.ts >= rb.ts
        |ASOF LEFT JOIN r rf ON e.user_id = rf.user_id AND e.ts <= rf.ts
        |ORDER BY e.event_id""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val state = ev
        .filter(col("event_type") === "purchase" && col("value").isNotNull)
        .groupBy("user_id", "ts").agg(max("value").as("near_purchase"))
      graft.ops.TemporalJoins.asofJoin(
        ev.select("event_id", "user_id", "ts", "event_type"), state,
        keys = Seq("user_id"), direction = "nearest")
    }.sortedBy(col("event_id")),

    // RANGE (interval) join: events falling inside the 10-minute
    // half-open window following each signup by the same user. The
    // oracle states the raw range predicate; the engine runs the
    // bin-and-verify plan (5-min bins → ≤ 3 bins/interval).
    QueryDef("j_range_window",
      """WITH iv AS (
        |  SELECT event_id AS interval_id, user_id, ts AS start_ts,
        |         ts + INTERVAL 10 MINUTE AS end_ts
        |  FROM events WHERE event_type = 'signup')
        |SELECT e.event_id, e.user_id, e.ts,
        |       iv.interval_id, iv.start_ts, iv.end_ts
        |FROM events e JOIN iv
        |  ON e.user_id = iv.user_id
        | AND e.ts >= iv.start_ts AND e.ts < iv.end_ts
        |ORDER BY e.event_id, iv.interval_id""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val iv = ev.filter(col("event_type") === "signup")
        .select(col("event_id").as("interval_id"), col("user_id"),
          col("ts").as("start_ts"),
          (col("ts") + expr("INTERVAL 10 MINUTES")).as("end_ts"))
      graft.ops.TemporalJoins.rangeJoin(
        ev.select("event_id", "user_id", "ts"), iv,
        keys = Seq("user_id"), timeCol = "ts",
        startCol = "start_ts", endCol = "end_ts")
    }.sortedBy(col("event_id"), col("interval_id")),

    // INTERVAL-OVERLAP join: 8-minute view windows x 5-minute click
    // windows per user; every overlapping pair once (first-shared-bin
    // claim — no DISTINCT over the joined output) with the overlap
    // length attached. The oracle states the raw overlap predicate.
    QueryDef("j_interval_overlap",
      """WITH lv AS (
        |  SELECT event_id AS view_id, user_id,
        |         epoch_us(ts) AS ls,
        |         epoch_us(ts) + 480000000 AS le
        |  FROM events WHERE event_type = 'view'
        |    AND user_id IS NOT NULL AND ts IS NOT NULL),
        |rc AS (
        |  SELECT event_id AS click_id, user_id,
        |         epoch_us(ts) AS rs,
        |         epoch_us(ts) + 300000000 AS re
        |  FROM events WHERE event_type = 'click'
        |    AND user_id IS NOT NULL AND ts IS NOT NULL)
        |SELECT l.view_id, l.user_id, r.click_id,
        |  CAST(least(l.le, r.re) - greatest(l.ls, r.rs) AS BIGINT)
        |    AS overlap_micros
        |FROM lv l JOIN rc r
        |  ON l.user_id = r.user_id AND l.ls < r.re AND r.rs < l.le
        |ORDER BY l.view_id, r.click_id""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      def iv(tpe: String, idAs: String, lenMicros: Long) = ev
        .filter(col("event_type") === tpe)
        .select(col("event_id").as(idAs), col("user_id"),
          unix_micros(col("ts")).as(s"${idAs}_s"),
          (unix_micros(col("ts")) + lenMicros).as(s"${idAs}_e"))
      graft.ops.TemporalJoins.intervalJoin(
          iv("view", "view_id", 480000000L),
          iv("click", "click_id", 300000000L),
          keys = Seq("user_id"),
          leftStartCol = "view_id_s", leftEndCol = "view_id_e",
          rightStartCol = "click_id_s", rightEndCol = "click_id_e")
        .select("view_id", "user_id", "click_id", "overlap_micros")
    }.sortedBy(col("view_id"), col("click_id")),

    // LEFT-OUTER range join: every event survives; the containing
    // signup window attaches where one exists, else null interval
    // payload — the attach-context-else-null enrichment shape. The
    // engine pushes the verify predicate into the (keys, bin) join
    // condition; the oracle is the raw-predicate LEFT JOIN.
    QueryDef("j_range_left",
      """WITH iv AS (
        |  SELECT event_id AS interval_id, user_id AS iv_user, ts AS start_ts,
        |         ts + INTERVAL 10 MINUTE AS end_ts
        |  FROM events WHERE event_type = 'signup')
        |SELECT e.event_id, e.user_id, e.ts,
        |       iv.interval_id, iv.start_ts, iv.end_ts
        |FROM events e LEFT JOIN iv
        |  ON e.user_id = iv.iv_user
        | AND e.ts >= iv.start_ts AND e.ts < iv.end_ts
        |ORDER BY e.event_id, iv.interval_id""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val iv = ev.filter(col("event_type") === "signup")
        .select(col("event_id").as("interval_id"), col("user_id"),
          col("ts").as("start_ts"),
          (col("ts") + expr("INTERVAL 10 MINUTES")).as("end_ts"))
      graft.ops.TemporalJoins.rangeJoin(
        ev.select("event_id", "user_id", "ts"), iv,
        keys = Seq("user_id"), timeCol = "ts",
        startCol = "start_ts", endCol = "end_ts", joinType = "left_outer")
    }.sortedBy(col("event_id"), col("interval_id")),

    // Salted skew join: the engine spreads each customer key over 8
    // deterministic sub-keys (build side replicated 8×); the oracle is
    // the PLAIN join — salting must be invisible in the result.
    QueryDef("j_salted_join",
      """SELECT o.o_orderkey, o.o_custkey, c.c_name, c.c_mktsegment
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |ORDER BY o.o_orderkey""".stripMargin) { (s, d) =>
      val o = Tables.orders(s, d).select("o_orderkey", "o_custkey")
      val c = Tables.customer(s, d).select(
        col("c_custkey").as("o_custkey"), col("c_name"), col("c_mktsegment"))
      graft.ops.SkewJoin.saltedJoin(o, c, Seq("o_custkey"),
        leftUniqueCol = "o_orderkey", salt = 8)
    }.sortedBy(col("o_orderkey")),

    // Per-key event-rate anomaly flags: hourly bins per user, flagged
    // when a bin exceeds 3x the user's own median bin count — per-key
    // baselines via the histogram-median machinery (no corpus sort).
    QueryDef("w_rate_anomalies",
      """WITH b AS (
        |  SELECT user_id, (epoch_us(ts) // 3600000000) * 3600000000
        |           AS bin_start_us,
        |         CAST(count(*) AS BIGINT) AS n_events
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1, 2),
        |hist AS (SELECT user_id, n_events AS v, count(*) AS c
        |         FROM b GROUP BY 1, 2),
        |cum AS (SELECT user_id, v, sum(c) OVER (PARTITION BY user_id
        |        ORDER BY v ROWS UNBOUNDED PRECEDING) AS cumc FROM hist),
        |tot AS (SELECT user_id, CAST(sum(c) AS BIGINT) AS n
        |        FROM hist GROUP BY 1),
        |p50 AS (SELECT c.user_id, min(v) AS p50 FROM cum c
        |  JOIN tot t ON t.user_id = c.user_id
        |  WHERE c.cumc >= (t.n * 50 + 99) // 100 GROUP BY 1)
        |SELECT b.user_id, b.bin_start_us, b.n_events, p50.p50,
        |  CAST(CASE WHEN b.n_events * 100 > 300 * p50.p50
        |       THEN 1 ELSE 0 END AS BIGINT) AS flagged
        |FROM b JOIN p50 ON p50.user_id = b.user_id
        |ORDER BY b.user_id, b.bin_start_us""".stripMargin) { (s, d) =>
      graft.ops.EventFeatures.rateAnomalies(Tables.events(s, d))
    }.sortedBy(col("user_id"), col("bin_start_us")),

    // Per-key temporal features: lag value, inter-event gap, sequence
    // position, 5-min gap-threshold session index — one event in, one
    // enriched row out (ops/EventFeatures). Total (ts, event_id) order
    // per user makes every engine agree; the query filters to non-null
    // key/time rows so the oracle's window sees the same universe (the
    // operator's null passthrough is spec-covered).
    QueryDef("w_lag_features",
      """WITH g AS (
        |  SELECT event_id, user_id, value,
        |    CAST(row_number() OVER w AS BIGINT) AS seq,
        |    lag(value) OVER w AS prev_value,
        |    epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap_micros
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT event_id, user_id, value, seq, prev_value, gap_micros,
        |  CAST(sum(CASE WHEN gap_micros IS NULL OR gap_micros > 300000000
        |                THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY seq
        |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
        |FROM g ORDER BY event_id""".stripMargin) { (s, d) =>
      graft.ops.EventFeatures.lagFeatures(
          Tables.events(s, d).select("event_id", "user_id", "value", "ts")
            .filter(col("user_id").isNotNull && col("ts").isNotNull))
        .select("event_id", "user_id", "value", "seq", "prev_value",
          "gap_micros", "session_idx")
    }.sortedBy(col("event_id")),

    // Ordered first-touch funnel (signup → view → click → purchase):
    // step i counts only strictly after the first completion of step
    // i−1. The engine derives the whole chain under ONE key exchange
    // (k unordered windows sharing the partitioning); the oracle states
    // the recurrence as a join chain of per-step minima.
    QueryDef("w_funnel_steps",
      """WITH f0 AS (SELECT user_id, min(ts) AS t0 FROM events
        |            WHERE event_type = 'signup' GROUP BY 1),
        |f1 AS (SELECT e.user_id, min(e.ts) AS t1 FROM events e
        |       JOIN f0 USING (user_id)
        |       WHERE e.event_type = 'view' AND e.ts > f0.t0 GROUP BY 1),
        |f2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
        |       JOIN f1 USING (user_id)
        |       WHERE e.event_type = 'click' AND e.ts > f1.t1 GROUP BY 1),
        |f3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
        |       JOIN f2 USING (user_id)
        |       WHERE e.event_type = 'purchase' AND e.ts > f2.t2 GROUP BY 1)
        |SELECT u.user_id,
        |  CAST((CASE WHEN f0.user_id IS NOT NULL THEN 1 ELSE 0 END) +
        |       (CASE WHEN f1.user_id IS NOT NULL THEN 1 ELSE 0 END) +
        |       (CASE WHEN f2.user_id IS NOT NULL THEN 1 ELSE 0 END) +
        |       (CASE WHEN f3.user_id IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS steps_completed
        |FROM (SELECT DISTINCT user_id FROM events) u
        |LEFT JOIN f0 USING (user_id)
        |LEFT JOIN f1 USING (user_id)
        |LEFT JOIN f2 USING (user_id)
        |LEFT JOIN f3 USING (user_id)
        |ORDER BY u.user_id""".stripMargin) { (s, d) =>
      graft.ops.EventAnalytics.funnelDepth(Tables.events(s, d),
        Seq("signup", "view", "click", "purchase"))
    }.sortedBy(col("user_id")),

    // Per-session rollup over the lag-features sessionization: event
    // count, dwell duration, quantized value total per (user, session).
    QueryDef("w_session_stats",
      """WITH g AS (
        |  SELECT event_id, user_id, value, ts,
        |    epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap_micros
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sgs AS (SELECT user_id, value, ts,
        |    sum(CASE WHEN gap_micros IS NULL OR gap_micros > 300000000
        |             THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS UNBOUNDED PRECEDING) AS session_idx
        |  FROM g)
        |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(max(epoch_us(ts)) - min(epoch_us(ts)) AS BIGINT)
        |    AS duration_micros,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |    AS value_x100
        |FROM sgs GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      graft.ops.EventFeatures.sessionStats(
        Tables.events(s, d).select("event_id", "user_id", "value", "ts")
          .filter(col("user_id").isNotNull && col("ts").isNotNull))
    }.sortedBy(col("user_id"), col("session_idx")),

    // Funnel conversion report: per step level, keys reaching at least
    // that level + integer conversion from the previous level.
    QueryDef("w_funnel_report",
      """WITH f0 AS (SELECT user_id, min(ts) AS t0 FROM events
        |            WHERE event_type = 'signup' GROUP BY 1),
        |f1 AS (SELECT e.user_id, min(e.ts) AS t1 FROM events e
        |       JOIN f0 USING (user_id)
        |       WHERE e.event_type = 'view' AND e.ts > f0.t0 GROUP BY 1),
        |f2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
        |       JOIN f1 USING (user_id)
        |       WHERE e.event_type = 'click' AND e.ts > f1.t1 GROUP BY 1),
        |f3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
        |       JOIN f2 USING (user_id)
        |       WHERE e.event_type = 'purchase' AND e.ts > f2.t2 GROUP BY 1),
        |fd AS (SELECT u.user_id,
        |  (CASE WHEN f0.user_id IS NOT NULL THEN 1 ELSE 0 END) +
        |  (CASE WHEN f1.user_id IS NOT NULL THEN 1 ELSE 0 END) +
        |  (CASE WHEN f2.user_id IS NOT NULL THEN 1 ELSE 0 END) +
        |  (CASE WHEN f3.user_id IS NOT NULL THEN 1 ELSE 0 END) AS depth
        |  FROM (SELECT DISTINCT user_id FROM events) u
        |  LEFT JOIN f0 USING (user_id) LEFT JOIN f1 USING (user_id)
        |  LEFT JOIN f2 USING (user_id) LEFT JOIN f3 USING (user_id)),
        |lv AS (SELECT k.step,
        |    CAST(sum(CASE WHEN fd.depth >= k.step THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_users
        |  FROM fd CROSS JOIN (VALUES (CAST(0 AS BIGINT)),
        |    (CAST(1 AS BIGINT)), (CAST(2 AS BIGINT)),
        |    (CAST(3 AS BIGINT)), (CAST(4 AS BIGINT))) k(step)
        |  GROUP BY 1)
        |SELECT step, n_users,
        |  CASE WHEN lag(n_users) OVER (ORDER BY step) IS NULL
        |         OR lag(n_users) OVER (ORDER BY step) = 0 THEN NULL
        |       ELSE n_users * 100 // lag(n_users) OVER (ORDER BY step) END
        |    AS conv_x100
        |FROM lv ORDER BY step""".stripMargin) { (s, d) =>
      graft.ops.EventAnalytics.funnelReport(Tables.events(s, d),
        Seq("signup", "view", "click", "purchase"))
    }.sortedBy(col("step")),

    // Per-type value percentiles: the histogram-formulation integer
    // percentile law (t_group_percentiles) over quantized event values.
    QueryDef("w_value_percentiles",
      """WITH vh AS (
        |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v,
        |         count(*) AS c
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |vc AS (
        |  SELECT event_type, v, sum(c) OVER (PARTITION BY event_type
        |         ORDER BY v ROWS UNBOUNDED PRECEDING) AS cumc FROM vh),
        |vt AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n
        |       FROM vh GROUP BY 1),
        |vp50 AS (SELECT c.event_type, min(v) AS p50 FROM vc c
        |  JOIN vt t ON t.event_type = c.event_type
        |  WHERE c.cumc >= (t.n * 50 + 99) // 100 GROUP BY 1),
        |vp90 AS (SELECT c.event_type, min(v) AS p90 FROM vc c
        |  JOIN vt t ON t.event_type = c.event_type
        |  WHERE c.cumc >= (t.n * 90 + 99) // 100 GROUP BY 1)
        |SELECT t.event_type, t.n, vp50.p50, vp90.p90
        |FROM vt t
        |JOIN vp50 ON vp50.event_type = t.event_type
        |JOIN vp90 ON vp90.event_type = t.event_type
        |ORDER BY t.event_type""".stripMargin) { (s, d) =>
      graft.ext.Curation.groupPercentiles(
        Tables.events(s, d).filter(col("value").isNotNull)
          .select(col("event_type"),
            round(col("value") * 100, 0).cast("long").as("v")),
        "event_type", "v", Seq(50, 90))
    }.sortedBy(col("event_type")),

    // Session transcripts: per (user, gap-session) the ordered
    // event-type sequence as one string — the conversation-assembly
    // shape of SFT data prep. Typed events only; gap rule 5 min.
    QueryDef("w_session_transcripts",
      """WITH te AS (SELECT user_id, event_id, event_type,
        |    epoch_us(ts) AS t
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND event_type IS NOT NULL),
        |g AS (SELECT *, t - lag(t) OVER (PARTITION BY user_id
        |        ORDER BY t, event_id) AS gap FROM te),
        |s AS (SELECT *, sum(CASE WHEN gap IS NULL OR gap > 300000000
        |        THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY t, event_id
        |            ROWS UNBOUNDED PRECEDING) AS session_idx FROM g)
        |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
        |  CAST(count(*) AS BIGINT) AS n_turns,
        |  string_agg(event_type, ' ' ORDER BY t, event_id) AS transcript
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      graft.ops.EventFeatures.sessionTranscripts(Tables.events(s, d))
    }.sortedBy(col("user_id"), col("session_idx")),

    // Top behavior paths: the most common whole-session event-type
    // sequences (the flow-analysis "top paths" readout) — counted
    // over w_session_transcripts' sessions, top 20 deterministic
    // (count DESC, path ASC).
    QueryDef("w_top_paths",
      """WITH te AS (SELECT user_id, event_id, event_type,
        |    epoch_us(ts) AS t
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND event_type IS NOT NULL),
        |g AS (SELECT *, t - lag(t) OVER (PARTITION BY user_id
        |        ORDER BY t, event_id) AS gap FROM te),
        |s AS (SELECT *, sum(CASE WHEN gap IS NULL OR gap > 300000000
        |        THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY t, event_id
        |            ROWS UNBOUNDED PRECEDING) AS session_idx FROM g),
        |tr AS (SELECT user_id, session_idx,
        |    string_agg(event_type, ' ' ORDER BY t, event_id) AS path
        |  FROM s GROUP BY 1, 2)
        |SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
        |FROM tr GROUP BY 1
        |ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin) { (s, d) =>
      graft.ops.EventFeatures.sessionTranscripts(Tables.events(s, d))
        .groupBy(col("transcript").as("path"))
        .agg(count(lit(1)).as("n_sessions"))
        .orderBy(col("n_sessions").desc, col("path"))
        .limit(20)
    }.sortedBy(col("n_sessions").desc, col("path")),

    // Preference-pair construction (the step BEFORE Bradley-Terry in
    // an RLHF pipeline): each user's per-item mean values become
    // pairwise verdicts, integer cross-multiplied (sum_a·n_b vs
    // sum_b·n_a) over the floor(value·100) grid; exact ties are
    // undecided and emit no pair.
    QueryDef("w_preference_pairs",
      s"""WITH per AS (SELECT user_id, event_type AS item,
         |    CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CAST(floor(CAST(value AS DOUBLE) * 100)
         |      AS BIGINT)) AS BIGINT) AS s
         |  FROM events
         |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
         |    AND value IS NOT NULL
         |  GROUP BY 1, 2),
         |pr AS (SELECT
         |    CASE WHEN a.s * b.n > b.s * a.n THEN a.item ELSE b.item END
         |      AS winner,
         |    CASE WHEN a.s * b.n > b.s * a.n THEN b.item ELSE a.item END
         |      AS loser
         |  FROM per a JOIN per b ON b.user_id = a.user_id
         |    AND a.item < b.item
         |  WHERE a.s * b.n <> b.s * a.n)
         |SELECT winner, loser, CAST(count(*) AS BIGINT) AS n_pairs
         |FROM pr GROUP BY 1, 2
         |ORDER BY winner, loser""".stripMargin) { (s, d) =>
      graft.ext.Preference.preferencePairs(Tables.events(s, d))
    }.sortedBy(col("winner"), col("loser")),

    // Head-to-head win rates over the preference pairs with a 95%
    // Wilson score interval — engine-exact floats (only ×, /, √ —
    // IEEE-exactly-rounded — over fixed documented z literals, same
    // parenthesization both engines), floored ×10⁴; `decisive` marks
    // pairs whose interval excludes the coin flip.
    QueryDef("w_win_rates",
      s"""WITH per AS (SELECT user_id, event_type AS item,
         |    CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CAST(floor(CAST(value AS DOUBLE) * 100)
         |      AS BIGINT)) AS BIGINT) AS s
         |  FROM events
         |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
         |    AND value IS NOT NULL
         |  GROUP BY 1, 2),
         |pr AS (SELECT
         |    CASE WHEN a.s * b.n > b.s * a.n THEN a.item ELSE b.item END
         |      AS winner,
         |    CASE WHEN a.s * b.n > b.s * a.n THEN b.item ELSE a.item END
         |      AS loser
         |  FROM per a JOIN per b ON b.user_id = a.user_id
         |    AND a.item < b.item
         |  WHERE a.s * b.n <> b.s * a.n),
         |cmp AS (SELECT winner, loser, CAST(count(*) AS BIGINT) AS np
         |  FROM pr GROUP BY 1, 2),
         |und AS (SELECT least(winner, loser) AS item_a,
         |    greatest(winner, loser) AS item_b,
         |    CAST(sum(CASE WHEN winner < loser THEN np ELSE 0 END)
         |      AS BIGINT) AS wins_a,
         |    CAST(sum(CASE WHEN winner < loser THEN 0 ELSE np END)
         |      AS BIGINT) AS wins_b
         |  FROM cmp GROUP BY 1, 2),
         |wr AS (SELECT item_a, item_b, wins_a, wins_b,
         |    wins_a + wins_b AS n,
         |    CAST((wins_a * 10000) // (wins_a + wins_b) AS BIGINT)
         |      AS win_rate_x10000,
         |    CAST(floor(10000.0 * (((wins_a + 1.9208)
         |      - 1.96 * sqrt(CAST(wins_a * (wins_a + wins_b - wins_a)
         |          AS DOUBLE) / CAST(wins_a + wins_b AS DOUBLE) + 0.9604))
         |      / (CAST(wins_a + wins_b AS DOUBLE) + 3.8416)))
         |      AS BIGINT) AS wilson_lo_x10000,
         |    CAST(floor(10000.0 * (((wins_a + 1.9208)
         |      + 1.96 * sqrt(CAST(wins_a * (wins_a + wins_b - wins_a)
         |          AS DOUBLE) / CAST(wins_a + wins_b AS DOUBLE) + 0.9604))
         |      / (CAST(wins_a + wins_b AS DOUBLE) + 3.8416)))
         |      AS BIGINT) AS wilson_hi_x10000
         |  FROM und)
         |SELECT item_a, item_b, wins_a, wins_b, n, win_rate_x10000,
         |  wilson_lo_x10000, wilson_hi_x10000,
         |  wilson_lo_x10000 > 5000 OR wilson_hi_x10000 < 5000 AS decisive
         |FROM wr ORDER BY item_a, item_b""".stripMargin) { (s, d) =>
      graft.ext.Preference.winRateReport(
        graft.ext.Preference.preferencePairs(Tables.events(s, d)))
    }.sortedBy(col("item_a"), col("item_b")),

    // Touch attribution: per purchase, the last/first non-conversion
    // touch within a 1-hour event-time horizon — RANGE-framed struct
    // extremes, the [t−h, t) bound excluding simultaneous events,
    // unattributed conversions kept with null touches.
    QueryDef("w_attribution",
      s"""WITH e AS (SELECT user_id, event_id, event_type,
         |    CAST(epoch_us(ts) AS BIGINT) AS t
         |  FROM events
         |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
         |    AND event_type IS NOT NULL),
         |wn AS (SELECT user_id, event_id, event_type, t,
         |  max(CASE WHEN event_type <> 'purchase'
         |      THEN struct_pack(t := t, id := event_id, tp := event_type)
         |      END) OVER (PARTITION BY user_id ORDER BY t
         |        RANGE BETWEEN 3600000000 PRECEDING AND 1 PRECEDING)
         |    AS lt,
         |  min(CASE WHEN event_type <> 'purchase'
         |      THEN struct_pack(t := t, id := event_id, tp := event_type)
         |      END) OVER (PARTITION BY user_id ORDER BY t
         |        RANGE BETWEEN 3600000000 PRECEDING AND 1 PRECEDING)
         |    AS ft
         |  FROM e)
         |SELECT user_id, event_id AS conv_id, t AS conv_t,
         |  lt.tp AS last_touch_type, lt.id AS last_touch_id,
         |  lt.t AS last_touch_t,
         |  ft.tp AS first_touch_type, ft.id AS first_touch_id,
         |  ft.t AS first_touch_t
         |FROM wn WHERE event_type = 'purchase'
         |ORDER BY conv_id""".stripMargin) { (s, d) =>
      graft.ops.EventAnalytics.touchAttribution(Tables.events(s, d),
        convType = "purchase")
    }.sortedBy(col("conv_id")),

    // RLHF-prep FLAGSHIP: ratings → preference pairs → Bradley-Terry
    // strengths, the full reward-model data chain composed end to end
    // (both stages' laws already gated standalone; the composition is
    // replayed whole so a seam bug can't hide between them).
    QueryDef("w_rlhf_prep", {
      val s2 = graft.ext.Preference.Scale * graft.ext.Preference.Scale
      def sweep(i: Int, prev: String) =
        s"""d$i AS (SELECT m.a AS item, sum(m.n * $s2 // (sa.s + sb.s)) AS d
           |  FROM m JOIN $prev sa ON sa.item = m.a
           |  JOIN $prev sb ON sb.item = m.b GROUP BY 1),
           |s$i AS (SELECT it.item,
           |    CASE WHEN coalesce(wi.n_wins, 0) > 0
           |         THEN greatest(coalesce(wi.n_wins, 0) * $s2 // d$i.d, 1)
           |         ELSE 0 END AS s
           |  FROM it LEFT JOIN wi USING (item) JOIN d$i USING (item))""".stripMargin
      s"""WITH per AS (SELECT user_id, event_type AS item,
         |    CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CAST(floor(CAST(value AS DOUBLE) * 100)
         |      AS BIGINT)) AS BIGINT) AS s
         |  FROM events
         |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
         |    AND value IS NOT NULL
         |  GROUP BY 1, 2),
         |pr AS (SELECT
         |    CASE WHEN a.s * b.n > b.s * a.n THEN a.item ELSE b.item END
         |      AS winner,
         |    CASE WHEN a.s * b.n > b.s * a.n THEN b.item ELSE a.item END
         |      AS loser
         |  FROM per a JOIN per b ON b.user_id = a.user_id
         |    AND a.item < b.item
         |  WHERE a.s * b.n <> b.s * a.n),
         |e AS (SELECT winner AS w, loser AS l,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM pr GROUP BY 1, 2),
         |m AS (SELECT a, b, sum(n) AS n FROM (
         |        SELECT w AS a, l AS b, n FROM e
         |        UNION ALL SELECT l, w, n FROM e) u GROUP BY 1, 2),
         |it AS (SELECT DISTINCT a AS item FROM m),
         |wi AS (SELECT w AS item, sum(n) AS n_wins FROM e GROUP BY 1),
         |pl AS (SELECT a AS item, sum(n) AS n_comparisons FROM m GROUP BY 1),
         |s0 AS (SELECT item, CAST(${graft.ext.Preference.Scale} AS BIGINT) AS s
         |       FROM it),
         |${sweep(1, "s0")},
         |${sweep(2, "s1")},
         |${sweep(3, "s2")}
         |SELECT f.item, CAST(f.s AS BIGINT) AS strength_x1e4,
         |  CAST(coalesce(wi.n_wins, 0) AS BIGINT) AS n_wins,
         |  CAST(pl.n_comparisons AS BIGINT) AS n_comparisons
         |FROM s3 f LEFT JOIN wi USING (item) JOIN pl USING (item)
         |ORDER BY item""".stripMargin
    }) { (s, d) =>
      graft.ext.Preference.bradleyTerryScores(
        graft.ext.Preference.preferencePairs(Tables.events(s, d)),
        "winner", "loser", "n_pairs")
    }.sortedBy(col("item")),

    // Bradley-Terry strengths from pairwise comparison counts (the
    // RLHF preference-data model): 3 integer MM sweeps from the
    // uniform start, zero-win items disclosed at rank 0, winners
    // floored at 1 unit. Comparison relation: the behavior-flow edges
    // read as "from preferred over to" (a deterministic stand-in for
    // an annotator-preference table).
    QueryDef("w_bradley_terry", {
      val s2 = graft.ext.Preference.Scale * graft.ext.Preference.Scale
      def sweep(i: Int, prev: String) =
        s"""d$i AS (SELECT m.a AS item, sum(m.n * $s2 // (sa.s + sb.s)) AS d
           |  FROM m JOIN $prev sa ON sa.item = m.a
           |  JOIN $prev sb ON sb.item = m.b GROUP BY 1),
           |s$i AS (SELECT it.item,
           |    CASE WHEN coalesce(wi.n_wins, 0) > 0
           |         THEN greatest(coalesce(wi.n_wins, 0) * $s2 // d$i.d, 1)
           |         ELSE 0 END AS s
           |  FROM it LEFT JOIN wi USING (item) JOIN d$i USING (item))""".stripMargin
      s"""WITH tt AS (
         |  SELECT event_type,
         |    lag(event_type) OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id) AS prev_type
         |  FROM events
         |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
         |    AND event_type IS NOT NULL),
         |e AS (SELECT prev_type AS w, event_type AS l, count(*) AS n
         |      FROM tt WHERE prev_type IS NOT NULL
         |        AND prev_type <> event_type GROUP BY 1, 2),
         |m AS (SELECT a, b, sum(n) AS n FROM (
         |        SELECT w AS a, l AS b, n FROM e
         |        UNION ALL SELECT l, w, n FROM e) u GROUP BY 1, 2),
         |it AS (SELECT DISTINCT a AS item FROM m),
         |wi AS (SELECT w AS item, sum(n) AS n_wins FROM e GROUP BY 1),
         |pl AS (SELECT a AS item, sum(n) AS n_comparisons FROM m GROUP BY 1),
         |s0 AS (SELECT item, CAST(${graft.ext.Preference.Scale} AS BIGINT) AS s
         |       FROM it),
         |${sweep(1, "s0")},
         |${sweep(2, "s1")},
         |${sweep(3, "s2")}
         |SELECT f.item, CAST(f.s AS BIGINT) AS strength_x1e4,
         |  CAST(coalesce(wi.n_wins, 0) AS BIGINT) AS n_wins,
         |  CAST(pl.n_comparisons AS BIGINT) AS n_comparisons
         |FROM s3 f LEFT JOIN wi USING (item) JOIN pl USING (item)
         |ORDER BY item""".stripMargin
    }) { (s, d) =>
      graft.ext.Preference.bradleyTerryScores(
        graft.ops.EventAnalytics.transitionCounts(Tables.events(s, d)),
        "type_from", "type_to", "n_transitions")
    }.sortedBy(col("item")),

    // PageRank over the behavior-flow graph: 3 integer-exact power
    //-iteration rounds (damping 0.85, ranks in parts-per-billion)
    // on the transition-count edges — the authority prior, unrolled
    // in SQL with the same floor-division arithmetic. Dangling mass
    // drops (disclosed in Graph.pageRank).
    QueryDef("w_pagerank_flow", {
      def iter(i: Int, prev: String) =
        s"""s$i AS (SELECT e.dst AS node, sum($prev.r * e.w // ow.ow) AS contrib
           |  FROM e JOIN $prev ON e.src = $prev.node
           |  JOIN ow ON ow.src = e.src GROUP BY 1),
           |r$i AS (SELECT n.node,
           |    (15 * (1000000000 // c.nn) + 85 * coalesce(s$i.contrib, 0)) // 100 AS r
           |  FROM n CROSS JOIN c LEFT JOIN s$i USING (node))""".stripMargin
      s"""WITH tt AS (
         |  SELECT event_type,
         |    lag(event_type) OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id) AS prev_type
         |  FROM events
         |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
         |    AND event_type IS NOT NULL),
         |e AS (SELECT prev_type AS src, event_type AS dst,
         |        count(*) AS w
         |      FROM tt WHERE prev_type IS NOT NULL GROUP BY 1, 2),
         |n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         |c AS (SELECT count(*) AS nn FROM n),
         |ow AS (SELECT src, sum(w) AS ow FROM e GROUP BY 1),
         |r0 AS (SELECT node, 1000000000 // nn AS r FROM n CROSS JOIN c),
         |${iter(1, "r0")},
         |${iter(2, "r1")},
         |${iter(3, "r2")}
         |SELECT node, CAST(r AS BIGINT) AS rank_ppb FROM r3
         |ORDER BY node""".stripMargin
    }) { (s, d) =>
      graft.ext.Graph.pageRank(
        graft.ops.EventAnalytics.transitionCounts(Tables.events(s, d)),
        "type_from", "type_to", "n_transitions")
    }.sortedBy(col("node")),

    // Behavior-flow transition counts: consecutive event-type pairs
    // per user in (ts, id) order, counted corpus-wide — the Markov
    // edges of the product flow chart.
    QueryDef("w_transition_counts",
      """WITH tt AS (
        |  SELECT event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev_type
        |  FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND event_type IS NOT NULL)
        |SELECT prev_type AS type_from, event_type AS type_to,
        |  CAST(count(*) AS BIGINT) AS n_transitions
        |FROM tt WHERE prev_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      graft.ops.EventAnalytics.transitionCounts(Tables.events(s, d))
    }.sortedBy(col("type_from"), col("type_to")),

    // Rolling 7-day distinct actives (WAU): each (user, day) pair —
    // deduped first — covers the 7 trailing-window anchors it belongs
    // to; exact distinct per day, days without events omitted.
    QueryDef("w_rolling_active",
      """WITH dys AS (SELECT DISTINCT user_id,
        |    epoch_us(ts) // 86400000000 AS day
        |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        |ex AS (SELECT user_id, unnest(generate_series(day, day + 6)) AS day2
        |       FROM dys),
        |act AS (SELECT day2 AS day,
        |    CAST(count(DISTINCT user_id) AS BIGINT) AS n_active_7d
        |  FROM ex GROUP BY 1)
        |SELECT a.day, a.n_active_7d
        |FROM act a JOIN (SELECT DISTINCT day FROM dys) p USING (day)
        |ORDER BY day""".stripMargin) { (s, d) =>
      graft.ops.EventAnalytics.rollingActive(Tables.events(s, d))
    }.sortedBy(col("day")),

    // Cohort retention matrix: users cohorted by integer epoch day of
    // first event, counted distinct per (cohort_day, offset_day).
    QueryDef("w_retention_cohorts",
      """WITH days AS (SELECT user_id,
        |    epoch_us(ts) // 86400000000 AS day FROM events
        |  WHERE ts IS NOT NULL),
        |cohorts AS (SELECT user_id, min(day) AS cohort_day
        |            FROM days GROUP BY 1)
        |SELECT c.cohort_day, d.day - c.cohort_day AS offset_day,
        |  CAST(count(DISTINCT d.user_id) AS BIGINT) AS n_active
        |FROM days d JOIN cohorts c USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      graft.ops.EventAnalytics.cohortRetention(Tables.events(s, d))
    }.sortedBy(col("cohort_day"), col("offset_day")),

    // DAU/WAU stickiness: daily over trailing-7-day distinct actives,
    // x100 integer — the two rollingActive windows joined on their
    // shared observed-day key.
    QueryDef("w_stickiness",
      """WITH dys AS (SELECT DISTINCT user_id,
        |    epoch_us(ts) // 86400000000 AS day
        |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        |d1 AS (SELECT day, CAST(count(DISTINCT user_id) AS BIGINT)
        |         AS n_active_1d FROM dys GROUP BY 1),
        |ex AS (SELECT user_id, unnest(generate_series(day, day + 6)) AS day2
        |       FROM dys),
        |d7 AS (SELECT day2 AS day,
        |    CAST(count(DISTINCT user_id) AS BIGINT) AS n_active_7d
        |  FROM ex GROUP BY 1)
        |SELECT a.day, a.n_active_1d, b.n_active_7d,
        |  CAST(a.n_active_1d * 100 // b.n_active_7d AS BIGINT)
        |    AS stickiness_x100
        |FROM d1 a JOIN d7 b USING (day)
        |ORDER BY day""".stripMargin) { (s, d) =>
      graft.ops.EventAnalytics.stickiness(Tables.events(s, d))
    }.sortedBy(col("day")),

    // Funnel conversion latency: per adjacent step pair, converting-key
    // count + exact integer p50/p90 of the microsecond gap between the
    // first-touch completions (histogram percentile law per step).
    QueryDef("w_funnel_latency",
      """WITH f0 AS (SELECT user_id, min(ts) AS t0 FROM events
        |            WHERE event_type = 'signup' GROUP BY 1),
        |f1 AS (SELECT e.user_id, min(e.ts) AS t1 FROM events e
        |       JOIN f0 USING (user_id)
        |       WHERE e.event_type = 'view' AND e.ts > f0.t0 GROUP BY 1),
        |f2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
        |       JOIN f1 USING (user_id)
        |       WHERE e.event_type = 'click' AND e.ts > f1.t1 GROUP BY 1),
        |f3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
        |       JOIN f2 USING (user_id)
        |       WHERE e.event_type = 'purchase' AND e.ts > f2.t2 GROUP BY 1),
        |g AS (
        |  SELECT CAST(1 AS BIGINT) AS step,
        |         epoch_us(f1.t1) - epoch_us(f0.t0) AS gap
        |  FROM f1 JOIN f0 USING (user_id)
        |  UNION ALL
        |  SELECT CAST(2 AS BIGINT),
        |         epoch_us(f2.t2) - epoch_us(f1.t1)
        |  FROM f2 JOIN f1 USING (user_id)
        |  UNION ALL
        |  SELECT CAST(3 AS BIGINT),
        |         epoch_us(f3.t3) - epoch_us(f2.t2)
        |  FROM f3 JOIN f2 USING (user_id)),
        |gc AS (SELECT step, CAST(count(*) AS BIGINT) AS n_converted
        |       FROM g GROUP BY 1),
        |gh AS (SELECT step, gap AS v, count(*) AS c FROM g GROUP BY 1, 2),
        |gcum AS (SELECT step, v, sum(c) OVER (PARTITION BY step
        |           ORDER BY v ROWS UNBOUNDED PRECEDING) AS cumc FROM gh),
        |gt AS (SELECT step, CAST(sum(c) AS BIGINT) AS n FROM gh GROUP BY 1),
        |gp50 AS (SELECT c.step, min(v) AS p50_micros FROM gcum c
        |  JOIN gt t ON t.step = c.step
        |  WHERE c.cumc >= (t.n * 50 + 99) // 100 GROUP BY 1),
        |gp90 AS (SELECT c.step, min(v) AS p90_micros FROM gcum c
        |  JOIN gt t ON t.step = c.step
        |  WHERE c.cumc >= (t.n * 90 + 99) // 100 GROUP BY 1)
        |SELECT gc.step, gc.n_converted, gp50.p50_micros, gp90.p90_micros
        |FROM gc
        |LEFT JOIN gp50 ON gp50.step = gc.step
        |LEFT JOIN gp90 ON gp90.step = gc.step
        |ORDER BY gc.step""".stripMargin) { (s, d) =>
      graft.ops.EventAnalytics.funnelLatency(Tables.events(s, d),
        Seq("signup", "view", "click", "purchase"))
    }.sortedBy(col("step"))
  )
}
