package graft

import scala.util.Random
import org.apache.spark.sql.functions._
import graft.ops.RatingsOps

/** Property-style invariants (SURVEY §5.4) over seeded random corpora:
  * partition completeness of the live/test split, join row-count
  * preservation, and window-count conservation.
  */
class OpsPropertySpec extends SparkSuite {

  private def randomRatings(seed: Long, n: Int) = {
    val rnd = new Random(seed)
    val channels = Seq("ios", "android", "web", "ios-test", "PROD-TEST", "t")
    (1 to n).map { i =>
      Rating(i.toLong, rnd.nextInt(30) + 1, rnd.nextInt(6).toDouble,
        channels(rnd.nextInt(channels.size)), s"msg$i",
        new java.sql.Timestamp(1704100000000L + rnd.nextInt(7200) * 1000L))
    }
  }

  test("IR metric laws on random runs/qrels: bounds, ideal-run perfection, AUC monotone invariance, tau symmetry, Wilson containment") {
    import spark.implicits._
    Seq(3L, 19L, 77L).foreach { seed =>
      val rnd = new Random(seed)
      val k = 8
      val qrels = (1L to 5L).flatMap { q =>
        rnd.shuffle((1L to 30L).toList).take(rnd.nextInt(12) + 1)
          .map(doc => (q, doc, rnd.nextInt(3) + 1L))
      }.toDF("query_id", "doc_id", "rel")
      val run = (1L to 5L).flatMap { q =>
        rnd.shuffle((1L to 30L).toList).take(k).zipWithIndex
          .map { case (doc, i) => (q, doc, i + 1L) }
      }.toDF("query_id", "doc_id", "rank")
      val m = graft.ext.Eval.rankEval(run, qrels, k).collect()
      m.foreach { r =>
        def o(c: String): Option[Long] =
          if (r.isNullAt(r.fieldIndex(c))) None
          else Some(r.getLong(r.fieldIndex(c)))
        Seq("rr_x10000", "precision_x10000", "recall_x10000",
          "ap_x10000", "ndcg_x10000").foreach { c =>
          o(c).foreach(v => assert(v >= 0L && v <= 10000L,
            s"seed=$seed $c=$v out of range: $r")) }
        assert(r.getLong(r.fieldIndex("n_rel_ret")) <=
          math.min(r.getLong(r.fieldIndex("n_ret")),
            r.getLong(r.fieldIndex("n_rel"))), s"seed=$seed $r")
      }
      // the IDEAL run (qrels sorted rel desc, doc asc, top k) must
      // score nDCG = 10⁴ and, when n_rel ≤ k, recall = 10⁴ and AP = 10⁴
      val ideal = qrels.withColumn("rank",
          row_number().over(org.apache.spark.sql.expressions.Window
            .partitionBy("query_id")
            .orderBy(col("rel").desc, col("doc_id"))).cast("long"))
        .filter(col("rank") <= k)
        .select("query_id", "doc_id", "rank")
      val mi = graft.ext.Eval.rankEval(ideal, qrels, k).collect()
      mi.foreach { r =>
        assert(r.getLong(r.fieldIndex("ndcg_x10000")) == 10000L,
          s"seed=$seed ideal run not nDCG-perfect: $r")
        if (r.getLong(r.fieldIndex("n_rel")) <= k) {
          assert(r.getLong(r.fieldIndex("recall_x10000")) == 10000L, r)
          assert(r.getLong(r.fieldIndex("ap_x10000")) == 10000L, r)
        }
      }
      // AUC is rank-based: any strictly monotone score transform
      // leaves (n_pos, n_neg, u2, auc) bit-identical
      val scored = (1 to 60).map(_ =>
        (rnd.nextInt(20).toLong, rnd.nextBoolean()))
        .toDF("score", "label")
      val a1 = graft.ext.Eval.rocAuc(scored).collect().head.toSeq
      val a2 = graft.ext.Eval.rocAuc(scored.select(
        (col("score") * 2 + 7).as("score"), col("label")))
        .collect().head.toSeq
      assert(a1 == a2, s"seed=$seed AUC not monotone-invariant")
      // τ is symmetric, and τ(run, run) = 10⁴ on every query with ≥ 2
      // shared docs
      val runB = (1L to 5L).flatMap { q =>
        rnd.shuffle((1L to 30L).toList).take(k).zipWithIndex
          .map { case (doc, i) => (q, doc, i + 1L) }
      }.toDF("query_id", "doc_id", "rank")
      val tAB = graft.ext.Eval.rankCorrelation(run, runB).collect()
        .map(r => r.getLong(0) -> r.toSeq).toMap
      val tBA = graft.ext.Eval.rankCorrelation(runB, run).collect()
        .map(r => r.getLong(0) -> r.toSeq).toMap
      assert(tAB == tBA, s"seed=$seed tau not symmetric")
      graft.ext.Eval.rankCorrelation(run, run).collect().foreach { r =>
        if (r.getLong(r.fieldIndex("n_shared")) >= 2L)
          assert(r.getLong(r.fieldIndex("tau_x10000")) == 10000L, r) }
      // Wilson interval always contains the point accuracy
      val preds = (1L to 40L).map(i =>
        (i, if (rnd.nextBoolean()) "x" else "y")).toDF("doc_id", "pred")
      val refs = (1L to 40L).map(i =>
        (i, s"g${i % 3}", "x")).toDF("doc_id", "source", "ref")
      graft.ext.Eval.accuracyCi(preds, refs).collect().foreach { r =>
        val acc = r.getLong(r.fieldIndex("acc_x10000"))
        assert(r.getLong(r.fieldIndex("wilson_lo_x10000")) <= acc &&
          acc <= r.getLong(r.fieldIndex("wilson_hi_x10000")) + 1,
          s"seed=$seed Wilson interval excludes the point estimate: $r")
      }
    }
  }

  test("uncertaintySample: per-group bottom-k margins, id ties, null scores excluded, bounded-heap plan") {
    import spark.implicits._
    def jl(x: Long): java.lang.Long = java.lang.Long.valueOf(x)
    val scored = Seq[(String, Long, java.lang.Long)](
      ("a", 1L, jl(5)), ("a", 2L, jl(1)), ("a", 3L, jl(1)),
      ("a", 4L, jl(9)), ("b", 5L, jl(0)), ("b", 6L, jl(2)),
      ("c", 7L, null))
      .toDF("source", "doc_id", "margin")
    val out = graft.ext.Sampling.uncertaintySample(scored, k = 2)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(r.fieldIndex("rank"))))
      .toSet
    // group a: margins 1(id2), 1(id3) — tie to smaller id first;
    // group b: 0 then 2; group c: only a null score → absent
    assert(out == Set(("a", 2L, 1L), ("a", 3L, 2L),
      ("b", 5L, 1L), ("b", 6L, 2L)), out)
    val plan = graft.ext.Sampling.uncertaintySample(scored, k = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey"), plan)
    intercept[IllegalArgumentException] {
      graft.ext.Sampling.uncertaintySample(scored, k = 0)
    }
  }

  test("live + test is a complete partition of ratings for any corpus") {
    import spark.implicits._
    Seq(1L, 7L, 42L).foreach { seed =>
      val df = randomRatings(seed, 200).toDF()
      val live = RatingsOps.live(df).count()
      val tst = RatingsOps.test(df).count()
      assert(live + tst == 200, s"seed=$seed")
      // and they are disjoint
      assert(RatingsOps.live(df).intersect(RatingsOps.test(df)).count() == 0)
    }
  }

  test("enrichment never changes row count when unmatched rows are kept") {
    import spark.implicits._
    Seq(3L, 99L).foreach { seed =>
      val df = randomRatings(seed, 150).toDF()
      val enriched = RatingsOps.enrich(df, customersDf, dropUnmatched = false)
      assert(enriched.count() == 150, s"seed=$seed")
      // dropUnmatched=true only removes rows with no customer (USER_ID > 20)
      val matched = RatingsOps.enrich(df, customersDf)
      val expected = df.filter(col("USER_ID") <= 20).count()
      assert(matched.count() == expected, s"seed=$seed")
    }
  }

  test("window counts conserve the total event count") {
    import spark.implicits._
    Seq(5L, 11L).foreach { seed =>
      val df = randomRatings(seed, 300).toDF()
      val enriched = RatingsOps.enrich(df, customersDf, dropUnmatched = false)
        .withColumn("CLUB_STATUS", coalesce(col("CLUB_STATUS"), lit("?")))
        .withColumn("FULL_NAME", coalesce(col("FULL_NAME"), lit("?")))
      val w15 = RatingsOps.perCustomer15min(enriched)
        .agg(sum("RATINGS_COUNT")).collect().head.getLong(0)
      val w1 = RatingsOps.byClubStatus1min(enriched)
        .agg(sum("RATING_COUNT")).collect().head.getLong(0)
      assert(w15 == 300 && w1 == 300, s"seed=$seed")
    }
  }

  test("native expressions match their HOF specs on adversarial random vectors") {
    import spark.implicits._
    // beyond the corpus + hand-picked edges in NativeExprSpec: seeded
    // random float vectors spanning sign changes, magnitude extremes,
    // denormals, infinities and NaN — bitwise agreement required
    val rnd = new Random(271828L)
    def vec(): Seq[Float] = Seq.fill(16) {
      rnd.nextInt(8) match {
        case 0 => Float.MinPositiveValue * (rnd.nextInt(100) + 1) // denormal
        case 1 => (rnd.nextFloat() - 0.5f) * 1e30f                // huge
        case 2 => Float.PositiveInfinity
        case 3 => Float.NaN
        case _ => (rnd.nextFloat() - 0.5f) * 4f
      }
    }
    val df = (1 to 200).map(_ => Tuple1(vec())).toDF("v")
    val (tables, planes) = (4, 5)
    val hof = array((0 until tables).map(t =>
      graft.ext.Similarity.lshBucketHof(col("v"), t, planes, 16)): _*)
    val lsh = df.select(
      graft.ext.Similarity.lshAllBuckets(col("v"), tables, planes, 16).as("native"),
      hof.as("hof"))
    assert(lsh.filter(col("native") =!= col("hof")).count() == 0)

    // random long sets (incl. empties) for the dedup signature pair
    def hashes(): Seq[Long] =
      if (rnd.nextInt(10) == 0) Seq.empty
      else Seq.fill(rnd.nextInt(40) + 1)(rnd.nextLong().abs % 2147483647L)
    val hd = (1 to 200).map(_ => Tuple1(hashes())).toDF("hs")
    val sigs = hd.select(
      graft.ext.Dedup.minhashSignature(col("hs")).as("n1"),
      graft.ext.Dedup.minhashSignatureHof(col("hs")).as("h1"),
      graft.ext.Dedup.simhash(col("hs")).as("n2"),
      graft.ext.Dedup.simhashHof(col("hs")).as("h2"))
    assert(sigs.filter(col("n1") =!= col("h1") || col("n2") =!= col("h2"))
      .count() == 0)
  }

  test("lagFeatures invariants on random event logs: gaps positive-ordered, sessions monotone, rows preserved") {
    import spark.implicits._
    Seq(2L, 31L).foreach { seed =>
      val rnd = new Random(seed)
      val ev = (1 to 400).map { i =>
        (i.toLong, s"u${rnd.nextInt(8)}", rnd.nextDouble() * 100,
          new java.sql.Timestamp(1704100000000L + rnd.nextInt(36000) * 1000L))
      }.toDF("event_id", "user_id", "value", "ts")
      val out = graft.ops.EventFeatures.lagFeatures(ev,
        sessionGap = 600L * 1000000L)
      assert(out.count() == 400, s"seed=$seed rows")
      // every gap non-negative (total order), session indices start at
      // 1 and never decrease along seq, and a gap past the threshold
      // ALWAYS bumps the session
      val bad = out.filter(col("gap_micros") < 0).count()
      assert(bad == 0, s"seed=$seed negative gap")
      val rows = out.select("user_id", "seq", "gap_micros", "session_idx")
        .as[(String, Long, Option[Long], Long)].collect()
        .groupBy(_._1).view.mapValues(_.sortBy(_._2))
      rows.foreach { case (u, es) =>
        assert(es.head._4 == 1L, s"seed=$seed $u first session")
        es.sliding(2).foreach {
          case Array(a, b) =>
            val expectBump = b._3.exists(_ > 600L * 1000000L)
            assert(b._4 == a._4 + (if (expectBump) 1 else 0),
              s"seed=$seed $u session law at seq ${b._2}")
          case _ => ()
        }
      }
    }
  }

  test("temperatureMix invariants: output is a subset, smallest domain complete, monotone in alpha") {
    import spark.implicits._
    Seq(13L, 77L).foreach { seed =>
      val rnd = new Random(seed)
      val doms = Seq("a" -> 900, "b" -> 300, "c" -> 60)
      val df = doms.flatMap { case (d, n) =>
        (1 to n).map(i => (s"$d-$i-${rnd.nextInt(1000)}", d))
      }.toDF("k", "domain")
      def mix(num: Int, den: Int) =
        graft.ext.Sampling.temperatureMix(df, col("domain"), col("k"), num, den)
      val half = mix(1, 2)
      // subset law: every kept row exists in the input
      assert(half.exceptAll(df).count() == 0, s"seed=$seed subset")
      // smallest domain keeps everything at every alpha
      assert(mix(0, 1).filter(col("domain") === "c").count() == 60)
      assert(half.filter(col("domain") === "c").count() == 60)
      // monotone: a bigger alpha keeps at least as much of every domain
      // (thresholds rise with alpha for every domain)
      val t0 = graft.ext.Sampling.temperatureMixThresholds(
        Map("a" -> 900L, "b" -> 300L, "c" -> 60L), 0, 1)
      val t1 = graft.ext.Sampling.temperatureMixThresholds(
        Map("a" -> 900L, "b" -> 300L, "c" -> 60L), 1, 2)
      val t2 = graft.ext.Sampling.temperatureMixThresholds(
        Map("a" -> 900L, "b" -> 300L, "c" -> 60L), 1, 1)
      Seq("a", "b", "c").foreach { d =>
        assert(t0(d) <= t1(d) && t1(d) <= t2(d), s"seed=$seed monotone $d")
      }
    }
  }

  test("rateAnomalies conserves event counts into bins for any corpus") {
    import spark.implicits._
    Seq(4L, 23L).foreach { seed =>
      val rnd = new Random(seed)
      val ev = (1 to 500).map { i =>
        (i.toLong, s"u${rnd.nextInt(6)}",
          new java.sql.Timestamp(1704100000000L + rnd.nextInt(86400) * 1000L))
      }.toDF("event_id", "user_id", "ts")
      val out = graft.ops.EventFeatures.rateAnomalies(ev)
      val total = out.agg(sum("n_events")).collect().head.getLong(0)
      assert(total == 500, s"seed=$seed binned counts must conserve events")
      // every (key, bin) appears once
      assert(out.groupBy("user_id", "bin_start_us").count()
        .filter(col("count") > 1).count() == 0, s"seed=$seed bin uniqueness")
    }
  }

  test("takeApportioned: exact quotas per domain, under-supply disclosed not back-filled") {
    import spark.implicits._
    // src0 has 30 rows, src1 only 2 (under-supplied), src2 has 10
    val rows = (1 to 30).map(i => (i.toLong, "src0")) ++
      Seq((100L, "src1"), (101L, "src1")) ++
      (200 to 209).map(i => (i.toLong, "src2"))
    val df = rows.toDF("doc_id", "source")
    val out = graft.ext.Sampling.takeApportioned(df, "source", "doc_id",
        Seq("src0" -> 2L, "src1" -> 2L, "src2" -> 1L), budget = 20L)
      .select("source", "doc_id").as[(String, Long)].collect()
    val bySrc = out.groupBy(_._1).view.mapValues(_.length).toMap
    // quotas: 20·2/5=8, 20·2/5=8, 20·1/5=4 — src1 can only supply 2
    assert(bySrc == Map("src0" -> 8, "src1" -> 2, "src2" -> 4), s"got $bySrc")
    // deterministic: same selection under a different partitioning
    val out2 = graft.ext.Sampling.takeApportioned(df.repartition(7),
        "source", "doc_id",
        Seq("src0" -> 2L, "src1" -> 2L, "src2" -> 1L), budget = 20L)
      .select("source", "doc_id").as[(String, Long)].collect()
    assert(out.toSet == out2.toSet)
  }

  test("takeTokenApportioned: token quotas respected by the prefix rule, shortfall disclosed, repartition-stable") {
    import spark.implicits._
    // src0: 30 docs x 10 tokens; src1: 2 docs x 10 (under-supplied);
    // src2: 10 docs x 10. weights 2:2:1, budget 250 tokens ->
    // quotas 100/100/50
    val rows = (1 to 30).map(i => (i.toLong, "src0", 10L)) ++
      Seq((100L, "src1", 10L), (101L, "src1", 10L)) ++
      (200 to 209).map(i => (i.toLong, "src2", 10L))
    val df = rows.toDF("doc_id", "source", "toks_in")
    val w = Seq("src0" -> 2L, "src1" -> 2L, "src2" -> 1L)
    val out = graft.ext.Sampling.takeTokenApportioned(df, "source",
      "doc_id", col("toks_in"), w, totalTokens = 250L)
    val sums = out.groupBy("source")
      .agg(sum("toks").as("t"), max("quota").as("q"))
      .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    // each domain's taken tokens fit the quota; full domains fill it
    // exactly (uniform 10-token docs); src1 discloses its shortfall
    assert(sums("src0") == (100L, 100L) && sums("src2") == (50L, 50L),
      s"got $sums")
    assert(sums("src1") == (20L, 100L), s"shortfall not disclosed: $sums")
    // prefix rule: selected rows are exactly the quota/10 first docs in
    // (bucket, id) hash order — verify against an independent ranking
    val ranked = df.withColumn("b", graft.ext.Sampling.bucket(col("doc_id")))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("source")
          .orderBy(col("b"), col("doc_id"))))
    val expected = ranked.filter(
      (col("source") === "src0" && col("rn") <= 10) ||
      col("source") === "src1" ||
      (col("source") === "src2" && col("rn") <= 5))
      .select("doc_id").as[Long].collect().toSet
    assert(out.select("doc_id").as[Long].collect().toSet == expected)
    // deterministic under repartitioning
    val out2 = graft.ext.Sampling.takeTokenApportioned(df.repartition(7),
      "source", "doc_id", col("toks_in"), w, totalTokens = 250L)
    assert(out.select("doc_id").as[Long].collect().toSet ==
      out2.select("doc_id").as[Long].collect().toSet)
    // null token counts cost 0 (kept for free, never poison the cumsum)
    val withNull = Seq((1L, "src0", Some(10L)), (2L, "src0", None))
      .toDF("doc_id", "source", "toks_in")
    val nOut = graft.ext.Sampling.takeTokenApportioned(withNull, "source",
      "doc_id", col("toks_in"), Seq("src0" -> 1L), 100L)
    assert(nOut.count() == 2)
    // a weighted domain absent from the data yields nothing (disclosed
    // by the empty output, never back-filled)
    val absent = graft.ext.Sampling.takeTokenApportioned(withNull, "source",
      "doc_id", col("toks_in"), Seq("srcZ" -> 1L), 100L)
    assert(absent.count() == 0)
  }

  test("new sampling-op plan shapes: upsample shuffle-free; shard/top-share broadcast their bounded relations") {
    import spark.implicits._
    val df = (1 to 200).map(i => (i.toLong, s"src${i % 4}", 10L))
      .toDF("doc_id", "source", "toks")
    // upsampleByFactor: broadcast factor join + row-local explode —
    // NO shuffle may appear (the op must stay inside the scan's stage)
    val up = graft.ext.Sampling.upsampleByFactor(df, "source",
      col("doc_id"), Seq("src0" -> (5L, 2L)))
    val upPlan = up.queryExecution.executedPlan.toString
    assert(!upPlan.contains("Exchange hashpartitioning") &&
      !upPlan.contains("Exchange rangepartitioning") &&
      !upPlan.contains("SortMergeJoin") &&
      !upPlan.contains("CartesianProduct"), upPlan)
    // planShards / keepTopShare: the corpus-facing join must be a
    // broadcast of the bounded offsets/threshold relation, never a
    // sort-merge shuffle of the corpus against it
    val sh = graft.ext.Sampling.planShards(df, col("doc_id"), col("toks"), 4)
    val shPlan = sh.queryExecution.executedPlan.toString
    assert(shPlan.contains("BroadcastHashJoin") &&
      !shPlan.contains("SortMergeJoin") &&
      !shPlan.contains("CartesianProduct"), shPlan)
    val ts = graft.ext.Curation.keepTopShare(df, "source", "toks", 50)
    val tsPlan = ts.queryExecution.executedPlan.toString
    assert(tsPlan.contains("BroadcastHashJoin") &&
      !tsPlan.contains("SortMergeJoin") &&
      !tsPlan.contains("CartesianProduct"), tsPlan)
  }

  test("mixSchedule: pure endpoints, exact per-step totals, linear fades, degenerate single step") {
    import spark.implicits._
    val start = Seq("web" -> 6L, "books" -> 3L, "news" -> 1L)
    val end = Seq("web" -> 2L, "books" -> 3L, "code" -> 5L)
    val plan = graft.ext.Sampling.mixSchedule(spark, start, end,
      steps = 4, tokensPerStep = 1000L)
      .as[(Long, String, Long)].collect()
    // 4 steps x 4 domains, every step sums to exactly 1000
    assert(plan.length == 16)
    plan.groupBy(_._1).foreach { case (st, g) =>
      assert(g.map(_._3).sum == 1000L, s"step $st: ${g.toSeq}")
    }
    // pure endpoints: step 0 = apportion(start), step 3 = apportion(end)
    val s0 = plan.filter(_._1 == 0L).map(r => r._2 -> r._3).toMap
    val s3 = plan.filter(_._1 == 3L).map(r => r._2 -> r._3).toMap
    val a0 = graft.ext.Sampling.apportion(start, 1000L).toMap
    val a3 = graft.ext.Sampling.apportion(end, 1000L).toMap
    assert(s0.filter(_._2 > 0) == a0.filter(_._2 > 0), s"$s0 vs $a0")
    assert(s3.filter(_._2 > 0) == a3.filter(_._2 > 0), s"$s3 vs $a3")
    // fades are monotone: news only shrinks, code only grows
    def series(d: String) = plan.filter(_._2 == d).sortBy(_._1).map(_._3)
    val news = series("news"); val code = series("code")
    assert(news.zip(news.tail).forall { case (a, b) => a >= b }, news.toSeq)
    assert(code.zip(code.tail).forall { case (a, b) => a <= b }, code.toSeq)
    assert(news.last == 0L && code.head == 0L)
    // steps = 1 degenerates to the end mixture
    val one = graft.ext.Sampling.mixSchedule(spark, start, end, 1, 1000L)
      .as[(Long, String, Long)].collect()
    assert(one.map(r => r._2 -> r._3).toMap.filter(_._2 > 0) ==
      a3.filter(_._2 > 0))
  }

  test("keepTopShare: k-th-largest threshold, tie survival disclosed, null scores never kept") {
    import spark.implicits._
    val rows =
      (1 to 10).map(i => (i.toLong, "a", Some(i.toLong))) ++ // distinct 1..10
      Seq((21L, "b", Some(5L)), (22L, "b", Some(5L)),        // tie mass at 5
          (23L, "b", Some(5L)), (24L, "b", Some(1L)),
          (25L, "b", None: Option[Long]),                    // null: never kept
          (31L, "c", Some(7L)), (32L, "c", Some(2L)))        // tiny group
    val df = rows.toDF("doc_id", "source", "score")
    // a: n=10, k=3 -> threshold 8, keep {8,9,10}
    val out30 = graft.ext.Curation.keepTopShare(df, "source", "score", 30)
    val a = out30.filter(col("source") === "a")
      .select("doc_id", "threshold").as[(Long, Long)].collect()
    assert(a.map(_._1).toSet == Set(8L, 9L, 10L) &&
      a.forall(_._2 == 8L), a.toSeq)
    // b: n=4 non-null, k=2 -> threshold 5; ALL three 5s survive (tie
    // overshoot disclosed by the threshold column), null doc 25 never
    val b = out30.filter(col("source") === "b")
      .select("doc_id").as[Long].collect().toSet
    assert(b == Set(21L, 22L, 23L), b)
    // c: n=2, 90% -> k=2 -> threshold 2, keep both
    val c = graft.ext.Curation.keepTopShare(df, "source", "score", 90)
      .filter(col("source") === "c").select("doc_id").as[Long].collect().toSet
    assert(c == Set(31L, 32L), c)
    // keepPct=100 keeps every non-null row
    assert(graft.ext.Curation.keepTopShare(df, "source", "score", 100)
      .count() == 16)
    intercept[IllegalArgumentException] {
      graft.ext.Curation.keepTopShare(df, "source", "score", 0)
    }
  }

  test("upsampleByFactor: rational repeats, fractional copies = sampleByRate population, pass-through at 1x") {
    import spark.implicits._
    val df = (1 to 200).map(i =>
      (i.toLong, if (i <= 100) "a" else "b")).toDF("doc_id", "source")
    val out = graft.ext.Sampling.upsampleByFactor(df, "source",
      col("doc_id"), Seq("a" -> (5L, 2L)))
    // every 'a' doc appears 2 or 3 times with dense copy indices
    val aCounts = out.filter(col("source") === "a")
      .groupBy("doc_id").agg(count(lit(1)).as("n"), max("copy").as("mx"))
      .as[(Long, Long, Long)].collect()
    assert(aCounts.forall(r => r._2 == 2L || r._2 == 3L), aCounts.toSeq)
    assert(aCounts.forall(r => r._3 == r._2 - 1), "copy indices not dense")
    // the third-copy population is EXACTLY the sampleByRate(1/2) subset
    val third = out.filter(col("source") === "a" && col("copy") === 2L)
      .select("doc_id").as[Long].collect().toSet
    val expect = graft.ext.Sampling.sampleByRate(
      df.filter(col("source") === "a"), col("doc_id"), lit(1L), 2L)
      .select("doc_id").as[Long].collect().toSet
    assert(third == expect)
    // unlisted domain passes through exactly once, copy 0
    val b = out.filter(col("source") === "b")
      .groupBy("doc_id").agg(count(lit(1)).as("n"), max("copy").as("mx"))
      .as[(Long, Long, Long)].collect()
    assert(b.length == 100 && b.forall(r => r._2 == 1L && r._3 == 0L))
    // zero factor removes the domain entirely
    val z = graft.ext.Sampling.upsampleByFactor(df, "source", col("doc_id"),
      Seq("a" -> (0L, 1L)))
    assert(z.filter(col("source") === "a").count() == 0)
    assert(z.filter(col("source") === "b").count() == 100)
    // deterministic under repartitioning
    val out2 = graft.ext.Sampling.upsampleByFactor(df.repartition(7),
      "source", col("doc_id"), Seq("a" -> (5L, 2L)))
    assert(out.select("doc_id", "copy").as[(Long, Long)].collect().toSet ==
      out2.select("doc_id", "copy").as[(Long, Long)].collect().toSet)
  }

  test("planShards: token-balanced contiguous cuts, null cost 0, repartition-stable") {
    import spark.implicits._
    // 100 docs x 10 tokens, 4 shards -> width 250, doc boundaries at
    // multiples of 10: every shard gets EXACTLY 25 docs / 250 tokens
    val df = (1 to 100).map(i => (i.toLong, 10L)).toDF("doc_id", "toks")
    val out = graft.ext.Sampling.planShards(df, col("doc_id"), col("toks"),
      numShards = 4)
    val perShard = out.groupBy("shard").agg(count(lit(1)).as("n"),
      sum("toks").as("t")).as[(Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(perShard.keySet == Set(0L, 1L, 2L, 3L), perShard)
    assert(perShard.values.forall(_ == (25L, 250L)), perShard)
    // contiguity: shard is monotone in the (bucket, key) layout order
    val laid = out.withColumn("b", graft.ext.Sampling.bucket(col("doc_id")))
      .orderBy("b", "doc_id").select("shard").as[Long].collect()
    assert(laid.zip(laid.tail).forall { case (a, b) => a <= b }, laid.toSeq)
    // uneven sizes: each shard overshoots width by at most one doc
    val jag = (1 to 50).map(i => (i.toLong, (i % 13 + 1).toLong))
      .toDF("doc_id", "toks")
    val total = jag.agg(sum("toks")).as[Long].head()
    val width = (total + 2) / 3
    val jperf = graft.ext.Sampling.planShards(jag, col("doc_id"),
      col("toks"), numShards = 3)
      .groupBy("shard").agg(sum("toks").as("t")).as[(Long, Long)].collect()
    jperf.foreach { case (sh, t) =>
      assert(t <= width + 13, s"shard $sh overshoots: $t vs width $width")
    }
    // null token cost rides along at 0 and keeps its deterministic slot
    val withNull = Seq((1L, Some(10L)), (2L, None), (3L, Some(10L)))
      .toDF("doc_id", "toks")
    val n = graft.ext.Sampling.planShards(withNull, col("doc_id"),
      col("toks"), numShards = 2)
    assert(n.count() == 3)
    // all-zero corpus: everything lands in shard 0, no divide-by-zero
    val zeros = Seq((1L, 0L), (2L, 0L)).toDF("doc_id", "toks")
    val z = graft.ext.Sampling.planShards(zeros, col("doc_id"), col("toks"),
      numShards = 5).select("shard").as[Long].collect().toSet
    assert(z == Set(0L), z)
    // deterministic under repartitioning
    val out2 = graft.ext.Sampling.planShards(df.repartition(7), col("doc_id"),
      col("toks"), numShards = 4)
    assert(out.select("doc_id", "shard").as[(Long, Long)].collect().toSet ==
      out2.select("doc_id", "shard").as[(Long, Long)].collect().toSet)
  }

  test("corpusReport: hand-computed golden on a tiny corpus") {
    import spark.implicits._
    val docs = Seq(
      (1L, "aa", "the quick brown fox jumps over the lazy dog today ok"),
      (2L, "aa", "the quick brown fox jumps over the lazy dog today ok"),
      (3L, "bb", "tiny"),
      (4L, null.asInstanceOf[String], null.asInstanceOf[String]))
      .toDF("doc_id", "lang", "text")
    val r = graft.ext.Curation.corpusReport(docs).collect().head
    assert(r.getAs[Long]("n_docs") == 4L)
    assert(r.getAs[Long]("n_null_text") == 1L)
    assert(r.getAs[Long]("n_tokens") == 11L + 11L + 1L)
    assert(r.getAs[Long]("n_dup_docs") == 1L)     // docs 1 and 2 share text
    assert(r.getAs[Long]("n_langs") == 2L)
    assert(r.getAs[String]("dom_lang") == "aa")   // 2 of 3 labeled
    assert(r.getAs[Long]("dom_lang_share_x100") == 66L)
  }

  test("normalizeText: case/punct/whitespace variants collapse; null and empty behave") {
    import spark.implicits._
    val df = Seq(
      (1L, "Hello,  World!"), (2L, "hello world"), (3L, "HELLO--WORLD"),
      (4L, "!!!"), (5L, null.asInstanceOf[String]), (6L, ""))
      .toDF("doc_id", "text")
    val out = df.select(col("doc_id"),
        graft.ext.TextAnalysis.normalizeText(col("text")).as("n"))
      .as[(Long, String)].collect().toMap
    assert(out(1L) == "hello world" && out(2L) == "hello world" &&
      out(3L) == "hello world")
    assert(out(4L) == "" && out(6L) == "")
    assert(out(5L) == null)
    // the dup grouping collapses all three variants to one group
    val groups = graft.ext.Dedup.normalizedDupGroups(df)
      .as[(Long, Long, Long)].collect()
    assert(groups.map(g => (g._2, g._3)).toSet == Set((1L, 3L), (4L, 2L)),
      s"got ${groups.toSeq}")
  }

  test("contrastive triplets: valid members, deterministic under repartition") {
    import spark.implicits._
    val base = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text").limit(60)
    // plant two near-dup pairs
    val dup1 = base.filter(col("doc_id") === 0)
      .select(lit(90001L).as("doc_id"),
        concat(col("text"), lit(" tail")).as("text"))
    val dup2 = base.filter(col("doc_id") === 1)
      .select(lit(90002L).as("doc_id"), col("text"))
    val corpus = base.union(dup1).union(dup2)
    val t1 = graft.ext.Dedup.contrastiveTriplets(corpus)
      .as[(Long, Long, Long)].collect().toSet
    assert(t1.nonEmpty, "planted near-dups must yield triplets")
    t1.foreach { case (a, p, n) =>
      assert(n != a && n != p, s"negative collides: ($a, $p, $n)")
      assert(a < p)
    }
    assert(t1.exists { case (a, p, _) => a == 0L && p == 90001L })
    val t2 = graft.ext.Dedup.contrastiveTriplets(corpus.repartition(13))
      .as[(Long, Long, Long)].collect().toSet
    assert(t1 == t2, "triplets must be partitioning-independent")
  }

  test("funnel: ordered first-touch semantics, one exchange for the whole chain") {
    import spark.implicits._
    def T(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      // A completes all four in order
      (1L, "signup", T("2024-01-01 10:00:00")),
      (1L, "view", T("2024-01-01 10:01:00")),
      (1L, "click", T("2024-01-01 10:02:00")),
      (1L, "purchase", T("2024-01-01 10:03:00")),
      // B viewed BEFORE signing up — the view must not count
      (2L, "view", T("2024-01-01 09:00:00")),
      (2L, "signup", T("2024-01-01 10:00:00")),
      // C skips click; purchase without click still stops at 2
      (3L, "signup", T("2024-01-01 10:00:00")),
      (3L, "view", T("2024-01-01 10:01:00")),
      (3L, "purchase", T("2024-01-01 10:02:00")),
      // D never enters the funnel
      (4L, "error", T("2024-01-01 10:00:00")))
      .toDF("user_id", "event_type", "ts")
    val steps = Seq("signup", "view", "click", "purchase")
    val out = graft.ops.EventAnalytics.funnelDepth(ev, steps)
    val got = out.as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 4L, 2L -> 1L, 3L -> 2L, 4L -> 0L), s"got $got")
    val plan = out.queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges <= 1, s"funnel chain must share one exchange:\n$plan")
  }

  test("stickiness and funnel latency: hand-computed goldens") {
    import spark.implicits._
    def T(s: String) = java.sql.Timestamp.valueOf(s)
    // stickiness over a 2-day window: day d has users {1,2}, day d+1 has
    // {1}; 2-day actives at d+1 = {1,2} → 1*100 div 2 = 50
    val ev = Seq(
      (1L, "view", T("2024-01-01 10:00:00")),
      (2L, "view", T("2024-01-01 11:00:00")),
      (1L, "view", T("2024-01-02 10:00:00")))
      .toDF("user_id", "event_type", "ts")
    val st = graft.ops.EventAnalytics.stickiness(ev, windowDays = 2)
      .select("day", "n_active_1d", "n_active_2d", "stickiness_x100")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val d0 = st.keys.min
    assert(st(d0) == (2L, 2L, 100L), st.toString)
    assert(st(d0 + 1) == (1L, 2L, 50L), st.toString)
    intercept[IllegalArgumentException](
      graft.ops.EventAnalytics.stickiness(ev, windowDays = 1))

    // funnel latency signup→view: user 1 converts in 60s, user 2 in
    // 180s, user 3 never → n=2, p50=60s, p90=180s (micros)
    val fe = Seq(
      (1L, "signup", T("2024-01-01 10:00:00")),
      (1L, "view", T("2024-01-01 10:01:00")),
      (2L, "signup", T("2024-01-01 10:00:00")),
      (2L, "view", T("2024-01-01 10:03:00")),
      (3L, "signup", T("2024-01-01 10:00:00")))
      .toDF("user_id", "event_type", "ts")
    val lat = graft.ops.EventAnalytics.funnelLatency(fe,
        Seq("signup", "view"))
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(lat == Seq((1L, 2L, 60000000L, 180000000L)), lat.toString)
  }

  test("cohort/rolling day bucketing FLOORS pre-1970 timestamps") {
    import spark.implicits._
    // 1969-12-31 18:00 UTC is epoch-micros < 0: truncating `div` would
    // bucket it into day 0 (same as 1970-01-01), floor puts it in -1
    val ev = Seq(
      (1L, java.sql.Timestamp.from(java.time.Instant.parse("1969-12-31T18:00:00Z"))),
      (1L, java.sql.Timestamp.from(java.time.Instant.parse("1970-01-01T06:00:00Z"))))
      .toDF("user_id", "ts")
    val ret = graft.ops.EventAnalytics.cohortRetention(ev)
      .as[(Long, Long, Long)].collect().toSet
    assert(ret == Set((-1L, 0L, 1L), (-1L, 1L, 1L)),
      s"pre-1970 cohort must floor to day -1: $ret")
    val days = graft.ops.EventAnalytics.rollingActive(ev, windowDays = 1)
      .as[(Long, Long)].collect().toMap
    assert(days == Map(-1L -> 1L, 0L -> 1L), s"got $days")
  }

  test("keepBest compares fractional scores without truncation") {
    import spark.implicits._
    val clusters = Seq((10L, 1L), (11L, 1L), (12L, 1L), (20L, 2L), (21L, 2L))
      .toDF("doc_id", "cluster_id")
    // fractional 0..1 qualities: a long cast would zero them all and
    // degrade the argmax to lowest-id; doc 12 / doc 21 must win. Null
    // score loses to any scored member.
    val scored = Seq((10L, Some(0.2)), (11L, Some(0.5)), (12L, Some(0.9)),
      (20L, None), (21L, Some(0.1))).toDF("doc_id", "quality")
    val got = graft.ext.Dedup.keepBest(clusters, scored)
      .select("cluster_id", "keep_id", "n_members")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 12L, 3L), (2L, 21L, 2L)), s"got $got")
  }

  test("apportion: exact sum, floor+largest-remainder, deterministic ties") {
    import graft.ext.Sampling.apportion
    assert(apportion(Seq("src0" -> 5L, "src1" -> 3L, "src2" -> 2L), 37L) ==
      Seq("src0" -> 19L, "src1" -> 11L, "src2" -> 7L))
    // property: Σ quotas == budget for arbitrary weights/budgets
    val rnd = new Random(7L)
    (1 to 50).foreach { _ =>
      val ws = (0 until rnd.nextInt(8) + 1)
        .map(i => s"d$i" -> (rnd.nextInt(100) + 1).toLong)
      val b = rnd.nextInt(100000).toLong
      val qs = apportion(ws, b)
      assert(qs.map(_._2).sum == b, s"ws=$ws b=$b -> $qs")
      assert(qs.forall(_._2 >= 0))
    }
    // equal-weight tie at one leftover unit: lowest name wins
    assert(apportion(Seq("b" -> 1L, "a" -> 1L), 3L) ==
      Seq("a" -> 2L, "b" -> 1L))
  }

  test("code-switch: a planted bilingual doc flags, monolingual docs don't") {
    import spark.implicits._
    val aTok = Seq.fill(30)("aaa").mkString(" ")
    val bTok = Seq.fill(30)("bbb").mkString(" ")
    val labeled = Seq(
      (1L, "aa", aTok), (2L, "aa", aTok),
      (3L, "bb", bTok), (4L, "bb", bTok))
      .toDF("doc_id", "lang", "text")
    val docs = Seq(
      (10L, null, s"$aTok $bTok"), // 2 chunks, one per language
      (11L, null, aTok),           // monolingual
      (12L, null, null))           // null text: zero chunks
      .toDF("doc_id", "lang", "text")
    val out = graft.ext.TextAnalysis.codeSwitch(docs, labeled)
      .orderBy("doc_id")
      .select("doc_id", "n_chunks", "n_langs", "dom_lang",
        "dom_share_x100", "switched")
      .as[(Long, Long, Long, String, Long, Long)].collect().toSeq
    assert(out == Seq(
      (10L, 2L, 2L, "aa", 50L, 1L),
      (11L, 1L, 1L, "aa", 100L, 0L),
      (12L, 0L, 0L, null, 0L, 0L)), s"got $out")
  }

  test("curriculum pack: later stages never pack before earlier ones") {
    import spark.implicits._
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"),
        (lit(4) - graft.ext.TextAnalysis.qualityScore(col("text")))
          .cast("long").as("stage"),
        when(col("text").isNull, 0)
          .otherwise(size(split(col("text"), " "))).as("toks"))
    val packed = graft.ext.Packing.curriculumPack(docs, col("doc_id"),
      col("toks"), col("stage"), 512L)
    val ranges = packed.groupBy("stage")
      .agg(min("pack").as("lo"), max("pack").as("hi"))
      .orderBy("stage")
      .as[(Long, Long, Long)].collect()
    assert(ranges.length > 1, "expected multiple curriculum stages")
    ranges.sliding(2).foreach { case Array((s1, _, hi1), (s2, lo2, _)) =>
      // a boundary pack may straddle two stages; interleaving may not
      assert(lo2 >= hi1, s"stage $s2 packs before stage $s1: $lo2 < $hi1")
    }
  }

  test("span corruption round-trips: splicing targets into inputs restores the text") {
    import spark.implicits._
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
    val out = graft.ext.Packing.spanCorruption(docs)
      .join(docs, "doc_id")
      .select("doc_id", "inputs", "targets", "text", "n_tokens", "n_masked",
        "n_spans")
      .collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (inputs, targets, text) =
        (r.getString(1), r.getString(2), r.getString(3))
      if (text == null) {
        assert(inputs == null && targets == null && r.getLong(5) == 0L)
      } else {
        // parse targets into sentinel -> hidden tokens
        val spans = scala.collection.mutable.LinkedHashMap[String,
          scala.collection.mutable.ArrayBuffer[String]]()
        var cur: scala.collection.mutable.ArrayBuffer[String] = null
        if (targets.nonEmpty) targets.split(" ", -1).foreach { t =>
          if (t.startsWith("<extra_id_")) {
            cur = scala.collection.mutable.ArrayBuffer[String]()
            spans(t) = cur
          } else cur += t
        }
        val restored = inputs.split(" ", -1).flatMap { t =>
          if (t.startsWith("<extra_id_")) spans(t).toSeq else Seq(t)
        }.mkString(" ")
        assert(restored == text,
          s"doc ${r.getLong(0)}: round-trip mismatch\n$inputs\n$targets")
        // masking bookkeeping: n_masked <= n_tokens; n_spans matches the
        // distinct sentinels that actually appear in targets
        assert(r.getLong(5) <= r.getLong(4))
        assert(r.getLong(6) == spans.size.toLong)
      }
    }
  }

  test("dataSheet: one row per domain, component laws agree, domain joins never cartesian") {
    import spark.implicits._
    val df = Seq(
      (1L, "a", "en", "good solid text with words and more words here now"),
      (2L, "a", "en", "good solid text with words and more words here now"),
      (3L, "a", "de", "tiny"),
      (4L, "b", "en", null.asInstanceOf[String])).toDF(
      "doc_id", "source", "lang", "text")
    val ds = graft.ext.Curation.dataSheet(df)
    val got = ds.collect().map(r => r.getString(0) -> r).toMap
    assert(got.size == 2)
    val a = got("a")
    assert(a.getLong(1) == 3L) // n_docs
    assert(a.getLong(3) == 2L) // n_langs
    assert(a.getLong(4) == 1L) // n_dups: the verbatim pair collapses
    val b = got("b")
    assert(b.getLong(1) == 1L && b.getLong(2) == 0L, b) // null text = 0 toks
    assert(b.getLong(4) == 0L && b.getLong(6) == 0L, b) // no dups, no pass
    assert(!ds.queryExecution.executedPlan.toString
      .contains("CartesianProduct"))
  }

  test("fixMojibake: artifacts repair longest-first, ambiguous tails stay untouched, null passes") {
    import spark.implicits._
    val got = Seq(
        "cafÃ© â€œquotedâ€™ â€” dash",
        "ambiguous tail â€ stays", // bare 2-char prefix: NOT repaired
        null.asInstanceOf[String])
      .toDF("text")
      .select(graft.ext.TextAnalysis.fixMojibake(col("text")))
      .as[String].collect()
    assert(got(0) == "café \"quoted' — dash", got(0))
    assert(got(1) == "ambiguous tail â€ stays", got(1))
    assert(got(2) == null)
  }

  test("tokenizerCoverage: planted OOV chars count exactly; vocab join broadcasts") {
    import spark.implicits._
    val train = Seq((1L, "s", "aa bb aa bb cc"), (2L, "s", "aa cc"))
      .toDF("doc_id", "source", "text")
    val inv = graft.ext.TextAnalysis.learnUnigramLm(train, vocabSize = 16,
      seedSize = 32)
    val measured = Seq(("s1", "aa bb"), ("s2", "aa ~~~"))
      .toDF("source", "text")
    val cov = graft.ext.TextAnalysis.tokenizerCoverage(measured, inv)
    val got = cov.as[(String, Long, Long, Long)].collect()
      .map(t => t._1 -> t).toMap
    // '~' is not in the training alphabet: each '~' is one OOV piece
    assert(got("s1")._3 == 0L, got("s1"))
    assert(got("s2")._3 == 3L, got("s2"))
    assert(got("s2")._4 == 3000000L / got("s2")._2, got("s2"))
    val plan = cov.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") &&
      !plan.contains("SortMergeJoin"), plan)
  }

  test("piiReport: chain-order counts — IP octets never counted as digit runs") {
    import spark.implicits._
    val df = Seq(
      (1L, "a", "mail x@y.com or 10.1.2.3 acct 123456789"),
      (2L, "a", "clean text with 1234 small numbers"),
      (3L, "b", "192.168.101.107 then 987654321012"),
      (4L, null.asInstanceOf[String], "x@y.com")).toDF("doc_id", "source", "text")
    val got = graft.ext.TextAnalysis.piiReport(df)
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(t => t._1 -> t).toMap
    assert(got("a") == (("a", 2L, 1L, 1L, 1L, 1L)), got("a"))
    assert(got("b") == (("b", 1L, 0L, 1L, 1L, 1L)), got("b"))
    assert(!got.contains(null), got) // null domain excluded
  }

  test("FIM transform: PSM reassembles the original text, AR rows pass through, rate law holds") {
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
    val out = graft.ext.Packing.fimTransform(docs).join(docs, "doc_id")
      .select("doc_id", "fim", "text_out", "n_tokens", "n_middle", "text")
      .collect()
    assert(out.nonEmpty)
    var nText = 0; var nFim = 0
    out.foreach { r =>
      val fim = r.getBoolean(1)
      val to = r.getString(2); val text = r.getString(5)
      if (text == null) {
        assert(!fim && to == null && r.getLong(3) == 0L && r.getLong(4) == 0L)
      } else {
        nText += 1
        if (!fim) { assert(to == text && r.getLong(4) == 0L) }
        else {
          nFim += 1
          val ts = to.split(" ", -1)
          assert(ts.head == "<fim_prefix>", to)
          val iSuf = ts.indexOf("<fim_suffix>")
          val iMid = ts.indexOf("<fim_middle>")
          assert(iSuf > 0 && iMid > iSuf, to)
          val p = ts.slice(1, iSuf)
          val s2 = ts.slice(iSuf + 1, iMid)
          val m = ts.drop(iMid + 1)
          // PSM carries every original token exactly once: P + M + S
          // in document order restores the text
          assert((p ++ m ++ s2).mkString(" ") == text,
            s"doc ${r.getLong(0)}: FIM round-trip mismatch")
          assert(m.length.toLong == r.getLong(4))
        }
      }
    }
    // selection is polyhash mod 100 < 50 — a fair-coin band, not exact
    assert(nFim > nText * 3 / 10 && nFim < nText * 7 / 10,
      s"$nFim of $nText FIM-selected")
  }

  test("sftPack: tape tiles exactly, loss spans sit after the prompt, boundary crossing disclosed") {
    import spark.implicits._
    val pairs = (1 to 300).map(i =>
      (i.toLong, (i % 7).toLong, (i % 13).toLong)).toDF("id", "p", "r")
    val out = graft.ext.Packing.sftPack(pairs, col("id"), col("p"),
        col("r"), 64L)
      .select("id", "p", "r", "pack", "seq_off", "loss_start", "loss_end",
        "spans_packs")
      .as[(Long, Long, Long, Long, Long, Long, Long, Boolean)].collect()
    assert(out.length == 300)
    // tape law: positions pack*64+seq_off tile the tape — each
    // example's span abuts the next (zero-token examples share a slot)
    val sorted = out.map(t => (t._4 * 64 + t._5, t._2 + t._3))
      .sortBy(t => (t._1, t._2))
    assert(sorted.head._1 == 0L)
    sorted.sliding(2).foreach {
      case Array((pos1, tok1), (pos2, _)) => assert(pos2 == pos1 + tok1)
      case _ =>
    }
    out.foreach { t =>
      assert(t._6 == t._5 + t._2 && t._7 == t._6 + t._3)
      val pos = t._4 * 64 + t._5; val tok = t._2 + t._3
      val crosses = tok > 0 && pos / 64 != (pos + tok - 1) / 64
      assert(t._8 == crosses, t)
    }
    // a NULL token count costs 0 but the row still packs
    val nulls = graft.ext.Packing.sftPack(
        Seq((1L, Option(3L), Option.empty[Long])).toDF("id", "p", "r"),
        col("id"), col("p"), col("r"), 64L)
      .select("seq_off", "loss_start", "loss_end")
      .as[(Long, Long, Long)].head()
    assert(nulls == ((0L, 3L, 3L)))
  }

  test("dpoPairs laws on random pools: margin floor honored, chosen beats rejected, ids distinct, one pair per prompt") {
    import spark.implicits._
    Seq(5L, 23L, 91L).foreach { seed =>
      val rnd = new Random(seed)
      val resp = (1 to 40).flatMap { p =>
        (1 to rnd.nextInt(6) + 1).map(r =>
          (s"p$p", p * 100L + r, rnd.nextInt(10).toLong))
      }.toDF("prompt_id", "response_id", "score")
      val perPrompt = resp.collect()
        .groupBy(_.getString(0))
        .view.mapValues(_.map(r => (r.getLong(1), r.getLong(2)))).toMap
      Seq(1L, 3L).foreach { mm =>
        val got = graft.ext.Preference
          .dpoPairs(resp, "response_id",
            minMargin = mm)
          .collect()
        // at most one pair per prompt
        assert(got.map(_.getString(0)).distinct.length == got.length)
        got.foreach { r =>
          val (c, cs) = (r.getLong(r.fieldIndex("chosen_id")),
            r.getLong(r.fieldIndex("chosen_score")))
          val (j, js) = (r.getLong(r.fieldIndex("rejected_id")),
            r.getLong(r.fieldIndex("rejected_score")))
          val margin = r.getLong(r.fieldIndex("margin"))
          assert(c != j && margin == cs - js && margin >= mm, r)
          val pool = perPrompt(r.getString(0))
          // chosen is a true max, rejected a true min, ties to the
          // smallest id
          val maxS = pool.map(_._2).max; val minS = pool.map(_._2).min
          assert(cs == maxS && js == minS, r)
          assert(c == pool.filter(_._2 == maxS).map(_._1).min, r)
          assert(j == pool.filter(_._2 == minS).map(_._1).min, r)
          assert(r.getLong(r.fieldIndex("n_responses")) == pool.length, r)
        }
        // every emitted prompt truly clears the floor; every prompt
        // with spread >= mm is emitted
        val emitted = got.map(_.getString(0)).toSet
        perPrompt.foreach { case (p, pool) =>
          val spread = pool.map(_._2).max - pool.map(_._2).min
          assert(emitted.contains(p) == (spread >= mm), s"$p $spread $mm")
        }
      }
    }
  }

  test("chat render/span laws on random conversations: span arithmetic consistent, loss spans cover exactly the assistant contents") {
    import spark.implicits._
    Seq(7L, 41L).foreach { seed =>
      val rnd = new Random(seed)
      val words = Seq("alpha", "beta", "gamma", "δέλτα", "emoji😀x", "ok")
      val turns = (1 to 25).flatMap { c =>
        (0 until rnd.nextInt(5) + 1).map { t =>
          val role = if (t % 2 == 0) "user" else "assistant"
          val content = (0 to rnd.nextInt(4))
            .map(_ => words(rnd.nextInt(words.size))).mkString(" ")
          (c.toLong, t.toLong, role, content)
        }
      }.toDF("conv_id", "turn_idx", "role", "content")
      val rendered = graft.ext.Packing.renderChat(turns).collect()
        .map(r => r.getLong(0) ->
          (r.getString(1), r.getLong(2), r.getLong(3))).toMap
      val spans = graft.ext.Packing.chatSpans(turns).collect()
      def cpSlice(s: String, a: Long, b: Long): String =
        s.substring(s.offsetByCodePoints(0, a.toInt),
          s.offsetByCodePoints(0, b.toInt))
      val turnRows = turns.collect().map(r =>
        (r.getLong(0), r.getLong(1)) -> (r.getString(2), r.getString(3)))
        .toMap
      spans.foreach { r =>
        val key = (r.getLong(0), r.getLong(1))
        val (role, content) = turnRows(key)
        val (text, _, nChars) = rendered(r.getLong(0))
        val (a, b) = (r.getLong(r.fieldIndex("content_start")),
          r.getLong(r.fieldIndex("content_end")))
        // the span slices the exact content back out of the render
        assert(cpSlice(text, a, b) == content, s"$key")
        assert(r.getBoolean(r.fieldIndex("is_loss")) ==
          (role == "assistant"), key)
        assert(b <= nChars, key)
      }
      // n_chars is the code-point length of the rendered text
      rendered.values.foreach { case (text, _, nChars) =>
        assert(text.codePointCount(0, text.length).toLong == nChars, text)
      }
    }
  }
}
