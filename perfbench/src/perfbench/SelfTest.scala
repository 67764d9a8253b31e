package perfbench

import org.apache.spark.sql.functions._

/** The harness's own tests: the statistics its verdicts rest on, and job
  * attribution by job group on a toy query whose broadcast is planned by
  * AQE at run time. Prints one line per check; exits 1 if any fails.
  */
object SelfTest {
  private var failures = 0

  private def check(name: String)(ok: => Boolean): Unit = {
    val pass = try ok catch { case e: Exception => println(s"  $e"); false }
    if (!pass) failures += 1
    println(s"${if (pass) "PASS" else "FAIL"} $name")
  }

  private def near(a: Double, b: Double) = math.abs(a - b) < 1e-9

  def main(args: Array[String]): Unit = {
    val one2ten = (1 to 10).map(_.toDouble)
    check("median odd and even") {
      near(Stats.median(Seq(3.0, 1.0, 2.0)), 2.0) && near(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)), 2.5)
    }
    // statistics.quantiles(range(1, 11), n=4) == [2.75, 5.5, 8.25]
    check("quartiles match Python's exclusive method") {
      val (q1, q3) = Stats.quartiles(one2ten)
      near(q1, 2.75) && near(q3, 8.25)
    }
    // statistics.quantiles([1, 2], n=4) == [0.75, 1.5, 2.25]
    check("quartiles of two samples") {
      val (q1, q3) = Stats.quartiles(Seq(2.0, 1.0))
      near(q1, 0.75) && near(q3, 2.25)
    }
    check("p99 of 1000 samples keeps 10 beyond it") {
      val t = Stats.tail((1 to 1000).map(_.toDouble).reverse)
      near(t.value, 990) && near(t.percentile, 99) && t.n == 1000
    }
    check("tail of 100 samples falls back to p90") {
      val t = Stats.tail((1 to 100).map(_.toDouble))
      near(t.value, 90) && near(t.percentile, 90)
    }
    check("tail of 11 samples is the lowest one with 10 beyond") {
      near(Stats.tail((1 to 11).map(_.toDouble)).value, 1)
    }
    check("tail refuses 10 samples") {
      try { Stats.tail(one2ten); false } catch { case _: IllegalArgumentException => true }
    }
    // troughs after each batch: level when sustained, climbing at
    // 2000 events/s when overloaded
    val level = (1 to 8).map(i => (i * 0.6, 1500.0 + (i % 2) * 200))
    val ramp = level.map { case (t, b) => (t, b + 2000 * t) }
    check("backlog detector: level troughs do not grow") {
      !Stats.backlogGrows(level, 5.0, ratePerSec = 10000)
    }
    check("backlog detector: troughs climbing above 10% of the rate grow") {
      Stats.backlogGrows(ramp, 5.0, ratePerSec = 10000)
    }
    check("backlog detector: troughs climbing below 10% of the rate do not") {
      !Stats.backlogGrows(ramp, 5.0, ratePerSec = 30000)
    }
    check("backlog detector: a step with one batch did not keep up") {
      Stats.backlogGrows(Seq((4.0, 100.0)), 5.0, ratePerSec = 10000)
    }
    check("self time subtracts the union of clipped children") {
      Stats.selfTime(0, 100, Seq((10L, 30L), (20L, 50L), (90L, 120L))) == 50 &&
        Stats.selfTime(0, 100, Nil) == 100 &&
        Stats.unionLength(Seq((5L, 5L), (1L, 3L), (2L, 4L))) == 3
    }
    check("JSON rendering") {
      Json.obj("a" -> 1.5, "b" -> Seq(1, 2), "c" -> "x\"y", "d" -> Json.Raw("{}")) ==
        """{"a":1.5,"b":[1,2],"c":"x\"y","d":{}}"""
    }

    val spark = graft.core.Sessions.build("perfbench-selftest", "2")
    val sc = spark.sparkContext
    val trace = new Trace(true)
    trace.attach(sc)
    val t0 = System.currentTimeMillis()
    // the dimension side is small only after its aggregation runs, so the
    // broadcast is chosen by AQE and built on a broadcast-exchange thread
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10MB")
    val dim = spark.range(0, 200000, 1, 4).groupBy((col("id") % 50).as("k")).count()
    val fact = spark.range(0, 400000, 1, 4).withColumn("k", col("id") % 50)
    val joined = trace.span(sc, "toy.query")(_ => fact.join(dim, "k").groupBy("k").agg(sum("count")).collect())
    val t1 = System.currentTimeMillis() + 1
    spark.range(10).count()
    trace.settle(sc)
    val inSpan = trace.jobsIn(t0, t1)
    check("toy query ran several jobs") { joined.length == 50 && inSpan.length >= 3 }
    check("every job of the toy query carries its span's group") {
      inSpan.nonEmpty && inSpan.forall(_.group == "toy.query")
    }
    check("the plan used an AQE broadcast") {
      fact.join(dim, "k").queryExecution.executedPlan.toString.contains("AdaptiveSparkPlan") && {
        val df = fact.join(dim, "k"); df.collect()
        df.queryExecution.executedPlan.toString.contains("BroadcastHashJoin")
      }
    }
    check("the group is restored after the span") {
      trace.jobs.values.toArray.map(_.asInstanceOf[Trace.Job]).exists(j =>
        j.start >= t1 - 1 && (j.group == null || j.group.isEmpty))
    }
    check("blocking time is wall minus job time") {
      val js = Seq(Trace.Job(1, "g", -1, "", 10, 20), Trace.Job(2, "g", -1, "", 15, 40))
      trace.blocking(0, 100, js) == 70
    }
    trace.detach(sc)
    spark.stop()
    println(if (failures == 0) "ALL PASS" else s"$failures FAILED")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
