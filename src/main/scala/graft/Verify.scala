package graft
import graft.core.{Json, Overlap, Sessions}
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.graft.Bridge
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare;
  * disclosures.json: per query, the recall losses its operators
  * disclosed ([[Overlap.Disclosure]] records; queries with none are
  * left out); and jobs.json: per query, the Spark jobs, stages and
  * tasks that building and writing it started. Those counts repeat
  * exactly run to run, so two builds compare by them without timing
  * noise. */
object Verify {
  /** The local property naming the query a job belongs to. Spark copies
    * local properties to the threads a query spawns (AQE stages,
    * broadcasts, [[Overlap]] tasks), so every job carries it.
    */
  private val QueryKey = "graft.verify.query"

  /** Jobs, stages and tasks per query, from the listener bus. */
  private final class Counts extends SparkListener {
    val jobs, stages, tasks = new ConcurrentHashMap[String, Long]()
    private val stageQuery = new ConcurrentHashMap[Int, String]()
    private def query(p: java.util.Properties): String =
      Option(p).flatMap(x => Option(x.getProperty(QueryKey))).getOrElse("")
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.merge(query(e.properties), 1L, _ + _)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val q = query(e.properties)
      stageQuery.put(e.stageInfo.stageId, q)
      stages.merge(q, 1L, _ + _)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      tasks.merge(stageQuery.getOrDefault(e.stageId, ""), 1L, _ + _)
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.build("graft-verify", cpus)
    new java.io.File(outDir).mkdirs()
    // optional subset for local iteration (comma-separated names);
    // unset = all queries (the driver path)
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only.fold(SparkEntry.queries)(names =>
      SparkEntry.queries.filter { case (n, _) => names.contains(n) })
    val sc = spark.sparkContext
    val counts = new Counts
    sc.addSparkListener(counts)
    val disclosed = selected.flatMap { case (name, fn) =>
      sc.setLocalProperty(QueryKey, name)
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        // fail LOUD: leave a _FAILED sentinel (with the message) in the
        // query's output dir so the driver records an `err` row instead
        // of silently dropping the query from the correctness
        // denominator — in round 12 five crashed queries vanished from
        // CORRECTNESS entirely, making 105/111 look like 105/106.
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        try {
          val d = new java.io.File(s"$outDir/$name")
          d.mkdirs()
          Files.writeString(Paths.get(s"$outDir/$name/_FAILED"),
            s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}\n")
        } catch { case _: Throwable => () } // sentinel write is best-effort
      }
      finally sc.setLocalProperty(QueryKey, null)
      Some(Overlap.drain(spark)).filter(_.nonEmpty).map(name -> _)
    }
    Bridge.drainListenerBus(sc)
    sc.removeSparkListener(counts)
    def triple(qs: Seq[String]) = Seq(counts.jobs, counts.stages, counts.tasks)
      .map(m => qs.map(m.getOrDefault(_, 0L)).sum) match {
        case Seq(j, st, t) => s"""{"jobs": $j, "stages": $st, "tasks": $t}"""
      }
    val names = selected.keys.toSeq.sorted
    Files.writeString(Paths.get(s"$outDir/jobs.json"),
      s"""{"total": ${triple(names)},\n"queries": """ +
        names.map(q => s"  ${Json.str(q)}: ${triple(Seq(q))}")
          .mkString("{\n", ",\n", "\n}}\n"))
    Files.writeString(Paths.get(s"$outDir/disclosures.json"), disclosed
      .map { case (name, ds) => Json.str(name) + ": " + ds.map(_.json).mkString("[", ",", "]") }
      .mkString("{", ",\n", "}\n"))
    // Json.str escapes ALL control chars (<0x20): a tab or CR in
    // builder-authored SQL would otherwise make the driver's json.load
    // fail and silently zero the round's correctness.
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
