package graft
import graft.core.{Json, Overlap, Sessions}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare, and
  * disclosures.json: per query, the recall losses its operators
  * disclosed ([[Overlap.Disclosure]] records; queries with none are
  * left out). */
object Verify {
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
    val disclosed = selected.flatMap { case (name, fn) =>
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
      Some(Overlap.drain(spark)).filter(_.nonEmpty).map(name -> _)
    }
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
