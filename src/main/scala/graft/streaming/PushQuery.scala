package graft.streaming

import java.util.UUID
import org.apache.spark.sql.{DataFrame, Row}

/** Transient push queries (SURVEY §2.6 L1/L2): ksqlDB's
  * `SELECT ... EMIT CHANGES LIMIT n` (/root/reference/README.md:128–129)
  * streams results to the caller and terminates after n rows. Spark
  * analog: run the continuous query into an in-memory sink, hand back
  * the first n rows, stop the query.
  */
object PushQuery {

  /** Run `df` (a streaming DataFrame) until `n` rows have been emitted
    * or `timeoutMs` elapses; returns the first n rows (append order).
    * The query is always stopped before returning — a LIMIT push query
    * is transient by definition.
    */
  def emitChangesLimit(df: DataFrame, n: Int): Seq[Row] = {
    val name = s"push_${UUID.randomUUID().toString.replace("-", "")}"
    val spark = df.sparkSession
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      val deadline = System.currentTimeMillis() + 30000L
      var have = 0L
      while (have < n && System.currentTimeMillis() < deadline && q.isActive) {
        have = spark.table(name).count()
        if (have < n) Thread.sleep(50L)
      }
      spark.table(name).limit(n).collect().toSeq
    } finally {
      q.stop()
      spark.catalog.dropTempView(name)
    }
  }
}
