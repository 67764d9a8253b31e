package graft.core

import org.apache.spark.SparkContext

/** Job descriptions: the Spark local property that names a job in the
  * UI and the event log. graft's eager work sets one that names the
  * graft operator and its caller (`TextAnalysis.trigramModel/pin`,
  * `Dedup.repLevelPairs/overlap`, `EsBulkNdjsonSink[0] epoch=3`), so an
  * event log reads without the source code. Jobs a described call
  * starts on other threads (AQE stages, broadcasts) inherit it, as they
  * inherit every local property.
  */
private[graft] object JobDescription {

  private val Key = "spark.job.description"

  /** `body`, with the jobs it starts described as `description`; the
    * caller's description is restored afterwards.
    */
  def around[T](sc: SparkContext, description: String)(body: => T): T = {
    val prev = sc.getLocalProperty(Key)
    sc.setJobDescription(description)
    try body finally sc.setJobDescription(prev)
  }

  /** Classes whose frames are the mechanism, not the caller. */
  private val Mechanism = Seq("graft.core.Pin", "graft.core.Overlap",
    "graft.core.JobDescription")

  /** `Object.method` of the nearest graft frame on this thread's stack
    * outside the pin and overlap mechanism, with Scala's lambda and
    * module decorations removed (`graft.ext.Dedup$.$anonfun$foo$2` reads
    * `Dedup.foo`); `"graft"` when there is none.
    */
  def caller(): String =
    Thread.currentThread.getStackTrace.iterator
      .find(f => f.getClassName.startsWith("graft.") &&
        !Mechanism.exists(f.getClassName.startsWith))
      .map { f =>
        val cls = f.getClassName.split('.').last.split('$').head
        val method = f.getMethodName.split('$')
          .find(p => p.nonEmpty && p != "anonfun" && p != "adapted" &&
            !p.forall(_.isDigit))
          .getOrElse(f.getMethodName)
        s"$cls.$method"
      }
      .getOrElse("graft")
}
