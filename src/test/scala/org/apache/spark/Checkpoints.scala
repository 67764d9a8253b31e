package org.apache.spark

/** Test access to the context's checkpoint state: set the checkpoint dir
  * for the duration of a body only, so one spec's reliable pins never
  * leak into the specs after it in the same JVM, and drop an RDD's
  * stored blocks as a lost executor would.
  */
object Checkpoints {

  /** `body` with the context's checkpoint dir set under `dir`; the
    * previous setting (usually none) is restored afterwards.
    */
  def withDir[T](sc: SparkContext, dir: String)(body: => T): T = {
    val previous = sc.checkpointDir
    sc.setCheckpointDir(dir)
    try body finally sc.checkpointDir = previous
  }

  /** Remove every stored block of RDD `rddId`. */
  def dropBlocks(sc: SparkContext, rddId: Int): Unit =
    sc.env.blockManager.master.removeRdd(rddId, blocking = true)
}
