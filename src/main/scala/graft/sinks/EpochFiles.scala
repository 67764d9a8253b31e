package graft.sinks

import java.io.{BufferedOutputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.{SparkEnv, TaskContext}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.graft.Bridge

/** The one per-epoch file mechanism of the file sinks: a (micro-)batch's
  * lines go to `<dir>/epoch=<N>/part-<partition>` files in one job.
  *
  *  - Replay overwrites: before the job the driver deletes and recreates
  *    each `epoch=<N>` directory, so a replayed epoch (Structured
  *    Streaming re-runs one that crashed before its commit) replaces its
  *    output, from however many partitions, instead of adding to it.
  *  - Each task writes its files under hidden per-attempt names
  *    (`.part-<partition>.<attempt>.tmp`) and renames them into place
  *    when its partition is done. Spark's file readers skip names that
  *    start with `.`, so a killed attempt's leftover is never read, and
  *    the next replay's delete removes it.
  *  - There is no Hadoop file-commit protocol (`_temporary` dirs, task
  *    and job commit renames, `_SUCCESS`) and no serialized Hadoop
  *    `Configuration` in the task: each executor JVM builds one from its
  *    SparkConf (so `spark.hadoop.*` settings apply) and reuses it.
  */
private[sinks] object EpochFiles {

  /** Writes `rows` in one job. Column 0 is the index into `dirs` of the
    * output a row's line goes to (int), column 1 the line (string, written
    * as UTF-8 plus `\n`). The job is described as `<sink> epoch=<N>`; the
    * caller's description is restored afterwards.
    */
  def write(sink: String, rows: DataFrame, dirs: Seq[String], epochId: Long): Unit = {
    val sc = rows.sparkSession.sparkContext
    val epochDirs = dirs.map(d => s"$d/epoch=$epochId")
    epochDirs.foreach { d =>
      val p = new Path(d)
      val fs = p.getFileSystem(sc.hadoopConfiguration)
      fs.delete(p, true)
      if (!fs.mkdirs(p)) throw new java.io.IOException(s"cannot create $p")
    }
    graft.core.JobDescription.around(sc, s"$sink epoch=$epochId") {
      rows.foreachPartition((it: Iterator[Row]) => writePartition(it, epochDirs))
    }
  }

  private def writePartition(rows: Iterator[Row], dirs: Seq[String]): Unit = {
    val task = TaskContext.get()
    val name = f"part-${task.partitionId()}%05d"
    val conf = executorConf()
    val finals = dirs.map(d => new Path(d, name))
    val temps = dirs.map(d => new Path(d, s".$name.${task.taskAttemptId()}.tmp"))
    val outs = new Array[OutputStream](dirs.length)
    try {
      rows.foreach { r =>
        val i = r.getInt(0)
        if (outs(i) == null)
          outs(i) = new BufferedOutputStream(
            temps(i).getFileSystem(conf).create(temps(i), true), 1 << 16)
        outs(i).write(r.getString(1).getBytes(UTF_8))
        outs(i).write('\n')
      }
      outs.indices.foreach { i =>
        if (outs(i) != null) {
          outs(i).close(); outs(i) = null
          val fs = finals(i).getFileSystem(conf)
          // a retried task's earlier attempt may have renamed its file already
          if (!fs.rename(temps(i), finals(i)) &&
              !(fs.delete(finals(i), false) && fs.rename(temps(i), finals(i))))
            throw new java.io.IOException(s"cannot rename ${temps(i)} to ${finals(i)}")
        }
      }
    } catch {
      case e: Throwable =>
        outs.indices.foreach { i =>
          if (outs(i) != null) scala.util.Try(outs(i).close())
          scala.util.Try(temps(i).getFileSystem(conf).delete(temps(i), false))
        }
        throw e
    }
  }

  /** This JVM's Hadoop configuration, built once per SparkEnv. */
  @volatile private var cached: (SparkEnv, Configuration) = (null, null)

  private def executorConf(): Configuration = {
    val env = SparkEnv.get
    val c = cached
    if (c._1 eq env) c._2
    else {
      val conf = Bridge.hadoopConf(env.conf)
      cached = (env, conf)
      conf
    }
  }
}
