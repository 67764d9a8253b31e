package graft.core

import org.apache.spark.sql.Dataset

/** graft's one pin policy. A pin materializes a frame and cuts its
  * lineage: later reads scan the pinned data instead of replaying the
  * plan. Callers say why they pin; this module alone says how, from what
  * the context shows (`sc.getCheckpointDir`):
  *
  *  - no checkpoint dir set: executor-local blocks (`localCheckpoint`).
  *    Cheap, but a lost block fails the next action that reads it;
  *  - a checkpoint dir set (`sc.setCheckpointDir`, reliable storage —
  *    HDFS/S3 in production): reliable checkpoints, which survive
  *    executor loss. Every pin is then eager: a lazy reliable checkpoint
  *    would compute the frame twice, once for its first action and once
  *    to write it.
  *
  * The dir is a deployment setting on the context; no engine code sets
  * it. Reliable files of frames nothing references any more are deleted
  * by the ContextCleaner (`Sessions.build` turns on
  * `spark.cleaner.referenceTracking.cleanCheckpoints`), so a stream's
  * per-batch pins do not pile up for the life of the stream. With no dir
  * set that setting does nothing.
  *
  * `import graft.core.Pin._` adds [[Pins.pin]] and [[Pins.pinLazily]] to
  * every Dataset.
  */
object Pin {

  implicit final class Pins[T](private val ds: Dataset[T]) extends AnyVal {

    /** Pin now: one job materializes the frame before this returns. Its
      * jobs are described as `<caller>/pin` ([[JobDescription]]).
      */
    def pin(): Dataset[T] =
      JobDescription.around(ds.sparkSession.sparkContext,
          s"${JobDescription.caller()}/pin") {
        if (reliable) ds.checkpoint() else ds.localCheckpoint()
      }

    /** Cut the lineage now and materialize on the frame's first action,
      * under the local policy. The pinned frame still plans as a flat
      * RDD scan, but materializing folds into that action's job instead
      * of a separate eager one, so a loop whose every round pins and
      * then runs one action costs one job per round, not two. Use it
      * where nothing downstream needs the row-count statistics an eager
      * pin gives the planner (an aggregation or a key-partitioned join
      * consumes the frame). Under the reliable policy this pins eagerly.
      */
    def pinLazily(): Dataset[T] =
      if (reliable) JobDescription.around(ds.sparkSession.sparkContext,
          s"${JobDescription.caller()}/pin")(ds.checkpoint())
      else ds.localCheckpoint(eager = false)

    private def reliable: Boolean =
      ds.sparkSession.sparkContext.getCheckpointDir.isDefined
  }
}
