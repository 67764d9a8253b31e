package graft

import graft.sources.KafkaShape
import graft.streaming.PushQuery

/** L1/L2 push-query semantics over the S1 datagen analog: a transient
  * `EMIT CHANGES LIMIT n` against the continuously-generating ratings
  * stream terminates after n rows and leaves no running query behind.
  */
class PushQuerySpec extends SparkSuite {

  test("EMIT CHANGES LIMIT 5 returns 5 rows from the live generator and stops") {
    val gen = KafkaShape.ratingsGen(spark, rowsPerSecond = 200)
    val out = PushQuery.emitChangesLimit(gen, 5)
    assert(out.length == 5)
    // datagen shape: RATING_ID, USER_ID, STARS, CHANNEL, MESSAGE, ts
    assert(out.head.schema.fieldNames.toSeq ==
      Seq("RATING_ID", "USER_ID", "STARS", "CHANNEL", "MESSAGE", "ts"))
    assert(out.forall(r => r.getDouble(2) >= 1.0 && r.getDouble(2) <= 5.0))
    // the session is shared across (possibly parallel) suites, so assert
    // on the push query itself, not the global active count
    assert(!spark.streams.active.exists(q =>
      Option(q.name).exists(_.startsWith("push_"))), "push query not stopped")
  }
}
