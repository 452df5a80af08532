package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Bridge to the listener bus, which Spark keeps package-private.
  *
  * Listener events (job, stage and task ends, SQL execution ends and the
  * `QueryExecutionListener` callbacks riding them) are delivered on the
  * bus's own threads, after the action that caused them has returned.
  * A reader of listener-collected counters calls [[drain]] first; a sleep
  * or a poll-until-stable loop can declare victory during a delivery gap
  * on a loaded host and undercount.
  */
object ListenerBridge {
  /** Block until every event posted so far has reached every listener
    * (throws `TimeoutException` after Spark's default 10 s). */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
