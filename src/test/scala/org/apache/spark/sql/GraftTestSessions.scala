package org.apache.spark.sql

import org.apache.spark.SparkContext

/** Test access to `private[spark]`/`private[sql]` session internals. */
object GraftTestSessions {

  /** A session on an existing context with no extensions applied — the
    * shape of a session the library did not build (e.g. a spark-shell one).
    */
  def bare(sc: SparkContext): SparkSession = new classic.SparkSession(sc)

  /** Block until every posted listener event has been delivered, so a
    * `QueryExecutionListener` has seen all executions finished so far.
    */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
