package org.apache.spark.sql

import org.apache.spark.SparkContext

/** Test access to the `private[sql]` session constructor: a session on an
  * existing context with no extensions applied — the shape of a session
  * the library did not build (e.g. a spark-shell one).
  */
object GraftTestSessions {
  def bare(sc: SparkContext): SparkSession = new classic.SparkSession(sc)
}
