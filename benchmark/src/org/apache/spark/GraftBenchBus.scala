package org.apache.spark

/** Blocks until every listener event posted so far has been delivered, so a
  * traced operation's jobs, stages, tasks and query-execution callbacks are
  * all attributed before the next operation starts. The listener bus is
  * package-private to Spark, hence this file's package.
  */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
