package org.apache.spark

/** Waits until every listener event posted so far has been delivered.
  * The traced run calls it between operations (outside the timed
  * window), so each operation's jobs, tasks and query executions are
  * attributed to it before the next one starts. The bus is package
  * private to Spark, hence this file's package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
