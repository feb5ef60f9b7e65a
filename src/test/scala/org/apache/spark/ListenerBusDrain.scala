package org.apache.spark

/** Waits until every listener event posted so far has been delivered,
  * so a spec's SparkListener has seen every job the code under test
  * submitted. The bus is package private to Spark, hence this file's
  * package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
