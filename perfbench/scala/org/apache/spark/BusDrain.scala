package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so a
  * trace snapshot taken right after an operation sees all of its task and
  * query events. `listenerBus` is package-private to Spark, hence this
  * one-line bridge in Spark's package. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
