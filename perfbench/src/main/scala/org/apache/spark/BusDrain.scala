package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event,
  * so that figures read from listeners cover the work just finished.
  * The bus is private to Spark, hence this one-line bridge. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
