package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Access to the `private[spark]` listener bus: returns once every
  * event posted so far has been delivered, so a listener's counts cover
  * the actions that just finished (a TimeoutException after 10 s). */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
