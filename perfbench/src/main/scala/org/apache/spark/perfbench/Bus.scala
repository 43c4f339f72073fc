package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus, which is `private[spark]`. Counts read
  * from a listener are complete only once every posted event has been
  * delivered.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
