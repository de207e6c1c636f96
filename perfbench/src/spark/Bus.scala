package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus is `private[spark]`; this is the one call the
  * benchmark needs from it.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
