package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus drain is `private[spark]`; the traced run needs it
  * so every event of a query has been delivered before the next query
  * starts (the drain sits outside every timed interval). */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
