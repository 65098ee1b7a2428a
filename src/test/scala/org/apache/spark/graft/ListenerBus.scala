package org.apache.spark.graft

import org.apache.spark.SparkContext

/** The listener bus drain is `private[spark]`; a spec that counts
  * events needs it so every event of the measured call has been
  * delivered before it reads the count. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
