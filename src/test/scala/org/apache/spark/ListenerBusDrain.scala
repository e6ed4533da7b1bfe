package org.apache.spark

/** The listener bus drain is `private[spark]`; specs that count jobs need
  * every event of a phase delivered before they read their listener. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
