package org.apache.spark

/** The listener bus drain is `private[spark]`; the traced run needs it to
  * read every job, task and streaming-progress event of a phase before it
  * attributes counts to that phase. */
object SparkBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
