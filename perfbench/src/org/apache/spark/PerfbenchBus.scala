package org.apache.spark

/** The listener bus is `private[spark]`; the benchmark needs to wait until
  * every job/stage/task event of a finished run has been delivered before it
  * reads its span recorder. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
