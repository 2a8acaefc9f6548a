package org.apache.spark

/** The listener bus's drain is package-private; the traced run needs it so
  * per-round layer sums include every event of the round. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
