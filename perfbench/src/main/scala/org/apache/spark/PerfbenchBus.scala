package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private.
  * The traced run calls it at op boundaries, outside any timed region, so
  * every event of an op is handled before the next op starts.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
