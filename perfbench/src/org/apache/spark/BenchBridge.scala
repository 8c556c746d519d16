package org.apache.spark

/** Access to the package-private listener bus drain, so traced runs read
  * their span counters only after every queued listener event landed. */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
