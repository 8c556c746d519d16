package org.apache.spark

/** Access to the package-private listener bus drain, so a test reads its
  * listener's counts only after every queued event landed. */
object TestBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
