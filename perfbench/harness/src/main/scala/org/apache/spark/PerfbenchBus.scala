package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * benchmark's listeners see a window's last events before it closes.
  * `waitUntilEmpty` is package-private to Spark, hence this package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
