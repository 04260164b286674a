package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * the recorder waits for every event of an op before closing it. */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
