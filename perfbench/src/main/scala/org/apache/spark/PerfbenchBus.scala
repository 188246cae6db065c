package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * counters read after an action must include every event it posted. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
