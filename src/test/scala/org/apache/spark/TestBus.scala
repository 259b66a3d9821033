package org.apache.spark

/** Bridge to the listener bus drain, which Spark keeps `private[spark]`:
  * job-counting specs drain the bus so every job event of the measured
  * body has reached their listener before they read the count. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
