package org.apache.spark

/** Bridge to the listener bus drain, which Spark keeps `private[spark]`.
  * The traced run drains the bus after every step so that all job, stage
  * and query-execution events of the step have been delivered before the
  * step's layer breakdown is computed. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
