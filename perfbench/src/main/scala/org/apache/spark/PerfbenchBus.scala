package org.apache.spark

/** The listener bus's drain is internal to Spark; the benchmark needs it
  * to read its listeners' counts only after every event has arrived. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
