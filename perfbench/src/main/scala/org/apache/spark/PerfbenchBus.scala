package org.apache.spark

/** The listener bus delivers events on its own thread. Spark's own tests
  * wait for it to drain before reading listener state; the benchmark does
  * the same at every measurement boundary, so counts are complete. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
