package org.apache.spark

/** Access to the driver's listener bus, which Spark keeps package-private.
  * The benchmark's observers read events asynchronously; draining the bus
  * at the end of a traced iteration makes every event of that iteration
  * visible before its counters are summed. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
