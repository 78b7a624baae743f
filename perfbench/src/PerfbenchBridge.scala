package org.apache.spark

/** The listener bus is package-private; draining it makes every event of
  * a finished call visible to the benchmark's listener before it reads. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
