package org.apache.spark

/** Lets the benchmark wait for the asynchronous listener bus to deliver
  * every event of the jobs it has run, so per-span counters are complete
  * before they are read. `listenerBus` is private to the spark package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
