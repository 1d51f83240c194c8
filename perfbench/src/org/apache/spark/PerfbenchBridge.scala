package org.apache.spark

/** Lets the benchmark wait until Spark's listener bus has delivered
  * every queued event, so a traced run's layer figures are complete
  * before they are attributed. `listenerBus` is package-private. */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
