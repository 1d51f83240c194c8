package org.apache.spark

import org.apache.spark.metrics.source.CodegenMetrics

/** Test access to two `private[spark]` counters: how many classes
  * Spark's code generator has compiled in this JVM, and a wait until
  * the listener bus has delivered every queued event. */
object GraftSparkTestBridge {
  def compilations: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
