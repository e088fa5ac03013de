package org.apache.spark

/** Waits until every listener queue of a context has delivered its
  * events. The bus is private to Spark's package, so the benchmark reaches
  * it through this one-line shim instead of sleeping and polling. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
