package org.apache.spark

/** Lets the benchmark wait for Spark's listener bus to drain, so counters
  * read after an operation include that operation's events. The bus is
  * private to the `org.apache.spark` package; this is its only use.
  */
object PerfbenchBus {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
