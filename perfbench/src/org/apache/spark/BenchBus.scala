package org.apache.spark

/** The benchmark's tracer reads a query's listener events right after the
  * query ends; `waitUntilEmpty` (package-private) makes sure the
  * asynchronous listener bus has delivered all of them first. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
