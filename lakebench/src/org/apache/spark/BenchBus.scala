package org.apache.spark

/** Drains Spark's asynchronous listener bus so that listener counts read
  * at a boundary include every event posted before it. The bus is
  * `private[spark]`; this shim lives in that package for the sole purpose
  * of calling `waitUntilEmpty`. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
