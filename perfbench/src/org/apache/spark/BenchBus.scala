package org.apache.spark

/** Lets the benchmark wait for Spark's listener bus to deliver every
  * posted event before it reads what its listeners collected; the bus is
  * private to the `org.apache.spark` package.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
