package org.apache.spark

/** The listener bus is `private[spark]`; the benchmark drains it before
  * reading what its listeners collected, so no event of a finished
  * operation is still in flight.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
