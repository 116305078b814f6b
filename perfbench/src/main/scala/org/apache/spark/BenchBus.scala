package org.apache.spark

/** Lets the benchmark's trace recorder wait until every listener event of
  * the jobs it ran has been delivered (the bus is private to Spark).
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
