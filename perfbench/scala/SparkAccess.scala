package org.apache.spark

/** The Spark internal the benchmark driver needs, kept in Spark's package
  * because it is private[spark]. */
object BenchSparkAccess {
  /** Waits until every listener event posted so far has been delivered.
    * Delivery is asynchronous; the traced run drains after each query
    * (outside its timed window) so each query's events land in its own
    * ledger row. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
