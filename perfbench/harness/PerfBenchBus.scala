package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so a
  * traced pass's counters are complete before they are read. The bus's
  * drain call is private to Spark, hence this file's package. */
object PerfBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
