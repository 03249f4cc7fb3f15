package org.apache.spark

/** Drains Spark's listener bus, so a listener has seen every event of
  * the jobs that already ended. The bus is package-private to Spark.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
