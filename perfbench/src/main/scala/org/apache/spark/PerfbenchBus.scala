package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event,
  * so listener counts are complete before the benchmark reads them.
  * The bus is Spark-internal, hence this object's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
