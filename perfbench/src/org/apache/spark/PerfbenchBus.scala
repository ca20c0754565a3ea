package org.apache.spark

/** Lets the benchmark wait until every queued listener event has been
  * delivered, so job and task records are complete before they are read.
  * The bus is internal to Spark, hence this file's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
