package org.apache.spark

import java.util.Properties

import org.apache.spark.util.Utils

/** Hands a thread's Spark local properties (job group, description,
  * scheduler pool, job tags) to another thread. The whole-set accessors
  * on [[SparkContext]] are spark-private, hence this file's package. */
object GraftLocalProperties {
  /** A copy of the calling thread's local properties. */
  def capture(sc: SparkContext): Properties =
    Utils.cloneProperties(sc.getLocalProperties)

  /** Make `props` (a fresh copy of them) the calling thread's. */
  def install(sc: SparkContext, props: Properties): Unit =
    sc.setLocalProperties(Utils.cloneProperties(props))
}
