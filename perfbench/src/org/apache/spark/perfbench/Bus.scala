package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The two Spark internals the tracer needs: the job-group property key
  * that ties a job to the request that ran it, and a way to wait until the
  * listener has seen every event posted so far. */
object Bus {
  val JobGroupKey: String = SparkContext.SPARK_JOB_GROUP_ID
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
