package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.storage.RDDInfo

/** Listener-side views of `private[spark]` state: the listener bus and an
  * RDD's operation scope. This shim lives under Spark's package, as
  * [[ColumnBridge]] does. */
object ListenerBridge {
  /** Waits until every listener has seen every event posted so far. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The name of the operation scope that made the RDD, e.g. the physical
    * operator of a SQL plan. */
  def scopeName(rdd: RDDInfo): Option[String] = rdd.scope.map(_.name)
}
