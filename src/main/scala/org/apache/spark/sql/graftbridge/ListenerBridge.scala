package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Waits until every listener has seen every event posted so far. The
  * listener bus is `private[spark]`, so this shim lives under Spark's
  * package, as [[ColumnBridge]] does. */
object ListenerBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
