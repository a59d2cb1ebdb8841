package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Test access to Spark's listener bus, which is `private[spark]`. */
object ListenerBus {
  /** Block until every event posted so far has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
