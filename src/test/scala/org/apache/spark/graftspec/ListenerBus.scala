package org.apache.spark.graftspec

import org.apache.spark.SparkContext

/** Test access to the Spark-private listener bus. */
object ListenerBus {

  /** Block until every event posted so far has reached its listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
