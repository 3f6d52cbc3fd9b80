package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Waits until every event posted so far has reached the listeners, so
  * a test's listener has seen the jobs an action ran. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
