package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Test access to the listener bus's drain: listener events arrive
  * asynchronously, so a spec that counts them waits for the bus to
  * empty before reading its counter. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
