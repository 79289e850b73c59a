package org.apache.spark.graftshim

import org.apache.spark.SparkContext

/** Test access to the listener bus's drain, which Spark keeps
  * package-private: a spec counting jobs reads its listener only after
  * every event of the measured interval has been delivered. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
