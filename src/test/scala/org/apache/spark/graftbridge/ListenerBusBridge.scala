package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Test-side access to the listener bus, which Spark keeps private[spark]:
  * waiting for it to drain makes a SparkListener's counts exact at the
  * point the test reads them. */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
