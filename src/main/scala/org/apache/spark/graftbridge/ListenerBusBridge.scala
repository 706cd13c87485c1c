package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Access to the listener bus, which Spark keeps private[spark]: waiting
  * for it to drain makes a SparkListener's counts exact at the point the
  * caller reads them (ProfileQ's per-rep job and stage counts, the specs'
  * job pins). */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
