package org.apache.spark.perfbenchbridge

import org.apache.spark.SparkContext

/** The listener bus's drain is `private[spark]`; the traced run needs
  * it so that every job and task event posted before the end of the
  * run reaches the accounting before the metrics are computed. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
