package org.apache.spark

/** The number of listeners on a context's bus (`private[spark]`). */
object ListenerCount {
  def apply(sc: SparkContext): Int = sc.listenerBus.listeners.size
}
