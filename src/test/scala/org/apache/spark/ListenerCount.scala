package org.apache.spark

/** Listeners registered on a context's bus (`listenerBus` is
  * `private[spark]`), so a spec can check a helper leaves none behind. */
object ListenerCount {
  def apply(sc: SparkContext): Int = sc.listenerBus.listeners.size
}
