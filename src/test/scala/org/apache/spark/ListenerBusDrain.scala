package org.apache.spark

/** Waits until every posted listener event was delivered; Spark keeps the
  * listener bus package-private. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
