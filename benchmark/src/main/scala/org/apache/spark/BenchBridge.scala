package org.apache.spark

/** Access to the listener bus's flush, which Spark keeps package-private. */
object BenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
