package org.apache.spark

/** Blocks until the listener bus has delivered every event posted so
  * far, so a listener's counts for an operation are complete when the
  * operation's record is closed. The bus is private to Spark, hence the
  * package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
