package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event, so
  * the recorded jobs, stages and Catalyst phases are complete. */
object LakebenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
