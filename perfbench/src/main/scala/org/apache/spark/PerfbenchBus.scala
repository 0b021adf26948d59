package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so a
  * listener's counters cover all tasks of the actions that have returned.
  * The bus is internal to Spark, hence this object's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
