package org.apache.spark

/** Drains the listener bus so every task/stage/job event of the work
  * done so far has reached the benchmark's listener. `waitUntilEmpty`
  * is `private[spark]`, hence this one-line bridge in Spark's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
