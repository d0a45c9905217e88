package org.apache.spark

/** Lets the benchmark wait until Spark's listener bus has delivered every
  * queued event, so job and task counters read after a phase are complete.
  * The bus is `private[spark]`, hence this one-line bridge in Spark's
  * package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
