package org.apache.spark

/** The listener bus's drain is package-private to Spark; the traced run
  * needs it so that every job, stage and Catalyst event posted before the
  * run ends is recorded. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
