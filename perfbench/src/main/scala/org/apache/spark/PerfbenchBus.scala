package org.apache.spark

/** Lets the benchmark wait until Spark's listener bus has delivered every
  * event posted so far, so listener counters can be attributed to the op
  * that just finished. The bus is private to the `org.apache.spark` package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
