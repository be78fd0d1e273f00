package org.apache.spark

/** Lets the benchmark wait until the listener bus has delivered every
  * event posted so far, so a traced pass is closed only after its
  * listeners have seen all of it. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
