package org.apache.spark

/** Waits until every event posted so far has reached the listeners, so a
  * batch's job and task events can be read right after the batch returns.
  * The bus is package-private; this is the benchmark's only use of it. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
