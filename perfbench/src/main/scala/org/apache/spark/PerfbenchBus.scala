package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so
  * the benchmark's traced run can attribute jobs and tasks to the public
  * call that launched them. `listenerBus` is package-private. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
