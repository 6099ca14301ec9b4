package org.apache.spark

/** The one package-private hook the benchmark needs: waiting until the
  * listener bus has delivered every queued event, so per-layer counters
  * read after an action include that action's jobs and tasks. */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
