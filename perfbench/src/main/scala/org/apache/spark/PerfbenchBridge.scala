package org.apache.spark

/** Access to the one scheduler internal the benchmark needs: waiting until
  * every posted listener event has been delivered, so job and task counts
  * read afterwards are complete. */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
