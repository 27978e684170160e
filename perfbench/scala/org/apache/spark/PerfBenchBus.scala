package org.apache.spark

/** The one Spark-internal hook the benchmark needs: block until every event
  * posted so far has reached the listeners, so per-run task counters are
  * complete before they are read. */
object PerfBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
