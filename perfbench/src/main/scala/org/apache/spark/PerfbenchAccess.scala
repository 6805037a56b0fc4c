package org.apache.spark

/** The one Spark-internal the benchmark needs: a traced run must see every
  * listener event of its section before it reads the counters, and the
  * listener bus exposes its drain only inside the `spark` package. */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
