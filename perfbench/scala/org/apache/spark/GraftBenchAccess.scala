package org.apache.spark

/** The listener bus drain the benchmark needs before it reads its Spark
  * counters; `waitUntilEmpty` is package-private to Spark.
  */
object GraftBenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
