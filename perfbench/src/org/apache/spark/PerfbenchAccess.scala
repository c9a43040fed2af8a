package org.apache.spark

/** The one Spark-internal call the benchmark's tracer needs: wait until the
  * listener bus has delivered every event posted so far, so that the jobs
  * and tasks of the last operation are counted. */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
