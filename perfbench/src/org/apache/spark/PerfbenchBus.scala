package org.apache.spark

/** The one private-to-Spark call the benchmark needs: wait until every
  * posted listener event has been delivered, so that counts read after
  * an operation include all of its jobs and tasks. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
