package org.apache.spark

/** The one package-private hook the benchmark needs: wait until every
  * queued listener event has been delivered, so counts read after an
  * operation include all of its jobs, stages and tasks.
  */
object BenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
