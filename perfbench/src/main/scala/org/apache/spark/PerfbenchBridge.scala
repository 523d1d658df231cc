package org.apache.spark

/** The one package-private Spark call the benchmark's tracer needs: wait
  * until every listener event posted so far has been delivered, so an
  * operation's counts are complete before the next operation starts. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
