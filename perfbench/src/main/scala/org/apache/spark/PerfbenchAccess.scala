package org.apache.spark

/** The one package-private Spark hook the tracer needs: wait until the
  * listener bus has delivered every event posted so far, so a span's
  * counters are final when the span closes. */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
