package org.apache.spark

/** Test access to the one package-private hook job-counting specs
  * need: block until the listener bus has delivered every event posted
  * so far, so listener counters are final when read. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
