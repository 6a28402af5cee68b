package org.apache.spark

/** Test-side bridge to the package-private listener bus: specs that count
  * scheduler events wait for the bus to deliver every event posted so far
  * instead of sleeping until a counter stops moving.
  */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
