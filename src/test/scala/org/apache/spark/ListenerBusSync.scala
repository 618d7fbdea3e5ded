package org.apache.spark

/** Test access to the listener bus: `waitUntilEmpty` is `private[spark]`,
  * and a listener only sees a job after the bus delivers its event. */
object ListenerBusSync {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
