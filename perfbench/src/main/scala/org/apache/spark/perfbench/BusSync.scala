package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events arrive asynchronously; a span boundary must see every
  * event of the work it just timed. `waitUntilEmpty` is `private[spark]`,
  * so this shim lives in the `org.apache.spark` namespace only to
  * re-export that one call. */
object BusSync {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
