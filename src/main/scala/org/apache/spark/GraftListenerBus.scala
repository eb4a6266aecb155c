package org.apache.spark

/** Bridge to the `private[spark]` listener bus, so a caller that reads
  * listener-collected stats after an action waits for exactly the
  * events already posted instead of sleeping.
  */
object GraftListenerBus {
  /** Block until every event posted so far reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
