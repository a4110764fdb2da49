package org.apache.spark

/** Listener events are delivered asynchronously; a spec that counts jobs
  * reads its listener only after every event posted so far was handled. The
  * bus that guarantees this is `private[spark]` — hence this package.
  */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
