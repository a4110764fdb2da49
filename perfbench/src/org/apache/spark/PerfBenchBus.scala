package org.apache.spark

/** Listener events are delivered asynchronously. The benchmark reads its
  * listeners only after every event posted so far has been handled, and the
  * bus that guarantees this is `private[spark]` — hence this package.
  */
object PerfBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
