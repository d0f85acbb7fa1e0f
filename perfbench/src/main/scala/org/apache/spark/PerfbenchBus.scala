package org.apache.spark

/** The one engine-internal hook the tracer needs: block until every
  * listener event posted so far has been delivered, so a call's job
  * records are complete before the next call starts. (The listener bus is
  * asynchronous and `waitUntilEmpty` is `private[spark]`.)
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
