package org.apache.spark

/** The one `private[spark]` hook the traced run needs: wait until every
  * scheduler event posted so far has reached the listeners, so a span's
  * counts are complete before they are read.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
