package org.apache.spark

/** The one `private[spark]` call the benchmark needs: wait until every
  * listener event posted so far has been delivered, so that the listener's
  * totals read at a pass boundary cover exactly the passes before it. */
object LayerbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
