package org.apache.spark

/** The one `private[spark]` call the specs need: wait until every
  * listener event posted so far has been delivered, so a listener's
  * count read afterwards covers everything that happened before. */
object GraftTestBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
