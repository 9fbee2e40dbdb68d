package org.apache.spark

/** The one `private[spark]` hook the specs need. */
object GraftTestAccess {

  /** Block until every queued listener event has been delivered, so a
    * spec's listener counters are complete before it reads them. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
