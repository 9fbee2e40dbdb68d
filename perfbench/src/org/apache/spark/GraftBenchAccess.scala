package org.apache.spark

/** The two `private[spark]` hooks the benchmark reads; nothing is added to
  * the program under test. */
object GraftBenchAccess {

  /** Block until every queued listener event has been delivered, so span
    * counters are complete before they are read. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Bytes of cached or locally checkpointed blocks currently held, memory
    * plus disk. */
  def pinnedBytes(sc: SparkContext): Long =
    sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
}
