package org.apache.spark

/** Bridge to private[spark] state. `drain` blocks until every listener
  * event posted so far has been delivered, so counters read right after
  * an action are complete (no fixed sleep). */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)

  /** Waits until the blocks of unpersisted RDDs are gone from the block
    * manager (`unpersist()` frees them asynchronously). */
  def awaitUnpersisted(sc: SparkContext, timeoutMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def stale = SparkEnv.get.blockManager.getMatchingBlockIds(_.isRDD).exists {
      case storage.RDDBlockId(id, _) => !sc.getPersistentRDDs.contains(id)
      case _ => false
    }
    while (stale && System.currentTimeMillis() < deadline) Thread.sleep(10)
  }
}
