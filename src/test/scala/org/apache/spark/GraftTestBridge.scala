package org.apache.spark

/** Test access to `private[spark]` hooks: dropping an RDD's cached
  * blocks from every block manager the way an executor loss does
  * (the RDD stays registered as persisted, so a later read recomputes
  * and re-caches them), and draining the listener bus so a listener's
  * state is final before a test reads it. */
object GraftTestBridge {
  def removeRddBlocks(rddId: Int): Unit =
    SparkEnv.get.blockManager.master.removeRdd(rddId, blocking = true)

  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
