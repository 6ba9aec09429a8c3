package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.StageInfo

/** Deterministic listener-metric reads for the shuffle-volume specs:
  * `LiveListenerBus.waitUntilEmpty` is `private[spark]`, so tests
  * that sum task metrics from a `SparkListener` would otherwise have
  * to spin-poll an asynchronous bus (flaky on slow CI). This bridge
  * exposes the blocking drain; after it returns, every queued event
  * has been delivered to every registered listener.
  */
object ListenerBridge {
  def waitUntilListenerBusEmpty(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Whether `s` is a shuffle map stage (`shuffleDepId` is
    * `private[spark]`).
    */
  def isShuffleMap(s: StageInfo): Boolean = s.shuffleDepId.isDefined
}
