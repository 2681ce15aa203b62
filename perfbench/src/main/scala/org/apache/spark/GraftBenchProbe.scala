package org.apache.spark

import org.apache.spark.storage.BroadcastBlockId

/** Driver-side session counters the public API does not expose; the
  * benchmark harness reads them between reps. */
object GraftBenchProbe {

  /** Broadcast variables whose value is still held by the driver's
    * block manager. */
  def liveBroadcasts(sc: SparkContext): Int =
    SparkEnv.get.blockManager.getMatchingBlockIds {
      case BroadcastBlockId(_, field) => field.isEmpty
      case _ => false
    }.size

  /** Block until every event posted so far has reached the listeners. */
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
