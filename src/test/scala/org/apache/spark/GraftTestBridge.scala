package org.apache.spark

import org.apache.spark.storage.BroadcastBlockId

/** Test-side access to the driver internals the tests read: the
  * broadcast blocks the driver's block manager still holds, and the
  * listener bus. */
object GraftTestBridge {

  /** Driver broadcast blocks whose value is `value` itself. The driver
    * stores a broadcast's value by reference, so this counts the live
    * broadcasts of one object — unlike a count of all broadcast blocks,
    * it does not see the task-binary broadcasts every job leaves for the
    * context cleaner. */
  def broadcastsOf(sc: SparkContext, value: AnyRef): Int = {
    val bm = sc.env.blockManager
    bm.getMatchingBlockIds {
      case BroadcastBlockId(_, "") => true
      case _ => false
    }.count { id =>
      bm.getLocalValues(id).exists { r =>
        try r.data.hasNext && (r.data.next().asInstanceOf[AnyRef] eq value)
        finally bm.releaseLock(id)
      }
    }
  }

  /** Wait until every listener has seen every event posted so far. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
