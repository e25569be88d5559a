package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Narrow `private[spark]` bridge for the bench harness ONLY (see
  * [[graft.BenchReset]]): the inter-query storage reset must drop the
  * broadcast blocks a completed query left behind, and the public
  * surface offers no handle to them — `Broadcast.destroy()` needs the
  * `Broadcast` objects (internal to SQL's exchange execution) and the
  * ContextCleaner reaps only after a driver GC actually collects the
  * references, which turned every reset into a forced `System.gc()`
  * (402 s of collector time across the r16 sweep — VERDICT r16
  * §next-2b). This calls the block-manager master's removeBroadcast
  * directly: synchronous, no GC involved, idempotent with the
  * ContextCleaner's own later cleanup.
  *
  * Deliberately NOT used by any engine operator — production code
  * never force-drops broadcasts; this exists so benchmark timings
  * measure plans instead of collector behavior.
  */
object StorageBridge {

  /** Blocks until every listener event posted so far has been
    * delivered, so a counting listener can be read without racing the
    * asynchronous bus.
    */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Synchronously remove one broadcast's blocks everywhere. */
  def removeBroadcast(sc: SparkContext, broadcastId: Long): Unit =
    sc.env.blockManager.master
      .removeBroadcast(broadcastId, removeFromMaster = true, blocking = true)
}
