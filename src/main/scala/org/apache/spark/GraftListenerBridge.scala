package org.apache.spark

/** Package-private-API bridge (the `GraftColumnBridge` idiom, one
  * level up the package tree): Bench's per-query max-task-rows
  * instrument and the job- and action-budget specs read their
  * listeners' counts AFTER the async listener bus has delivered the
  * tail of its events. `listenerBus.waitUntilEmpty()` is the
  * deterministic drain — the same call Spark's own test harness uses
  * — instead of a fixed sleep per query.
  */
object GraftListenerBridge {
  /** Block until every queued listener event has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
