package org.apache.spark

/** Package-private-API bridge (the `GraftColumnBridge` idiom, one
  * level up the package tree): the per-query max-task-rows
  * instruments (Bench and `graft.tools.SkewProbe`) read their
  * listener's value AFTER the async listener bus has delivered the
  * tail of task-end events. `listenerBus.waitUntilEmpty()` is the
  * deterministic drain — the same call Spark's own test harness uses
  * — instead of a fixed sleep per query.
  */
object GraftListenerBridge {
  /** Block until every queued listener event has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
