package org.apache.spark

/** Bridge to the private[spark] listener bus drain. Listener events are
  * posted asynchronously, so a caller that reads what its listeners
  * captured right after a synchronous action must drain the bus first, or
  * the action that just finished is credited with the next one's events.
  * Callers: perfbench's tracer (`perfbench/src/perfbench/Trace.scala`),
  * which closes each span's job and task counts with it, and the specs'
  * job and task counts (`SparkSpec.jobsAndTasks`).
  */
object GraftListenerBridge {
  def flush(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
