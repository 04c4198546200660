package org.apache.spark.perfbench

/** `SparkContext.listenerBus` is private to the `org.apache.spark` tree.
  * The harness drains it before reading listener counters, so a snapshot
  * taken after an action includes every event that action posted.
  */
object Bus {
  def flush(sc: org.apache.spark.SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
