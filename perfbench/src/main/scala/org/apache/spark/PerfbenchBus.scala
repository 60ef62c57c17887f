package org.apache.spark

/** Lets the traced run drain Spark's asynchronous listener bus at span
  * boundaries, so every job, stage, task and query-execution event of a
  * span is attributed before the span closes. `listenerBus` is
  * package-private to `org.apache.spark`. Used only with `--trace 1`. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
