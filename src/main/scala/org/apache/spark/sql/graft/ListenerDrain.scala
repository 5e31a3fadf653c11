package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** Blocks until the listener bus has delivered every queued event. Spark
  * posts stage and job events asynchronously, so a profiler that reports
  * the stages of one run must drain the bus first; `listenerBus` is
  * `private[spark]`, hence this package.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
