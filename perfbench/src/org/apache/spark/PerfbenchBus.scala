package org.apache.spark

/** `SparkContext.listenerBus` is `private[spark]`; this shim lives in the
  * `org.apache.spark` package so the benchmark can drain the bus before it
  * reads listener counts, instead of sleeping and hoping. */
object PerfbenchBus {
  /** Blocks until every posted event has reached every listener; throws
    * `java.util.concurrent.TimeoutException` after `timeoutMs`. */
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
