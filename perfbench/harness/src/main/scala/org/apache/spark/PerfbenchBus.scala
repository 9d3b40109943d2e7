package org.apache.spark

/** The listener bus's own drain, which Spark keeps package-private. */
object PerfbenchBus {

  /** Blocks until every event posted so far has reached every listener;
    * throws `java.util.concurrent.TimeoutException` after `timeoutMs`.
    */
  def waitUntilEmpty(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
