package org.apache.spark

/** The listener bus drain is private[spark]; the benchmark needs it to
  * read an operation's listener records only after every event the
  * operation posted has been delivered. */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
