package org.apache.spark

/** The listener bus is asynchronous. A traced run drains it after each op
  * (outside the op's timed window) so every event of the op is delivered
  * before the next op starts; `listenerBus` is package-private, hence this
  * file's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
