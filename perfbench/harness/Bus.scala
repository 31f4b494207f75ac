package org.apache.spark

/** The listener bus delivers events asynchronously; the traced run drains
  * it at every span boundary so listener counts land in the span that
  * caused them. `listenerBus` is package-private, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
