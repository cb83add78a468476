package org.apache.spark

/** The listener bus delivers events asynchronously; the traced run waits
  * for it to drain before rolling spans up. `waitUntilEmpty` is
  * package-private to Spark, hence this file's package.
  */
object BenchListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
