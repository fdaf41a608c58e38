package org.apache.spark

/** The listener bus delivers events asynchronously; the traced run
  * drains it before reading its listeners' totals. `listenerBus` is
  * package-private to Spark, hence this file's package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
