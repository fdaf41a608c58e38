package org.apache.spark

/** The listener bus delivers events asynchronously; graft.Profile
  * drains it before and after each measured query so its listener's
  * counts belong to that query alone. `listenerBus` is package-private
  * to Spark, hence this file's package. */
object ProfileBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
