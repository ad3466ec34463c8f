package org.apache.spark

/** Spark delivers listener events asynchronously; the benchmark reads
  * a unit's counts only after every event posted so far has been
  * handled. The bus is `private[spark]`, hence this package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext, timeoutMillis: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMillis)
}
