package org.apache.spark

/** The listener bus delivers events asynchronously; a traced action is
  * only fully accounted once the bus has drained. `listenerBus` is
  * package-private, hence this one-line bridge in Spark's package. */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
