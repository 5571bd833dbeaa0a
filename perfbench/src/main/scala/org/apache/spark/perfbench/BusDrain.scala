package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; the tracer waits for it
  * to empty at the end of every span so each event lands in the span that
  * caused it. `listenerBus` is package-private to Spark, hence this file's
  * package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
