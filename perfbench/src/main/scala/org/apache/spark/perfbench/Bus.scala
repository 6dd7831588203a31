package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; the tracer drains it
  * at span boundaries so every event lands in the span that caused it.
  * `waitUntilEmpty` is package-private to Spark, hence this package.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
