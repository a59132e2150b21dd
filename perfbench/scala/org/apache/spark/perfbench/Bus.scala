package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Drains Spark's listener bus so listener tallies are complete when read.
  * The bus is `private[spark]`, hence this package. */
object Bus {
  def flush(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
