package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Spark posts listener events asynchronously; the benchmark drains the
  * bus before it reads what its listeners recorded for a query. The
  * drain is `private[spark]`, hence this one-line bridge. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
