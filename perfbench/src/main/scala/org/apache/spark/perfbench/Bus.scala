package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Wait until Spark's listener bus has delivered every posted event, so
  * listener state read afterwards is complete for the work just done.
  * The bus is package-private to Spark, hence this package. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
