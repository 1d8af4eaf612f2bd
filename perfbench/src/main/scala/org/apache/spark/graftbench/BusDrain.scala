package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every event posted so far.
  * The bus is private to Spark; this object lives in Spark's package only to
  * reach it: the recorder reads complete job records, and a heap sample does
  * not count plans that queued events still hold.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
