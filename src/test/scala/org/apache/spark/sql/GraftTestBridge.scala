package org.apache.spark.sql

/** Test-only reads of `private[spark]` state. */
object GraftTestBridge {

  /** Listeners registered on the SparkContext's listener bus, all queues. */
  def busListeners(spark: SparkSession): Int =
    spark.sparkContext.listenerBus.listeners.size
}
