package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession

/** Test access to the listener bus, which Spark keeps `private[spark]`. */
object Listeners {

  /** Blocks until every event posted so far has reached every listener,
    * so counts taken by a listener after an action are final. */
  def drain(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
