package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession

/** Test access to the session's listener bus: a job-count listener
  * has seen every event of the jobs submitted so far once the bus is
  * drained. */
object TestBus {
  def drain(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
