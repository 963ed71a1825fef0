package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** The two Spark internals the harness needs, reached from inside the
  * `org.apache.spark` package where they are visible. */
object Bus {
  /** Block until the listener bus has delivered every posted event. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Drop every cached plan that reads the parquet directory `path`,
    * and the cached plans built on top of them. */
  def uncachePath(spark: SparkSession, path: String): Unit = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    classic.sharedState.cacheManager.uncacheQuery(classic,
      classic.read.parquet(path).queryExecution.analyzed, cascade = true)
  }
}
