package org.apache.spark.graftx

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession

/** Block release for RDDs the engine drops on purpose: Pin's re-pin and
  * the benches' cold start between queries. `SparkContext.unpersistRDD`
  * (`private[spark]`, hence this package) is `RDD.unpersist` without its
  * WARN for each `localCheckpoint`ed RDD. */
object Blocks {
  def drop(rdd: RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)

  /** Every persisted block and cached plan, so the next query starts cold. */
  def dropAll(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(drop)
    spark.catalog.clearCache()
  }
}
