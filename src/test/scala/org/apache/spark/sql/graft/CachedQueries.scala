package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}

/** Test-side view of the session's cached-query registry (the entries that
  * `Dataset.persist` adds and `unpersist` removes). Unlike
  * `SparkContext.getPersistentRDDs`, it does not count `localCheckpoint`
  * blocks.
  */
object CachedQueries {
  def count(spark: SparkSession): Int =
    spark.asInstanceOf[ClassicSession].sharedState.cacheManager
      .numCachedEntries
}
