package org.apache.spark.sql.perfbenchshim

/** The number of plans in the session's cache manager. Spark exposes the
  * count only inside its `sql` package, hence this accessor's package.
  */
object CachedPlans {
  def count(spark: org.apache.spark.sql.SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries
}
