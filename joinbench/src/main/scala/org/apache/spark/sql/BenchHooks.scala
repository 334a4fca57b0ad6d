package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.{CacheManager, CachedData}

/** The few Spark internals the benchmark reads from outside the engine:
  * a stage's shuffle id and the listener bus's drain (package-private), and
  * the session's SQL cache entries (a private field), so session hygiene
  * can see and release a cached Dataset that a join left behind. */
object BenchHooks {
  /** The shuffle a stage writes, if it is a shuffle map stage. AQE runs a
    * query stage as its own job and later jobs list it again under a new,
    * skipped stage id; the shuffle id links the two. */
  def shuffleOf(s: org.apache.spark.scheduler.StageInfo): Option[Int] =
    s.shuffleDepId

  /** Block until the listener bus has delivered every posted event. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  private def session(spark: SparkSession) =
    spark.asInstanceOf[classic.SparkSession]

  private val cachedDataField = {
    val f = classOf[CacheManager].getDeclaredField("cachedData")
    f.setAccessible(true)
    f
  }

  /** The session's SQL cache entries, in registration order. */
  def cacheEntries(spark: SparkSession): Seq[CachedData] =
    cachedDataField.get(session(spark).sharedState.cacheManager)
      .asInstanceOf[scala.collection.immutable.IndexedSeq[CachedData]]

  /** Drop one cache entry and its blocks. */
  def uncache(spark: SparkSession, entry: CachedData): Unit =
    session(spark).sharedState.cacheManager.uncacheQuery(
      session(spark), entry.plan, false, true)
}
