package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.SparkContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{CachedData, LogicalRDD}
import org.apache.spark.storage.StorageLevel
import scala.jdk.CollectionConverters._

object Checkpoints {

  /** Unpersists `df`'s blocks. On a `localCheckpoint` frame
    * `Dataset.unpersist` does nothing (it drops only what `Dataset.persist`
    * cached): the blocks belong to the RDD under the frame's `LogicalRDD`.
    */
  def release(df: DataFrame): Unit = df.queryExecution.logical match {
    case r: LogicalRDD => r.rdd.unpersist(blocking = false)
    case _ => df.unpersist(blocking = false)
  }

  // the frames persist() cached whose cache entry may still be live
  private val persisted = ConcurrentHashMap.newKeySet[DataFrame]()

  private def cacheEntry(df: DataFrame): Option[CachedData] =
    df.sparkSession.sharedState.cacheManager
      .lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])

  /** `df.persist(MEMORY_AND_DISK)`, remembered so [[unpersist]] can free it through
    * Spark's CacheManager: freeing the RDD alone leaves the plan cached
    * with no blocks, so the next persist of the same plan is a no-op
    * ('Asked to cache already cached data') and every scan recomputes.
    */
  def persist(df: DataFrame): DataFrame = {
    persisted.removeIf(d => d.sparkSession.sparkContext.isStopped || cacheEntry(d).isEmpty)
    persisted.add(df.persist(StorageLevel.MEMORY_AND_DISK))
    df
  }

  /** The frames [[persist]] cached that are not yet unpersisted. */
  def live: Set[DataFrame] = persisted.asScala.toSet

  /** Uncaches the live frames on `sc` that `drop` selects, except where a
    * frame kept shares the cache entry.
    */
  def unpersist(sc: SparkContext)(drop: DataFrame => Boolean): Unit = {
    val (gone, kept) = live.filter(_.sparkSession.sparkContext eq sc).partition(drop)
    val keptEntries = kept.flatMap(cacheEntry)
    gone.foreach { d =>
      persisted.remove(d)
      if (!cacheEntry(d).exists(e => keptEntries.exists(_ eq e))) d.unpersist(blocking = false)
    }
  }
}
