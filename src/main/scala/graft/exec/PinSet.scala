package graft.exec

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel
import scala.jdk.CollectionConverters._

import graft.oracle.BatchedExec

/** A bounded set of persisted frames, evicted least-recently-pinned
  * first.
  *
  * `persist`, not `localCheckpoint`: the logical lineage of a pinned frame
  * stays as it was, so a lost block or an evicted pin RECOMPUTES from that
  * lineage (the engine's default lazy semantics) instead of failing, and
  * callers that inspect the lineage see the same plan pinned or not.
  *
  * Unpersisting an evicted frame is SKIPPED when a pin still in the set
  * shares its plan: Spark's CacheManager keys cached data by canonicalized
  * plan, so unpersisting the old duplicate would silently uncache the
  * live pin too.
  *
  * Pin sites size what they pin with [[PinSet.sized]], so a small frame
  * is cached as one partition and every later query over it runs one
  * task per stage, with no shuffle under a group-by.
  */
private[graft] final class PinSet(cap: Int) {
  // access order: iteration runs from least to most recently pinned
  private val pins =
    new java.util.LinkedHashMap[DataFrame, () => Unit](16, 0.75f, true)

  /** Persist `df` (unless its plan is already cached) and make it the most
    * recent pin. Past the cap, the least recent pin is evicted and its
    * `onEvict` runs. Returns `df`.
    */
  def pin(df: DataFrame, onEvict: () => Unit = () => ()): DataFrame =
    synchronized {
      if (df.storageLevel == StorageLevel.NONE)
        df.persist(StorageLevel.MEMORY_AND_DISK)
      pins.put(df, onEvict)
      while (pins.size > cap) {
        val eldest = pins.entrySet.iterator.next()
        val old = eldest.getKey
        pins.remove(old)
        val sharedWithLive = pins.keySet.asScala.exists(
          _.queryExecution.analyzed.sameResult(old.queryExecution.analyzed))
        if (!sharedWithLive)
          try old.unpersist(blocking = false)
          catch { case _: Exception => () } // a stopped session's frame
        eldest.getValue.apply()
      }
      df
    }
}

private[graft] object PinSet {

  /** How many partitions a frame of this size needs, by the rule Spark
    * splits a file scan with (`FilePartition.maxSplitBytes`): a split is
    * `min(spark.sql.files.maxPartitionBytes, max(spark.sql.files.openCostInBytes,
    * bytes / minPartitionNum))` bytes and the count is `ceil(bytes / split)`,
    * at least 1. `minPartitionNum` is `spark.sql.files.minPartitionNum`,
    * else the default parallelism. At the defaults a frame under 4 MB is
    * one partition, and a large one keeps at least one partition per
    * core. The size is the optimized plan's estimate (a file scan reports
    * the sum of its file sizes), so no Spark job runs. A frame with no
    * size statistics reports Spark's default size, which gives a count far
    * above any real one.
    */
  def partitionsFor(df: DataFrame): Int = {
    val conf = df.sparkSession.sessionState.conf
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes.max(1)
    val split = (bytes / minPartitions(df)).max(conf.filesOpenCostInBytes)
      .min(conf.filesMaxPartitionBytes)
    ((bytes + split - 1) / split).min(Int.MaxValue).toInt
  }

  /** `df` sized to `k` partitions, `k` from [[partitionsFor]].
    *
    * A frame whose plan judges out of band ([[BatchedExec.outOfBand]]) is
    * shuffled into `k` partitions, so its judging stage keeps the
    * partitions of its input and a remote oracle's batches still run one
    * task per input partition. That happens only when `k` is below
    * `minPartitionNum`, which the split rule gives only to a frame of less
    * than one file-open cost (4 MB at the defaults) per core: the shuffle
    * is small, and its count stays below one per core even where the
    * input had fewer. A larger judged frame keeps its partitions. Any
    * other frame is coalesced, with no shuffle, and `coalesce` never
    * raises a count: a large frame keeps Spark's split, and a frame with
    * no size statistics keeps its partitions. One partition plans as
    * Spark's `SinglePartition` in both forms, so a group-by over it needs
    * no exchange.
    */
  def sized(df: DataFrame, k: Int): DataFrame =
    if (!BatchedExec.outOfBand(df)) df.coalesce(k)
    else if (k < minPartitions(df)) df.repartition(k)
    else df

  /** `spark.sql.files.minPartitionNum`, else the default parallelism. */
  private def minPartitions(df: DataFrame): Int =
    df.sparkSession.sessionState.conf.filesMinPartitionNum
      .getOrElse(df.sparkSession.sparkContext.defaultParallelism)
}
