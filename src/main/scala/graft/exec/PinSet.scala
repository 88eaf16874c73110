package graft.exec

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel
import scala.jdk.CollectionConverters._

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
