package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Tracks the internal tables a pipeline persists while assembling its
  * (lazy) result plan, so the CALLER — the only party that knows when
  * the result has been fully consumed — can release them.
  *
  * Why this exists: pipelines like [[Dedup.ngramJaccardPairs]] persist
  * intermediate tables that feed several branches of the returned plan
  * (candidate join sides + verify joins). The result is lazy, so the
  * pipeline itself can never know when it is safe to unpersist; without
  * a handle, distinct inputs/parameters would accumulate cache-manager
  * entries for the lifetime of the session (the cache manager only
  * dedups repeated IDENTICAL plans). Passing a scope gives the caller
  * that handle:
  *
  * {{{
  * val scope = new CacheScope
  * val pairs = Dedup.minHashLshPairs(docs, "id", "text", 16, 2, 0.5,
  *   scope = scope)
  * pairs.write.parquet(out)   // consume fully...
  * scope.release()            // ...then free the internal tables
  * }}}
  *
  * The default argument ([[CacheScope.unmanaged]]) keeps the one-shot
  * ergonomics: nothing to release for a job that ends with the session.
  * Long-lived drivers processing many corpora MUST pass their own scope
  * (or `spark.catalog.clearCache()` between corpora) — see the
  * scaladoc on each pipeline.
  */
final class CacheScope {
  private val tracked = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

  /** Persist `df` (MEMORY_AND_DISK) and track it for [[release]]. A
    * frame whose plan is already cached (by the caller, another scope
    * or an earlier call in this one) is returned as it is, neither
    * persisted again nor tracked: a scope releases only what it
    * cached. */
  private[graft] def persist(df: DataFrame): DataFrame = synchronized {
    if (df.storageLevel != StorageLevel.NONE) df
    else {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      tracked += p
      p
    }
  }

  /** Number of tables currently tracked (spec hook). */
  def trackedCount: Int = synchronized(tracked.size)

  /** Unpersist every tracked table. Idempotent; non-blocking. */
  def release(): Unit = synchronized {
    tracked.foreach(_.unpersist())
    tracked.clear()
  }
}

object CacheScope {
  /** A scope no one releases: the persisted tables live until the
    * session ends or `spark.catalog.clearCache()`. Correct for
    * one-shot jobs; long-lived drivers should pass an explicit scope
    * and `release()` between corpora. */
  def unmanaged(): CacheScope = new CacheScope
}
