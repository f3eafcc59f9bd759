package graft

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.message.StringMapMessage
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Dataset-keyed registry of persisted shared frames (signature/band
  * caches and similar per-dataset artifacts that several queries scan).
  *
  * Replaces the earlier single-slot caches, which thrashed when two
  * datasets alternated (each call rebuilt + re-persisted the other
  * dataset's frame): entries are keyed by (tag, session, dataset path) —
  * mirroring [[ScratchDirs.materializedPath]]'s keying for on-disk
  * layouts — so interleaved datasets each keep their cache entry warm.
  * Keys are accessed LRU; past [[MaxEntries]] the stalest frame is
  * unpersisted on evict, bounding pinned executor storage for a
  * long-lived session that touches many datasets.
  *
  * Each build, hit and evict logs one INFO map message (`event` =
  * `cache_build` / `cache_hit` / `cache_evict`, `key`) on the
  * `graft.CachedFrames` logger.
  */
object CachedFrames {

  /** Must exceed the number of distinct per-dataset artifact keys one
    * full query-suite pass touches (currently ~20: 8 PQ subquantizer
    * codebooks, 2 SimHash band widths, LSH bands, k-means emb/cent/asg
    * at two cluster counts, the IVF pair frame, the MAD histogram, PQ
    * codes, the pipeline stage frame) with headroom for a few
    * interleaved datasets. At 16 the
    * bench's interleaved passes evicted the k-means/PQ artifacts every
    * pass and re-trained them per query — ~19 s across the suite once
    * the trained geometry scaled to k≈√n (r8). Frames are
    * MEMORY_AND_DISK, so a large cap costs spill space, not OOM risk. */
  private[graft] val MaxEntries = 64

  /** One registry slot: the build thunk runs under the ENTRY's lock
    * (first caller builds, concurrent same-key callers block on it),
    * not the registry's — so independent artifacts can build
    * CONCURRENTLY (r21, guide §2.6: the PQ sub-codebook trainings are 8
    * independent job chains that the old whole-registry lock
    * serialized). Eviction unpersists only an already-built frame —
    * forcing an unbuilt thunk just to drop it would train an artifact
    * nobody asked for. */
  private final class Entry(build0: () => DataFrame, level: StorageLevel) {
    @volatile private var res: DataFrame = null
    def df: DataFrame = this.synchronized {
      if (res == null) res = build0().persist(level)
      res
    }
    def unpersistIfBuilt(): Unit = {
      val r = res
      if (r != null) r.unpersist(blocking = false)
    }
  }

  private val log = LogManager.getLogger(getClass.getName.stripSuffix("$"))

  private def logEvent(event: String, key: String): Unit =
    if (log.isInfoEnabled)
      log.info(new StringMapMessage().`with`("event", event).`with`("key", key))

  private val cache =
    new java.util.LinkedHashMap[String, Entry](MaxEntries, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Entry]): Boolean =
        if (this.size() > MaxEntries) {
          logEvent("cache_evict", e.getKey)
          e.getValue.unpersistIfBuilt()
          true
        } else false
    }

  /** Cache key scoped to the session: a stopped-and-replaced session's
    * frames are dead (their session state is gone), so entries must not
    * outlive it into a same-path lookup from a new session. */
  private[graft] def sessionKey(s: SparkSession): String =
    s"${s.sparkContext.applicationId}#${System.identityHashCode(s)}"

  /** The persisted frame for `key`, built (and persisted
    * MEMORY_AND_DISK) only on the first request — later callers get the
    * SAME DataFrame instance, so downstream plans share one cache entry
    * by construction instead of relying on plan canonicalization.
    *
    * `level` tiers the entry: a frame that is CHEAPLY DERIVABLE from
    * another cached frame (one combinable fold — e.g. the contact pair
    * graph from the hourly rollup) passes MEMORY_ONLY, so under memory
    * pressure it is the first to yield and costs a one-stage recompute
    * instead of holding a second disk copy of information the cache
    * already has (r19 ADVICE: the MEMORY_AND_DISK default doubled the
    * contact family's executor-storage footprint). */
  def getOrBuild(key: String,
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK)(
      build: => DataFrame): DataFrame = {
    // registry lock held only for the map access; the (possibly slow)
    // build itself runs under the per-entry lock so distinct keys never
    // serialize on each other. Nested getOrBuild from inside a build
    // (pq codes → sub-codebooks) takes entry locks in caller→callee
    // order only, and the registry section takes no entry lock, so the
    // ordering is acyclic.
    val entry = synchronized {
      val hit = cache.get(key)
      if (hit != null) { logEvent("cache_hit", key); hit }
      else {
        logEvent("cache_build", key)
        val e = new Entry(() => build, level)
        cache.put(key, e)
        e
      }
    }
    entry.df
  }

  private[graft] def size: Int = synchronized(cache.size())
}
