package graft.query

import org.apache.spark.sql.{Dataset, SparkSession}

/** Long-lived handle over an index root that reloads on access when the
  * on-disk state moves — new delta generations appended by
  * [[graft.index.FtsDeltas]] or a full `current`-pointer swap after a
  * rebuild/compaction.
  *
  * Reference analog: the daemon's FTS index cache tracks staleness by
  * rebuild-uuid and reloads on access (server/cache/fts_index_cache.py:34-47,
  * daemon/cache.py:82-383). Here the fingerprint is the live version dir
  * plus the sorted delta-generation list; each access compares it (no
  * Spark job, but not free: it opens and reads the `current` pointer file
  * through the checksummed filesystem, then stats and lists `deltas/` —
  * a few percent of a warm hit's time) and swaps in a freshly warmed
  * [[FtsIndex]] when it changed, unpersisting the stale one.
  */
class ReloadingFtsIndex(spark: SparkSession, root: String,
                        warmOnLoad: Boolean = true) {

  @volatile private var cur: FtsIndex = load()
  @volatile private var cache: FtsQueryCache = new FtsQueryCache(cur)

  private def load(): FtsIndex = {
    val idx = new FtsIndex(spark, root)
    if (warmOnLoad) idx.warm() else idx
  }

  /** The current (fresh) index, reloading first if the root moved. The
    * fingerprint is RE-READ inside the lock (the same pointer read and
    * listing): with two readers racing a publish, comparing against the
    * pre-lock read would reload — and re-warm — a snapshot a sibling just
    * swapped in. */
  def index: FtsIndex = {
    if (FtsIndex.fingerprint(spark, root) != cur.fingerprint) synchronized {
      if (FtsIndex.fingerprint(spark, root) != cur.fingerprint) {
        val stale = cur
        cur = load()
        // per-snapshot state (df, expansions, delta blocks, dead set)
        // resets; immutable state (base blocks, doc rows) carries over
        // when only the delta list moved — a microbatch append doesn't
        // cold-start the warm path
        cache = new FtsQueryCache(cur, inheritFrom = Some(cache))
        stale.cool()
      }
    }
    cur
  }

  /** The current snapshot's driver cache (test hook). */
  private[graft] def currentCache: FtsQueryCache = cache

  def search(q: FtsQuery): Dataset[SearchResult] = index.search(q)
  def searchCollected(q: FtsQuery): Seq[SearchResult] = index.searchCollected(q)
  def searchWand(q: FtsQuery): Seq[SearchResult] = index.searchWand(q)

  /** Warm-cache search against the CURRENT snapshot (ms-scale when hot;
    * the cache is swapped atomically with the index on reload). */
  def searchCached(q: FtsQuery): Seq[SearchResult] = {
    index // trigger staleness check + possible swap
    cache.search(q)
  }
}
