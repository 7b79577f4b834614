package graft.query

import graft.index.FtsSchema._

/** Driver-side warm-query cache — the reference daemon's in-process warm
  * index analog (daemon/cache.py:82-383 "5-50x speedup for repeated
  * queries"; server/cache/fts_index_cache.py TTL/size-bounded cache). The
  * reference serves EVERY query shape from that warm cache; this layer
  * does the same for exact, fuzzy, regex, phrase, language/path-filtered
  * AND line-range-filtered queries — every reference query shape.
  *
  * A search is the snapshot's one WAND top-k pipeline
  * ([[FtsIndex.wandSearch]]: nodes, expansion, dfs, candidate bound,
  * kernel, filter over-pull, rows) with this cache's LRUs in front of its
  * lookups. The cluster-side [[FtsIndex]] is the source of truth; this
  * layer keeps LRUs of QUERY-TOUCHED state on the driver:
  *   - posting blocks per (field, term) — fetched on first use by one
  *     `runJob` over the snapshot's key-addressed segment store
  *     ([[SnapshotStore]]): a hash lookup per partition, no query plan.
  *     The df gates run BEFORE any block fetch (df comes from the
  *     snapshot's driver dictionary, [[FtsIndex.dfsOf]], with no Spark
  *     job): when a term's posting list exceeds `maxDfCached`
  *     (stopword-grade, df ~ N), or the query's terms or summed df exceed
  *     `maxQueryTerms` / `maxQueryDf`, no block is collected to the
  *     driver and the same pipeline runs its kernel on the cluster: one
  *     `runJob` probing every segment-store partition, each partition's
  *     top-k merged here. This is what makes the cache safe against a
  *     100 TB index: only bounded posting lists ever land in driver
  *     memory.
  *   - fuzzy/regex dictionary expansions per alternative;
  *   - phrase alignments per (phrase, snapshot);
  *   - doc metadata (repo/path/lang/lines) and doc content rows by doc_id,
  *     fetched from the doc store by the same kind of `runJob`. A content
  *     row keeps its snippet state ([[SnapshotStore.DocEntry]]'s text
  *     view: the lowercased content and the line starts), built on its
  *     first hit, so a repeat hit lowercases and splits nothing — only
  *     the query's own match and one substring remain per hit.
  *
  * A cold query therefore runs at most two plain Spark jobs (blocks, then
  * rows) and ZERO SQL executions; df and fuzzy/regex expansion never
  * leave the driver. Subsequent queries whose state is hot answer
  * entirely on the driver — block-max WAND over cached blocks, zero Spark
  * jobs — in single-digit milliseconds.
  *
  * LIVE DELTAS: the cache keeps serving while delta generations exist —
  * the streaming regime, where the reference daemon never drops its warm
  * index (daemon/cache.py:82-383). The snapshot's delta-sized dead set
  * ([[FtsIndex.deadSet]]) keeps tombstoned docs out of the kernel; the
  * segments are base plus delta blocks, and df, N and avgdl come from the
  * snapshot's one dictionary, which sums its base and delta layers
  * ([[TermDict]]).
  *
  * The pipeline falls back to the exhaustive [[FtsIndex.searchCollected]]
  * in two cases only: the dead set is past its driver budget, or a
  * filtered query would over-pull more than `maxOverpull` candidates — so
  * a filtered limit=0 query over a rare word is served warm, and one over
  * a common word never collects 3x100000 candidate rows.
  *
  * Concurrency: each LRU has its own monitor, held only around map
  * get/put — never across a Spark job (miss population runs unlocked;
  * a racing duplicate fetch is idempotent). Concurrent hot queries
  * therefore proceed in parallel instead of serializing through one
  * coarse lock (the reference daemon's RW-lock shape, daemon/cache.py).
  *
  * The cache is pinned to one index snapshot ([[FtsIndex.fingerprint]]);
  * pair it with [[ReloadingFtsIndex]] to swap after upserts.
  */
class FtsQueryCache(private[query] val idx: FtsIndex, maxTerms: Int = 4096,
                    maxDocs: Int = 16384, maxDfCached: Long = 262144,
                    maxOverpull: Int = 16384,
                    /** bound on a single QUERY's total posting volume and
                      * expanded term count — a broad regex/fuzzy expansion
                      * whose terms are individually small can still sum to
                      * the whole index. */
                    maxQueryDf: Long = 1 << 20,
                    maxQueryTerms: Int = 1024,
                    /** the retiring snapshot's cache: state keyed by
                      * IMMUTABLE data (base posting blocks, doc rows —
                      * doc_ids are never reused across generations)
                      * carries over when the version dir is unchanged, so
                      * a delta append/fold doesn't cold-start the daemon.
                      * df/expansions/delta blocks are per-snapshot and
                      * start fresh. */
                    inheritFrom: Option[FtsQueryCache] = None) {
  import FtsIndex._
  import SnapshotStore.DocEntry

  private def lru[K, V](cap: Int) = graft.util.Lru[K, V](cap)

  // hit-ratio statistics (the reference cache exposes the same counters,
  // server/cache/fts_index_cache.py "hit-ratio stats"): how many searches
  // were answered entirely on the driver vs routed to the cluster, and
  // the posting-block LRU's hit ratio — LongAdders, so the hot path pays
  // one striped increment, never a lock
  private val warmServed = new java.util.concurrent.atomic.LongAdder
  private val clusterRouted = new java.util.concurrent.atomic.LongAdder
  private val blockHits = new java.util.concurrent.atomic.LongAdder
  private val blockMisses = new java.util.concurrent.atomic.LongAdder

  def stats: FtsQueryCache.CacheStats = FtsQueryCache.CacheStats(
    warmServed.sum(), clusterRouted.sum(), blockHits.sum(), blockMisses.sum())

  /** ONLY the inherited map references are captured — never the previous
    * cache object itself, which would pin its FtsIndex snapshot (dead
    * set, delta blocks, plans) and recursively every predecessor across
    * a long streaming session. */
  private val inheritedState = inheritFrom
    .filter(_.idx.versionDir == idx.versionDir)
    .map(p => (p.baseBlocks, p.metaRows, p.fullRows))

  /** Whether this cache inherited the previous snapshot's immutable state
    * (reload-without-cold-start spec hook). */
  private[graft] val inheritedFromPrev: Boolean = inheritedState.isDefined

  /** LRU (field, term) -> BASE posting blocks (shard < GenBase), sorted by
    * (shard, first_doc). Base segments are immutable for the lifetime of
    * a version dir — inherited across snapshot reloads. */
  private val baseBlocks
      : java.util.LinkedHashMap[(String, String), Array[SegmentBlock]] =
    inheritedState.map(_._1)
      .getOrElse(lru[(String, String), Array[SegmentBlock]](maxTerms))

  /** LRU (field, term) -> DELTA posting blocks (shard >= GenBase) of THIS
    * snapshot's generation list — never inherited. */
  private val deltaBlocks = lru[(String, String), Array[SegmentBlock]](maxTerms)

  /** LRU fuzzy/regex alternative -> expanded term list; per-snapshot (a
    * delta can add dictionary terms that match a pattern). */
  private val expansions = lru[FieldQ, Seq[TermQ]](256)

  /** LRU doc_id -> doc row without content: the filter columns plus the
    * chunk line range (1 / Long.MaxValue for whole-file docs, so the
    * line-overlap checks hold uniformly). Rows are immutable per doc_id
    * (ids are never reused): inherited. Dead docs never reach these
    * lookups — the kernel filters tombstones first. */
  private val metaRows: java.util.LinkedHashMap[Long, DocEntry] =
    inheritedState.map(_._2).getOrElse(lru[Long, DocEntry](maxDocs * 4))

  /** LRU doc_id -> doc row with content — fetched only for FINAL top-k
    * rows; immutable per doc_id: inherited. Each row holds its text view
    * once a hit built it, so the LRU's weight per row is the content
    * plus, for a case-insensitive literal match, its lowercased copy and
    * 4 B per line. */
  private val fullRows: java.util.LinkedHashMap[Long, DocEntry] =
    inheritedState.map(_._3).getOrElse(lru[Long, DocEntry](maxDocs))

  /** Weight-bounded LRU (field, terms) -> the phrase's posting blocks
    * ([[Wand.phraseBlocks]]: the docs where the terms sit at consecutive
    * positions, with phrase tf and dl, encoded like a term's blocks). The
    * position-adjacency sweep over two stopword-grade posting lists is
    * what dominates a phrase query — aligning once per (phrase, snapshot)
    * leaves a repeat phrase query only the kernel's block decodes.
    * Per-snapshot (delta blocks are aligned in); byte-bounded by the
    * blocks' encoded size. */
  private val phraseAligns =
    new graft.util.WeightedLru[(String, List[String]), Array[SegmentBlock]](
      64L << 20, _.iterator.map(_.n_bytes).sum)

  /** Fetch-or-load blocks for (field, term) pairs; ONE `runJob` over the
    * segment store for all misses together (outside the lock). Callers
    * must have df-gated the pairs already. The returned map is built from
    * hits + freshly fetched blocks directly — correctness never depends on
    * what survives the LRU.
    *
    * Base and delta parts cache separately: after a snapshot reload the
    * inherited base part is already hot. A fetch returns a term's blocks
    * from every partition, sorted by (shard, first_doc); the base/delta
    * split happens here. A delta part that is already cached is never
    * overwritten by a fetch made for the base part. */
  private def blocksFor(fts: Seq[(String, String)])
      : Map[(String, String), Array[SegmentBlock]] = {
    val genBase = graft.index.FtsDeltas.GenBase
    val hasDeltas = idx.hasDeltas
    val baseHits = baseBlocks.synchronized {
      fts.flatMap(ft => Option(baseBlocks.get(ft)).map(ft -> _)).toMap
    }
    val deltaHits: Map[(String, String), Array[SegmentBlock]] =
      if (!hasDeltas) fts.map(_ -> Array.empty[SegmentBlock]).toMap
      else deltaBlocks.synchronized {
        fts.flatMap(ft => Option(deltaBlocks.get(ft)).map(ft -> _)).toMap
      }
    val fullMiss = fts.filterNot(baseHits.contains)
    val deltaMiss =
      fts.filter(ft => baseHits.contains(ft) && !deltaHits.contains(ft))
    // base and delta lookups count as SEPARATE events: a base-hot /
    // delta-cold term after a snapshot reload (the inheritance case) is
    // one hit + one miss, not a full miss — otherwise the ratio reads
    // 0.0 for queries that skipped every base-block Spark fetch
    if (hasDeltas) {
      blockHits.add(baseHits.size + deltaHits.size)
      blockMisses.add(
        fullMiss.size + deltaMiss.size +
          fullMiss.count(ft => !deltaHits.contains(ft)))
    } else {
      blockHits.add(baseHits.size)
      blockMisses.add(fullMiss.size)
    }
    val (fetchedBase, fetchedDelta) =
      if (fullMiss.isEmpty && deltaMiss.isEmpty)
        (Map.empty[(String, String), Array[SegmentBlock]],
          Map.empty[(String, String), Array[SegmentBlock]])
      else {
        val got = idx.blocksOf(fullMiss ++ deltaMiss)
        def part(ft: (String, String), delta: Boolean) =
          got.getOrElse(ft, Array.empty[SegmentBlock])
            .filter(b => (b.shard >= genBase) == delta)
        val fb = fullMiss.map(ft => ft -> part(ft, delta = false)).toMap
        val fd = (fullMiss.filterNot(deltaHits.contains) ++ deltaMiss)
          .map(ft => ft -> part(ft, delta = true)).toMap
        baseBlocks.synchronized {
          fb.foreach { case (ft, bl) => baseBlocks.put(ft, bl) }
        }
        if (hasDeltas) deltaBlocks.synchronized {
          fd.foreach { case (ft, bl) => deltaBlocks.put(ft, bl) }
        }
        (fb, fd)
      }
    fts.map { ft =>
      val b = baseHits.getOrElse(ft,
        fetchedBase.getOrElse(ft, Array.empty[SegmentBlock]))
      val d = deltaHits.getOrElse(ft,
        fetchedDelta.getOrElse(ft, Array.empty[SegmentBlock]))
      ft -> (if (d.isEmpty) b else b ++ d)
    }.toMap
  }

  /** Doc rows by id — with content only for the FINAL top-k rows — in
    * ONE doc-store lookup for the ids missing from the LRU read. */
  private def rowsFor(ids: Seq[Long], withContent: Boolean)
      : Map[Long, DocEntry] = {
    val lru = if (withContent) fullRows else metaRows
    val hits = lru.synchronized {
      ids.flatMap(id => Option(lru.get(id)).map(id -> _)).toMap
    }
    val missing = ids.filterNot(hits.contains).distinct
    if (missing.isEmpty) return hits
    val got = idx.docRowsOf(missing, withContent)
    metaRows.synchronized {
      got.foreach { case (id, e) => metaRows.put(id, e.copy(content = null)) }
    }
    if (withContent) fullRows.synchronized {
      got.foreach { case (id, e) => fullRows.put(id, e) }
    }
    hits ++ got
  }

  /** Fuzzy/regex expansions, LRU-cached in front of
    * [[FtsIndex.expandAlts]] (the LRU spares a repeated regex its
    * milliseconds-long dictionary scan). The map is built from LRU hits +
    * the expandAlts return value directly — the LRU is only a cache, never
    * the source of truth (a query with more alternatives than the LRU
    * capacity must not read back its own evictions — ADVICE r03 #4). */
  private def expandCached(dyn: Seq[FieldQ]): Map[FieldQ, Seq[TermQ]] = {
    val hits = expansions.synchronized {
      dyn.flatMap(a => Option(expansions.get(a)).map(a -> _)).toMap
    }
    val missing = dyn.filterNot(hits.contains)
    if (missing.isEmpty) return hits
    val fresh = idx.expandAlts(missing)
    expansions.synchronized {
      fresh.foreach { case (a, ts) => expansions.put(a, ts) }
    }
    hits ++ fresh
  }

  /** Top-k search through the snapshot's WAND pipeline
    * ([[FtsIndex.wandSearch]]) with this cache's lookups; see the class
    * doc. Counts a query as routed when its kernel ran on the cluster or
    * it fell back to [[FtsIndex.searchCollected]]. */
  def search(q: FtsQuery): Seq[SearchResult] = {
    val lk = new CacheLookups
    val out = idx.wandSearch(q, lk)
    if (out == null || lk.routed) clusterRouted.increment()
    else warmServed.increment()
    if (out == null) idx.searchCollected(q) else out
  }

  /** One query's lookups through this cache's LRUs; `routed` records that
    * the df gates sent its kernel to the cluster. */
  private final class CacheLookups extends idx.Lookups(maxOverpull) {
    var routed = false
    override def expand(dyn: Seq[FieldQ]): Map[FieldQ, Seq[TermQ]] =
      expandCached(dyn)
    // the block-fetch gates: a stopword-grade term, a too-broad expansion
    // (e.g. regex ".*"), or a query whose SUMMED posting volume exceeds
    // the budget runs on the cluster — nothing index-sized is ever
    // collected to the driver
    override def blocks(fts: Seq[(String, String)],
                        dfs: Map[(String, String), Long])
        : Option[FieldQ => Array[SegmentBlock]] = {
      routed = fts.size > maxQueryTerms ||
        dfs.valuesIterator.exists(_ > maxDfCached) ||
        dfs.valuesIterator.sum > maxQueryDf
      if (routed) None
      else {
        val b = blocksFor(fts)
        Some {
          case TermQ(f, t) => b((f, t))
          case pq: PhraseQ => phraseBlocksFor(pq, b)
          case _ => Array.empty[SegmentBlock]
        }
      }
    }
    override def rows(ids: Seq[Long], withContent: Boolean)
        : Map[Long, DocEntry] = rowsFor(ids, withContent)
  }

  /** A phrase's aligned blocks, LRU-cached per (phrase, snapshot). */
  private def phraseBlocksFor(pq: PhraseQ,
                              blocks: Map[(String, String), Array[SegmentBlock]])
      : Array[SegmentBlock] = {
    val key = (pq.field, pq.terms.toList)
    phraseAligns.synchronized(Option(phraseAligns.get(key))).getOrElse {
      val out = Wand.phraseBlocks(pq.field,
        pq.terms.map(t => blocks((pq.field, t))))
      phraseAligns.synchronized(phraseAligns.put(key, out))
      out
    }
  }

  // ---- test hooks --------------------------------------------------------

  /** Whether a term's posting blocks were ever collected to the driver
    * (the df-gate spec asserts this stays false for stopword-grade terms). */
  private[graft] def hasBlocksFor(field: String, term: String): Boolean =
    baseBlocks.synchronized(baseBlocks.containsKey((field, term))) ||
      deltaBlocks.synchronized(deltaBlocks.containsKey((field, term)))

  /** The cached content row of a doc, if held (the text-view reuse spec
    * reads it). */
  private[graft] def fullRow(id: Long): Option[DocEntry] =
    fullRows.synchronized(Option(fullRows.get(id)))

  private[graft] def cachedTermCount: Int =
    baseBlocks.synchronized(baseBlocks.size()) +
      deltaBlocks.synchronized(deltaBlocks.size())
}

object FtsQueryCache {

  /** Cumulative serving counters of a cache instance. `blockHitRatio` is
    * per (field, term) LOOKUP EVENT: under live deltas each term makes a
    * base lookup and a delta lookup, counted separately — so a warm-base /
    * cold-delta reload (the inheritance case) reads as ~0.5, not 0.0.
    *
    * A top-level case class on purpose: an inner class value would carry
    * an `$outer` pointer pinning the whole cache (and its FtsIndex
    * snapshot) for as long as a caller retains the stats snapshot —
    * exactly the retention this class's `inheritFrom` discipline forbids. */
  final case class CacheStats(warmServed: Long, clusterRouted: Long,
                              blockHits: Long, blockMisses: Long) {
    def warmRatio: Double =
      if (warmServed + clusterRouted == 0) 0.0
      else warmServed.toDouble / (warmServed + clusterRouted)
    def blockHitRatio: Double =
      if (blockHits + blockMisses == 0) 0.0
      else blockHits.toDouble / (blockHits + blockMisses)
  }
}
