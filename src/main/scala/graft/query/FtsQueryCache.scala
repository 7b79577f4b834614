package graft.query

import graft.functions.PathGlob
import graft.index.FtsSchema._

/** Driver-side warm-query cache — the reference daemon's in-process warm
  * index analog (daemon/cache.py:82-383 "5-50x speedup for repeated
  * queries"; server/cache/fts_index_cache.py TTL/size-bounded cache). The
  * reference serves EVERY query shape from that warm cache; this layer
  * does the same for exact, fuzzy, regex, phrase, language/path-filtered
  * AND line-range-filtered queries — every reference query shape.
  *
  * The cluster-side [[FtsIndex]] is the source of truth; this layer keeps
  * LRUs of QUERY-TOUCHED state on the driver:
  *   - posting blocks per (field, term) — fetched on first use by one
  *     `runJob` over the snapshot's key-addressed segment store
  *     ([[SnapshotStore]]): a hash lookup per partition, no query plan;
  *   - df per (field, term), read from the snapshot's driver dictionary
  *     ([[FtsIndex.dfsOf]], the one df source; a binary search, no Spark
  *     job) and consulted BEFORE any block fetch: a term
  *     whose posting list exceeds `maxDfCached` (stopword-grade, df ~ N)
  *     is never collected to the driver; the whole query routes to the
  *     cluster WAND path instead. This is what makes the cache safe
  *     against a 100 TB index — the df lookup is a dictionary point query,
  *     and only bounded posting lists ever land in driver memory.
  *   - fuzzy/regex dictionary expansions per alternative;
  *   - doc metadata (repo/path/lang) and doc content rows by doc_id, fetched
  *     from the doc store by the same kind of `runJob`.
  *
  * A cold query therefore runs at most two plain Spark jobs (blocks, then
  * rows) and ZERO SQL executions; df and fuzzy/regex expansion never
  * leave the driver. Subsequent queries whose state
  * is hot answer entirely on the driver — block-max WAND over cached
  * blocks, a phrase being one more cursor over its aligned blocks, zero
  * Spark jobs — in single-digit milliseconds.
  *
  * LIVE DELTAS: the cache keeps serving while delta generations exist —
  * the streaming regime, where the reference daemon never drops its warm
  * index (daemon/cache.py:82-383). The snapshot's delta-sized dead-doc set
  * ([[FtsIndex.deadDocs]]) filters tombstoned docs out of every driver
  * scorer; segments/dict/N/avgdl are already delta-merged by [[FtsIndex]].
  * Only a dead set past its driver budget falls back to the cluster.
  *
  * Filtered queries run WAND with an over-pull, then apply the reference's
  * filter precedence (lang-excl, lang-incl, path-excl, path-incl —
  * tantivy_index_manager.py:642-678) driver-side and re-pull with a larger
  * k until k results survive or the match stream is exhausted — EXACT
  * filter-then-top-k semantics (the reference's own daemon overfetches x3
  * and accepts recall loss; we grow until exact). The pull is bounded by
  * the query's candidate bound B, read from the dfs the gates above
  * already looked up: a match of an AND node matches one of its
  * alternatives, so B = min over nodes of the summed alternative df (a
  * phrase counts its rarest term's df). df also counts dead and delta
  * docs, so B bounds the alive matches from above. The first pull takes
  * min(max(3k, 30), B) candidates, a pull of B candidates is final, and
  * the query falls back to the cluster only when more than `maxOverpull`
  * candidates would reach the driver — so a filtered limit=0 query over a
  * rare word is served warm, and one over a common word never collects
  * 3x100000 candidate rows.
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
    .map(p => (p.baseBlocks, p.metaRows, p.contentRows))

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

  /** LRU doc_id -> (repo, path, lang, line_start, line_end) — the filter
    * columns plus the chunk line range (1 / Long.MaxValue for whole-file
    * docs, so the line-overlap checks hold uniformly). Rows are
    * immutable per doc_id (ids are never reused): inherited. Dead docs
    * never reach these lookups — every scorer filters tombstones first. */
  private val metaRows
      : java.util.LinkedHashMap[Long, (String, String, String, Int, Long)] =
    inheritedState.map(_._2)
      .getOrElse(lru[Long, (String, String, String, Int, Long)](maxDocs * 4))

  /** LRU doc_id -> content — fetched only for FINAL top-k rows; immutable
    * per doc_id: inherited. */
  private val contentRows: java.util.LinkedHashMap[Long, String] =
    inheritedState.map(_._3).getOrElse(lru[Long, String](maxDocs))

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

  /** The snapshot's tombstone filter (delta-sized, loaded once, by ONE
    * Spark job on first use). None = too large for the driver budget. */
  private lazy val deadSet: Option[Wand.DeadSet] =
    idx.deadDocs.map(ids => new Wand.DeadSet(ids)) // sorted by construction

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

  private def metaFor(ids: Seq[Long])
      : Map[Long, (String, String, String, Int, Long)] = {
    val hits = metaRows.synchronized {
      ids.flatMap(id => Option(metaRows.get(id)).map(id -> _)).toMap
    }
    val missing = ids.filterNot(hits.contains)
    if (missing.isEmpty) return hits
    val got = idx.docRowsOf(missing, withContent = false)
      .map { case (id, e) => id -> (e.repo, e.path, e.lang, e.ls, e.le) }
    metaRows.synchronized {
      got.foreach { case (id, row) => metaRows.put(id, row) }
    }
    hits ++ got
  }

  /** Meta AND content rows for the FINAL top-k ids in ONE doc-store lookup.
    * Ids missing from EITHER cache are fetched together; both LRUs are
    * populated. */
  private def rowsFor(ids: Seq[Long])
      : (Map[Long, (String, String, String, Int, Long)], Map[Long, String]) = {
    val metaHits = metaRows.synchronized {
      ids.flatMap(id => Option(metaRows.get(id)).map(id -> _)).toMap
    }
    val contentHits = contentRows.synchronized {
      ids.flatMap(id => Option(contentRows.get(id)).map(id -> _)).toMap
    }
    val missing = ids.filter(id =>
      !metaHits.contains(id) || !contentHits.contains(id)).distinct
    if (missing.isEmpty) return (metaHits, contentHits)
    val got = idx.docRowsOf(missing, withContent = true)
    val gotMeta = got.map { case (id, e) =>
      id -> (e.repo, e.path, e.lang, e.ls, e.le) }
    val gotContent = got.map { case (id, e) => id -> e.content }
    metaRows.synchronized {
      gotMeta.foreach { case (id, row) => metaRows.put(id, row) }
    }
    contentRows.synchronized {
      gotContent.foreach { case (id, c) => contentRows.put(id, c) }
    }
    (metaHits ++ gotMeta, contentHits ++ gotContent)
  }

  /** Expand fuzzy/regex alternatives, LRU-cached; one scan of the driver
    * dictionary per missing alternative (via [[FtsIndex.expandAlts]] — the
    * same expansion the cluster path runs, so results are identical by
    * construction; the LRU spares a repeated regex its milliseconds-long
    * scan). The per-call map is built from LRU hits + the expandAlts return value
    * directly — the LRU is only a cache, never the source of truth (a
    * query with more alternatives than the LRU capacity must not read
    * back its own evictions — ADVICE r03 #4). */
  private def expandLocal(nodes: Seq[Node]): Seq[Node] = {
    val dyn = nodes.flatMap(_.alts).collect {
      case f: FuzzyQ => f: FieldQ
      case r: RegexQ => r: FieldQ
    }.distinct
    if (dyn.isEmpty) return nodes
    val hits = expansions.synchronized {
      dyn.flatMap(a => Option(expansions.get(a)).map(a -> _)).toMap
    }
    val missing = dyn.filterNot(hits.contains)
    val fresh: Map[FieldQ, Seq[TermQ]] =
      if (missing.isEmpty) Map.empty
      else idx.expandAlts(missing)
    if (fresh.nonEmpty) expansions.synchronized {
      fresh.foreach { case (a, ts) => expansions.put(a, ts) }
    }
    val all = hits ++ fresh
    nodes.map { nd =>
      Node(nd.alts.flatMap {
        case a: FuzzyQ => all(a)
        case a: RegexQ => all(a)
        case a => Seq(a)
      })
    }
  }

  /** The reference's post-filter precedence (Q5-Q8) plus the chunk
    * line-range overlap (Q9 note), driver-side mirror of FtsIndex.search's
    * filtered branch (incl. the facet-vs-extension expansion quirk).
    * Whole-file docs carry (ls=1, le=Long.MaxValue), making the overlap
    * checks uniform. */
  private def passesFilters(q: FtsQuery, lang: String,
                            pathMatch: String => Boolean,
                            pathExcl: String => Boolean,
                            path: String, ls: Int, le: Long): Boolean = {
    if (q.excludeLanguages.nonEmpty) {
      val excl = LanguageMap.extensions(q.excludeLanguages)
      if (excl.contains(lang)) return false
      if (q.languages.nonEmpty &&
          !LanguageMap.extensions(q.languages).contains(lang)) return false
    } else if (q.languages.nonEmpty && !q.languages.contains(lang))
      return false
    if (q.excludePathFilters.nonEmpty && pathExcl(path)) return false
    if (q.pathFilters.nonEmpty && !pathMatch(path)) return false
    if (q.minLine.exists(m => le < m)) return false
    if (q.maxLine.exists(m => ls > m)) return false
    true
  }

  /** Route a query to the cluster WAND path (which falls back further),
    * counting the fallback for [[stats]]. */
  private def routeCluster(q: FtsQuery): Seq[SearchResult] = {
    clusterRouted.increment()
    idx.searchWand(q)
  }

  /** Warm top-k search over cached state; see class doc for the supported
    * shapes. Falls back to [[FtsIndex.searchWand]] (which falls back
    * further) whenever a shape or budget rules the driver path out. */
  def search(q: FtsQuery): Seq[SearchResult] = {
    val out = searchDriver(q)
    if (out != null) { warmServed.increment(); out }
    else routeCluster(q)
  }

  /** The driver-side path; null = route to the cluster (the counters and
    * the single fallback call site live in [[search]]). */
  private def searchDriver(q: FtsQuery): Seq[SearchResult] = {
    idx.validate(q)
    // live deltas: keep serving warm, filtering tombstoned docs out of
    // every scorer below; only an oversized dead set leaves the driver
    val dead: Wand.DeadSet = deadSet match {
      case Some(d) => d
      case None => return null
    }
    val nodes = expandLocal(idx.buildNodes(q))
    if (nodes.isEmpty) return Nil
    if (nodes.exists(_.alts.isEmpty)) return Nil // AND: unmatched word
    val fts = nodes.flatMap(_.alts.flatMap {
      case TermQ(f, t) => Seq((f, t))
      case PhraseQ(f, ts) => ts.map((f, _))
      case _ => Nil
    }).distinct

    // the block-fetch gates: a stopword-grade term, a too-broad expansion
    // (e.g. regex ".*"), or a query whose SUMMED posting volume exceeds
    // the budget routes to the cluster — nothing index-sized is ever
    // collected to the driver
    if (fts.size > maxQueryTerms) return null
    val dfs = idx.dfsOf(fts)
    if (dfs.valuesIterator.exists(_ > maxDfCached) ||
        dfs.valuesIterator.sum > maxQueryDf) return null
    // the candidate bound B of the class doc
    val bound: Long = nodes.map(_.alts.map {
      case TermQ(f, t) => dfs((f, t))
      case PhraseQ(f, ts) => ts.map(t => dfs((f, t))).min
      case _ => 0L
    }.sum).min
    if (bound == 0) return Nil

    val k = if (q.limit == 0) 100000 else q.limit
    val snippetLines = if (q.limit == 0) 0 else q.snippetLines
    val blocks = blocksFor(fts)
    val idfs = dfs.map { case (ft, df) => ft -> FtsIndex.idfOf(idx.nDocs, df) }
    // one kernel cursor per alternative: a term's blocks and idf, or a
    // phrase's aligned blocks and the sum of its terms' idfs (the phrase
    // weight of FtsIndex.scoreDoc)
    val groups = nodes.map(_.alts.collect {
      case TermQ(f, t) => (blocks((f, t)), idfs((f, t)), f)
      case pq @ PhraseQ(f, ts) =>
        (phraseBlocksFor(pq, blocks), ts.map(t => idfs((f, t))).sum, f)
    })
    /** The top kk candidates, and whether they are every match. */
    def pullTopK(kk: Int): (Seq[Wand.Scored], Boolean) = {
      val got = wandLocal(groups, kk, dead)
      (got, got.size < kk || kk >= bound)
    }

    val top: Seq[Wand.Scored] =
      if (!q.hasFilters) pullTopK(k)._1
      else {
        // the documented contract: beyond maxOverpull candidates the query
        // belongs on the cluster — checked BEFORE the first pull too, so a
        // filtered limit=0 query (k=100000) over a common word never
        // collects its candidates' metadata through the driver, while one
        // whose bound B is small is answered here in one pull
        var kk = math.min(math.max(3 * k, 30).toLong, bound).toInt
        if (kk > maxOverpull) return null
        val pathMatch = PathGlob.anyMatcher(q.pathFilters)
        val pathExcl = PathGlob.anyMatcher(q.excludePathFilters)
        var out: Option[Seq[Wand.Scored]] = None
        while (out.isEmpty) {
          val (cands, exhausted) = pullTopK(kk)
          val meta = metaFor(cands.map(_.doc))
          val kept = cands.filter { s =>
            meta.get(s.doc).exists { case (_, path, lang, ls, le) =>
              passesFilters(q, lang, pathMatch, pathExcl, path, ls, le)
            }
          }
          if (kept.size >= k || exhausted) out = Some(kept.take(k))
          else if (kk >= maxOverpull) return null
          else kk = math.min(math.min(4L * kk, bound), maxOverpull.toLong).toInt
        }
        out.get
      }
    if (top.isEmpty) return Nil

    // top is ordered (score desc, doc asc) by the kernel already
    val (meta, content) = rowsFor(top.map(_.doc))
    top.flatMap { s =>
      meta.get(s.doc).map { case (repo, path, lang, ls, _) =>
        FtsIndex.hitOf(q, snippetLines, s.doc, repo, path, lang,
          content.getOrElse(s.doc, ""), ls, s.score)
      }
    }
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

  /** Driver WAND over cached blocks: shards run sequentially so the θ
    * floor carries across them — the cross-shard pruning the distributed
    * path cannot do (nextDown keeps exact-score ties alive for the doc_id
    * tie-break). */
  private def wandLocal(groups: Seq[Seq[(Array[SegmentBlock], Double, String)]],
                        k: Int, dead: Wand.DeadSet): Seq[Wand.Scored] = {
    val shards = groups.flatten.flatMap(_._1.map(_.shard)).distinct.sorted
    val collected = scala.collection.mutable.ArrayBuffer.empty[Wand.Scored]
    var floor = 0.0
    shards.foreach { sh =>
      val shardGroups = groups.map(_.flatMap { case (bl, idf, f) =>
        val own = bl.filter(_.shard == sh)
        if (own.isEmpty) None else Some((own, idf, idx.avgdl(f)))
      })
      if (!shardGroups.exists(_.isEmpty)) {
        collected ++= Wand.topKShard(shardGroups, k, floor, dead)._1
        if (collected.size >= k) {
          val kth = collected.sortBy(s => (-s.score, s.doc)).apply(k - 1)
          floor = Math.nextDown(kth.score)
        }
      }
    }
    collected.sortBy(s => (-s.score, s.doc)).take(k).toSeq
  }

  // ---- test hooks --------------------------------------------------------

  /** Whether a term's posting blocks were ever collected to the driver
    * (the df-gate spec asserts this stays false for stopword-grade terms). */
  private[graft] def hasBlocksFor(field: String, term: String): Boolean =
    baseBlocks.synchronized(baseBlocks.containsKey((field, term))) ||
      deltaBlocks.synchronized(deltaBlocks.containsKey((field, term)))

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
