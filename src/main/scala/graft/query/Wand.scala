package graft.query

import graft.index.{Codec, FtsIndexBuilder}
import graft.index.FtsSchema.SegmentBlock

/** Block-max WAND top-k scorer (Ding & Suel BMW, public algorithm; the
  * basis of Tantivy/Lucene top-k pruning — north-star flagship operator).
  *
  * Runs per shard, INSIDE a `flatMapGroups` on the cluster or over the
  * warm cache's blocks on the driver (shard doc-id spaces are disjoint
  * and blocks never cross shards, so each shard is an independent
  * doc-aligned stream); per-shard top-k results merge into a global top-k.
  * Posting blocks are decoded LAZILY: a block whose upper bound
  * idf * bm25(max_tf, min_dl) cannot beat the running threshold θ is
  * skipped without ever being decompressed — that is the whole point of
  * storing block-max metadata next to the compressed postings.
  *
  * Query shape: AND over word-groups, each group an OR over cursors, one
  * per alternative (content + identifiers), matching the exhaustive
  * scorer's semantics. A cursor is a term's blocks, or a phrase's aligned
  * blocks ([[phraseBlocks]]); fuzzy/regex alternatives reach the kernel
  * already dictionary-expanded into terms.
  */
object Wand {


  final case class Scored(doc: Long, score: Double)

  /** Sorted set of tombstoned doc_ids — docs that still carry postings in
    * the segments (df/N keep counting them, the documented
    * eventual-consistency contract) but must never occupy a top-k heap
    * slot (they'd raise θ past alive docs ranked below them). Delta-sized:
    * one id per superseded document; built once per index snapshot
    * ([[FtsIndex.deadDocs]]) and broadcast to per-shard scorers. */
  final class DeadSet(sorted: Array[Long]) extends Serializable {
    def contains(d: Long): Boolean =
      sorted.length != 0 && java.util.Arrays.binarySearch(sorted, d) >= 0
    def isEmpty: Boolean = sorted.isEmpty
    def size: Int = sorted.length
  }
  object DeadSet {
    val empty = new DeadSet(Array.emptyLongArray)
    def apply(ids: Array[Long]): DeadSet = {
      val s = ids.clone(); java.util.Arrays.sort(s); new DeadSet(s)
    }
  }

  /** Cursor over one (field, term)'s blocks within a shard. */
  private final class TermCursor(blocks: Array[SegmentBlock],
                                 val idf: Double, avgdl: Double) {
    var decodedBlocks = 0 // instrumentation: pruning effectiveness
    private var bi = 0
    private var i = 0
    private var docsArr: Array[Long] = _
    private var tfsArr: Array[Long] = _
    private var dlsArr: Array[Long] = _

    val globalUB: Double = blocks.iterator.map(blockUB).max

    private def blockUB(blk: SegmentBlock): Double =
      FtsIndex.bm25Of(blk.max_tf.toDouble, blk.min_dl, avgdl, idf)

    def exhausted: Boolean = bi >= blocks.length

    /** Current doc without forcing a decode (block first_doc is exact). */
    def doc: Long =
      if (exhausted) Long.MaxValue
      else if (docsArr == null) blocks(bi).first_doc
      else docsArr(i)

    def currentBlockUB: Double = if (exhausted) 0.0 else blockUB(blocks(bi))
    def currentBlockLast: Long =
      if (exhausted) Long.MaxValue else blocks(bi).last_doc

    /** Move across whole blocks only (no decompression). */
    def advanceShallow(target: Long): Unit = {
      while (!exhausted && blocks(bi).last_doc < target) nextBlock()
    }

    private def nextBlock(): Unit = {
      bi += 1; i = 0; docsArr = null; tfsArr = null; dlsArr = null
    }

    private def decode(): Unit = if (docsArr == null) {
      val blk = blocks(bi)
      docsArr = Codec.decodeDeltas(blk.doc_bytes, blk.n)
      tfsArr = Codec.decodeVarints(blk.tf_bytes, blk.n)
      dlsArr = Codec.decodeVarints(blk.dl_bytes, blk.n)
      decodedBlocks += 1
    }

    /** Position at the first doc >= target (decodes the landing block). */
    def advanceTo(target: Long): Unit = {
      advanceShallow(target)
      if (exhausted) return
      if (docsArr == null && target <= blocks(bi).first_doc) return
      decode()
      var lo = i
      var hi = docsArr.length
      while (lo < hi) { // first index with doc >= target
        val mid = (lo + hi) >>> 1
        if (docsArr(mid) < target) lo = mid + 1 else hi = mid
      }
      i = lo
      if (i >= docsArr.length) { nextBlock() } // next block's first_doc >= target? not guaranteed; shallow again
      if (!exhausted && doc < target) advanceTo(target)
    }

    /** BM25 contribution at the current doc (requires positioning first). */
    def scoreCurrent(): Double = {
      decode()
      FtsIndex.bm25Of(tfsArr(i).toDouble, dlsArr(i), avgdl, idf)
    }
  }

  /** One query word: OR over field cursors. */
  private final class GroupCursor(val cursors: Array[TermCursor]) {
    def doc: Long = { var m = Long.MaxValue; cursors.foreach(c => if (c.doc < m) m = c.doc); m }
    def exhausted: Boolean = cursors.forall(_.exhausted)
    def advanceShallow(t: Long): Unit = cursors.foreach(_.advanceShallow(t))
    def advanceTo(t: Long): Unit = cursors.foreach(_.advanceTo(t))
    /** UB of this group for docs in [t, nextBoundary]. */
    def ubAt(t: Long): Double = {
      var s = 0.0
      cursors.foreach { c =>
        c.advanceShallow(t)
        if (!c.exhausted && c.doc <= c.currentBlockLast) s += c.currentBlockUB
      }
      s
    }
    def minBlockLast: Long = {
      var m = Long.MaxValue
      cursors.foreach(c => if (!c.exhausted && c.currentBlockLast < m) m = c.currentBlockLast)
      m
    }
    def scoreAt(d: Long): Double = {
      var s = 0.0
      cursors.foreach(c => if (!c.exhausted && c.doc == d) s += c.scoreCurrent())
      s
    }
    def matchedAt(d: Long): Boolean = cursors.exists(c => !c.exhausted && c.doc == d)
  }

  final case class WandStats(blocksTotal: Long, blocksDecoded: Long)

  /** Top-k AND-of-groups over one shard's blocks.
    *
    * @param groups   per query word: the (field,term) cursor specs as
    *                 (blocks sorted by first_doc, idf, avgdl)
    * @param k        heap size
    * @param floor    starting threshold (e.g. from already-merged shards)
    * @param dead     tombstoned doc_ids to skip (never scored, never in
    *                 the heap) — their postings still contribute to the
    *                 block-max bounds, which stay valid upper bounds
    */
  def topKShard(groups: Seq[Seq[(Array[SegmentBlock], Double, Double)]],
                k: Int, floor: Double = 0.0,
                dead: DeadSet = DeadSet.empty): (Seq[Scored], WandStats) = {
    val gcs = groups.map(g => new GroupCursor(
      g.map { case (bl, idf, avg) => new TermCursor(bl, idf, avg) }.toArray))
      .toArray
    if (gcs.exists(_.cursors.isEmpty)) return (Nil, WandStats(0, 0))
    val blocksTotal = groups.flatten.map(_._1.length.toLong).sum

    // min-heap of (score, doc) keeping the k best under the final result
    // ordering (score desc, doc asc): the worst member — the eviction
    // candidate at peek() — is the lowest score, and among exact score
    // ties the HIGHEST doc_id, so ties at the k boundary resolve exactly
    // like the exhaustive path's orderBy(desc(score), asc(doc_id))
    val heap = new java.util.PriorityQueue[Scored](
      math.max(k, 1), (a: Scored, b: Scored) => {
        val c = java.lang.Double.compare(a.score, b.score)
        if (c != 0) c else java.lang.Long.compare(b.doc, a.doc)
      })
    // θ is nextDown(kth score): a doc scoring EXACTLY the kth score may
    // still enter on the doc_id tie-break, so it must not be pruned
    def theta: Double =
      if (heap.size < k) floor
      else math.max(floor, Math.nextDown(heap.peek().score))

    var done = false
    while (!done) {
      // candidate = max of group docs (AND: every group must reach it)
      var d = Long.MinValue
      var anyExhausted = false
      gcs.foreach { g =>
        val gd = g.doc
        if (gd == Long.MaxValue) anyExhausted = true
        if (gd > d) d = gd
      }
      if (anyExhausted || d == Long.MaxValue) done = true
      else {
        // block-max upper bound at d across all groups (shallow, no decode)
        var ub = 0.0
        gcs.foreach(g => ub += g.ubAt(d))
        // an external floor (already-merged shards) prunes even before the
        // local heap fills: docs bounded by it cannot enter the GLOBAL
        // top-k (callers pass nextDown(kth) so score ties survive)
        if (ub <= theta && (heap.size >= k || floor > 0.0)) {
          // cannot beat θ anywhere in the current block alignment:
          // jump past the nearest block boundary
          var boundary = Long.MaxValue
          gcs.foreach(g => { val b = g.minBlockLast; if (b < boundary) boundary = b })
          val next = if (boundary == Long.MaxValue) Long.MaxValue else boundary + 1
          if (next <= d) gcs.foreach(_.advanceTo(d + 1))
          else gcs.foreach(_.advanceShallow(next))
        } else {
          // align all groups at d
          gcs.foreach(_.advanceTo(d))
          val aligned = gcs.forall(g => g.doc == d && g.matchedAt(d))
          if (aligned) {
            // a tombstoned doc is matched but never scored — it must not
            // occupy a heap slot (and θ must not rise past alive docs)
            if (!dead.contains(d)) {
              var s = 0.0
              gcs.foreach(g => s += g.scoreAt(d))
              if (heap.size < k) heap.add(Scored(d, s))
              else {
                val worst = heap.peek()
                // tie at the boundary: the lower doc_id wins
                if (s > worst.score || (s == worst.score && d < worst.doc)) {
                  heap.poll(); heap.add(Scored(d, s))
                }
              }
            }
            gcs.foreach(_.advanceTo(d + 1))
          }
          // groups that jumped past d define the next candidate naturally
        }
      }
    }
    val out = new Array[Scored](heap.size)
    var idx = heap.size - 1
    while (idx >= 0) { out(idx) = heap.poll(); idx -= 1 }
    val decoded = gcs.flatMap(_.cursors).map(_.decodedBlocks.toLong).sum
    (out.toSeq.sortBy(s => (-s.score, s.doc)), WandStats(blocksTotal, decoded))
  }

  /** Block size of [[phraseBlocks]]: the builder's default. */
  private val PhraseBlockSize = 128

  /** A phrase's postings as the blocks of one more cursor: the docs where
    * the terms sit at consecutive positions, each with tf = the phrase
    * frequency ([[FtsIndex.phraseFreq]]) and dl = the first term's dl —
    * what [[FtsIndex.scoreDoc]] scores for a phrase. `perTerm` holds each
    * phrase term's blocks in phrase order, every shard, sorted by (shard,
    * first_doc). The result is sorted the same way and encoded by the
    * builder's block encoder one shard at a time, so no block spans a
    * shard and max_tf / min_dl bound each block as they do for a term. */
  def phraseBlocks(field: String,
                   perTerm: Seq[Array[SegmentBlock]]): Array[SegmentBlock] = {
    if (perTerm.isEmpty || perTerm.exists(_.isEmpty)) return Array.empty
    val label = perTerm.map(_.head.term).mkString(" ")
    // one term's postings in a shard: sorted docs, dls, position lists
    def decode(bls: Array[SegmentBlock])
        : (Array[Long], Array[Long], Array[Array[Int]]) = {
      val docs = Array.newBuilder[Long]
      val dls = Array.newBuilder[Long]
      val pos = Array.newBuilder[Array[Int]]
      bls.foreach { b =>
        docs ++= Codec.decodeDeltas(b.doc_bytes, b.n)
        dls ++= Codec.decodeVarints(b.dl_bytes, b.n)
        val pr = new Codec.VarIntReader(b.pos_bytes)
        Codec.decodeVarints(b.tf_bytes, b.n)
          .foreach(tf => pos += pr.readDeltaList(tf.toInt))
      }
      (docs.result(), dls.result(), pos.result())
    }
    val byShard = perTerm.map(_.groupBy(_.shard))
    val shards = byShard.map(_.keySet).reduce(_ intersect _).toSeq.sorted
    shards.iterator.flatMap { sh =>
      val ps = byShard.map(m => decode(m(sh)))
      val (docs, dls, pos) = ps.head
      val aligned = docs.indices.iterator.flatMap { i =>
        val js = ps.tail.map(p => java.util.Arrays.binarySearch(p._1, docs(i)))
        val pf =
          if (js.exists(_ < 0)) 0
          else FtsIndex.phraseFreq(
            pos(i) +: ps.tail.zip(js).map { case (p, j) => p._3(j) })
        if (pf == 0) None
        else Some((sh, field, label, docs(i), dls(i), pf.toLong,
          Array.emptyByteArray))
      }
      FtsIndexBuilder.encodePartition(aligned, PhraseBlockSize)
    }.toArray
  }
}
