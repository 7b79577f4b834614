package graft.query

import org.scalatest.funsuite.AnyFunSuite

import graft.index.{Codec, FtsIndexBuilder}
import graft.index.FtsSchema.SegmentBlock

/** [[Wand.phraseBlocks]]: a phrase's aligned postings are block-encoded
  * like a term's, so they can be one more cursor of the block-max WAND
  * kernel. Pure: synthetic posting blocks, no Spark. */
class PhraseBlocksSpec extends AnyFunSuite {

  private val shardBase = Seq(0 -> 0L, 1 -> (1L << 40))
  private val nDocs = 400

  /** Doc i of a shard: "alpha" at positions 2 and 7; "beta" depends on
    * i % 4 — 0: at 3 (phrase tf 1), 1: at 3 and 8 (tf 2), 2: at 5 (both
    * terms, never adjacent), 3: absent. dl = 20 + i % 7. */
  private def positions(term: String, i: Int): Option[Array[Int]] =
    if (term == "alpha") Some(Array(2, 7))
    else i % 4 match {
      case 0 => Some(Array(3))
      case 1 => Some(Array(3, 8))
      case 2 => Some(Array(5))
      case _ => None
    }

  private def dl(i: Int): Long = 20L + i % 7

  /** A term's blocks over both shards, sorted by (shard, first_doc). */
  private def termBlocks(term: String): Array[SegmentBlock] =
    shardBase.flatMap { case (sh, base) =>
      val rows = (0 until nDocs).iterator.flatMap { i =>
        positions(term, i).map(ps => (sh, "content", term, base + i, dl(i),
          ps.length.toLong, Codec.encodeDeltas(ps.map(_.toLong))))
      }
      FtsIndexBuilder.encodePartition(rows, 128)
    }.toArray

  private def decode(b: SegmentBlock) =
    (Codec.decodeDeltas(b.doc_bytes, b.n), Codec.decodeVarints(b.tf_bytes, b.n),
      Codec.decodeVarints(b.dl_bytes, b.n))

  test("phraseBlocks: per-shard disjoint sorted blocks of the adjacent " +
       "docs, tf = phrase frequency, bounding max_tf / min_dl") {
    val out = Wand.phraseBlocks("content",
      Seq(termBlocks("alpha"), termBlocks("beta")))
    val byShard = out.groupBy(_.shard)
    assert(byShard.keySet === Set(0, 1), "phrase docs fall in both shards")
    // the result is ordered by (shard, first_doc)
    assert(out.map(b => (b.shard, b.first_doc)).toSeq ===
      out.map(b => (b.shard, b.first_doc)).sorted.toSeq)

    shardBase.foreach { case (sh, base) =>
      val bs = byShard(sh)
      assert(bs.length >= 2, s"shard $sh needs several blocks")
      bs.sliding(2).foreach { case Array(a, b) =>
        assert(a.last_doc < b.first_doc,
          s"blocks [${a.first_doc}, ${a.last_doc}] and " +
            s"[${b.first_doc}, ${b.last_doc}] overlap in shard $sh")
        case _ =>
      }
      val seen = bs.flatMap { b =>
        assert(b.field === "content")
        val (docs, tfs, dls) = decode(b)
        assert(docs.head === b.first_doc && docs.last === b.last_doc)
        assert(tfs.forall(_ <= b.max_tf) && tfs.contains(b.max_tf))
        assert(dls.forall(_ >= b.min_dl) && dls.contains(b.min_dl))
        docs.indices.map { j =>
          val i = (docs(j) - base).toInt
          val pf = FtsIndex.phraseFreq(
            Seq(positions("alpha", i).get, positions("beta", i).get))
          assert(tfs(j) === pf.toLong, s"tf of doc ${docs(j)}")
          assert(tfs(j) === (if (i % 4 == 0) 1L else 2L))
          assert(dls(j) === dl(i), "dl is the first term's dl")
          i
        }
      }
      // exactly the adjacent docs: co-occurring but non-adjacent (i % 4
      // == 2) and alpha-only (i % 4 == 3) docs are absent
      assert(seen.toSeq === (0 until nDocs).filter(_ % 4 < 2))
      assert(!seen.contains(2), "non-adjacent doc 2 must be absent")
    }
  }

  test("phraseBlocks: a term with no postings, or no shard in common, " +
       "gives no blocks") {
    assert(Wand.phraseBlocks("content",
      Seq(termBlocks("alpha"), Array.empty[SegmentBlock])).isEmpty)
    val alphaShard0 = termBlocks("alpha").filter(_.shard == 0)
    val betaShard1 = termBlocks("beta").filter(_.shard == 1)
    assert(Wand.phraseBlocks("content", Seq(alphaShard0, betaShard1)).isEmpty)
  }
}
