package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.corpus.Fixtures
import graft.index.{Codec, FtsDeltas, FtsIndexBuilder}
import graft.query.{FtsIndex, FtsQuery, FtsQueryCache}

/** Posting-block layout: a shard's blocks of one term cover disjoint,
  * ordered doc ranges, whatever partition each doc bucket was hashed to
  * (block-max WAND skips past a block's range, so an overlap loses
  * docs). */
class SegmentLayoutSpec extends AnyFunSuite {

  private def spark = TestSpark.spark

  /** One map-side run of `docs` (tf 1, one position each). */
  private def run(bucket: Long, docs: Array[Long]) =
    (0, "content", "tok", bucket, docs.head, docs.length,
      Codec.encodeDeltas(docs), Codec.encodeVarints(docs.map(_ => 1L)),
      Codec.encodeVarints(docs.map(_ => 5L)),
      Array.fill[Byte](docs.length)(0))

  test("encodeRunPartition never lets a block span a bucket encoded " +
       "in another partition") {
    val bucketDocs = 32L * 128
    val b0 = Array(10L, 20L, 30L)
    val b1Doc = bucketDocs + 7 // bucket 1 lives in another partition
    val b2 = Array(2 * bucketDocs + 5, 2 * bucketDocs + 6)
    val blocks = FtsIndexBuilder.encodeRunPartition(
      Iterator(run(0, b0), run(2, b2)), blockSize = 128).toSeq
    blocks.foreach { b =>
      assert(!(b.first_doc <= b1Doc && b1Doc <= b.last_doc),
        s"block [${b.first_doc}, ${b.last_doc}] covers bucket 1's doc $b1Doc")
    }
    assert(blocks.flatMap(b => Codec.decodeDeltas(b.doc_bytes, b.n).toSeq) ===
      (b0 ++ b2).toSeq)
  }

  test("a fresh token upserted across several delta sub-shards is found " +
       "whole by WAND and the warm cache") {
    // 8 sub-shards hashed over 2 delta segment partitions: a partition
    // holds non-adjacent sub-shard buckets of the token
    val cfg = FtsIndexBuilder.Config(nShards = 8, segmentPartitions = 8)
    val root = TestSpark.tempDir("layout")
    FtsIndexBuilder.build(spark, TestSpark.docsDf(Fixtures.corpusA), root, cfg)
    val batch = (1 to 24).map(i => Fixtures.Doc("test_repo",
      s"src/fresh_$i.py", f"$i%040d", "python",
      s"def fresh_$i(): return zqfresh " + ("pad " * i), Nil))
    FtsDeltas.upsert(spark, TestSpark.docsDf(batch), root, cfg)
    val idx = new FtsIndex(spark, root)

    val subShards = idx.docs.where(col("path").startsWith("src/fresh_"))
      .select("doc_id").collect().map(r => (r.getLong(0) >> 28) & 0xFFF)
      .distinct
    assert(subShards.length >= 3, "the batch must span >= 3 sub-shards")
    val blocks = idx.segments
      .where(col("field") === "content" && col("term") === "zqfresh")
      .collect()
    blocks.groupBy(_.shard).values.foreach { bs =>
      bs.sortBy(_.first_doc).sliding(2).foreach {
        case Array(a, b) =>
          assert(a.last_doc < b.first_doc,
            s"overlapping blocks [${a.first_doc}, ${a.last_doc}] and " +
              s"[${b.first_doc}, ${b.last_doc}] in shard ${a.shard}")
        case _ =>
      }
    }

    val q = FtsQuery("zqfresh", limit = 0)
    val ex = idx.searchCollected(q).map(_.doc_id)
    assert(ex.size === batch.size)
    assert(idx.searchWand(q).map(_.doc_id).sorted === ex.sorted)
    assert(new FtsQueryCache(idx).search(q).map(_.doc_id).sorted === ex.sorted)
  }
}
