package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.corpus.{CodeCorpus, Fixtures}
import graft.index.{FtsIndexBuilder, FtsSchema}
import graft.query.{FtsIndex, FtsQuery, Wand}

/** Differential: block-max WAND top-k must equal the exhaustive scorer's
  * docs AND scores; plus direct evidence that pruning skips block decodes. */
class WandSpec extends AnyFunSuite {

  private def spark = TestSpark.spark

  private lazy val fixtureIndex: FtsIndex = {
    val root = TestSpark.tempDir("wandfix")
    FtsIndexBuilder.build(spark,
      TestSpark.docsDf(Fixtures.corpusA ++ Fixtures.corpusB), root,
      FtsIndexBuilder.Config(nShards = 3, segmentPartitions = 4,
        codeAnalyzers = false))
    new FtsIndex(spark, root).warm()
  }

  /** Larger skewed corpus: the sf0.001 derived code corpus (500 docs,
    * `import`/`return` df == N). */
  private lazy val corpusIndex: FtsIndex = {
    val root = TestSpark.tempDir("wandcorp")
    val src = CodeCorpus.sourceFiles(spark, "/root/testdata/sf0.001")
      .drop("doc_id")
    FtsIndexBuilder.build(spark, src, root,
      FtsIndexBuilder.Config(nShards = 4, segmentPartitions = 8,
        blockSize = 32)) // small blocks so pruning is observable
    new FtsIndex(spark, root).warm()
  }

  private def diff(idx: FtsIndex, text: String, k: Int): Unit = {
    val wand = idx.searchWand(text, k)
    val full = idx.searchCollected(FtsQuery(text, limit = k, snippetLines = 5))
    assert(wand.map(_.doc_id) === full.map(_.doc_id), s"docs for '$text' k=$k")
    wand.zip(full).foreach { case (w, f) =>
      assert(math.abs(w.score - f.score) < 1e-9, s"score for '$text'")
    }
  }

  test("wand == exhaustive on the fixture corpus") {
    diff(fixtureIndex, "authenticate", 3)
    diff(fixtureIndex, "def", 5)
    diff(fixtureIndex, "username password", 10)
    diff(fixtureIndex, "nonexistent_term_xyz", 10)
  }

  test("wand == exhaustive on the derived code corpus (incl. skewed terms)") {
    diff(corpusIndex, "merge", 10)
    diff(corpusIndex, "merge sort", 10)
    diff(corpusIndex, "import", 10)       // df == N stopword
    diff(corpusIndex, "import merge", 5)
    diff(corpusIndex, "getusername", 7)   // every doc, via content field
  }

  test("block-max pruning skips decodes (MaxScore-style, top-1)") {
    // single-term top-1: once θ holds a high-tf/low-dl doc's score, blocks
    // whose idf*bm25(max_tf, min_dl) bound cannot beat it are skipped
    // without decompression
    val idx = corpusIndex
    import org.apache.spark.sql.functions._
    val blocks = idx.segments
      .where(col("field") === "content" && col("term") === "merge")
      .collect().groupBy(_.shard)
    var decoded = 0L
    var total = 0L
    blocks.foreach { case (_, bl) =>
      val sorted = bl.sortBy(_.first_doc)
      val (res, st) = Wand.topKShard(Seq(Seq((sorted, 1.0, 90.0))), 1)
      assert(res.size === 1)
      decoded += st.blocksDecoded
      total += sorted.length
    }
    assert(total > 4)
    assert(decoded < total, s"expected pruning: decoded=$decoded total=$total")
  }

  test("wand returns no rows for an absent exact term, like exhaustive") {
    val rs = fixtureIndex.searchWand("authenticat", 5) // no such exact term
    assert(rs.isEmpty) // exact term absent => AND fails, same as exhaustive
  }
}
