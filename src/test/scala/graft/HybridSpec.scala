package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.corpus.Fixtures
import graft.index.FtsIndexBuilder
import graft.query.{FtsIndex, FtsQuery, Hybrid}

/** Hybrid parallel search (SURVEY Q15): FTS + semantic run concurrently,
  * results returned SEPARATELY (the reference fuses nothing). */
class HybridSpec extends AnyFunSuite {

  private def spark = TestSpark.spark

  test("hybrid returns both result lists; semantic side matches exact " +
       "cosine ranking") {
    val root = TestSpark.tempDir("hybrid")
    FtsIndexBuilder.build(spark, TestSpark.docsDf(Fixtures.corpusA), root,
      FtsIndexBuilder.Config(nShards = 2, segmentPartitions = 4))
    val idx = new FtsIndex(spark, root)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val qv = emb.where(org.apache.spark.sql.functions.col("vec_id") === 3)
      .select("embedding").collect()(0).getSeq[Float](0).toArray

    val r = Hybrid.search(idx, emb, qv, FtsQuery("authenticate", limit = 5),
      kSemantic = 7)
    assert(r.fts.nonEmpty)
    assert(r.fts.map(_.doc_id) ===
      idx.searchCollected(FtsQuery("authenticate", limit = 5)).map(_.doc_id))
    assert(r.semantic.size === 7)
    // the query IS vector 3, so vector 3 must rank first at sim 1.0
    assert(r.semantic.head.vec_id === 3L && r.semantic.head.sim === 1.0)
    // descending similarity, deterministic tie-break
    assert(r.semantic.map(_.sim) === r.semantic.map(_.sim).sorted.reverse)
  }

  test("IVF-backed hybrid: recall@10 >= 0.9 vs the exact scan; one pruned " +
       "job per query instead of a full table scan") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val ann = new graft.ops.AnnIndex(emb, nCells = 8, nProbe = 6)
    try {
      val queries = emb
        .where(org.apache.spark.sql.functions.col("vec_id") < 25)
        .select("vec_id", "embedding").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      val recalls = queries.map { case (_, qv) =>
        val exact = Hybrid.semanticTopK(emb, qv, 10).map(_.vec_id).toSet
        val ivf = ann.topK(qv, 10).map(_._1).toSet
        // warm (driver cell cache) path must return exactly the cluster
        // path's results — same probes, same math, same ordering
        assert(ann.topKWarm(qv, 10) === ann.topK(qv, 10),
          "warm ANN path diverged from the cluster path")
        (exact intersect ivf).size / 10.0
      }
      val mean = recalls.sum / recalls.length
      assert(mean >= 0.9, f"IVF recall@10 $mean%.3f < 0.9")

      // end-to-end: the production hybrid entry point returns both lists
      val root = TestSpark.tempDir("hybrid_ivf")
      FtsIndexBuilder.build(spark, TestSpark.docsDf(Fixtures.corpusA), root,
        FtsIndexBuilder.Config(nShards = 2, segmentPartitions = 4))
      val idx = new FtsIndex(spark, root)
      val r = Hybrid.searchWith(idx.searchCollected, ann, queries.head._2,
        FtsQuery("authenticate", limit = 5), kSemantic = 10)
      assert(r.fts.nonEmpty)
      assert(r.semantic.size === 10)
      assert(r.semantic.head.vec_id === queries.head._1,
        "the query vector itself must rank first")
    } finally ann.close()
  }

  test("min-score floor and accuracy profiles (the reference's " +
       "--min-score/--accuracy semantic knobs)") {
    val sp = spark
    import org.apache.spark.sql.functions._
    val emb = sp.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val ann = new graft.ops.AnnIndex(emb, nCells = 8, nProbe = 4)
    try {
      val qv = emb.where(col("vec_id") === 2).select("embedding")
        .collect()(0).getSeq[Float](0).toArray

      // accuracy profile -> probe count: fast halves, high doubles
      // (clamped to nCells, at which point the probe set is exhaustive)
      assert(ann.probesFor("fast") === 2)
      assert(ann.probesFor("balanced") === 4)
      assert(ann.probesFor("high") === 8)
      intercept[IllegalArgumentException](ann.probesFor("turbo"))

      // min-score = filter of the unfloored result, identically on both
      // serving paths; every surviving hit respects the floor
      val un = ann.topK(qv, 50)
      val ms = 0.15
      val floored = ann.topK(qv, 50, Some(ms))
      assert(floored === un.filter(_._2 >= ms))
      assert(floored === ann.topKWarm(qv, 50, Some(ms)))
      assert(floored.nonEmpty && floored.size < un.size,
        "fixture threshold should bite but not empty the result")

      // probes = nCells (accuracy high here) makes the probe set
      // exhaustive: IVF results equal the exact full scan
      val exact = Hybrid.semanticTopK(emb, qv, 10).map(h => (h.vec_id, h.sim))
      assert(ann.topK(qv, 10, None, ann.probesFor("high")) === exact)

      // hybrid pass-through: the semantic half respects both knobs
      val r = Hybrid.searchWith(_ => Seq.empty, ann, qv,
        FtsQuery("authenticate"), kSemantic = 50,
        minScore = Some(ms), accuracy = "high")
      assert(r.semantic.forall(_.sim >= ms))
      assert(r.semantic.map(h => (h.vec_id, h.sim)) ===
        Hybrid.semanticTopK(emb, qv, 50, Some(ms)).map(h => (h.vec_id, h.sim)))
    } finally ann.close()
  }

  test("zero-norm vectors: both ANN serving paths drop the undefined " +
       "similarity instead of crashing, and stay identical") {
    val sp = spark
    import org.apache.spark.sql.functions._
    val emb = sp.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(60)
      .unionByName(sp.read.parquet(
          "/root/testdata/sf0.001/embeddings.parquet")
        .where(col("vec_id") === 0)
        .select(lit(99999L).as("vec_id"),
          transform(col("embedding"), _ => lit(0.0f)).as("embedding"),
          col("label")))
    val ann = new graft.ops.AnnIndex(emb, nCells = 4, nProbe = 4)
    try {
      val qv = emb.where(col("vec_id") === 1).select("embedding")
        .collect()(0).getSeq[Float](0).toArray
      val cluster = ann.topK(qv, 60)
      val warm = ann.topKWarm(qv, 60)
      assert(cluster === warm)
      assert(!cluster.exists(_._1 == 99999L),
        "the zero vector must be excluded, not ranked")
      assert(cluster.nonEmpty)
      // a min-score floor must NOT admit the NaN similarity either —
      // Spark totals-orders NaN above every number, so an unguarded
      // `sim >= ms` would rank the zero-norm vector FIRST through any
      // floor on the exact-scan paths
      val fl = Hybrid.semanticTopK(emb, qv, 60, Some(-1.0))
      assert(!fl.exists(_.vec_id == 99999L),
        "exact-scan min-score floor admitted an undefined similarity")
      assert(fl.forall(h => !h.sim.isNaN))
      val bf = graft.ops.Ann
        .bruteForceTopK(emb, 2, 60, minScore = Some(-1.0))
        .select("neighbor_id").collect().map(_.getLong(0))
      assert(!bf.contains(99999L),
        "bruteForceTopK min-score floor admitted an undefined similarity")
    } finally ann.close()
  }
}
