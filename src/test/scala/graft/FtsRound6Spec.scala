package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.corpus.Fixtures
import graft.index.FtsIndexBuilder
import graft.query.{FtsIndex, FtsQuery, MultiRepo}

/** Round-6 (optimization round): the fan-out deadline guard, deterministic
  * nested-gitignore ordering, the weight-bounded ANN cell cache, and the
  * literal-expression exact scorer's duplicate-word fallback. */
class FtsRound6Spec extends AnyFunSuite {

  private def spark = TestSpark.spark
  private val cfg = FtsIndexBuilder.Config(nShards = 2, segmentPartitions = 4)

  private def freshIndex(docs: Seq[Fixtures.Doc]): String = {
    val root = TestSpark.tempDir("r6")
    FtsIndexBuilder.build(spark, TestSpark.docsDf(docs), root, cfg)
    root
  }

  test("fan-out deadline guard: a repo whose submission would occur after " +
       "the deadline is reported as timed out WITHOUT its thunk running " +
       "(VERDICT r05 wrong #1)") {
    import scala.concurrent.duration._
    val laterRan = new java.util.concurrent.atomic.AtomicBoolean(false)
    // parallelism 1: "a_slow" holds the only window slot past the
    // deadline (swallowing the cancel interrupt), so "b_next" can never
    // be legitimately submitted in time
    def slow(): Seq[graft.query.SearchResult] = {
      val end = System.currentTimeMillis() + 2000
      while (System.currentTimeMillis() < end)
        try Thread.sleep(20)
        catch { case _: InterruptedException => () }
      Nil
    }
    val out = MultiRepo.searchAll(Map(
      "a_slow" -> (() => slow()),
      "b_next" -> (() => { laterRan.set(true); Nil })),
      timeout = 250.millis, parallelism = 1)
    assert(out.errors.keySet === Set("a_slow", "b_next"))
    assert(out.errors.values.forall(_.contains("timeout")))
    // give any stray submission a moment to surface, then assert the
    // thunk never started
    Thread.sleep(300)
    assert(!laterRan.get(),
      "post-deadline topUp submitted a repo already known to be timed out")
  }

  test("nested-gitignore order is deterministic at any partitioning: " +
       "same-depth files sort lexically by path, not by collect() order " +
       "(VERDICT r05 wrong #3)") {
    import graft.sources.Discovery
    val sp = spark
    import sp.implicits._
    val rows = Seq(
      (".gitignore", "root_rule"),
      ("bb/.gitignore", "/from_bb"),
      ("aa/.gitignore", "/from_aa"),
      ("aa/x.go", "package x"),
      ("bb/y.go", "package y"))
    // several physical layouts of the same logical table: the collected
    // rule order must be identical for all of them
    val orders = Seq(1, 2, 3, 5).map { n =>
      val files = rows.toDF("path", "content").repartition(n)
      Discovery.gitignoreRulesAll(files).map(_.pattern)
    }
    assert(orders.distinct.size === 1,
      s"rule order varied with partitioning: $orders")
    assert(orders.head === Seq("root_rule", "/from_aa", "/from_bb"),
      "expected root first, then nested files lexically by path")
  }

  test("ANN cell cache is weight-bounded: a skewed cell exceeding the " +
       "byte budget evicts by weight while results stay identical " +
       "(VERDICT r05 wrong #2)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    import org.apache.spark.sql.functions.col
    val qv = emb.where(col("vec_id") === 0).select("embedding")
      .collect().head.getSeq[Float](0).toArray
    // generous budget: everything cacheable
    val big = new graft.ops.AnnIndex(emb, nCells = 4, nProbe = 4,
      maxCellCacheBytes = 64L << 20)
    val expected = big.topKWarm(qv, 8)
    assert(big.cellCacheStats._1 > 0)
    big.close()
    // budget far below one cell's vectors: the cache must stay within a
    // small factor of the budget (the single-entry-retained floor), and
    // answers must be identical (the cache is never the source of truth)
    val tiny = new graft.ops.AnnIndex(emb, nCells = 4, nProbe = 4,
      maxCellCacheBytes = 1024L)
    val got = tiny.topKWarm(qv, 8)
    assert(got === expected)
    val (entries, weight) = tiny.cellCacheStats
    assert(entries <= 1,
      s"weight budget 1 KiB retained $entries cells ($weight bytes)")
    // repeated queries keep serving correctly through evictions
    assert(tiny.topKWarm(qv, 8) === expected)
    tiny.close()
    // maxCachedCells = 0 still disables the warm cache entirely
    val off = new graft.ops.AnnIndex(emb, nCells = 4, nProbe = 4,
      maxCachedCells = 0)
    assert(off.topKWarm(qv, 8) === expected)
    assert(off.cellCacheStats._1 === 0, "maxCachedCells=0 must cache nothing")
    off.close()
  }

  test("fresh-build AnnIndex.topK (runJob serving path) matches topKWarm " +
       "and honors minScore/probes exactly") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    import org.apache.spark.sql.functions.col
    val qvs = emb.where(col("vec_id") < 3).select("embedding")
      .collect().map(_.getSeq[Float](0).toArray)
    val ann = new graft.ops.AnnIndex(emb, nCells = 8, nProbe = 3)
    qvs.foreach { qv =>
      assert(ann.topK(qv, 7) === ann.topKWarm(qv, 7))
      assert(ann.topK(qv, 7, minScore = Some(0.2)) ===
        ann.topKWarm(qv, 7, minScore = Some(0.2)))
      assert(ann.topK(qv, 7, probes = 8) === ann.topKWarm(qv, 7, probes = 8))
    }
    ann.close()
  }

  test("AnnIndex.topK's runJob path ships at most k pairs per partition " +
       "from a skewed cell much larger than k, in (sim desc, vec_id asc) " +
       "order with NaN similarities dropped") {
    val rng = new scala.util.Random(7)
    val q = Array(1.0, 0.5, 0.0, 0.25)
    val distinct = (0L until 400L).map(id => id -> Array.fill(4)(rng.nextFloat()))
    // exact ties across ids, and one zero-norm vector (NaN similarity)
    val cell = distinct ++ distinct.take(20).map { case (id, e) =>
      (1000L + id) -> e } :+ (5000L -> Array.fill(4)(0f))
    val all = graft.ops.AnnIndex.cellTopK(cell.iterator, q,
      Double.NegativeInfinity, cell.size)
    assert(all.length === cell.size - 1, "the NaN pair is dropped")
    assert(all.toSeq === all.toSeq.sortBy { case (id, sim) => (-sim, id) })
    for (k <- Seq(1, 5, 17); floor <- Seq(Double.NegativeInfinity, 0.8)) {
      val top = graft.ops.AnnIndex.cellTopK(cell.iterator, q, floor, k)
      assert(top.toSeq === all.filter(_._2 >= floor).take(k).toSeq,
        s"k=$k floor=$floor")
    }
    assert(graft.ops.AnnIndex.cellTopK(cell.iterator, q, 0.0, 0).isEmpty)

    // a fresh-build index whose vectors crowd one direction: the runJob
    // path still equals the warm path
    val s = spark
    import s.implicits._
    val emb = cell.map { case (id, e) =>
      (id, if (id % 50 == 0) e.map(-_) else e.map(_ + 4f)) }
      .filter(_._1 != 5000L).toDF("vec_id", "embedding")
    val ann = new graft.ops.AnnIndex(emb, nCells = 4, nProbe = 2)
    val qv = Array(4.5f, 4.2f, 4.7f, 4.1f)
    assert(ann.topK(qv, 5) === ann.topKWarm(qv, 5))
    assert(ann.topK(qv, 5, probes = 4) === ann.topKWarm(qv, 5, probes = 4))
    ann.close()
  }

  test("duplicate-word exact query scores each node occurrence " +
       "(\"merge merge\" = 2x \"merge\")") {
    val root = freshIndex(Fixtures.corpusA)
    val idx = new FtsIndex(spark, root).warm()
    val once = idx.searchCollected(FtsQuery("authenticate", limit = 50))
    val twice = idx.searchCollected(
      FtsQuery("authenticate authenticate", limit = 50))
    assert(once.nonEmpty)
    assert(twice.map(_.doc_id) === once.map(_.doc_id))
    twice.zip(once).foreach { case (t, o) =>
      assert(t.score === o.score * 2.0,
        s"doc ${o.doc_id}: expected doubled score")
    }
    idx.cool()
  }

  test("exact scorer with a dictionary-absent term still AND-fails the " +
       "node (empty results), matching the joined plan's semantics") {
    val root = freshIndex(Fixtures.corpusA)
    val idx = new FtsIndex(spark, root).warm()
    assert(idx.searchCollected(
      FtsQuery("authenticate zzzzmissingterm", limit = 10)).isEmpty)
    idx.cool()
  }

  test("segment blocks are byte-identical when a shard's doc space is " +
       "STRIPED across docs files (the k-way run merge) vs one ascending " +
       "file") {
    val sp = spark
    import sp.implicits._
    // one shard, two source layouts of the same four docs:
    //  - striped: partition A holds docs {0, 2}, partition B holds {1, 3}
    //    (each partition ascending, ranges interleaved — the layout the
    //    broadcast-join docs store produces)
    //  - single: one partition holding 0..3 ascending
    def docRow(id: Long) =
      (0, id, s"alpha beta gamma doc$id alpha", Seq.empty[String])
    val a = Seq(docRow(0), docRow(2)).toDF(
      "shard", "doc_id", "content", "ids").coalesce(1)
    val b = Seq(docRow(1), docRow(3)).toDF(
      "shard", "doc_id", "content", "ids").coalesce(1)
    val striped = a.union(b) // union preserves the two partitions
    val single = Seq(docRow(0), docRow(1), docRow(2), docRow(3))
      .toDF("shard", "doc_id", "content", "ids").coalesce(1)
    def blocksOf(docs: org.apache.spark.sql.DataFrame) = {
      val root = TestSpark.tempDir("r6merge")
      // drive through the real segment pipeline: runs -> shuffle ->
      // sorted merge-encode (postingRuns is the only tokenize path)
      val runs = FtsIndexBuilder.postingRuns(
        docs, FtsIndexBuilder.Config(nShards = 1, segmentPartitions = 1,
          indexRawField = false))
      import org.apache.spark.sql.functions.col
      runs.repartition(1, col("shard"), col("field"), col("term"),
          col("bucket"))
        .sortWithinPartitions("shard", "field", "term", "bucket",
          "first_doc")
        .as[(Int, String, String, Long, Long, Int, Array[Byte],
          Array[Byte], Array[Byte], Array[Byte])]
        .mapPartitions(it => FtsIndexBuilder.encodeRunPartition(it, 128))
        .collect()
        .sortBy(bl => (bl.field, bl.term, bl.first_doc))
        .map(bl => (bl.field, bl.term, bl.first_doc, bl.last_doc, bl.n,
          bl.sum_tf, bl.max_tf, bl.min_dl,
          bl.doc_bytes.toSeq, bl.tf_bytes.toSeq, bl.dl_bytes.toSeq,
          bl.pos_bytes.toSeq))
    }
    // the striped layout genuinely produces multiple runs per term
    val stripedRuns = FtsIndexBuilder.postingRuns(striped,
        FtsIndexBuilder.Config(nShards = 1, indexRawField = false))
      .groupBy("field", "term", "bucket").count()
      .where(org.apache.spark.sql.functions.col("count") > 1).count()
    assert(stripedRuns > 0, "test setup: no interleaved runs produced")
    assert(blocksOf(striped) === blocksOf(single))
  }

  test("manifest metrics tallied during encode equal a recomputation " +
       "from the written segments") {
    val root = freshIndex(Fixtures.corpusA)
    val vDir = FtsIndexBuilder.currentVersionDir(spark, root)
    import org.apache.spark.sql.functions._
    val recomputed = spark.read.parquet(s"$vDir/segments/*")
      .groupBy("shard").agg(
        count(lit(1)).as("n_blocks"),
        sum("n").as("n_postings"),
        sum(when(col("field") === "content", col("sum_tf"))
          .otherwise(lit(0L))).as("n_tokens"),
        sum(col("n_bytes")).as("bytes_postings"))
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val manifested = spark.read.parquet(s"$vDir/manifest/*")
      .select("shard", "n_blocks", "n_postings", "n_tokens",
        "bytes_postings")
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(manifested.keySet === recomputed.keySet)
    manifested.foreach { case (sh, (bl, po, tk, by)) =>
      val (rb, rp, rt, rby) = recomputed(sh)
      assert(bl === rb && po === rp && tk === rt && by === rby,
        s"shard $sh manifest metrics drifted from the written segments")
    }
  }
}
