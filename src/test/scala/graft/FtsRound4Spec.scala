package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.corpus.Fixtures
import graft.index.{FtsDeltas, FtsIndexBuilder}
import graft.query.{FtsIndex, FtsQuery, FtsQueryCache}

/** Round-4: exact score ties at the k boundary resolve identically on all
  * three paths, the warm cache + WAND keep serving under LIVE delta
  * generations (the streaming regime), path filters stay UDF-free, the
  * filtered-overpull budget is honored up front (a small df bound keeps
  * filtered limit=0 warm), wide expansions don't
  * poison the expansion LRU, the cache is safe under concurrent queries,
  * and generation publish is rename-race-safe. */
class FtsRound4Spec extends AnyFunSuite {

  private def spark = TestSpark.spark
  private val cfg = FtsIndexBuilder.Config(nShards = 2, segmentPartitions = 4)

  private def freshIndex(docs: Seq[Fixtures.Doc]): String = {
    val root = TestSpark.tempDir("r4")
    FtsIndexBuilder.build(spark, TestSpark.docsDf(docs), root, cfg)
    root
  }

  private def keyOf(r: graft.query.SearchResult) = (r.doc_id, r.score)

  test("engineered exact score tie at the k boundary: WAND and cached " +
       "keep the lowest doc_ids, like the exhaustive path") {
    // 8 docs with IDENTICAL content (same tf, same dl) -> exactly equal
    // BM25 scores; k=3 forces tie-breaking inside the heap
    val tied = (1 to 8).map(i => Fixtures.Doc("test_repo", s"src/tied_$i.py",
      i.toString * 40, "python",
      "def xylophone_handler(): return xylophone_value", Nil))
    val root = freshIndex(tied ++ Fixtures.corpusA)
    val idx = new FtsIndex(spark, root).warm()
    val cache = new FtsQueryCache(idx)
    for (k <- Seq(1, 3, 5, 8)) {
      val q = FtsQuery("xylophone_value", limit = k)
      val ex = idx.searchCollected(q).map(keyOf)
      val wand = idx.searchWand(q).map(keyOf)
      val cached = cache.search(q).map(keyOf)
      assert(ex.size === k)
      assert(ex.map(_._2).distinct.size === 1, "scores must tie exactly")
      assert(wand === ex, s"WAND tie-break diverged at k=$k")
      assert(cached === ex, s"cached tie-break diverged at k=$k")
    }
  }

  test("warm cache and WAND keep serving under live delta generations, " +
       "identical to exhaustive, zero jobs when hot") {
    val root = freshIndex(Fixtures.corpusA ++ Fixtures.corpusB)
    // three streaming microbatches -> three live generations
    FtsStream3(root)
    assert(FtsDeltas.liveGenerations(spark, root).size === 3)
    val idx = new FtsIndex(spark, root).warm()
    assert(idx.hasDeltas)
    val cache = new FtsQueryCache(idx)
    val shapes = Seq(
      FtsQuery("def", limit = 5),
      FtsQuery("authenticate", limit = 5),
      FtsQuery("def", limit = 5, languages = Seq("python")),
      FtsQuery("login_user", limit = 5), // phrase node
      FtsQuery("authenticat", editDistance = 1, limit = 5),
      FtsQuery("auth.*", useRegex = true, limit = 5))
    for (q <- shapes) {
      val ex = idx.searchCollected(q).map(keyOf)
      val wand = idx.searchWand(q).map(keyOf)
      val cached = cache.search(q).map(keyOf)
      assert(ex.nonEmpty, s"query should match: $q")
      assert(wand.map(_._1) === ex.map(_._1), s"WAND docs for $q under deltas")
      assert(cached.map(_._1) === ex.map(_._1), s"cached docs for $q under deltas")
      wand.zip(ex).foreach { case (a, b) =>
        assert(math.abs(a._2 - b._2) < 1e-9, s"WAND score for $q") }
      cached.zip(ex).foreach { case (a, b) =>
        assert(math.abs(a._2 - b._2) < 1e-9, s"cached score for $q") }
    }
    // hot repeat: zero Spark jobs even though delta generations are live
    val tracker = spark.sparkContext.statusTracker
    val before = tracker.getJobIdsForGroup(null).length
    shapes.foreach(q => assert(cache.search(q).nonEmpty))
    val after = tracker.getJobIdsForGroup(null).length
    assert(after === before,
      "hot cached queries under live deltas must run zero Spark jobs")
  }

  /** Apply 3 microbatches through the streaming handler (no fold). */
  private def FtsStream3(root: String): Unit = {
    val batches = Seq(
      Seq(Fixtures.Doc("test_repo", "src/live_a.py", "a1" * 20, "python",
        "def stream_a(): return authenticate_user()", Nil)),
      Seq(Fixtures.Doc("test_repo", "src/live_b.py", "b1" * 20, "python",
        "def stream_b(): return def_value", Nil)),
      // replaces live_a -> its first generation's doc becomes dead
      Seq(Fixtures.Doc("test_repo", "src/live_a.py", "a2" * 20, "python",
        "def stream_a_v2(): return nothing_here", Nil)))
    batches.zipWithIndex.foreach { case (b, i) =>
      graft.streaming.FtsStream.applyBatch(root, cfg, foldEvery = 0)(
        TestSpark.docsDf(b), i.toLong)
    }
  }

  test("WAND under deltas: tombstoned docs never occupy top-k slots") {
    val alive = (1 to 6).map(i => Fixtures.Doc("test_repo", s"src/alive_$i.py",
      i.toString * 40, "python",
      s"def fn_$i(): return quokka_value_$i # quokka mention " + ("filler " * i),
      Nil))
    // hot doc would out-score everything, then gets replaced
    val hot = Fixtures.Doc("test_repo", "src/hot.py", "9" * 40, "python",
      "quokka quokka quokka quokka quokka", Nil)
    val root = freshIndex(alive :+ hot)
    FtsDeltas.upsert(spark, TestSpark.docsDf(Seq(
      Fixtures.Doc("test_repo", "src/hot.py", "8" * 40, "python",
        "def replaced(): return nothing", Nil))), root, cfg)
    val idx = new FtsIndex(spark, root)
    val wand = idx.searchWand(FtsQuery("quokka", limit = 6))
    assert(wand.size === 6, "a dead doc must not shrink the WAND result set")
    assert(wand.map(_.path).toSet === alive.map(_.path).toSet)
    val cache = new FtsQueryCache(idx)
    val cached = cache.search(FtsQuery("quokka", limit = 6))
    assert(cached.map(_.path).toSet === alive.map(_.path).toSet)
  }

  test("filtered search plan carries no ScalaUDF (path globs run as rlike)") {
    val root = freshIndex(Fixtures.corpusA ++ Fixtures.corpusB)
    val idx = new FtsIndex(spark, root)
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val df = idx.search(FtsQuery("def", limit = 5,
        pathFilters = Seq("src/*"), excludePathFilters = Seq("tests/**")))
      val plan = df.queryExecution.executedPlan
      val udfs = plan.collect {
        case p if p.expressions.exists(_.exists(
            _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.ScalaUDF])) => p
      }
      assert(udfs.isEmpty,
        s"path-filtered search must not run ScalaUDFs:\n${udfs.mkString("\n")}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
    // and the semantics still match the driver-side matcher
    val rs = idx.searchCollected(FtsQuery("def", limit = 0,
      pathFilters = Seq("src/*")))
    assert(rs.nonEmpty)
    assert(rs.forall(_.path.startsWith("src/")))
  }

  test("line-range filters serve from the warm cache: identical to the " +
       "cluster path, zero Spark jobs when hot") {
    val docs = (0 until 8).map { i =>
      val lines = (1 to 40).map(l => s"line_$l token_w$i quintet value")
      Fixtures.Doc("test_repo", s"src/lines_$i.py", i.toString * 40, "py",
        lines.mkString("\n"), Nil)
    }
    val chunked = graft.sources.ChunkedIngest.explode(
      TestSpark.docsDf(docs).drop("identifiers"), chunkSize = 300)
    val root = TestSpark.tempDir("r4line")
    FtsIndexBuilder.build(spark, chunked, root, cfg)
    val idx = new FtsIndex(spark, root).warm()
    val cache = new FtsQueryCache(idx)
    val qs = Seq(
      FtsQuery("quintet", limit = 5, minLine = Some(10L)),
      FtsQuery("quintet", limit = 5, maxLine = Some(20L)),
      FtsQuery("quintet", limit = 5, minLine = Some(5L), maxLine = Some(30L)))
    for (q <- qs) {
      val ex = idx.searchCollected(q).map(keyOf)
      val c = cache.search(q).map(keyOf)
      assert(ex.nonEmpty, s"line query should match: $q")
      assert(c === ex, s"warm line-filtered results for $q")
    }
    val tracker = spark.sparkContext.statusTracker
    val before = tracker.getJobIdsForGroup(null).length
    qs.foreach(q => assert(cache.search(q).nonEmpty))
    val after = tracker.getJobIdsForGroup(null).length
    assert(after === before,
      "hot line-filtered cached queries must run zero Spark jobs")
  }

  test("filtered limit=0 is served warm when its df bound fits the " +
       "overpull budget (maxOverpull contract honored up front)") {
    val root = freshIndex(Fixtures.corpusA ++ Fixtures.corpusB)
    val idx = new FtsIndex(spark, root).warm()
    val cache = new FtsQueryCache(idx)
    val q = FtsQuery("def", limit = 0, languages = Seq("python"))
    val cached = cache.search(q).map(keyOf)
    val ex = idx.searchCollected(q).map(keyOf)
    assert(cached === ex)
    assert(cached.nonEmpty)
    assert(cache.stats.clusterRouted === 0)
  }

  test("a query with more dynamic alternatives than the expansion LRU " +
       "capacity does not NPE and matches the cluster path") {
    val root = freshIndex(Fixtures.corpusA)
    val idx = new FtsIndex(spark, root).warm()
    val cache = new FtsQueryCache(idx)
    // 300 distinct fuzzy words (> the 256-entry expansions LRU) in ONE
    // query: the per-call expansion map must come from expandAlts' return
    // value, not from reading back the (already-evicting) LRU
    val words = (1 to 300).map(i => s"zqw${i}xx").mkString(" ")
    val q = FtsQuery(words, editDistance = 1, limit = 5)
    val cached = cache.search(q)
    val ex = idx.searchCollected(q)
    assert(cached.map(keyOf) === ex.map(keyOf)) // both empty: AND of misses
  }

  test("cache serves concurrent queries correctly (no deadlock, " +
       "identical results across 8 threads)") {
    val root = freshIndex(Fixtures.corpusA ++ Fixtures.corpusB)
    val idx = new FtsIndex(spark, root).warm()
    val cache = new FtsQueryCache(idx)
    val queries = Seq(
      FtsQuery("def", limit = 5),
      FtsQuery("authenticate", limit = 5),
      FtsQuery("login_user", limit = 5),
      FtsQuery("def", limit = 5, languages = Seq("python")))
    val expected = queries.map(q => idx.searchCollected(q).map(keyOf))
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val futures = (1 to 8).flatMap { _ =>
        queries.zipWithIndex.map { case (q, i) =>
          Future((i, cache.search(q).map(keyOf)))
        }
      }
      val results = Await.result(Future.sequence(futures), 120.seconds)
      results.foreach { case (i, got) =>
        assert(got.map(_._1) === expected(i).map(_._1),
          s"concurrent docs diverged for query $i")
        got.zip(expected(i)).foreach { case (a, b) =>
          // cached vs cluster summation order: fp-tolerant, like the
          // other differential specs
          assert(math.abs(a._2 - b._2) < 1e-9,
            s"concurrent score diverged for query $i")
        }
      }
    } finally pool.shutdown()
  }

  test("snapshot reload after a delta append inherits base blocks and " +
       "doc rows; a compact (new version dir) does not inherit") {
    val root = freshIndex(Fixtures.corpusA ++ Fixtures.corpusB)
    val rel = new graft.query.ReloadingFtsIndex(spark, root)
    val q = FtsQuery("authenticate", limit = 5)
    assert(rel.searchCached(q).nonEmpty)
    val c0 = rel.currentCache
    assert(c0.hasBlocksFor("content", "authenticate"))
    FtsDeltas.upsert(spark, TestSpark.docsDf(Seq(
      Fixtures.Doc("test_repo", "src/live_new.py", "n1" * 20, "python",
        "def fresh(): return authenticate_user()", Nil))), root, cfg)
    val r2 = rel.searchCached(q) // triggers the swap with inheritance
    val c1 = rel.currentCache
    assert(c1 ne c0)
    assert(c1.inheritedFromPrev, "same version dir must inherit")
    assert(c1.hasBlocksFor("content", "authenticate"),
      "base posting blocks must survive the reload")
    val ex = rel.index.searchCollected(q).map(keyOf)
    assert(r2.map(keyOf).map(_._1) === ex.map(_._1),
      "inherited-cache results must match the cluster path")
    r2.map(keyOf).zip(ex).foreach { case (a, b) =>
      assert(math.abs(a._2 - b._2) < 1e-9) }
    // compact rewrites a fresh version dir: nothing may carry over
    FtsDeltas.compact(spark, root, cfg)
    assert(rel.searchCached(q).nonEmpty)
    assert(!rel.currentCache.inheritedFromPrev,
      "a new version dir must start a cold cache")
  }

  test("publishGen refuses to publish over an existing generation dir " +
       "(no silent nesting, staged data survives)") {
    val root = TestSpark.tempDir("r4pub")
    val hfs = FtsIndexBuilder.fs(spark, root)
    def mkdir(p: String) =
      hfs.mkdirs(new org.apache.hadoop.fs.Path(p))
    mkdir(s"$root/deltas/stage.tmp/tombstones")
    mkdir(s"$root/deltas/d7/tombstones") // a concurrent writer won the race
    intercept[Exception] {
      FtsDeltas.publishGen(spark, s"$root/deltas/stage.tmp", s"$root/deltas/d7")
    }
    // the staged dir must NOT have been nested inside d7 (the
    // FileSystem.rename failure mode) and must still exist for retry
    assert(hfs.exists(new org.apache.hadoop.fs.Path(s"$root/deltas/stage.tmp")))
    assert(!hfs.exists(new org.apache.hadoop.fs.Path(
      s"$root/deltas/d7/stage.tmp")))
  }

  test("upsert publishes one complete generation atomically; a failed " +
       "upsert leaves no generation and no staging residue") {
    val root = freshIndex(Fixtures.corpusA)
    val vDir = FtsIndexBuilder.currentVersionDir(spark, root)
    val hfs = FtsIndexBuilder.fs(spark, root)
    val gen = FtsDeltas.upsert(spark, TestSpark.docsDf(Seq(
      Fixtures.Doc("test_repo", "src/up_ok.py", "c1" * 20, "python",
        "def upserted(): return 1", Nil))), root, cfg)
    for (sub <- Seq("docs", "segments", "dict", "tombstones"))
      assert(hfs.exists(new org.apache.hadoop.fs.Path(
        s"$vDir/deltas/d$gen/$sub")), s"published generation missing $sub")
    // a batch missing required columns fails INSIDE the staged write
    intercept[Exception] {
      FtsDeltas.upsert(spark,
        spark.createDataFrame(Seq(("r", "p"))).toDF("repo", "path"),
        root, cfg)
    }
    val names = hfs.listStatus(new org.apache.hadoop.fs.Path(
      s"$vDir/deltas")).map(_.getPath.getName).toSet
    assert(names === Set(s"d$gen"),
      s"failed upsert must leave no residue, saw: $names")
  }
}
