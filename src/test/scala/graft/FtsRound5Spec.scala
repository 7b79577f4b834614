package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.corpus.Fixtures
import graft.index.{FtsDeltas, FtsIndexBuilder}
import graft.query.{FtsIndex, FtsQuery, FtsQueryCache, Hybrid, MultiRepo,
  ReloadingFtsIndex}

/** Round-5: delete publishes generations as atomically as upsert/fold,
  * the production hybrid serves its FTS half through the warm path with
  * results identical to contract mode, a saved AnnIndex reopens from disk
  * with zero clustering jobs and identical answers, and the multi-repo
  * fan-out isolates per-repo failures and timeouts. */
class FtsRound5Spec extends AnyFunSuite {

  private def spark = TestSpark.spark
  private val cfg = FtsIndexBuilder.Config(nShards = 2, segmentPartitions = 4)

  private def freshIndex(docs: Seq[Fixtures.Doc]): String = {
    val root = TestSpark.tempDir("r5")
    FtsIndexBuilder.build(spark, TestSpark.docsDf(docs), root, cfg)
    root
  }

  private def keyOf(r: graft.query.SearchResult) = (r.doc_id, r.score)

  test("delete publishes one complete generation atomically and removes " +
       "the doc from every query path") {
    val root = freshIndex(Fixtures.corpusA)
    val vDir = FtsIndexBuilder.currentVersionDir(spark, root)
    val hfs = FtsIndexBuilder.fs(spark, root)
    val victim = new FtsIndex(spark, root)
      .searchCollected(FtsQuery("authenticate", limit = 1)).head
    val sp = spark
    import sp.implicits._
    val gen = FtsDeltas.delete(spark,
      Seq((victim.repo, victim.path)).toDF("repo", "path"), root)
    assert(hfs.exists(new org.apache.hadoop.fs.Path(
      s"$vDir/deltas/d$gen/tombstones")), "published delete missing tombstones")
    val names = hfs.listStatus(new org.apache.hadoop.fs.Path(s"$vDir/deltas"))
      .map(_.getPath.getName).toSet
    assert(names === Set(s"d$gen"), s"delete left staging residue: $names")
    val after = new FtsIndex(spark, root)
      .searchCollected(FtsQuery("authenticate", limit = 10))
    assert(!after.exists(r => r.repo == victim.repo && r.path == victim.path),
      "deleted doc still served")
  }

  test("delete refuses to overwrite a generation a concurrent writer " +
       "already published, and cleans up its own stage (ADVICE r04 #2)") {
    val root = freshIndex(Fixtures.corpusA)
    val vDir = FtsIndexBuilder.currentVersionDir(spark, root)
    val hfs = FtsIndexBuilder.fs(spark, root)
    // the exact race: delete computes nextGen = 1, then a concurrent
    // upsert publishes d1 BEFORE delete's own publish — delete must fail
    // loudly instead of overwriting/nesting into the published generation
    hfs.mkdirs(new org.apache.hadoop.fs.Path(s"$vDir/deltas/d1/tombstones"))
    val sp = spark
    import sp.implicits._
    intercept[Exception] {
      FtsDeltas.deleteAt(spark,
        Seq(("test_repo", "src/auth.py")).toDF("repo", "path"), vDir, gen = 1)
    }
    val names = hfs.listStatus(new org.apache.hadoop.fs.Path(s"$vDir/deltas"))
      .map(_.getPath.getName).toSet
    assert(names === Set("d1"),
      s"failed delete must leave no residue and not nest into d1: $names")
    assert(!hfs.exists(new org.apache.hadoop.fs.Path(
      s"$vDir/deltas/d1/d1")), "staged dir nested inside the live generation")
  }

  test("production hybrid (warm FTS half + warm semantic half) returns " +
       "results identical to contract mode, including under live deltas") {
    val root = freshIndex(Fixtures.corpusA ++ Fixtures.corpusB)
    val rel = new ReloadingFtsIndex(spark, root)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val ann = new graft.ops.AnnIndex(emb, nCells = 8, nProbe = 6)
    try {
      val qv = emb.where(org.apache.spark.sql.functions.col("vec_id") === 3)
        .select("embedding").collect()(0).getSeq[Float](0).toArray
      val shapes = Seq(
        FtsQuery("authenticate", limit = 5),
        FtsQuery("def handler", limit = 5),
        FtsQuery("authentcate", editDistance = 1, limit = 5))
      shapes.foreach { q =>
        val warm = Hybrid.searchWith(rel.searchCached, ann, qv, q,
          kSemantic = 7)
        val contract =
          Hybrid.searchWith(rel.index.searchCollected, ann, qv, q,
            kSemantic = 7, warmSemantic = false)
        assert(warm.fts.map(_.doc_id) === contract.fts.map(_.doc_id),
          s"warm hybrid FTS docs diverged for '${q.text}'")
        warm.fts.zip(contract.fts).foreach { case (a, b) =>
          assert(math.abs(a.score - b.score) < 1e-8,
            s"warm hybrid FTS score diverged for '${q.text}'") }
        assert(warm.semantic === contract.semantic,
          s"warm hybrid semantic hits diverged for '${q.text}'")
      }
      // live-delta regime: the warm half must keep matching the cluster
      // path after the reload picks up the new generation
      FtsDeltas.upsert(spark, TestSpark.docsDf(Seq(
        Fixtures.Doc("test_repo", "src/hybrid_new.py", "h1" * 20, "python",
          "def fresh(): return authenticate_user()", Nil))), root, cfg)
      val q = FtsQuery("authenticate", limit = 5)
      val warm = Hybrid.searchWith(rel.searchCached, ann, qv, q,
        kSemantic = 7)
      val cluster = rel.index.searchCollected(q)
      assert(warm.fts.map(_.doc_id) === cluster.map(_.doc_id),
        "warm hybrid diverged from the cluster path under live deltas")
    } finally ann.close()
  }

  test("AnnIndex save/load: reopening from disk reproduces topK and " +
       "topKWarm exactly, with zero clustering jobs") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val built = new graft.ops.AnnIndex(emb, nCells = 8, nProbe = 6)
    val root = TestSpark.tempDir("ann_idx")
    try {
      built.save(root)
      // no explicit nProbe: load() must pick up the build-time probe
      // width persisted in the version's meta file
      val loadedIdx = graft.ops.AnnIndex.load(spark, root)
      try {
        assert(loadedIdx.nProbe === 6,
          "persisted build-time nProbe not honored by load()")
        assert(loadedIdx.nCells === built.nCells)
        assert(loadedIdx.centroids.map(_._1) === built.centroids.map(_._1))
        loadedIdx.centroids.zip(built.centroids).foreach {
          case ((_, a), (_, b)) => assert(a === b,
            "loaded centroid differs from built centroid") }
        val queries = emb
          .where(org.apache.spark.sql.functions.col("vec_id") < 12)
          .select("embedding").collect().map(_.getSeq[Float](0).toArray)
        queries.foreach { qv =>
          assert(loadedIdx.probeCells(qv) === built.probeCells(qv))
          assert(loadedIdx.topK(qv, 10) === built.topK(qv, 10),
            "loaded topK diverged from built topK")
          assert(loadedIdx.topKWarm(qv, 10) === built.topK(qv, 10),
            "loaded topKWarm diverged")
        }
        // the pruned probe plan over the partitioned layout reads only
        // the probed cells' directories (partition pruning, the scale
        // story for a loaded serving index)
        val cells = loadedIdx.probeCells(queries.head)
        val plan = loadedIdx.assigned
          .where(org.apache.spark.sql.functions.col("cell").isin(cells: _*))
          .queryExecution.executedPlan.toString
        // the cell predicate must land INSIDE the PartitionFilters bracket
        // (an empty "PartitionFilters: []" + cell in the schema would
        // satisfy a naive contains() while scanning every partition)
        assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(plan).isDefined,
          s"probe scan not partition-pruned:\n$plan")
      } finally loadedIdx.close()
      // a second save publishes a NEW version and the pointer follows it
      val v2 = built.save(root)
      val reloaded = graft.ops.AnnIndex.load(spark, root)
      try assert(reloaded.centroids.map(_._1) === built.centroids.map(_._1))
      finally reloaded.close()
      assert(v2.contains("/v"))
      // legacy versions (published before the meta file existed) fall
      // back to the historical default probe width 8
      val hfs = new org.apache.hadoop.fs.Path(root).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      hfs.delete(new org.apache.hadoop.fs.Path(s"$v2/meta"), false)
      val legacy = graft.ops.AnnIndex.load(spark, root)
      try assert(legacy.nProbe === 8,
        "metaless legacy version must load with the default probe width")
      finally legacy.close()
      // an explicit override beats both persisted and fallback widths
      val overridden = graft.ops.AnnIndex.load(spark, root, Some(3))
      try assert(overridden.nProbe === 3)
      finally overridden.close()
    } finally built.close()
  }

  test("ReloadingAnnIndex swaps to a newly published version on access " +
       "(the ANN analog of ReloadingFtsIndex)") {
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val root = TestSpark.tempDir("ann_reload")
    val b1 = new graft.ops.AnnIndex(emb, nCells = 4, nProbe = 4)
    b1.save(root)
    val rel = new graft.ops.ReloadingAnnIndex(spark, root)
    val v1 = rel.currentVersion
    val qv = emb.where(col("vec_id") === 1).select("embedding")
      .collect()(0).getSeq[Float](0).toArray
    assert(rel.topKWarm(qv, 5) === b1.topK(qv, 5))
    // a second publish with a different cell count must swap in on access
    val b2 = new graft.ops.AnnIndex(emb, nCells = 8, nProbe = 4)
    b2.save(root)
    assert(rel.index.nCells === 8)
    assert(rel.currentVersion !== v1)
    assert(rel.topKWarm(qv, 5) === b2.topK(qv, 5))
    // the knob-aware overloads ride the reloading wrapper too: an
    // exhaustive accuracy profile (high doubles 4 -> 8 = nCells)
    // reproduces the unfloored result, and a floor filters it
    assert(rel.topKWarm(qv, 5, None, "balanced") === b2.topK(qv, 5))
    val hi = rel.topK(qv, 50, Some(0.15), "high")
    assert(hi === b2.topK(qv, 50, Some(0.15), b2.probesFor("high")))
    assert(hi.forall(_._2 >= 0.15))
    b1.close(); b2.close(); rel.close()
  }

  test("ANN reload-while-serving: concurrent warm queries during a version " +
       "publish return one complete generation's answer, never a torn mix") {
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val root = TestSpark.tempDir("ann_reload_race")
    val b1 = new graft.ops.AnnIndex(emb, nCells = 4, nProbe = 4)
    b1.save(root)
    val b2 = new graft.ops.AnnIndex(emb, nCells = 8, nProbe = 4)
    val rel = new graft.ops.ReloadingAnnIndex(spark, root)
    val qv = emb.where(col("vec_id") === 5).select("embedding")
      .collect()(0).getSeq[Float](0).toArray
    val exp1 = b1.topK(qv, 5)
    val exp2 = b2.topK(qv, 5)
    val bad = new java.util.concurrent.atomic.AtomicReference[String](null)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val threads = (1 to 4).map { _ =>
      new Thread(() => {
        try while (!stop.get()) {
          val r = rel.topKWarm(qv, 5)
          if (r != exp1 && r != exp2)
            bad.compareAndSet(null, s"torn result: $r")
        } catch { case e: Throwable =>
          bad.compareAndSet(null, s"query threw during reload: $e") }
      })
    }
    threads.foreach(_.start())
    Thread.sleep(150)
    b2.save(root) // concurrent publish while queries are in flight
    Thread.sleep(300)
    stop.set(true); threads.foreach(_.join(10000))
    assert(bad.get() === null, String.valueOf(bad.get()))
    assert(rel.topKWarm(qv, 5) === exp2, "post-publish queries must serve v2")
    b1.close(); b2.close(); rel.close()
  }

  test("cache hit-ratio stats: warm serves, cluster routes, and block-LRU " +
       "hits are counted (the reference cache's stats surface)") {
    val root = freshIndex(Fixtures.corpusA)
    val idx = new FtsIndex(spark, root).warm()
    val cache = new FtsQueryCache(idx)
    assert(cache.stats.warmServed === 0)
    cache.search(FtsQuery("authenticate", limit = 5)) // cold: block misses
    cache.search(FtsQuery("authenticate", limit = 5)) // hot: block hits
    val s = cache.stats
    assert(s.warmServed === 2 && s.clusterRouted === 0)
    assert(s.blockMisses >= 1 && s.blockHits >= 1)
    assert(s.warmRatio === 1.0 && s.blockHitRatio > 0.0)
    // a query over the df budget routes to the cluster and is counted so
    val tiny = new FtsQueryCache(idx, maxDfCached = 0)
    tiny.search(FtsQuery("authenticate", limit = 5))
    assert(tiny.stats.clusterRouted === 1 && tiny.stats.warmServed === 0)
    // base-hot / delta-cold (the inheriting-reload case): base and delta
    // lookups count as SEPARATE events, so the first post-reload query
    // reads as a partial hit — not the 0.0 a full-miss count would show
    val sp = spark
    import sp.implicits._
    FtsDeltas.upsert(spark, TestSpark.docsDf(Seq(graft.corpus.Fixtures.Doc(
      "test_repo", "src/fresh.py", "f1" * 20, "python",
      "def authenticate_fresh(): pass", Nil))), root)
    val idx2 = new FtsIndex(spark, root).warm()
    val c2 = new FtsQueryCache(idx2, inheritFrom = Some(cache))
    assert(c2.inheritedFromPrev)
    c2.search(FtsQuery("authenticate", limit = 5))
    val s2 = c2.stats
    assert(s2.blockHits >= 1, "inherited base blocks must count as hits")
    assert(s2.blockMisses >= 1, "cold delta parts must count as misses")
    assert(s2.blockHitRatio > 0.0 && s2.blockHitRatio < 1.0)
    idx2.cool()
    idx.cool()
  }

  test("reload-while-serving: concurrent cached queries survive snapshot " +
       "swaps and cool() of the stale snapshot (ADVICE r04 #1 — the " +
       "dead-set broadcast is unpersisted, never destroyed)") {
    val root = freshIndex(Fixtures.corpusA ++ Fixtures.corpusB)
    // give the snapshot a dead-set broadcast: one delta generation with a
    // superseding upsert
    FtsDeltas.upsert(spark, TestSpark.docsDf(Seq(
      Fixtures.Doc("test_repo", "src/auth.py", "s1" * 20, "python",
        "def authenticate_user(): return swap_base", Nil))), root, cfg)
    val rel = new ReloadingFtsIndex(spark, root)
    val q = FtsQuery("authenticate", limit = 5)
    assert(rel.searchCached(q).nonEmpty)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failed = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val readers = (0 until 4).map { _ =>
      val t = new Thread(() => {
        try while (!stop.get()) { rel.searchCached(q); rel.searchWand(q) }
        catch { case e: Throwable => failed.compareAndSet(null, e) }
      })
      t.setDaemon(true); t.start(); t
    }
    // three reload cycles under live readers: each upsert moves the
    // fingerprint; the next access swaps and cools the stale snapshot
    // (with destroy() this threw SparkException on in-flight queries)
    (2 to 4).foreach { i =>
      FtsDeltas.upsert(spark, TestSpark.docsDf(Seq(
        Fixtures.Doc("test_repo", "src/auth.py", s"s$i" * 20, "python",
          s"def authenticate_user(): return swap_$i", Nil))), root, cfg)
      rel.index // trigger the swap
      Thread.sleep(150)
    }
    stop.set(true)
    readers.foreach(_.join(10000))
    assert(failed.get() == null,
      s"a reader failed during reload: ${failed.get()}")
    assert(rel.searchCached(q).nonEmpty)
  }

  test("multi-repo fan-out isolation: a throwing repo and a stalling repo " +
       "become error entries; healthy repos return intact (Q16)") {
    import scala.concurrent.duration._
    val root = freshIndex(Fixtures.corpusA)
    val idx = new FtsIndex(spark, root)
    val healthy = idx.searchCollected(FtsQuery("authenticate", limit = 3))
    assert(healthy.nonEmpty)
    val out = MultiRepo.searchAll(Map(
      "repo_ok" -> (() => healthy),
      "repo_throws" -> (() =>
        throw new IllegalStateException("index corrupted")),
      "repo_stalls" -> (() => { Thread.sleep(30000); Nil })),
      timeout = 2.seconds)
    assert(out.results.keySet === Set("repo_ok"))
    assert(out.results("repo_ok") === healthy)
    assert(out.errors.keySet === Set("repo_throws", "repo_stalls"))
    assert(out.errors("repo_throws").contains("index corrupted"))
    assert(out.errors("repo_stalls").contains("timeout"))
    // empty fan-out is a no-op, not an error
    val empty = MultiRepo.searchAll(
      Map.empty[String, () => Seq[graft.query.SearchResult]],
      timeout = 1.second)
    assert(empty.results.isEmpty && empty.errors.isEmpty)
    // completion-order window: a stalling repo occupies ONE slot until
    // the deadline; repos beyond the window still submit and finish as
    // other slots free up (no head-of-line starvation)
    val wide = MultiRepo.searchAll(Map(
      "a_stalls" -> (() => { Thread.sleep(30000); Nil }),
      "b_ok" -> (() => healthy),
      "c_ok" -> (() => healthy),
      "d_ok" -> (() => healthy)),
      timeout = 5.seconds, parallelism = 2)
    assert(wide.results.keySet === Set("b_ok", "c_ok", "d_ok"))
    assert(wide.errors.keySet === Set("a_stalls"))
    assert(wide.errors("a_stalls").contains("timeout"))
  }

  test("an interrupt-IMMUNE stalled searcher leaks only its own thread: " +
       "the elastic fan-out pool mints replacements, so a later call " +
       "still completes (a fixed-size pool with a queue would starve)") {
    import scala.concurrent.duration._
    // each staller swallows the cancel(true) interrupt and keeps running
    // ~5 s; 40 of them exceeds the OLD fixed pool size (32), which would
    // leave the next call queued behind dead workers until its deadline
    def immune(): Seq[graft.query.SearchResult] = {
      val end = System.currentTimeMillis() + 5000
      while (System.currentTimeMillis() < end)
        try Thread.sleep(50)
        catch { case _: InterruptedException => () }
      Nil
    }
    val first = MultiRepo.searchAll(
      (0 until 40).map(i => s"stuck_$i" -> (() => immune())).toMap,
      timeout = 300.millis, parallelism = 40)
    assert(first.results.isEmpty)
    assert(first.errors.size === 40)
    assert(first.errors.values.forall(_.contains("timeout")))
    // all 40 leaked threads are STILL RUNNING; a healthy call must not
    // wait for them
    val t0 = System.nanoTime()
    val second = MultiRepo.searchAll(
      Map("ok" -> (() => Seq.empty[graft.query.SearchResult])),
      timeout = 3.seconds)
    val ms = (System.nanoTime() - t0) / 1e6
    assert(second.errors.isEmpty, s"healthy call failed: ${second.errors}")
    assert(second.results.keySet === Set("ok"))
    assert(ms < 2000, s"healthy call took $ms ms behind leaked workers")
  }

  test("a probe width < 1 is rejected at construction — it could " +
       "otherwise be persisted and silently empty every query") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val e = intercept[IllegalArgumentException](
      new graft.ops.AnnIndex(emb, nCells = 4, nProbe = 0))
    assert(e.getMessage.contains("nProbe"))
    intercept[IllegalArgumentException](
      new graft.ops.AnnIndex(emb, nCells = 0, nProbe = 4))
    // the load-time override path hits the same constructor guard
    val root = TestSpark.tempDir("ann_probe_guard")
    val ok = new graft.ops.AnnIndex(emb, nCells = 4, nProbe = 2)
    ok.save(root); ok.close()
    intercept[IllegalArgumentException](
      graft.ops.AnnIndex.load(spark, root, nProbe = Some(0)))
  }

  test("a never-built index root fails FAST (no retry stall): the " +
       "pointer-read retry is reserved for an in-flight publish") {
    val ghost = TestSpark.tempDir("no_such_index")
    val t0 = System.nanoTime()
    intercept[java.io.FileNotFoundException](
      FtsIndexBuilder.currentVersionDir(spark, ghost))
    val ms = (System.nanoTime() - t0) / 1e6
    // the retry budget alone is 40 x 5 ms = 200 ms; an immediate throw
    // stays far under it even on a noisy host
    assert(ms < 150.0, s"missing-root lookup stalled ${ms}ms")
    // a root DIR that doesn't exist at all fails the same way
    intercept[java.io.FileNotFoundException](
      FtsIndexBuilder.currentVersionDir(spark, s"$ghost/nested/absent"))
  }
}
