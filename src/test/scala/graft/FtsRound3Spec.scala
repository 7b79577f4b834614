package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.corpus.Fixtures
import graft.index.{FtsDeltas, FtsIndexBuilder}
import graft.query.{FtsIndex, FtsQuery}

/** Round-3 fixes: tombstones must not occupy top-k slots (ADVICE r02 #1),
  * limit=0 snippet parity across all three query paths (#3), and parameter
  * validation on the cached path. */
class FtsRound3Spec extends AnyFunSuite {

  private def spark = TestSpark.spark
  private val cfg = FtsIndexBuilder.Config(nShards = 2, segmentPartitions = 4)

  private def freshIndex(docs: Seq[Fixtures.Doc]): String = {
    val root = TestSpark.tempDir("r3")
    FtsIndexBuilder.build(spark, TestSpark.docsDf(docs), root, cfg)
    root
  }

  test("tombstoned docs do not occupy unfiltered top-k slots") {
    // 6 alive docs matching "zulu" with modest scores...
    val alive = (1 to 6).map(i => Fixtures.Doc("test_repo", s"src/alive_$i.py",
      i.toString * 40, "python",
      s"def fn_$i(): return zulu_value_$i # zulu mention " + ("filler " * i),
      Nil))
    // ...plus one doc whose ORIGINAL version would score highest (tiny doc,
    // high tf) and is then replaced by content without the term
    val hot = Fixtures.Doc("test_repo", "src/hot.py", "9" * 40, "python",
      "zulu zulu zulu zulu zulu", Nil)
    val root = freshIndex(alive :+ hot)
    FtsDeltas.upsert(spark, TestSpark.docsDf(Seq(
      Fixtures.Doc("test_repo", "src/hot.py", "8" * 40, "python",
        "def replaced(): return nothing", Nil))), root, cfg)

    val idx = new FtsIndex(spark, root)
    val rs = idx.searchCollected(FtsQuery("zulu", limit = 6))
    assert(rs.size === 6, "a dead doc must not shrink the result set")
    assert(rs.map(_.path).toSet === alive.map(_.path).toSet)
  }

  test("limit=0 forces snippets off on ALL paths (search/wand/cached) " +
       "with identical results") {
    val root = freshIndex(Fixtures.corpusA ++ Fixtures.corpusB)
    val idx = new FtsIndex(spark, root).warm()
    val cache = new graft.query.FtsQueryCache(idx)
    val q = FtsQuery("def", limit = 0, snippetLines = 5)

    val ex = idx.searchCollected(q)
    val wand = idx.searchWand(q)
    val cached = cache.search(q)
    assert(ex.nonEmpty)
    assert(ex.forall(_.snippet.isEmpty), "search: snippets must be off")
    assert(wand.forall(_.snippet.isEmpty), "searchWand: snippets must be off")
    assert(cached.forall(_.snippet.isEmpty), "cached: snippets must be off")
    assert(wand.map(r => (r.doc_id, r.score)) ===
      ex.map(r => (r.doc_id, r.score)))
    assert(cached.map(r => (r.doc_id, r.score)) ===
      ex.map(r => (r.doc_id, r.score)))
  }

  test("fuzzy expansion: transposition matches survive the cmask prefilter") {
    // "megre" is a damerau-distance-1 TRANSPOSITION of "merge" (levenshtein
    // distance 2) and has the identical character set — the exact case a
    // too-aggressive prefilter would drop
    val docs = Fixtures.corpusA :+ Fixtures.Doc("test_repo", "src/typo.py",
      "5" * 40, "python", "def megre(a, b): return a + b", Nil)
    val root = freshIndex(docs)
    val idx = new FtsIndex(spark, root)
    val rs = idx.searchCollected(FtsQuery("merge", editDistance = 1))
    assert(rs.exists(_.path == "src/typo.py"),
      "transposed term must match at d=1")
  }

  test("fuzzy and regex ride the WAND path after expansion, " +
       "identical to exhaustive") {
    val root = freshIndex(Fixtures.corpusA ++ Fixtures.corpusB)
    val idx = new FtsIndex(spark, root)
    for (q <- Seq(FtsQuery("authenticat", editDistance = 1, limit = 10),
                  FtsQuery("auth.*", useRegex = true, limit = 10))) {
      val ex = idx.searchCollected(q).map(r => (r.doc_id, r.score))
      val wand = idx.searchWand(q).map(r => (r.doc_id, r.score))
      assert(ex.nonEmpty, s"query $q should match")
      assert(wand === ex, s"WAND != exhaustive for $q")
    }
  }

  test("fuzzy segments scan is pruned by exact terms (no UDF on segments)") {
    val root = freshIndex(Fixtures.corpusA ++ Fixtures.corpusB)
    val idx = new FtsIndex(spark, root)
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val df = idx.search(FtsQuery("authenticat", editDistance = 1, limit = 5))
      val plan = df.queryExecution.executedPlan
      val segScans = plan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains("/segments")) => f
      }
      assert(segScans.nonEmpty)
      segScans.foreach { s =>
        assert(!s.dataFilters.exists(_.exists(
            _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.ScalaUDF])),
          s"fuzzy query must not UDF-filter the segments scan:\n$s")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("df-gate: a stopword-grade term's posting list is NEVER collected " +
       "to the driver; results stay cluster-identical") {
    val root = freshIndex(Fixtures.corpusA ++ Fixtures.corpusB)
    val idx = new FtsIndex(spark, root).warm()
    // budget of 2 postings: "def" (df ~ N) exceeds it, "authenticate" not
    val cache = new graft.query.FtsQueryCache(idx, maxDfCached = 2)
    val q = FtsQuery("def", limit = 5)
    val cached = cache.search(q).map(r => (r.doc_id, r.score))
    val ex = idx.searchCollected(q).map(r => (r.doc_id, r.score))
    assert(cached === ex)
    assert(cached.nonEmpty)
    for (f <- Seq("content", "identifiers"))
      assert(!cache.hasBlocksFor(f, "def"),
        s"high-df term blocks must not be fetched into the driver cache ($f)")
    assert(cache.cachedTermCount === 0)
    // mixed query with one hot term: whole query routes to the cluster
    val q2 = FtsQuery("authenticate def", limit = 5)
    assert(cache.search(q2).map(_.doc_id) ===
      idx.searchCollected(q2).map(_.doc_id))
    assert(!cache.hasBlocksFor("content", "def"))
  }

  test("warm cache covers filtered / phrase / fuzzy / regex shapes, " +
       "identical to the cluster path, zero jobs when hot") {
    val root = freshIndex(Fixtures.corpusA ++ Fixtures.corpusB)
    val idx = new FtsIndex(spark, root).warm()
    val cache = new graft.query.FtsQueryCache(idx)
    val shapes = Seq(
      FtsQuery("def", limit = 5, languages = Seq("python")),
      FtsQuery("def", limit = 5, excludeLanguages = Seq("python")),
      FtsQuery("def", limit = 5, pathFilters = Seq("src/*")),
      FtsQuery("def", limit = 5, excludePathFilters = Seq("src/*"),
        languages = Seq("python")),
      FtsQuery("login_user", limit = 5), // multi-token word -> phrase node
      FtsQuery("authenticat", editDistance = 1, limit = 5),
      FtsQuery("auth.*", useRegex = true, limit = 5))
    for (q <- shapes) {
      val c = cache.search(q).map(r => (r.doc_id, r.score))
      val e = idx.searchCollected(q).map(r => (r.doc_id, r.score))
      assert(e.nonEmpty, s"query should match: $q")
      assert(c.map(_._1) === e.map(_._1), s"docs for $q")
      c.zip(e).foreach { case (a, b) =>
        assert(math.abs(a._2 - b._2) < 1e-9, s"score for $q") }
    }
    // all shapes hot now: zero Spark jobs on repeat
    val tracker = spark.sparkContext.statusTracker
    val before = tracker.getJobIdsForGroup(null).length
    shapes.foreach(q => assert(cache.search(q).nonEmpty))
    val after = tracker.getJobIdsForGroup(null).length
    assert(after === before,
      "hot cached queries of every shape must run zero Spark jobs")
  }

  test("regex match/snippet extraction is identical across " +
       "search/WAND/cached paths") {
    val root = freshIndex(Fixtures.corpusA ++ Fixtures.corpusB)
    val idx = new FtsIndex(spark, root).warm()
    val cache = new graft.query.FtsQueryCache(idx)
    val q = FtsQuery("auth.*", useRegex = true, limit = 5)
    def key(r: graft.query.SearchResult) =
      (r.doc_id, r.line, r.column, r.match_text, r.snippet)
    val ex = idx.searchCollected(q).map(key)
    val wand = idx.searchWand(q).map(key)
    val cached = cache.search(q).map(key)
    assert(ex.nonEmpty)
    // the pattern must be matched as a REGEX, not searched as literal text
    assert(ex.forall(r => r._4.toLowerCase.startsWith("auth")))
    assert(wand === ex, "WAND regex extraction diverged")
    assert(cached === ex, "cached regex extraction diverged")
  }

  test("legacy base dict without cmask: fuzzy expansion still sees " +
       "base terms after a delta merge") {
    val root = freshIndex(Fixtures.corpusA)
    // simulate an index built before the cmask column existed
    val vDir = FtsIndexBuilder.currentVersionDir(spark, root)
    val hfs = FtsIndexBuilder.fs(spark, root)
    val stripped = spark.read.parquet(s"$vDir/dict").drop("cmask")
    stripped.write.mode("overwrite").parquet(s"$vDir/dict_nocmask")
    hfs.delete(new org.apache.hadoop.fs.Path(s"$vDir/dict"), true)
    assert(hfs.rename(new org.apache.hadoop.fs.Path(s"$vDir/dict_nocmask"),
      new org.apache.hadoop.fs.Path(s"$vDir/dict")))
    // a delta layer makes the dictionary read span two layouts: the
    // base dir without cmask and a delta dir of the current layout
    FtsDeltas.upsert(spark, TestSpark.docsDf(Seq(
      Fixtures.Doc("test_repo", "src/extra.py", "e" * 40, "python",
        "def unrelated_fn(): return 1", Nil))), root, cfg)
    val idx = new FtsIndex(spark, root)
    // "authenticat" ~1 edit from base term "authenticate" — a NULL-cmask
    // base row must pass the prefilter
    val rs = idx.searchCollected(FtsQuery("authenticat", editDistance = 1))
    assert(rs.nonEmpty, "base-dict terms must survive fuzzy expansion")
  }

  test("cache query-total gate: a broad expansion never collects blocks " +
       "to the driver") {
    val root = freshIndex(Fixtures.corpusA ++ Fixtures.corpusB)
    val idx = new FtsIndex(spark, root).warm()
    val cache = new graft.query.FtsQueryCache(idx, maxQueryDf = 10)
    // every term is individually small but the expansion sums past the
    // query budget
    val q = FtsQuery("[a-z_]+", useRegex = true, limit = 5)
    val c = cache.search(q).map(r => (r.doc_id, r.score))
    val e = idx.searchCollected(q).map(r => (r.doc_id, r.score))
    // scores of a ~500-term OR node are float sums in path-specific order;
    // docs identical, scores equal to fp tolerance
    assert(c.map(_._1) === e.map(_._1))
    c.zip(e).foreach { case (a, b) =>
      assert(math.abs(a._2 - b._2) < 1e-8) }
    assert(cache.cachedTermCount === 0,
      "over-budget query must not fetch posting blocks into the cache")
    val cache2 = new graft.query.FtsQueryCache(idx, maxQueryTerms = 3)
    assert(cache2.search(q).map(_.doc_id) === e.map(_._1))
    assert(cache2.cachedTermCount === 0)
  }

  test("cached path validates query parameters like the cluster path") {
    val root = freshIndex(Fixtures.corpusA)
    val idx = new FtsIndex(spark, root)
    val cache = new graft.query.FtsQueryCache(idx)
    intercept[IllegalArgumentException] {
      cache.search(FtsQuery("merge", editDistance = 7))
    }
    intercept[IllegalArgumentException] {
      cache.search(FtsQuery("merge", limit = -1))
    }
  }
}
