package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.corpus.Fixtures
import graft.index.{FtsDeltas, FtsIndexBuilder}
import graft.query.{FtsIndex, FtsQuery, FtsQueryCache, SearchResult}

/** The warm query cache's miss path: misses are served from the
  * snapshot's key-addressed stores without any SQL execution, and its
  * base/delta block LRUs never hand back a stale or emptied part. */
class FtsQueryCacheSpec extends AnyFunSuite {

  private def spark = TestSpark.spark
  private val cfg = FtsIndexBuilder.Config(nShards = 2, segmentPartitions = 4)

  private def freshIndex(docs: Seq[Fixtures.Doc]): String = {
    val root = TestSpark.tempDir("cache")
    FtsIndexBuilder.build(spark, TestSpark.docsDf(docs), root, cfg)
    root
  }

  private def assertSame(got: Seq[SearchResult], ex: Seq[SearchResult],
                         what: String): Unit = {
    assert(got.map(_.doc_id) === ex.map(_.doc_id), s"docs of $what")
    got.zip(ex).foreach { case (a, b) =>
      assert(math.abs(a.score - b.score) < 1e-8, s"score of $what")
    }
  }

  private val shapes = Seq(
    "exact" -> FtsQuery("authenticate", limit = 5),
    "multi" -> FtsQuery("username password", limit = 5),
    "phrase" -> FtsQuery("login_user", limit = 5),
    "fuzzy" -> FtsQuery("authenticat", editDistance = 1, limit = 5),
    "regex" -> FtsQuery("auth.*", useRegex = true, limit = 5),
    "case" -> FtsQuery("Configuration", caseSensitive = true, limit = 5),
    "lang" -> FtsQuery("def", languages = Seq("python"), limit = 5),
    "path" -> FtsQuery("def", pathFilters = Seq("src/*"), limit = 5),
    "limit=0" -> FtsQuery("password", limit = 0),
    "routed" -> FtsQuery("def", limit = 0, languages = Seq("python")))

  test("a cold cached query of every shape runs zero SQL executions and " +
       "equals the exhaustive path; cool() releases the stores") {
    val root = freshIndex(Fixtures.corpusA ++ Fixtures.corpusB)
    // the expected answers come from a separate snapshot, so the served
    // one's stores start cold too
    val ref = new FtsIndex(spark, root)
    val expected = shapes.map { case (n, q) => n -> ref.searchCollected(q) }
    expected.foreach { case (n, ex) => assert(ex.nonEmpty, s"$n matches") }

    val sc = spark.sparkContext
    val stores = Set("graft-segment-store", "graft-doc-store")
    def storeIds = sc.getPersistentRDDs.values
      .filter(r => stores(r.name)).map(_.id).toSet
    val othersIds = storeIds // the reference snapshot's lazily built ones
    val idx = new FtsIndex(spark, root).warm()
    val mine = storeIds -- othersIds
    assert(mine.size === 2, "warm() builds the two stores")
    val sql = new SqlExecutions(spark)
    val got = shapes.map { case (n, q) =>
      val cache = new FtsQueryCache(idx)
      val r = cache.search(q)
      assert(cache.stats.clusterRouted === 0, s"$n must be served warm")
      assert(cache.stats.blockMisses > 0, s"$n must be a cold miss")
      n -> r
    }
    assert(sql.count() === 0,
      "cold cached queries must not plan or run any SQL")
    got.zip(expected).foreach { case ((n, g), (_, ex)) => assertSame(g, ex, n) }

    assert(storeIds -- othersIds === mine, "queries reuse warm()'s stores")
    idx.cool()
    assert((storeIds intersect mine).isEmpty,
      "cool() must unpersist every store")
  }

  test("a warm index's searchWand runs zero SQL executions for every " +
       "shape, and so does a cache whose df gate sends every query to " +
       "the cluster kernel") {
    val root = freshIndex(Fixtures.corpusA ++ Fixtures.corpusB)
    val ref = new FtsIndex(spark, root)
    val expected = shapes.map { case (n, q) => n -> ref.searchCollected(q) }
    expected.foreach { case (n, ex) => assert(ex.nonEmpty, s"$n matches") }
    val idx = new FtsIndex(spark, root).warm()
    val cache = new FtsQueryCache(idx, maxDfCached = 0)
    val sql = new SqlExecutions(spark)
    val got = shapes.map { case (n, q) =>
      n -> (idx.searchWand(q), cache.search(q)) }
    assert(sql.count() === 0,
      "the cluster WAND kernel must not plan or run any SQL")
    assert(cache.stats.clusterRouted === shapes.size &&
      cache.stats.blockMisses === 0, "every query ran the cluster kernel")
    got.zip(expected).foreach { case ((n, (wand, cached)), (_, ex)) =>
      assertSame(wand, ex, s"searchWand $n")
      assertSame(cached, ex, s"cluster-routed cache $n")
    }
    idx.cool()
  }

  test("warm() leaves the dictionary relation uncached: serving reads " +
       "only the driver dictionary") {
    val idx = new FtsIndex(spark,
      freshIndex(Fixtures.corpusA ++ Fixtures.corpusB)).warm()
    import org.apache.spark.sql.classic.ClassicConversions._
    val cm = spark.sharedState.cacheManager
    for ((name, rel) <- Seq("dict" -> idx.dict,
                            "segments" -> idx.segments.toDF(),
                            "docs" -> idx.docs))
      assert(cm.lookupCachedData(rel).isEmpty,
        s"warm() caches none of dict, segments and docs: $name is cached")
    assert(idx.searchWand(FtsQuery("authenticate", limit = 3)).nonEmpty)
    idx.cool()
  }

  test("a filtered query whose df bound exceeds maxOverpull goes to the " +
       "cluster and equals the exhaustive path") {
    val idx = new FtsIndex(spark,
      freshIndex(Fixtures.corpusA ++ Fixtures.corpusB))
    val cache = new FtsQueryCache(idx, maxOverpull = 2)
    val q = FtsQuery("def", limit = 1, languages = Seq("python"))
    assert(idx.dict.where("field = 'content' AND term = 'def'")
      .select("df").head.getLong(0) > 2)
    assertSame(cache.search(q), idx.searchCollected(q), "the routed query")
    assert(cache.stats.clusterRouted === 1 && cache.stats.warmServed === 0)
  }

  test("a filtered query whose every candidate passes (a pull of exactly " +
       "the df bound) is served warm and equals the exhaustive path") {
    // the word is in the content of three docs and an identifier of three
    // others: the bound is the sum of the two fields' dfs, and every
    // posting is a distinct match that passes the filter
    val docs = (1 to 6).map { i =>
      val inContent = i <= 3
      Fixtures.Doc("test_repo", s"src/qz_$i.py", i.toString * 40, "python",
        if (inContent) s"def f$i(): return zqboundword + $i"
        else s"def f$i(): return $i",
        if (inContent) Nil else Seq("zqboundword"))
    }
    val idx = new FtsIndex(spark, freshIndex(docs ++ Fixtures.corpusA))
    val cache = new FtsQueryCache(idx)
    for (q <- Seq(FtsQuery("zqboundword", limit = 0, languages = Seq("python")),
                  FtsQuery("zqboundword", limit = 10, pathFilters = Seq("src/*")))) {
      val ex = idx.searchCollected(q)
      assert(ex.size === 6)
      assertSame(cache.search(q), ex, q.toString)
    }
    assert(cache.stats.clusterRouted === 0 && cache.stats.warmServed === 2)
  }

  test("a base-part refetch never empties a cached delta part " +
       "(base evicted while delta cached, two queries in a row)") {
    val root = freshIndex(Fixtures.corpusA ++ Fixtures.corpusB)
    val q = FtsQuery("authenticate", limit = 10)
    // maxTerms = 2: one word's (content, identifiers) pair fills an LRU
    val c1 = new FtsQueryCache(new FtsIndex(spark, root), maxTerms = 2)
    assert(c1.search(q).nonEmpty)
    FtsDeltas.upsert(spark, TestSpark.docsDf(Seq(
      Fixtures.Doc("test_repo", "src/live_new.py", "n1" * 20, "python",
        "def fresh(): return authenticate(user)", Seq("authenticate")))),
      root, cfg)
    val idx2 = new FtsIndex(spark, root)
    val ex = idx2.searchCollected(q)
    assert(ex.exists(_.path == "src/live_new.py"))
    // same version dir: the base LRU is shared with c1; the delta LRU
    // is c2's own, filled by this first query
    val c2 = new FtsQueryCache(idx2, maxTerms = 2, inheritFrom = Some(c1))
    assertSame(c2.search(q), ex, "first query after the reload")
    // a reader still on the old snapshot evicts the word's base part
    assert(c1.search(FtsQuery("password", limit = 10)).nonEmpty)
    assertSame(c2.search(q), ex, "query refetching the base part")
    assertSame(c2.search(q), ex, "next query over the cached parts")
  }
}
