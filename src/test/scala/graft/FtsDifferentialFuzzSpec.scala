package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.corpus.Fixtures
import graft.index.FtsIndexBuilder
import graft.query.{FtsIndex, FtsQuery, SearchResult}

/** Seeded randomized differential testing: a generated corpus and a
  * generated query battery, asserting the exhaustive scorer and the WAND
  * pipeline — its kernel on the cluster (`searchWand`, and the warm cache
  * with every df gate failing) or on the driver (the warm cache) — return
  * identical results (docs, lines, match text, snippets) and
  * fp-tolerant-identical scores for EVERY shape
  * (SURVEY §5 property-test strategy; results must also be invariant to
  * parallelism, which the build specs cover). Deterministic seed —
  * failures reproduce exactly. */
class FtsDifferentialFuzzSpec extends AnyFunSuite {

  private def spark = TestSpark.spark

  /** Every field of `got` equals `ex`'s — doc, location, match text,
    * snippet, language — with the score to 1e-8. */
  private def assertSameResults(got: Seq[SearchResult], ex: Seq[SearchResult],
                                what: String): Unit = {
    assert(got.map(_.copy(score = 0.0)) === ex.map(_.copy(score = 0.0)), what)
    got.zip(ex).foreach { case (a, b) =>
      assert(math.abs(a.score - b.score) < 1e-8, s"score: $what") }
  }
  private val cfg = FtsIndexBuilder.Config(nShards = 3, segmentPartitions = 4)

  /** Fixed default seed (deterministic CI); override with
    * GRAFT_FUZZ_SEED for exploratory sweeps. */
  private val rng = new scala.util.Random(
    sys.env.get("GRAFT_FUZZ_SEED").map(_.toLong).getOrElse(0xC0FFEEL))
  private val vocab = Vector("merge", "sort", "scan", "hash", "join",
    "filter", "table", "index", "query", "batch", "stream", "alpha",
    "beta", "gamma", "delta", "sigma", "Value", "getUser", "MERGE",
    "Sort", "x1", "y2", "int", "def")

  private def randDoc(i: Int): Fixtures.Doc = {
    val n = 5 + rng.nextInt(60)
    val words = Seq.fill(n)(vocab(rng.nextInt(vocab.size)))
    val sep = Seq(" ", " ", "_", "(", ".", "\n")
    val content = words.map(w =>
      w + sep(rng.nextInt(sep.size))).mkString("")
    val lang = Seq("py", "js", "go")(i % 3)
    Fixtures.Doc("fuzz_repo", s"src/d$i/f_$i.$lang", i.toString * 40,
      lang, content, Nil)
  }

  private def randQuery(): FtsQuery = {
    def word() = vocab(rng.nextInt(vocab.size))
    val shape = rng.nextInt(8)
    val base = shape match {
      case 0 => FtsQuery(word())
      case 1 => FtsQuery(s"${word()} ${word()}")
      case 2 => FtsQuery(s"${word()}_${word()}") // phrase via multi-token
      case 3 => // typo'd fuzzy
        val w = word().toLowerCase
        val typo =
          if (w.length > 3) w.substring(0, 2) + w.charAt(2 + rng.nextInt(w.length - 2)) + w.drop(3)
          else w
        FtsQuery(typo, editDistance = 1 + rng.nextInt(2))
      case 4 => FtsQuery(word().take(3) + ".*", useRegex = true)
      case 5 => FtsQuery(word(), caseSensitive = true)
      case 6 => FtsQuery(s"${word()} ${word()}",
        languages = Seq(Seq("py", "js", "go")(rng.nextInt(3))))
      case _ => FtsQuery(word(),
        excludeLanguages = Seq("python"),
        pathFilters = if (rng.nextBoolean()) Seq("src/d1*") else Nil)
    }
    base.copy(limit = Seq(0, 3, 10)(rng.nextInt(3)))
  }

  /** Fixed mixed-phrase shapes over a doc's first four words, which sit
    * at consecutive token positions: phrase + term, a three-term phrase,
    * two phrases, a language-filtered phrase and a limit=0 phrase. Draws
    * nothing from `rng`, so the random stream is unchanged. */
  private def mixedPhrases(d: Fixtures.Doc): Seq[FtsQuery] = {
    val Seq(a, b, c, e) =
      d.content.split("[^A-Za-z0-9]+").filter(_.nonEmpty).take(4).toSeq
    Seq(FtsQuery(s"${a}_$b $c"), FtsQuery(s"${a}_${b}_$c"),
      FtsQuery(s"${a}_$b ${c}_$e"),
      FtsQuery(s"${b}_$c", languages = Seq(d.lang)),
      FtsQuery(s"${a}_$b", limit = 0))
  }

  private def threeWayBattery(buildCfg: FtsIndexBuilder.Config,
                              tag: String): Unit = {
    val docs = (0 until 40).map(randDoc)
    val root = TestSpark.tempDir(s"fuzz$tag")
    FtsIndexBuilder.build(spark, TestSpark.docsDf(docs), root, buildCfg)
    val idx = new FtsIndex(spark, root).warm()
    val cache = new graft.query.FtsQueryCache(idx)
    // maxDfCached = 0: every query with a matching term fails the df
    // gate, so the cache's pipeline runs its kernel on the cluster
    val clusterCache = new graft.query.FtsQueryCache(idx, maxDfCached = 0)

    val mixed = mixedPhrases(docs.head)
    val queries = (0 until 40).map(_ => randQuery()) ++ mixed
    var nonEmpty = 0
    queries.foreach { q =>
      val ex = idx.searchCollected(q)
      // doc 0 holds every fixed phrase
      if (mixed.contains(q)) assert(ex.nonEmpty, s"no match for $q ($tag)")
      val wand = idx.searchWand(q)
      if (ex.nonEmpty) nonEmpty += 1
      // twice through each cache: the second pass serves from the rows
      // (and text views) the first one cached
      for ((what, got) <- Seq("WAND" -> wand, "cached" -> cache.search(q),
                              "cached again" -> cache.search(q),
                              "cluster-cached" -> clusterCache.search(q)))
        assertSameResults(got, ex, s"$what results for $q ($tag)")
    }
    // the battery must actually exercise matching queries
    assert(nonEmpty >= 10, s"only $nonEmpty of ${queries.size} queries matched")
    // a matching query cannot pass the df gate, and only a query without
    // a matching term skips the kernel (counted as served on the driver)
    val st = clusterCache.stats
    assert(st.warmServed + st.clusterRouted === queries.size)
    assert(st.clusterRouted >= nonEmpty,
      s"${st.clusterRouted} routed, $nonEmpty matched ($tag)")
    assert(st.blockHits + st.blockMisses === 0,
      s"the cluster kernel fetches no blocks to the driver ($tag)")
    idx.cool()
  }

  test("random corpus x random queries: exhaustive == WAND == cached " +
       "(docs exact, scores to fp tolerance)") {
    threeWayBattery(cfg, "ex")
  }

  test("random corpus x random queries under QUANTIZED fieldnorms: the " +
       "three paths stay identical to each other (all score the same " +
       "1-byte dl baked into the postings)") {
    threeWayBattery(cfg.copy(quantizeNorms = true), "qn")
  }

  test("delta churn fuzz: upserts, deletes and folds between query " +
       "batteries; three-way parity holds with live generations") {
    val docs = (0 until 30).map(randDoc)
    val root = TestSpark.tempDir("fuzzdelta")
    FtsIndexBuilder.build(spark, TestSpark.docsDf(docs), root, cfg)
    val rel = new graft.query.ReloadingFtsIndex(spark, root)
    var nextId = 100
    var nonEmpty = 0
    (1 to 4).foreach { round =>
      rng.nextInt(3) match {
        case 0 => // mix of fresh docs and a replacement of an existing path
          val fresh = (0 until 1 + rng.nextInt(2)).map { _ =>
            nextId += 1; randDoc(nextId)
          }
          val replaced = randDoc(rng.nextInt(30)) // same path, new content
          graft.index.FtsDeltas.upsert(spark,
            TestSpark.docsDf(fresh :+ replaced), root, cfg)
        case 1 => // delete one (possibly already-replaced) path
          graft.index.FtsDeltas.delete(spark,
            TestSpark.docsDf(Seq(randDoc(rng.nextInt(30))))
              .select("repo", "path"), root)
        case _ => // tiered fold (no-op when <2 generations live)
          graft.index.FtsDeltas.fold(spark, root, cfg)
      }
      val idx = rel.index // fresh snapshot over the new generation list
      val queries = (0 until 6).map(_ => randQuery()) ++ mixedPhrases(docs.head)
      queries.foreach { q =>
        val ex = idx.searchCollected(q)
        if (ex.nonEmpty) nonEmpty += 1
        assertSameResults(idx.searchWand(q), ex,
          s"WAND results for $q at churn round $round")
        assertSameResults(rel.searchCached(q), ex,
          s"cached results for $q at churn round $round")
      }
    }
    assert(nonEmpty >= 8, s"battery matched only $nonEmpty queries")
  }

  test("chunk-granularity corpus with line-range filters: three-way parity " +
       "(the cache serves limit>0 line filters WARM; limit=0 and WAND " +
       "route to the cluster and stay identical)") {
    val docs = (0 until 12).map { i =>
      val lines = (1 to 20 + rng.nextInt(30)).map(_ =>
        Seq.fill(4)(vocab(rng.nextInt(vocab.size))).mkString(" "))
      Fixtures.Doc("fuzz_repo", s"src/c_$i.py", i.toString * 40, "py",
        lines.mkString("\n"), Nil)
    }
    val chunked = graft.sources.ChunkedIngest.explode(
      TestSpark.docsDf(docs).drop("identifiers"), chunkSize = 250)
    val root = TestSpark.tempDir("fuzzchunk")
    FtsIndexBuilder.build(spark, chunked, root, cfg)
    val idx = new FtsIndex(spark, root).warm()
    val cache = new graft.query.FtsQueryCache(idx)
    var nonEmpty = 0
    (0 until 15).foreach { _ =>
      val w = vocab(rng.nextInt(vocab.size))
      val q = FtsQuery(w, limit = Seq(0, 5)(rng.nextInt(2)),
        minLine = if (rng.nextBoolean()) Some(5L + rng.nextInt(20)) else None,
        maxLine = if (rng.nextBoolean()) Some(10L + rng.nextInt(30)) else None)
      val ex = idx.searchCollected(q)
      if (ex.nonEmpty) nonEmpty += 1
      // every field exact but the score, fp-tolerant like the other
      // differential tests (two-field OR sums differ in summation order
      // between the paths — last-ulp only)
      assertSameResults(idx.searchWand(q), ex, s"WAND parity for $q")
      assertSameResults(cache.search(q), ex, s"cached parity for $q")
    }
    assert(nonEmpty >= 5)
  }
}
