package graft.query

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SqlExecutions, TestSpark}
import graft.corpus.Fixtures
import graft.functions.Distance
import graft.index.{FtsDeltas, FtsIndexBuilder}
import graft.index.FtsSchema.{DictRow, FieldContent, FieldIdent, FieldRaw}

/** The snapshot's one term dictionary ([[TermDict]]): base and delta
  * `dict` dirs read as layers, df and cf summed over them, each expanded
  * term once, avgdl and N derived without a job — on indexes of the
  * current layout and of the older one that stored `cmask` and avgdl. */
class TermDictSpec extends AnyFunSuite {

  private def spark = TestSpark.spark
  private val cfg = FtsIndexBuilder.Config(nShards = 2, segmentPartitions = 4)
  private val fields = Seq(FieldContent, FieldRaw, FieldIdent)
  private val fuzzy = FtsIndex.FuzzyQ(FieldContent, "authenticat", 2)
  private val regex = FtsIndex.RegexQ(FieldContent, "(auth|pass|zeb).*")
  private val queries = Seq(
    FtsQuery("authenticate", limit = 5),
    FtsQuery("username password", limit = 5),
    FtsQuery("login_user", limit = 5),
    FtsQuery("authenticat", editDistance = 1, limit = 5),
    FtsQuery("(auth|zeb).*", useRegex = true, limit = 5),
    FtsQuery("password password", limit = 5),
    FtsQuery("def", languages = Seq("python"), limit = 0))

  private def build(): String = {
    val root = TestSpark.tempDir("termdict")
    FtsIndexBuilder.build(spark,
      TestSpark.docsDf(Fixtures.corpusA ++ Fixtures.corpusB), root, cfg)
    root
  }

  private def rows(idx: FtsIndex): Map[(String, String), (Long, Long)] =
    idx.dict.collect().map(r => (r.getAs[String]("field"),
      r.getAs[String]("term")) -> ((r.getAs[Long]("df"), r.getAs[Long]("cf"))))
      .toMap

  private def hits(idx: FtsIndex, q: FtsQuery): Seq[(Long, Double)] =
    idx.searchCollected(q).map(r => (r.doc_id, r.score))

  private def assertSame(got: Seq[SearchResult], ex: Seq[(Long, Double)],
                         what: String): Unit = {
    assert(got.map(_.doc_id) === ex.map(_._1), s"docs of $what")
    got.zip(ex).foreach { case (a, b) =>
      assert(math.abs(a.score - b._2) < 1e-8, s"score of $what") }
  }

  /** Every dictionary-derived number of a snapshot against its `dict`
    * relation and its docs, and every top-k path against the exhaustive
    * scorer. */
  private def assertLayered(root: String, step: String): Unit = {
    val idx = new FtsIndex(spark, root)
    val rel = rows(idx)
    val probes = rel.keys.toSeq :+ ((FieldContent, "zzqqxx"))
    val dfs = idx.dfsOf(probes)
    probes.foreach(ft =>
      assert(dfs(ft) === rel.get(ft).fold(0L)(_._1), s"$step: df of $ft"))

    val exp = idx.expandAlts(Seq(fuzzy, regex))
    def matching(p: String => Boolean) = rel.keys.toSeq
      .collect { case (FieldContent, t) if p(t) => t }.sorted
    val FtsIndex.FuzzyQ(_, w, d) = fuzzy
    assert(exp(fuzzy).map(_.term) ===
      matching(Distance.damerauBounded(_, w, d) <= d),
      s"$step: fuzzy expansion, each term once")
    assert(exp(regex).map(_.term) === matching(_.matches(regex.pattern)),
      s"$step: regex expansion, each term once")
    assert(exp(fuzzy).nonEmpty && exp(regex).nonEmpty)

    assert(idx.nDocs === idx.docs.count(), s"$step: N is base + delta docs")
    fields.foreach { f =>
      val cf = rel.collect { case ((`f`, _), (_, c)) => c }.sum
      assert(idx.avgdl(f) === cf.toDouble / idx.nDocs, s"$step: avgdl($f)")
    }

    val cache = new FtsQueryCache(idx.warm())
    queries.foreach { q =>
      val ex = hits(idx, q)
      assertSame(idx.searchWand(q), ex, s"$step: searchWand ${q.text}")
      assertSame(cache.search(q), ex, s"$step: cache ${q.text}")
    }
    idx.cool()
  }

  test("dfsOf, expansion, avgdl and N agree with the dict relation after " +
       "a build, two upserts repeating base terms, and a fold") {
    val root = build()
    assertLayered(root, "build")
    FtsDeltas.upsert(spark, TestSpark.docsDf(Seq(
      Fixtures.Doc("test_repo", "src/auth.py", "b" * 40, "python",
        "def authenticate(username, password):\n    return zebra_check(password)",
        Nil),
      Fixtures.Doc("test_repo", "src/zebra.py", "b" * 40, "python",
        "def zebra_check(password):\n    return authenticated", Nil))),
      root, cfg)
    assertLayered(root, "upsert 1")
    FtsDeltas.upsert(spark, TestSpark.docsDf(Seq(
      Fixtures.Doc("test_repo", "src/zebra.py", "c" * 40, "python",
        "def zebra_check(password, username):\n    return authenticate(username)",
        Nil),
      Fixtures.Doc("test_repo", "lib/pass.js", "c" * 40, "javascript",
        "function passthrough(password) { return authenticator(password) }",
        Nil))), root, cfg)
    assertLayered(root, "upsert 2")
    assert(FtsDeltas.fold(spark, root, cfg).nonEmpty)
    assert(FtsDeltas.liveGenerations(spark, root).size === 1)
    assertLayered(root, "fold")
  }

  test("an index whose dict stores cmask and whose stats store avgdl " +
       "serves the same dictionary, numbers and results") {
    val fresh = build()
    val old = build()
    val vDir = FtsIndexBuilder.currentVersionDir(spark, old)
    val hfs = FtsIndexBuilder.fs(spark, old)
    def rewrite(sub: String)(f: DataFrame => DataFrame): Unit = {
      f(spark.read.parquet(s"$vDir/$sub")).write.parquet(s"$vDir/$sub.tmp")
      hfs.delete(new Path(s"$vDir/$sub"), true)
      assert(hfs.rename(new Path(s"$vDir/$sub.tmp"), new Path(s"$vDir/$sub")))
    }
    val charMask = udf((t: String) => Distance.charMask(t))
    rewrite("dict")(_.withColumn("cmask", charMask(col("term"))))
    val n = spark.read.parquet(s"$vDir/stats").head().getAs[Long]("n_docs")
    val cf = spark.read.parquet(s"$vDir/dict").groupBy("field")
      .agg(sum("cf")).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def avgdl(f: String) = lit(cf(f).toDouble / n)
    rewrite("stats")(_.withColumn("avgdl_content", avgdl(FieldContent))
      .withColumn("avgdl_raw", avgdl(FieldRaw))
      .withColumn("avgdl_ident", avgdl(FieldIdent)))
    assert(spark.read.parquet(s"$vDir/dict").columns.contains("cmask"))
    assert(spark.read.parquet(s"$vDir/stats").columns.length === 4)

    val a = new FtsIndex(spark, fresh)
    val b = new FtsIndex(spark, old)
    val probes = rows(a).keys.toSeq.sorted
    assert(b.dfsOf(probes) === a.dfsOf(probes))
    assert(b.expandAlts(Seq(fuzzy, regex)) === a.expandAlts(Seq(fuzzy, regex)))
    assert(b.nDocs === a.nDocs)
    fields.foreach(f => assert(b.avgdl(f) === a.avgdl(f), f))
    queries.foreach(q => assert(hits(b, q) === hits(a, q), q.text))
  }

  test("every dict dir holds exactly the DictRow columns, after a build " +
       "and after an upsert") {
    val root = build()
    FtsDeltas.upsert(spark, TestSpark.docsDf(Seq(
      Fixtures.Doc("test_repo", "src/zebra.py", "b" * 40, "python",
        "def zebra_check(password): return 1", Nil))), root, cfg)
    val vDir = FtsIndexBuilder.currentVersionDir(spark, root)
    val want = Encoders.product[DictRow].schema.map(f => (f.name, f.dataType))
    val dirs = s"$vDir/dict" +: FtsDeltas.generations(spark, vDir)
      .map(g => s"$vDir/deltas/d$g/dict")
    assert(dirs.size === 2)
    dirs.foreach(d => assert(spark.read.parquet(d).schema
      .map(f => (f.name, f.dataType)) === want, d))
  }

  test("opening a snapshot of a base and two delta generations runs one " +
       "SQL execution, the stats row") {
    val root = build()
    Seq("x" -> "zebra_one", "y" -> "zebra_two").foreach { case (p, w) =>
      FtsDeltas.upsert(spark, TestSpark.docsDf(Seq(
        Fixtures.Doc("test_repo", s"src/$p.py", "b" * 40, "python",
          s"def $w(): return authenticate", Nil))), root, cfg)
    }
    assert(FtsDeltas.liveGenerations(spark, root).size === 2)
    val sql = new SqlExecutions(spark)
    val idx = new FtsIndex(spark, root)
    assert(sql.count() <= 1, "the constructor runs no job but the stats row")
    assert(idx.nDocs === idx.docs.count())
  }
}
