package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.corpus.Fixtures
import graft.index.{FtsIndexBuilder, FtsSchema}
import graft.query.{FtsIndex, FtsQuery}

/** Build-pipeline properties: determinism under reparallelization, resume
  * from a partial build (north-rule lineage requirement), manifest metrics,
  * and the sha256 ingest invariant. */
class FtsBuildSpec extends AnyFunSuite {

  private def spark = TestSpark.spark

  private def buildAll(root: String, shuffleParts: String): Unit = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", shuffleParts)
    try FtsIndexBuilder.build(spark,
      TestSpark.docsDf(Fixtures.corpusA ++ Fixtures.corpusB), root,
      FtsIndexBuilder.Config(nShards = 3, segmentPartitions = 5))
    finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  private def segmentFingerprint(root: String): Seq[(String, String, Long, Int, String)] = {
    val idx = new FtsIndex(spark, root)
    idx.segments.collect().toSeq
      .map(b => (b.field, b.term, b.first_doc, b.n,
        java.util.Base64.getEncoder.encodeToString(
          b.doc_bytes ++ b.tf_bytes ++ b.dl_bytes ++ b.pos_bytes)))
      .sortBy(t => (t._1, t._2, t._3))
  }

  test("bit-identical segments under different parallelism") {
    val r1 = TestSpark.tempDir("det1")
    val r2 = TestSpark.tempDir("det2")
    buildAll(r1, "4")
    buildAll(r2, "7")
    assert(segmentFingerprint(r1) === segmentFingerprint(r2))
    val d1 = new FtsIndex(spark, r1).dict.collect().map(_.toString).sorted
    val d2 = new FtsIndex(spark, r2).dict.collect().map(_.toString).sorted
    assert(d1 === d2)
  }

  test("resume: a wiped shard is rebuilt, others skipped, result identical") {
    val rFull = TestSpark.tempDir("full")
    buildAll(rFull, "4")
    val rPart = TestSpark.tempDir("part")
    buildAll(rPart, "4")
    // simulate a mid-build crash: wipe shard-group g1's segments+manifest
    // and the success/current markers (group = shard 1 here: 3 shards over
    // 4 group slots => singleton groups)
    def rm(p: String): Unit = {
      val f = new java.io.File(p)
      if (f.isDirectory) f.listFiles.foreach(c => rm(c.getPath))
      f.delete()
    }
    rm(s"$rPart/v1/segments/g1")
    rm(s"$rPart/v1/manifest/g1")
    rm(s"$rPart/v1/BUILD_SUCCESS")
    rm(s"$rPart/current")
    val report = FtsIndexBuilder.build(spark,
      TestSpark.docsDf(Fixtures.corpusA ++ Fixtures.corpusB), rPart,
      FtsIndexBuilder.Config(nShards = 3, segmentPartitions = 5))
    assert(report.version === "v1")
    assert(report.shardsBuilt === Seq(1))
    assert(report.shardsSkipped.toSet === Set(0, 2))
    assert(segmentFingerprint(rFull) === segmentFingerprint(rPart))
  }

  test("manifest carries lineage + metrics per shard") {
    val root = TestSpark.tempDir("mani")
    buildAll(root, "4")
    val idx = new FtsIndex(spark, root)
    val rows = idx.manifest.collect()
    assert(rows.length === 3)
    val total = rows.map(_.getAs[Long]("n_docs")).sum
    assert(total === (Fixtures.corpusA ++ Fixtures.corpusB).size)
    rows.foreach { r =>
      assert(r.getAs[String]("status") === "done")
      assert(r.getAs[Long]("n_postings") > 0)
      assert(r.getAs[Long]("bytes_postings") > 0)
      assert(r.getAs[String]("input_sha").nonEmpty)
    }
  }

  test("sha256 ingest invariant") {
    val root = TestSpark.tempDir("sha")
    buildAll(root, "4")
    val idx = new FtsIndex(spark, root)
    val got = idx.docs.select("path", "sha256").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    (Fixtures.corpusA ++ Fixtures.corpusB).foreach { d =>
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val hex = md.digest(d.content.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      assert(got(d.path) === hex, s"sha mismatch for ${d.path}")
    }
  }

  test("atomic swap: second build becomes a new version, old readable") {
    val root = TestSpark.tempDir("swap")
    buildAll(root, "4")
    val v1 = FtsIndexBuilder.currentVersionDir(spark, root)
    buildAll(root, "4") // full rebuild (v1 is finished, so a new v2 starts)
    val v2 = FtsIndexBuilder.currentVersionDir(spark, root)
    assert(v1 !== v2)
    val idx = new FtsIndex(spark, root)
    assert(idx.searchCollected(FtsQuery("authenticate")).nonEmpty)
  }

  test("block-max metadata bounds real scores") {
    val root = TestSpark.tempDir("bmax")
    buildAll(root, "4")
    val idx = new FtsIndex(spark, root)
    idx.segments.collect().foreach { b =>
      val tfs = graft.index.Codec.decodeVarints(b.tf_bytes, b.n)
      val dls = graft.index.Codec.decodeVarints(b.dl_bytes, b.n)
      assert(tfs.max === b.max_tf)
      assert(dls.min === b.min_dl)
      assert(b.n <= 128)
      val docs = graft.index.Codec.decodeDeltas(b.doc_bytes, b.n)
      assert(docs.head === b.first_doc && docs.last === b.last_doc)
      assert(docs.toSeq === docs.sorted.toSeq)
    }
  }

  test("stageShards scopes its split floor to its own session: the " +
       "caller's session never sees spark.sql.files.minPartitionNum") {
    val key = "spark.sql.files.minPartitionNum"
    assert(spark.conf.getOption(key).isEmpty)
    val root = TestSpark.tempDir("minpart")
    val cfg = FtsIndexBuilder.Config(nShards = 3, segmentPartitions = 5)
    val vDir = FtsIndexBuilder.stageDocs(spark,
      TestSpark.docsDf(Fixtures.corpusA ++ Fixtures.corpusB), root, cfg)
    import scala.concurrent.ExecutionContext.Implicits.global
    val run = scala.concurrent.Future(
      FtsIndexBuilder.stageShards(spark, vDir, cfg, None))
    var seen = Set.empty[Option[String]]
    var polls = 0
    while (!run.isCompleted) {
      seen += spark.conf.getOption(key); polls += 1
      Thread.sleep(1)
    }
    val (built, _) = scala.concurrent.Await.result(run,
      scala.concurrent.duration.Duration.Inf)
    assert(built.sorted === Seq(0, 1, 2))
    assert(polls > 0 && seen === Set(None),
      s"the caller's session saw $key set: $seen")
    assert(spark.conf.getOption(key).isEmpty)
  }

  test("a source with a duplicated (repo, path) is rejected before any " +
       "docs file is written") {
    val root = TestSpark.tempDir("dupkey")
    val docs = Fixtures.corpusA
    val dup = docs(1).copy(content = "def other(): return 1")
    val e = intercept[IllegalArgumentException] {
      FtsIndexBuilder.build(spark, TestSpark.docsDf(docs :+ dup), root,
        FtsIndexBuilder.Config(nShards = 3, segmentPartitions = 5))
    }
    assert(e.getMessage.contains(dup.repo) && e.getMessage.contains(dup.path),
      e.getMessage)
    val written = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
    try assert(!written.anyMatch(_.endsWith("docs/_SUCCESS")),
      "no docs table may be committed")
    finally written.close()
  }

  test("identical dictionaries across layouts: one shard group or one per " +
       "shard, each the per-term sums of the segments") {
    def build(groups: Int): String = {
      val root = TestSpark.tempDir(s"layout$groups")
      FtsIndexBuilder.build(spark,
        TestSpark.docsDf(Fixtures.corpusA ++ Fixtures.corpusB), root,
        FtsIndexBuilder.Config(nShards = 3, segmentPartitions = 5,
          shardGroups = groups))
      root
    }
    def dictOf(root: String): Seq[String] =
      new FtsIndex(spark, root).dict.collect().map(_.toString).sorted.toSeq
    val (one, many) = (build(1), build(3))
    assert(new java.io.File(s"$many/v1/segments").list().count(
      _.startsWith("g")) === 3)
    assert(dictOf(one) === dictOf(many))
    val idx = new FtsIndex(spark, many)
    val sums = idx.segments.collect().groupBy(b => (b.field, b.term))
      .map { case (ft, bs) => (ft, (bs.map(_.n.toLong).sum, bs.map(_.sum_tf).sum)) }
    val dict = idx.dict.select("field", "term", "df", "cf").collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getLong(3))))
      .toMap
    assert(dict === sums)
  }

  test("the doc-id broadcast is gated on bytes: a small corpus broadcasts, " +
       "a few rows with huge keys shuffle") {
    // (repo, path, shard, doc_id): 4 columns
    assert(FtsIndexBuilder.broadcastsIds(16384, 16384L * 60, 4))
    // the former row cap with ~60 B keys still fits
    assert(FtsIndexBuilder.broadcastsIds(4L << 20, (4L << 20) * 60, 4))
    assert(!FtsIndexBuilder.broadcastsIds(10, 10L * (64L << 20), 4))
    assert(!FtsIndexBuilder.broadcastsIds(8L << 20, (8L << 20) * 20, 4))
  }
}
