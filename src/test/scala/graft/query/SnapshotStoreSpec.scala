package graft.query

import org.apache.spark.SparkEnv
import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.corpus.Fixtures
import graft.index.{FtsDeltas, FtsIndexBuilder}

/** The serving side's Spark footprint: the term dictionary is a driver
  * structure (df and fuzzy/regex expansion start no job), the segment and
  * doc stores are locally checkpointed (a lookup ships no scan lineage),
  * and a lookup whose checkpointed blocks are gone still answers. */
class SnapshotStoreSpec extends AnyFunSuite {

  private def spark = TestSpark.spark
  private def sc = spark.sparkContext
  private val cfg = FtsIndexBuilder.Config(nShards = 2, segmentPartitions = 4)
  private val exact = FtsQuery("authenticate", limit = 5)

  private lazy val root: String = {
    val r = TestSpark.tempDir("store")
    FtsIndexBuilder.build(spark,
      TestSpark.docsDf(Fixtures.corpusA ++ Fixtures.corpusB), r, cfg)
    r
  }

  /** The exhaustive answer, from a snapshot of its own. */
  private def expected(q: FtsQuery): Seq[(Long, Double)] =
    new FtsIndex(spark, root).searchCollected(q).map(r => (r.doc_id, r.score))

  private def assertCold(idx: FtsIndex, q: FtsQuery): Unit = {
    val cache = new FtsQueryCache(idx)
    val got = cache.search(q).map(r => (r.doc_id, r.score))
    assert(cache.stats.blockMisses > 0, "a cold miss")
    assert(cache.stats.clusterRouted === 0, "served warm")
    val ex = expected(q)
    assert(ex.nonEmpty)
    assert(got.map(_._1) === ex.map(_._1))
    got.zip(ex).foreach { case (a, b) => assert(math.abs(a._2 - b._2) < 1e-8) }
  }

  private def storeIds: Set[Int] = sc.getPersistentRDDs.values
    .filter(r => r.name != null && r.name.matches("graft-.*-store"))
    .map(_.id).toSet

  /** Counts the Spark jobs this thread starts between construction and
    * [[count]]: they run in a job group of their own, and the listener bus
    * delivers events in order, so [[count]] starts a sentinel job in the
    * same group and waits until its start is delivered. */
  private final class Jobs extends SparkListener {
    private val group = s"counted-jobs-${System.nanoTime}"
    private val seen = new java.util.concurrent.atomic.AtomicInteger
    @volatile private var sentinelSeen = false
    sc.addSparkListener(this)
    sc.setJobGroup(group, "counted")

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = e.properties
      if (p != null && p.getProperty("spark.jobGroup.id") == group) {
        if (p.getProperty("spark.job.description") == "sentinel")
          sentinelSeen = true
        else seen.incrementAndGet()
      }
    }

    def count(): Int = {
      sc.setJobDescription("sentinel")
      sc.parallelize(Seq(1), 1).count()
      sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!sentinelSeen && System.nanoTime() < deadline) Thread.sleep(10)
      sc.removeSparkListener(this)
      assert(sentinelSeen, "sentinel job never delivered")
      seen.get()
    }
  }

  test("after warm(), df lookups and fuzzy/regex expansion start zero " +
       "Spark jobs and agree with the dictionary relation") {
    val idx = new FtsIndex(spark, root).warm()
    val rows = idx.dict.collect()
      .map(r => (r.getAs[String]("field"), r.getAs[String]("term")) ->
        r.getAs[Long]("df")).toMap
    val fuzzy = FtsIndex.FuzzyQ("content", "authenticat", 1)
    val regex = FtsIndex.RegexQ("content", "auth.*")
    val probes = rows.keys.toSeq.sorted.take(200) :+ (("content", "zzqqxx"))

    val jobs = new Jobs
    val dfs = idx.dfsOf(probes)
    val exp = idx.expandAlts(Seq(fuzzy, regex))
    assert(jobs.count() === 0, "df and expansion must stay on the driver")

    probes.foreach(ft => assert(dfs(ft) === rows.getOrElse(ft, 0L), ft))
    def matching(p: String => Boolean) = rows.keys
      .collect { case ("content", t) if p(t) => FtsIndex.TermQ("content", t) }
      .toSeq.sortBy(_.term)
    assert(exp(fuzzy) === matching(t =>
      graft.functions.Distance.damerauBounded(t, "authenticat", 1) <= 1))
    assert(exp(regex) === matching(_.matches("auth.*")))
    assert(exp(fuzzy).nonEmpty && exp(regex).nonEmpty)
    idx.cool()
  }

  test("a store lookup's task (store RDD + probe) ships no scan lineage: " +
       "under 8 KiB for the segment and doc stores") {
    val idx = new FtsIndex(spark, root).warm()
    val ser = SparkEnv.get.closureSerializer.newInstance()
    def taskBytes(r: RDD[_], probe: AnyRef): Int =
      ser.serialize((r, probe): AnyRef).limit()
    val seg = taskBytes(idx.segmentStore.rdd, new SnapshotStore.Probe(
      SnapshotStore.blockLookup(Array(("content", "authenticate")))))
    val doc = taskBytes(idx.docStore.rdd, new SnapshotStore.Probe(
      SnapshotStore.docLookup(Array(1L, 2L), withContent = true)))
    assert(seg < 8192, s"segment store task: $seg bytes")
    assert(doc < 8192, s"doc store task: $doc bytes")
    idx.cool()
  }

  test("a cooled snapshot still answers a cold query, from store copies " +
       "that are cached nowhere") {
    val before = storeIds
    val idx = new FtsIndex(spark, root).warm()
    assert((storeIds -- before).size === 2, "warm() builds two stores")
    idx.cool()
    assertCold(idx, exact)
    assert((storeIds -- before).isEmpty,
      "a released store must not persist anything again")
  }

  test("a live store whose blocks are lost (an executor gone) rebuilds " +
       "itself once and keeps answering") {
    val idx = new FtsIndex(spark, root).warm()
    val lost = idx.segmentStore.rdd
    SparkEnv.get.blockManager.master.removeRdd(lost.id, blocking = true)
    assertCold(idx, exact)
    val now = idx.segmentStore.rdd
    assert(now ne lost, "the store was rebuilt")
    assert(sc.getPersistentRDDs.contains(now.id), "and persisted again")
    assert(!sc.getPersistentRDDs.contains(lost.id))
    assertCold(idx, FtsQuery("password", limit = 5))
    idx.cool()
  }

  test("the segment store has one partition per segment directory, and " +
       "no shard's blocks sit in two partitions: base groups, a delta, a " +
       "fold") {
    import scala.jdk.CollectionConverters._
    import org.apache.hadoop.fs.Path
    val cfg4 = FtsIndexBuilder.Config(nShards = 4, shardGroups = 2,
      segmentPartitions = 4)
    val r = TestSpark.tempDir("aligned")
    FtsIndexBuilder.build(spark,
      TestSpark.docsDf(Fixtures.corpusA ++ Fixtures.corpusB), r, cfg4)
    def upsert(i: Int): Unit = FtsDeltas.upsert(spark, TestSpark.docsDf(Seq(
      Fixtures.Doc("test_repo", s"src/aligned_$i.py", i.toString * 40,
        "python", s"def f$i(): return authenticate(user_$i)", Nil))), r, cfg4)
    def check(what: String, nDirs: Int): Unit = {
      val idx = new FtsIndex(spark, r).warm()
      val hfs = FtsIndexBuilder.fs(spark, r)
      def dirs(glob: String) = Option(hfs.globStatus(
        new Path(s"${idx.versionDir}/$glob"))).fold(0)(_.count(_.isDirectory))
      assert(dirs("segments/*") + dirs("deltas/d*/segments") === nDirs, what)
      val store = idx.segmentStore.rdd
      assert(store.getNumPartitions === nDirs,
        s"$what: one store partition per segment directory")
      val partsOf = store.mapPartitionsWithIndex((i, it) =>
        it.flatMap(_.values.asScala.flatMap(_.map(_.shard))).map(_ -> i))
        .collect().distinct.groupBy(_._1)
      assert(partsOf.values.flatMap(_.map(_._2)).toSet.size === nDirs,
        s"$what: every partition holds a shard")
      partsOf.foreach { case (sh, ps) =>
        assert(ps.length === 1, s"$what: shard $sh sits in partitions " +
          ps.map(_._2).mkString(", "))
      }
      val q = FtsQuery("authenticate", limit = 20)
      val got = idx.searchWand(q)
      val ex = new FtsIndex(spark, r).searchCollected(q)
      assert(ex.nonEmpty && got.map(_.doc_id) === ex.map(_.doc_id), what)
      got.zip(ex).foreach { case (a, b) =>
        assert(math.abs(a.score - b.score) < 1e-8, what) }
      idx.cool()
    }
    check("base", 2)
    upsert(1)
    check("one upsert", 3)
    upsert(2)
    assert(FtsDeltas.fold(spark, r, cfg4).isDefined)
    check("two upserts and a fold", 3)
  }
}
