package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.analysis.Tokenizer
import graft.index.{Codec, FtsIndexBuilder}
import graft.index.FtsSchema.SegmentBlock
import graft.query._

/** The graft benchmark: one workload, one seed, one run.
  *
  * {{{
  *   Main --workload serve_hot --seed 7 --seconds 10 --trace 0 --work DIR
  *   Main --selftest --work DIR
  * }}}
  *
  * Every input the engine sees is generated from the seed ([[Gen]]); the
  * engine is driven only through its public API. The last stdout line is
  * the result object: end-to-end metrics with `--trace 0`, per-layer
  * metrics (from spans and a Spark listener) with `--trace 1`.
  */
object Main {

  /** One workload's shape. `readers` is the closed-loop query clients,
    * `hot` whether they repeat the hot set (else the long-tail stream),
    * `slices` the equal parts of the window whose median p50 and rate are
    * reported (a passing stall of the host moves one slice, not the
    * median; the long tail's ~70 queries a window stay one slice). */
  final case class Workload(name: String, readers: Int, hot: Boolean, slices: Int)

  val Workloads: Map[String, Workload] = Seq(
    Workload("serve_hot", 3, hot = true, slices = 5),
    Workload("serve_cold", 4, hot = false, slices = 1)
  ).map(w => w.name -> w).toMap

  /** Corpus size in files. */
  val CorpusFiles = 1000

  /** Opens of the serving handle per run; setup_s is their median. */
  val SetupReps = 3
  /** Hot query set size: its terms and docs fit the cache budgets. */
  val HotQueries = 64
  /** Queries re-checked against the exhaustive scorer per run. */
  val CheckQueries = 8
  /** Seconds of the hot loop run before the window (JIT warm-up). */
  val WarmupS = 8.0
  /** Long-tail queries run before the window (Spark plan warm-up). */
  val ColdWarmupQueries = 24
  /** Pre-generated query stream length (clients wrap around). */
  val StreamLen = 20000

  val ColdMix: Seq[(String, Int)] = Seq(
    Gen.Exact -> 28, Gen.Multi -> 18, Gen.Phrase -> 10, Gen.Fuzzy1 -> 8,
    Gen.Fuzzy2 -> 4, Gen.Regex -> 6, Gen.Lang -> 7, Gen.PathF -> 5,
    Gen.Case -> 5, Gen.LimitAll -> 3, Gen.Routed -> 6)
  /** Query popularity skew of the long-tail stream: flat enough that a
    * run's ~80 queries rarely repeat a word, so nearly all of them miss. */
  val ColdZipfS = 0.6

  final class Args(m: Map[String, String]) {
    def workload: String = m.getOrElse("workload", "")
    def seed: Long = m.getOrElse("seed", "1").toLong
    def seconds: Double = m.getOrElse("seconds", "10").toDouble
    def trace: Boolean = m.getOrElse("trace", "0") == "1"
    def work: Path = Paths.get(m.getOrElse("work", "bench-work")).toAbsolutePath
    def out: Path = Paths.get(m.getOrElse("out", m.getOrElse("work", "bench-work"))).toAbsolutePath
    def selftest: Boolean = m.contains("selftest")
  }

  def main(argv: Array[String]): Unit = {
    val kv = argv.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap ++ argv.filter(_ == "--selftest").map(_ => "selftest" -> "1")
    val a = new Args(kv)
    if (a.selftest) sys.exit(if (selfTest()) 0 else 1)
    val wl = Workloads.getOrElse(a.workload, {
      System.err.println(s"unknown workload '${a.workload}'; one of ${Workloads.keys.mkString(", ")}")
      sys.exit(2)
    })
    Files.createDirectories(a.work)
    val spark = session(a.work)
    val code =
      try { new Run(spark, wl, a).run(); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
      finally spark.stop()
    sys.exit(code)
  }

  /** Local session over every core the JVM sees; scratch inside `work`. */
  def session(work: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Same seed, byte-identical inputs; another seed, different inputs. */
  def selfTest(): Boolean = {
    def digest(seed: Long): String = {
      val g = new Gen(seed, 400)
      val md = java.security.MessageDigest.getInstance("SHA-256")
      def add(s: String): Unit = md.update(s.getBytes("UTF-8"))
      g.files.foreach(f => add(f.toString))
      g.hotSet(HotQueries).foreach(q => add(q.toString))
      g.stream(500, ColdZipfS, ColdMix, 0xc01dL).foreach(q => add(q.toString))
      md.digest().map("%02x".format(_)).mkString
    }
    val (a1, a2, b) = (digest(1), digest(1), digest(2))
    val ok = a1 == a2 && a1 != b
    println(s"selftest seed1=$a1 seed1again=$a2 seed2=$b ${if (ok) "ok" else "FAILED"}")
    ok
  }

  // ---- small statistics ---------------------------------------------------

  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val x = p * (s.size - 1)
      val lo = math.floor(x).toInt
      val hi = math.min(s.size - 1, lo + 1)
      s(lo) + (s(hi) - s(lo)) * (x - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
}

/** One query as executed: shape, start, latency and Spark jobs seen. */
final case class QRec(shape: String, req: Long, startNs: Long, latNs: Long,
                      ok: Boolean)

final class Run(spark: SparkSession, wl: Main.Workload, a: Main.Args) {
  import Main._

  private val sc = spark.sparkContext
  private val cfg = FtsIndexBuilder.Config()
  private val tr = new Tracer(a.trace, sc)
  private val listener = new JobListener
  if (a.trace) sc.addSparkListener(listener)

  private val attempted = new AtomicLong
  private val failed = new AtomicLong
  /** Failed operations that returned a wrong answer (the rest threw). */
  private val wrong = new AtomicLong
  private val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]
  private def fail(what: String, wrongAnswer: Boolean = false): Unit = {
    failed.incrementAndGet()
    if (wrongAnswer) wrong.incrementAndGet()
    if (failures.size < 20) failures.add(what)
  }

  private def nowNs: Long = System.nanoTime()
  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  private val born = nowNs
  private def log(s: String): Unit = System.err.println(f"[perfbench ${secs(born)}%6.1fs] $s")

  def run(): Unit = {
    val g = new Gen(a.seed, CorpusFiles)
    log(f"${wl.name}: ${g.files.length} files, ${g.inputBytes / 1e6}%.1f MB, vocabulary ${g.vocab.length}")
    val srcDir = a.work.resolve("source").toString
    writeSource(g.files.toSeq, srcDir)
    val source = spark.read.parquet(srcDir)

    // ---- build: one full build in a fresh JVM, stages timed apart --------
    val root = a.work.resolve("index").toString
    val c0 = cpuS
    val t0 = nowNs
    val vDir = tr.span("build") {
      val v = tr.span("build.docs")(FtsIndexBuilder.stageDocs(spark, source, root, cfg))
      tr.span("build.shards")(FtsIndexBuilder.stageShards(spark, v, cfg, None))
      tr.span("build.finalize")(FtsIndexBuilder.stageFinalize(spark, root, v, cfg))
      v
    }
    val buildS = secs(t0)
    val buildCpuS = cpuS - c0
    log(f"build $buildS%.2f s, cpu $buildCpuS%.2f s")

    // ---- set-up: open the serving handle (load + warm), median of SetupReps
    val openS = mutable.ArrayBuffer.empty[Double]
    var rel: ReloadingFtsIndex = null
    for (_ <- 0 until SetupReps) {
      if (rel != null) rel.index.cool()
      val t1 = nowNs
      rel = tr.span("setup.open")(new ReloadingFtsIndex(spark, root))
      openS += secs(t1)
    }
    log(f"open ${openS.map(x => f"$x%.2f").mkString(" ")} s")

    val tokMbS = checkBuild(g, rel)
    log("build checked")

    // ---- queries -------------------------------------------------------
    val hot = g.hotSet(HotQueries)
    val stream: Array[QSpec] =
      if (wl.hot) {
        val r = new java.util.SplittableRandom(a.seed ^ 0x40751L)
        Array.fill(StreamLen)(hot(r.nextInt(hot.length)))
      } else g.stream(StreamLen, ColdZipfS, ColdMix, 0xc01dL)
    // warm-up: the hot set fits the cache; after one pass it is resident,
    // then WarmupS of the hot loop lets the JIT compile the warm path.
    // serve_cold keeps its cache cold and warms only Spark's query plans,
    // on queries from the far end of its stream.
    if (wl.hot) {
      par(hot.toSeq)(q => query(rel, q))
      val until = nowNs + (WarmupS * 1e9).toLong
      par(0 until wl.readers) { t =>
        var i = t
        while (nowNs < until) { query(rel, hot(i % hot.length)); i += wl.readers }
      }
    } else par(stream.takeRight(ColdWarmupQueries).toSeq)(q => query(rel, q))
    log("warmed")

    val stats0 = cacheStats(rel)
    stats0.foreach(s => log(s"cache before the window: ${s.blockMisses} term fetches, ${s.blockHits} hits"))
    val gc0 = gcS
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
    val c1 = cpuS
    val (recs, windowNs, wallS) = measure(rel, stream)
    val windowCpuS = cpuS - c1
    log(f"window cpu $windowCpuS%.2f s over $wallS%.2f s wall, ${recs.size} queries, " +
      f"cpu/query ${windowCpuS * 1e3 / math.max(1, recs.size)}%.4f ms")
    val gc1 = gcS
    val heapPeakMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1e6
    val stats1 = cacheStats(rel)
    stats1.foreach(s => log(s"cache after the window: ${s.blockMisses} term fetches, ${s.blockHits} hits, " +
      s"${s.warmServed} warm, ${s.clusterRouted} routed"))

    // ---- output checks -------------------------------------------------
    val checked = checkQueries(rel, stream.take(400))
    log("queries checked")
    val overheadMs = if (a.trace) traceOverhead(rel, hot) else 0.0

    val sliceNs = (wallS * 1e9 / wl.slices).toLong
    val slices = recs.filter(_.ok)
      .groupBy(r => math.min(wl.slices - 1, ((r.startNs - windowNs) / sliceNs).toInt)).values.toSeq
    val sliceP50 = slices.map(rs => median(rs.map(_.latNs / 1e6)))
    val sliceQps = slices.map(_.size / (sliceNs / 1e9))
    log(f"slices: p50 ${sliceP50.map(x => f"$x%.3f").mkString(" ")} ms, qps ${sliceQps.map(x => f"$x%.1f").mkString(" ")}")
    val inputBytes = g.inputBytes.toDouble
    val indexBytes = dirBytes(Paths.get(vDir))
    log(f"queries ${recs.size} (${recs.count(!_.ok)} failed) in $wallS%.1f s; " +
      f"attempted ${attempted.get} failed ${failed.get}")
    recs.groupBy(_.shape).toSeq.sortBy(_._1).foreach { case (sh, rs) =>
      val l = rs.map(_.latNs / 1e6)
      log(f"  $sh%-7s n=${rs.size}%5d p50=${median(l)}%8.2f ms p99=${pct(l, 0.99)}%8.2f ms")
    }
    failures.asScala.foreach(f => log(s"FAILED: $f"))

    val m = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!a.trace) {
      m("setup_s") = (median(openS.toSeq), "s")
      m("build_files_per_s") = (g.files.length / buildS, "files/s")
      m("index_bytes_per_input_byte") = (indexBytes / inputBytes, "ratio")
      m("query_p50_ms") = (median(sliceP50), "ms")
      m("query_qps") = (median(sliceQps), "1/s")
    } else {
      listener.quiesce()
      layerMetrics(m, g, rel, vDir, openS.toSeq, tokMbS,
        stats0, stats1, recs, checked, stream, gc1 - gc0, heapPeakMb,
        overheadMs)
      val base = a.out.resolve(s"${wl.name}-seed${a.seed}")
      tr.write(Paths.get(base + ".spans.jsonl"))
      listener.write(Paths.get(base + ".jobs.jsonl"))
    }
    val attemptedN = attempted.get
    val failedN = failed.get
    log(f"failed_ops_frac ${failedN.toDouble / math.max(1L, attemptedN)}%.6f")
    val metrics = m.map { case (k, (v, u)) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": ${wrong.get == 0}, "attempted": $attemptedN, "failed": $failedN, "metrics": {$metrics}}""")
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  // ---- inputs ----------------------------------------------------------

  private val srcSchema = StructType(Seq("repo", "path", "commit", "lang", "content")
    .map(StructField(_, StringType, nullable = true)))

  private def writeSource(fs: Seq[SrcFile], dir: String): Unit =
    spark.createDataFrame(fs.map(f => Row(f.repo, f.path, f.commit, f.lang, f.content)).asJava, srcSchema)
      .repartition(sc.defaultParallelism).write.mode("overwrite").parquet(dir)

  // ---- measured window -----------------------------------------------------

  /** Closed-loop readers for `seconds`, each taking the next query of the
    * stream. Returns every query record, the window's start and its
    * measured wall time. */
  private def measure(rel: ReloadingFtsIndex, stream: Array[QSpec]): (Seq[QRec], Long, Double) = {
    val next = new AtomicInteger(0)
    val t0 = nowNs
    val deadline = t0 + (a.seconds * 1e9).toLong
    val perThread = Array.fill(wl.readers)(mutable.ArrayBuffer.empty[QRec])
    val readers = (0 until wl.readers).map { ti =>
      new Thread(() => {
        val out = perThread(ti)
        while (nowNs < deadline)
          out += query(rel, stream(next.getAndIncrement() % stream.length))
      }, s"reader-$ti")
    }
    readers.foreach(_.start())
    readers.foreach(_.join())
    (perThread.toSeq.flatten, t0, secs(t0))
  }

  private def query(rel: ReloadingFtsIndex, spec: QSpec): QRec = {
    attempted.incrementAndGet()
    val req = tr.newReq()
    val s = nowNs
    try {
      val res = tr.span("query", req)(rel.searchCached(spec.q))
      QRec(spec.shape, req, s, nowNs - s, ok = true)
    } catch {
      case ex: Exception =>
        fail(s"query ${spec.q}: $ex")
        QRec(spec.shape, req, s, nowNs - s, ok = false)
    }
  }

  // ---- correctness checks ----------------------------------------------

  /** Build checks: row count, per-row sha256(content), and dictionary df
    * of sampled terms against df counted with [[Tokenizer]]. Returns the
    * tokenizer's single-thread MB/s over the corpus. */
  private def checkBuild(g: Gen, rel: ReloadingFtsIndex): Double = {
    val idx = rel.index
    attempted.addAndGet(3)
    val n = idx.docs.count()
    if (n != g.files.length) fail(s"docs rows $n != ${g.files.length}", wrongAnswer = true)
    val badSha = idx.docs.where(sha2(col("content"), 256) =!= col("sha256")).count()
    val want = g.files.map(f => (f.repo, f.path) -> sha256(f.content)).toMap
    val stored = idx.docs.select("repo", "path", "sha256").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
    val shaMiss = want.count { case (k, v) => !stored.get(k).contains(v) }
    if (badSha + shaMiss > 0) fail(s"sha256 mismatches: $badSha stored, $shaMiss vs input", wrongAnswer = true)

    val r = new java.util.SplittableRandom(a.seed ^ 0xdf)
    val sample = (Seq.fill(8)(g.vocab(r.nextInt(50))) ++
      Seq.fill(8)(g.vocab(50 + r.nextInt(1000))) ++
      Seq.fill(8)(g.vocab(r.nextInt(g.vocab.length)))).distinct
    val counts = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val sampleSet = sample.toSet
    val t0 = nowNs
    var bytes = 0L
    g.files.foreach { f =>
      bytes += f.content.length
      Tokenizer.tokenize(f.content).toSet.intersect(sampleSet).foreach(t => counts(t) += 1)
    }
    val mbS = bytes / 1e6 / secs(t0)
    val dict = idx.dict.where(col("field") === "content" && col("term").isin(sample: _*))
      .select("term", "df").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val bad = sample.filter(t => dict.getOrElse(t, 0L) != counts(t))
    if (bad.nonEmpty) fail(s"df mismatch for ${bad.map(t => s"$t ${dict.getOrElse(t, 0L)}!=${counts(t)}").mkString(", ")}",
      wrongAnswer = true)
    mbS
  }

  /** A seeded sample of the run's queries: the warm cache's answer must
    * equal the exhaustive scorer's on the same snapshot (doc ids exact,
    * scores to 1e-8). Returns (query, results) for the snippet timing. */
  private def checkQueries(rel: ReloadingFtsIndex,
                           pool: Array[QSpec]): Seq[(QSpec, Seq[SearchResult])] = {
    val r = new java.util.SplittableRandom(a.seed ^ 0xc4ec)
    val sample = Seq.fill(CheckQueries)(pool(r.nextInt(pool.length))).distinct
    par(sample) { s =>
      attempted.incrementAndGet()
      try {
        val cached = rel.searchCached(s.q)
        val exact = rel.index.searchCollected(s.q)
        val same = cached.size == exact.size && cached.zip(exact).forall { case (x, y) =>
          x.doc_id == y.doc_id && math.abs(x.score - y.score) <= 1e-8 * math.max(1.0, math.abs(y.score))
        }
        if (!same) fail(s"cached != exhaustive for ${s.q}: ${cached.take(3).map(_.doc_id)} vs ${exact.take(3).map(_.doc_id)}", wrongAnswer = true)
        s -> cached
      } catch {
        case e: Exception => fail(s"check ${s.q}: $e"); s -> Nil
      }
    }
  }

  // ---- per-layer metrics (traced run) --------------------------------------

  private def layerMetrics(m: mutable.LinkedHashMap[String, (Double, String)], g: Gen,
                           rel: ReloadingFtsIndex, vDir: String, openS: Seq[Double],
                           tokMbS: Double,
                           stats0: Option[FtsQueryCache.CacheStats],
                           stats1: Option[FtsQueryCache.CacheStats],
                           recs: Seq[QRec],
                           checked: Seq[(QSpec, Seq[SearchResult])],
                           stream: Array[QSpec], gcS: Double, heapPeakMb: Double,
                           overheadMs: Double): Unit = {
    val cores = sc.defaultParallelism
    for (st <- Seq("docs", "shards", "finalize")) {
      val p = s"build.$st"
      val s = tr.named(p).head
      val js = listener.within(s.startNs, s.endNs)
      m(s"$p.wall_s") = (s.wallS, "s")
      m(s"$p.task_cpu_s") = (js.map(_.cpuNs).sum / 1e9, "s")
      m(s"$p.gc_s") = (js.map(_.gcMs).sum / 1e3, "s")
      m(s"$p.busy_frac") = (js.map(_.runMs).sum / 1e3 / (s.wallS * cores), "ratio")
      m(s"$p.shuffle_write_mb") = (js.map(_.shuffleWrite).sum / 1e6, "MB")
      m(s"$p.shuffle_read_mb") = (js.map(_.shuffleRead).sum / 1e6, "MB")
      m(s"$p.spill_mb") = (js.map(_.spill).sum / 1e6, "MB")
      m(s"$p.output_mb") = (js.map(_.output).sum / 1e6, "MB")
      m(s"$p.jobs") = (js.size.toDouble, "count")
      m(s"$p.tasks") = (js.map(_.tasks).sum.toDouble, "count")
    }
    m("analysis.tokenize_mb_per_s") = (tokMbS, "MB/s")

    // codec and WAND, on blocks of the run's multi-term queries
    val idx = rel.index
    val multi = stream.take(2000).filter(_.shape == Gen.Multi)
      .map(_.q.text.split(' ').toSeq).distinct.take(20)
    val words = multi.flatten.distinct
    val fields = Seq("content", "identifiers")
    val blocks: Array[SegmentBlock] = {
      import spark.implicits._
      idx.segments.where(col("field").isin(fields: _*) && col("term").isin(words: _*)).collect()
    }
    m("codec.decode_mpostings_per_s") = (decodeRate(blocks), "Mpostings/s")
    m("wand.blocks_decoded_frac") = (wandDecodedFrac(idx, multi, blocks), "ratio")

    val bytes = Seq("docs", "segments", "dict").map(d => d -> dirBytes(Paths.get(vDir, d)) / 1e6)
    bytes.foreach { case (d, mb) => m(s"index.bytes.${d}_mb") = (mb, "MB") }

    def frac(x: Long, y: Long): Double = if (y == 0) 0.0 else x.toDouble / y
    (stats0, stats1) match {
      case (Some(s0), Some(s1)) =>
        val w = s1.warmServed - s0.warmServed
        val c = s1.clusterRouted - s0.clusterRouted
        m("query.cache.warm_frac") = (frac(w, w + c), "ratio")
        m("query.cache.routed_frac") = (frac(c, w + c), "ratio")
        val h = s1.blockHits - s0.blockHits
        m("query.cache.block_hit_frac") = (frac(h, h + s1.blockMisses - s0.blockMisses), "ratio")
      case _ =>
        Seq("warm_frac", "routed_frac", "block_hit_frac").foreach(k => m(s"query.cache.$k") = (-1.0, "ratio"))
    }

    val groups = listener.byGroup
    val ok = recs.filter(_.ok)
    val jobsOf = ok.map(r => r -> groups.getOrElse(s"r${r.req}", Nil))
    val zero = jobsOf.filter(_._2.isEmpty).map(_._1)
    val n = math.max(1, ok.size)
    m("query.zero_job_frac") = (frac(zero.size, ok.size), "ratio")
    m("query.p99_ms") = (pct(ok.map(_.latNs / 1e6), 0.99), "ms")
    m("query.warm_p50_ms") = (median(zero.map(_.latNs / 1e6)), "ms")
    m("query.jobs_per_query") = (jobsOf.map(_._2.size).sum.toDouble / n, "count")
    m("query.tasks_per_query") = (jobsOf.map(_._2.map(_.tasks).sum).sum.toDouble / n, "count")
    val jobS = jobsOf.map(_._2.map(_.wallS).sum)
    m("query.spark_job_s_per_query") = (jobS.sum / n, "s")
    m("query.driver_s_per_query") = (jobsOf.zip(jobS).map { case ((r, _), j) =>
      math.max(0.0, r.latNs / 1e9 - j) }.sum / n, "s")
    m("query.miss_p50_ms") = (median(jobsOf.filter(x => x._2.nonEmpty && x._1.shape != Gen.Routed)
      .map(_._1.latNs / 1e6)), "ms")
    m("query.routed_p50_ms") = (median(ok.filter(_.shape == Gen.Routed).map(_.latNs / 1e6)), "ms")
    m("query.snippets_us_per_result") = (snippetUs(g, checked), "us")
    m("query.index_load_s") = (median(openS), "s")

    m("jvm.gc_s") = (gcS, "s")
    m("jvm.heap_peak_mb") = (heapPeakMb, "MB")
    m("failed_ops_frac") = (frac(failed.get, attempted.get), "ratio")
    m("trace.overhead_p50_ms") = (overheadMs, "ms")
  }

  private def decodeRate(blocks: Array[SegmentBlock]): Double = {
    if (blocks.isEmpty) return 0.0
    var postings = 0L
    var sink = 0L
    val t0 = nowNs
    while (secs(t0) < 0.3) {
      blocks.foreach { b =>
        sink += Codec.decodeDeltas(b.doc_bytes, b.n).length
        sink += Codec.decodeVarints(b.tf_bytes, b.n).length
        sink += Codec.decodeVarints(b.dl_bytes, b.n).length
        postings += b.n
      }
    }
    val s = secs(t0)
    if (sink < 0) log("unreachable")
    postings / 1e6 / s
  }

  /** Share of posting blocks block-max WAND decodes for the run's
    * multi-term AND queries, top-10, per shard (the cluster path's
    * kernel, [[Wand.topKShard]], called directly). */
  private def wandDecodedFrac(idx: FtsIndex, queries: Seq[Seq[String]],
                              blocks: Array[SegmentBlock]): Double = {
    val byKey = blocks.groupBy(b => (b.shard, b.field, b.term))
      .map { case (k, v) => k -> v.sortBy(_.first_doc) }
    val ft = blocks.map(b => (b.field, b.term)).distinct
    val dfs: Map[(String, String), Long] =
      if (ft.isEmpty) Map.empty
      else idx.dict.where(col("term").isin(ft.map(_._2).toIndexedSeq: _*))
        .select("field", "term", "df").collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    def idf(df: Long): Double =
      if (df == 0L) 0.0 else math.log(1.0 + (idx.nDocs - df + 0.5) / (df + 0.5))
    var total = 0L
    var decoded = 0L
    val shards = blocks.map(_.shard).distinct
    for (q <- queries; sh <- shards) {
      val groups = q.map(w => Seq("content", "identifiers").flatMap { f =>
        byKey.get((sh, f, w)).map(bl => (bl, idf(dfs.getOrElse((f, w), 0L)), idx.avgdl(f)))
      })
      if (groups.forall(_.nonEmpty)) {
        val (_, st) = Wand.topKShard(groups, 10)
        total += st.blocksTotal; decoded += st.blocksDecoded
      }
    }
    if (total == 0) 0.0 else decoded.toDouble / total
  }

  private def snippetUs(g: Gen, checked: Seq[(QSpec, Seq[SearchResult])]): Double = {
    val content = g.files.map(f => (f.repo + "/" + f.path) -> f.content).toMap
    val work = checked.flatMap { case (s, rs) =>
      rs.take(10).flatMap(r => content.get(r.repo + "/" + r.path).map(c => (s.q, c)))
    }
    if (work.isEmpty) return 0.0
    var n = 0L
    val t0 = nowNs
    while (secs(t0) < 0.2) {
      work.foreach { case (q, c) =>
        val mm =
          if (q.useRegex) Snippets.findRegexMatch(c, java.util.regex.Pattern.compile(q.text,
            if (q.caseSensitive) 0 else java.util.regex.Pattern.CASE_INSENSITIVE))
          else Snippets.findMatch(c, q.text, q.caseSensitive, q.editDistance)
        mm.foreach(x => Snippets.extractSnippet(c, x.start, q.snippetLines))
        n += 1
      }
    }
    secs(t0) * 1e6 / n
  }

  /** Traced minus untraced p50 of hot-set queries, one client, alternating
    * blocks of 50 so both halves see the same cache and host state. */
  private def traceOverhead(rel: ReloadingFtsIndex, hot: Array[QSpec]): Double = {
    par(hot.toSeq)(q => rel.searchCached(q.q))
    val off = mutable.ArrayBuffer.empty[Double]
    val on = mutable.ArrayBuffer.empty[Double]
    val quiet = new Tracer(false, sc)
    for (block <- 0 until 8; q <- hot.take(50)) {
      val t = if (block % 2 == 0) quiet else tr
      val s = nowNs
      t.span("overhead", tr.newReq())(rel.searchCached(q.q))
      (if (block % 2 == 0) off else on) += (nowNs - s) / 1e6
    }
    median(on.toSeq) - median(off.toSeq)
  }

  // ---- helpers -------------------------------------------------------------

  /** `f` over `xs` on as many threads as the workload has clients. */
  private def par[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(wl.readers)
    try xs.map(x => pool.submit(() => f(x))).map(_.get)
    finally pool.shutdown()
  }

  /** The daemon handle's cache counters. The handle keeps its cache
    * private; its accessor is read reflectively, and the run reports -1
    * for these ratios if a later engine drops it. */
  private def cacheStats(rel: ReloadingFtsIndex): Option[FtsQueryCache.CacheStats] =
    try {
      val m = rel.getClass.getMethods.find(_.getName.endsWith("currentCache")).get
      Some(m.invoke(rel).asInstanceOf[FtsQueryCache].stats)
    } catch { case _: Exception => None }

  private def cpuS: Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  private def gcS: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  private def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private def dirBytes(p: Path): Double =
    if (!Files.exists(p)) 0.0
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_))
        .filterNot(_.getFileName.toString.endsWith(".crc")).map(Files.size).sum.toDouble
      finally s.close()
    }
}
