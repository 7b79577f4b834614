package graft

import org.apache.spark.sql.SparkSession

import graft.corpus.CodeCorpus
import graft.index.FtsIndexBuilder
import graft.query.{FtsIndex, FtsQuery}

/** Headline benchmark (driver-run per round -> BENCH_r{N}.json):
  *
  *   - index-build throughput (files/s) over the derived source-code
  *     corpus, at TWO parallelism levels — local[N] and local[4N] — the
  *     sandbox stand-in for N vs 4N executors (north rule: scaling
  *     efficiency >= 0.8 between them)
  *   - warm BM25 top-10 latency p50 across a fixed query set, for both the
  *     exhaustive scorer and the block-max WAND path
  *
  * Prints ONE JSON line; extra keys beyond the driver contract carry the
  * scaling evidence (files_per_sec_nX, scaling_efficiency, p50s).
  */
object Bench {

  private def timeS[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  private def newSession(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-bench-$cores")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Fork one worker JVM pinned to a cpu set (taskset + ActiveProcessorCount)
    * running [[BenchBuild]]; returns its full stdout. `heap` defaults to
    * the thread-mode size (one JVM at a time); cluster mode passes a
    * per-executor size — four concurrent 12g JVMs measurably thrash on
    * this host (31 s vs 8 s for the same slice at 4g). */
  private def forkWorker(cpus: Seq[Int], cores: Int,
                         args: Seq[String], heap: String = "12g"): Process = {
    import scala.jdk.CollectionConverters._
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val inherited = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getInputArguments.asScala
      .filter(a => a.startsWith("--add-opens") || a.startsWith("--add-exports"))
    val cp = System.getProperty("java.class.path")
    val cmd = Seq("taskset", "-c", cpus.mkString(",")) ++
      Seq(javaBin) ++ inherited ++ Seq(
        s"-XX:ActiveProcessorCount=${cpus.size}", s"-Xmx$heap",
        // throughput collector for batch builds (what a production batch
        // executor would run); measured slightly better 4x-concurrency
        // behavior than G1 on this host
        "-XX:+UseParallelGC",
        s"-Djava.io.tmpdir=$scratch", s"-Dspark.local.dir=$scratch",
        "-Dspark.ui.enabled=false", "-cp", cp, "graft.BenchBuild") ++ args
    val pb = new ProcessBuilder(cmd.asJava).redirectErrorStream(true)
    // per-stage [timing] lines flow into the bench JSON (the artifact
    // itself shows where the scaling ratio is lost)
    pb.environment().put("GRAFT_BUILD_TIMING", "1")
    // all measurement forks read the ONE pre-materialized input table
    sharedInput.foreach(d => pb.environment().put("SPARK_GRAFT_BENCH_INPUT", d))
    pb.start()
  }

  /** Input parquet materialized once per bench process (untimed synthesis
    * no longer repeats inside every fork — roughly 2-3 min off a 10-build
    * session). */
  @volatile private var sharedInput: Option[String] = None

  private def prepareSharedInput(cpus: Int, sfDir: String, repl: Int): Unit = {
    val dir = s"$scratch/shared_input.parquet"
    val out = drain(forkWorker(0 until cpus, cpus,
      Seq("prep", cpus.toString, sfDir, repl.toString, dir)))
    if (out.contains("PREP dir=")) sharedInput = Some(dir)
    else System.err.println(s"[bench] shared-input prep failed, " +
      s"falling back to per-fork synthesis:\n$out")
  }

  /** Parse `[timing] <stage> <sec>s` lines from a worker's output into
    * per-stage seconds (last write wins; shard groups summed by max). */
  private def parseStages(out: String): Map[String, Double] = {
    val re = "\\[timing\\] (.+) ([0-9.]+)s".r
    val m = scala.collection.mutable.LinkedHashMap[String, Double]()
    re.findAllMatchIn(out).foreach { mm =>
      val raw = mm.group(1).trim
      val sec = mm.group(2).toDouble
      // collapse per-group lines (g0 segments, g1 manifest, ...) into the
      // max across groups — groups run concurrently, wall ~ max
      val key =
        if (raw.matches("g\\d+ .*")) raw.split(" ", 2)(1)
        else raw
      if (raw.matches("g\\d+ .*")) m(key) = math.max(m.getOrElse(key, 0.0), sec)
      else m(key) = sec
    }
    m.toMap
  }

  /** Scratch space for forked builds: tmpfs when available (isolates the
    * measurement from ext4 journal contention; a real cluster writes to
    * per-node disks). */
  private lazy val scratch: String = {
    val shm = new java.io.File("/dev/shm")
    val base = if (shm.isDirectory && shm.canWrite)
      java.nio.file.Files.createTempDirectory(shm.toPath, "graft_bench")
    else java.nio.file.Files.createTempDirectory("graft_bench")
    base.toString
  }

  /** One pinned full-build measurement in a fresh JVM.
    * Returns (fps, sec, docs, per-stage seconds). */
  private def fullBuildAt(cores: Int, sfDir: String, repl: Int)
      : (Double, Double, Long, Map[String, Double]) = {
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(scratch), s"idx_n$cores").toString
    val out = drain(forkWorker(0 until cores, cores,
      Seq("full", cores.toString, sfDir, repl.toString, root)))
    val m = "cores=(\\d+) docs=(\\d+) sec=([0-9.]+) fps=([0-9.]+)".r
      .findFirstMatchIn(out)
      .getOrElse(throw new RuntimeException(s"bench fork failed:\n$out"))
    val res = (m.group(4).toDouble, m.group(3).toDouble, m.group(2).toLong,
      parseStages(out))
    // free the tmpfs space between runs
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm); f.delete()
    }
    rm(new java.io.File(root))
    res
  }

  private def drain(p: Process): String = {
    val sb = new StringBuilder
    val reader = new java.io.BufferedReader(
      new java.io.InputStreamReader(p.getInputStream))
    var line = reader.readLine()
    while (line != null) { sb.append(line).append('\n'); line = reader.readLine() }
    p.waitFor()
    sb.toString
  }

  /** Build the index on a simulated cluster of `workers` executors x
    * `coresPer` cores (disjoint taskset cpu sets; separate JVM heaps, like
    * separate executors on one physical node). The docs + finalize stages
    * run on the full cpu budget (in a real cluster they run cluster-wide);
    * the dominant shard stage is split across the worker JVMs.
    * Returns (files/s, seconds, docs). */
  private def clusterBuild(workers: Int, coresPer: Int, sfDir: String,
                           repl: Int): (Double, Double, Long) = {
    val root = java.nio.file.Files
      .createTempDirectory(s"graft_cluster_w$workers").toString
    val budget = (0 until workers * coresPer)
    val common = Seq(sfDir, repl.toString, root)
    // stage durations are measured INSIDE the forks (JVM spin-up and JIT
    // warmup excluded — cluster executors are long-lived)
    def secOf(out: String): Double =
      "sec=([0-9.eE-]+)".r.findFirstMatchIn(out).map(_.group(1).toDouble)
        .getOrElse(throw new RuntimeException(s"worker failed:\n$out"))
    val docsOut = drain(forkWorker(budget, budget.size,
      Seq("docs", budget.size.toString) ++ common))
    val slice = 32 / workers
    val procs = (0 until workers).map { w =>
      val cpus = (w * coresPer) until ((w + 1) * coresPer)
      forkWorker(cpus, coresPer,
        Seq("shards", coresPer.toString) ++ common ++
          Seq((w * slice).toString, ((w + 1) * slice).toString),
        heap = s"${2 * coresPer}g") // per-executor heap
    }
    val shardSec = procs.map(p => secOf(drain(p))).max
    val fin = drain(forkWorker(budget, budget.size,
      Seq("finalize", budget.size.toString) ++ common))
    val sec = secOf(docsOut) + shardSec + secOf(fin)
    val docs = "FINAL docs=(\\d+)".r.findFirstMatchIn(fin)
      .map(_.group(1).toLong)
      .getOrElse(throw new RuntimeException(s"finalize failed: $fin"))
    (docs / sec, sec, docs)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val repl = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPL", "80").toInt
    // N vs 4N parallelism for the scaling-efficiency evidence (the brief's
    // "local[N] vs local[4N]" sandbox stand-in for N vs 4N executors).
    // Each measurement is a fresh forked JVM pinned with taskset +
    // ActiveProcessorCount to exactly its cpu budget, with Spark scratch
    // dirs on tmpfs — the most controlled single-host methodology
    // available here. Runs are interleaved and the median taken.
    // SPARK_GRAFT_BENCH_MODE=cluster instead simulates 1 vs 4 separate
    // 2-core executor JVMs over disjoint shard slices.
    // See BENCH/BASELINE.md for the full measurement story.
    val coresPer = sys.env.getOrElse("SPARK_GRAFT_BENCH_N", "2").toInt
    val n1 = coresPer
    val n4 = 4 * coresPer
    val mode = sys.env.getOrElse("SPARK_GRAFT_BENCH_MODE", "thread")

    // This host shows time-varying hypervisor steal (±40% between
    // IDENTICAL runs minutes apart). The N and 4N runs of one iteration
    // execute back-to-back so each PAIR sees a similar steal environment;
    // the reported efficiency is the MEDIAN OF PER-PAIR RATIOS (robust to
    // correlated noise), alongside per-level median throughputs. 5
    // iterations by default so a single stolen pair cannot set the median.
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "5").toInt
    prepareSharedInput(math.min(cpus, 16), sfDir, repl)
    type Run = (Double, Double, Long, Map[String, Double])
    val runsN = scala.collection.mutable.ArrayBuffer[Run]()
    val runs4N = scala.collection.mutable.ArrayBuffer[Run]()
    (1 to iters).foreach { _ =>
      if (mode == "cluster") {
        val (f1, s1, d1) = clusterBuild(1, coresPer, sfDir, repl)
        runsN += ((f1, s1, d1, Map.empty[String, Double]))
        val (f4, s4, d4) = clusterBuild(4, coresPer, sfDir, repl)
        runs4N += ((f4, s4, d4, Map.empty[String, Double]))
      } else {
        runsN += fullBuildAt(n1, sfDir, repl)
        runs4N += fullBuildAt(n4, sfDir, repl)
      }
    }
    def median(rs: Seq[Run]): Run = rs.sortBy(_._1).apply(rs.size / 2)
    val (fpsN, secN, _, stagesN) = median(runsN.toSeq)
    val (fps4N, sec4N, nDocs, stages4N) = median(runs4N.toSeq)
    val perPairEff = runsN.zip(runs4N)
      .map { case ((fN, _, _, _), (f4, _, _, _)) => f4 / (4.0 * fN) }.sorted
    val efficiency = perPairEff(perPairEff.size / 2)

    // ---- warm query latency (full machine) ------------------------------
    // (skippable for build-scaling experiments)
    val buildOnly = sys.env.contains("SPARK_GRAFT_BENCH_BUILD_ONLY")
    val spark = if (buildOnly) null else newSession(math.max(cpus, n4))
    val qtimes = scala.collection.mutable.LinkedHashMap[String, Double]()
    var p50Ex = 0.0
    var p50Wand = 0.0
    var p50Cached = 0.0
    try if (!buildOnly) {
      val root = java.nio.file.Files
        .createTempDirectory("graft_bench_q").toString
      FtsIndexBuilder.build(spark,
        CodeCorpus.sourceFiles(spark, sfDir).drop("doc_id"), root,
        FtsIndexBuilder.Config(nShards = 8, segmentPartitions = 16))
      val idx = new FtsIndex(spark, root).warm()
      val querySet = Seq("merge", "sort table", "import", "merge sort scan",
        "getusername", "handler", "stream batch")
      val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_QREPS", "5").toInt
      // warmup
      idx.searchCollected(FtsQuery("merge"))
      idx.searchWand("merge", 10)

      /** reps timed runs per query; per-query MEDIAN recorded (one stolen
        * rep can no longer set a query's number) + raw reps for noise
        * transparency. Returns the p50 across query medians. */
      def measure(label: String, qs: Seq[String])(f: String => Unit): Double = {
        val medians = qs.map { q =>
          val ts = (0 until reps).map { i =>
            val (_, t) = timeS(f(q))
            qtimes(s"q_${label}_${q.replace(' ', '_')}_r$i") = t
            t
          }.sorted
          val med = ts(ts.size / 2)
          qtimes(s"q_${label}_${q.replace(' ', '_')}") = med
          med
        }.sorted
        medians(medians.size / 2)
      }

      p50Ex = measure("ex", querySet)(q =>
        idx.searchCollected(FtsQuery(q, limit = 10)))
      p50Wand = measure("wand", querySet)(q => idx.searchWand(q, 10))
      // driver-side warm cache (reference daemon regime): first pass loads
      // the touched blocks/docs, later passes are the measured hot path
      val cache = new graft.query.FtsQueryCache(idx)
      querySet.foreach(q => cache.search(FtsQuery(q, limit = 10)))
      p50Cached = measure("cached", querySet)(q =>
        cache.search(FtsQuery(q, limit = 10)))
      // warm-cache coverage beyond exact terms (round-3): filtered,
      // phrase-bearing, and fuzzy shapes served from the driver cache.
      // Cold (first touch — includes the pruned block-fetch jobs) and hot
      // reps are recorded SEPARATELY, with 3x reps on the hot side: the
      // r4 artifact's fuzzy/phrase medians moved with host steal, so the
      // hot number now has enough reps that a stolen rep can't set the
      // median (VERDICT r04 wrong #3).
      val extraShapes = Seq(
        "filtered" -> FtsQuery("merge", limit = 10, languages = Seq("py")),
        "phrase" -> FtsQuery("import_os", limit = 10),
        "fuzzy" -> FtsQuery("mergs", editDistance = 1, limit = 10))
      // cold = a FRESH cache per shape: the shared `cache` above already
      // fetched the querySet's blocks (which overlap these shapes — the
      // fuzzy "mergs" expands to the already-hot "merge"), and the shapes
      // overlap each other, so anything less is a partially-warm number
      // masquerading as cold
      extraShapes.foreach { case (name, q) =>
        val coldCache = new graft.query.FtsQueryCache(idx)
        qtimes(s"q_cached_${name}_cold") = timeS(coldCache.search(q))._2
      }
      val extraReps = 3 * reps
      extraShapes.foreach { case (name, q) =>
        cache.search(q) // untimed warm touch: expansions/alignments hot
        val ts = (0 until extraReps).map { _ =>
          timeS(cache.search(q))._2 }.sorted
        qtimes(s"q_cached_$name") = ts(ts.size / 2)
      }

      // concurrent hot serving (round-4 lock striping): 8 threads hammer
      // the hot cache; p50 of per-query latencies ACROSS threads shows
      // whether concurrent queries serialize
      {
        import scala.jdk.CollectionConverters._
        val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
        val lat = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
        val tasks = (0 until 8).map { _ =>
          new java.util.concurrent.Callable[Unit] {
            def call(): Unit =
              (0 until reps).foreach(_ => querySet.foreach { q =>
                lat.add(timeS(cache.search(FtsQuery(q, limit = 10)))._2)
              })
          }
        }
        val t0 = System.nanoTime()
        pool.invokeAll(tasks.asJava.asInstanceOf[
          java.util.Collection[java.util.concurrent.Callable[Unit]]])
        val wall = (System.nanoTime() - t0) / 1e9
        pool.shutdown()
        val ts = lat.asScala.toSeq.sorted
        qtimes("q_cached_hot8_p50") = ts(ts.size / 2)
        qtimes("q_cached_hot8_qps") = ts.size / wall
      }

      // LIVE-DELTA warm serving (round-4): append delta generations so the
      // snapshot is in the streaming regime, then measure the cache — the
      // daemon keeps its millisecond path while deltas are live
      {
        import org.apache.spark.sql.functions._
        val batch = CodeCorpus.sourceFiles(spark, sfDir).drop("doc_id")
          .limit(3)
          .withColumn("content",
            concat(col("content"), lit("\n# delta_rev streamed")))
        (1 to 2).foreach { _ =>
          graft.index.FtsDeltas.upsert(spark, batch, root,
            FtsIndexBuilder.Config(nShards = 8, segmentPartitions = 16))
        }
        val idxD = new FtsIndex(spark, root).warm()
        val cacheD = new graft.query.FtsQueryCache(idxD)
        querySet.foreach(q => cacheD.search(FtsQuery(q, limit = 10))) // load
        val medians = querySet.map { q =>
          val ts = (0 until reps)
            .map(_ => timeS(cacheD.search(FtsQuery(q, limit = 10)))._2).sorted
          qtimes(s"q_cached_delta_${q.replace(' ', '_')}") = ts(ts.size / 2)
          ts(ts.size / 2)
        }.sorted
        qtimes("q_cached_delta") = medians(medians.size / 2)
        idxD.cool()
      }

      // semantic serving (the hybrid query's ANN half): prebuilt IVF
      // index; per query = driver-side probe pick + ONE job over the
      // probed cells (reference target: ~20 ms HNSW, query-guide.md:76)
      {
        import org.apache.spark.sql.functions.col
        val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
        val ann = new graft.ops.AnnIndex(emb, nCells = 64, nProbe = 8)
        val qvs = emb.where(col("vec_id") < 5).select("embedding")
          .collect().map(_.getSeq[Float](0).toArray)
        qvs.foreach(ann.topK(_, 10)) // warm the codegen/plan caches
        val ts = (0 until reps)
          .flatMap(_ => qvs.map(qv => timeS(ann.topK(qv, 10))._2)).sorted
        qtimes("q_semantic_ivf_p50") = ts(ts.size / 2)
        // the daemon-analog warm path: cells cached driver-side
        qvs.foreach(ann.topKWarm(_, 10))
        val tw = (0 until reps)
          .flatMap(_ => qvs.map(qv => timeS(ann.topKWarm(qv, 10))._2)).sorted
        qtimes("q_semantic_warm_p50") = tw(tw.size / 2)

        // production HYBRID (round-5): warm FTS half (ReloadingFtsIndex
        // driver cache — the index root carries the live deltas appended
        // above, the streaming regime) + warm semantic half. Reference
        // hybrid total: ~120 ms warm (docs/query-guide.md:501).
        val rel = new graft.query.ReloadingFtsIndex(spark, root)
        val hybridQs = querySet.map(q => FtsQuery(q, limit = 10))
        hybridQs.foreach(q =>
          graft.query.Hybrid.searchWith(rel.searchCached, ann, qvs.head, q,
            10)) // load
        val th = (0 until reps).flatMap(_ => hybridQs.map(q => timeS(
          graft.query.Hybrid.searchWith(rel.searchCached, ann, qvs.head, q,
            10))._2)).sorted
        qtimes("q_hybrid_p50") = th(th.size / 2)

        // concurrent hybrid serving: 8 threads issue hybrid queries at
        // once — the cached per-request pool must not serialize them
        // (a fixed 2-thread singleton would head-of-line-block here)
        {
          import scala.jdk.CollectionConverters._
          val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
          val lat = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
          val tasks = (0 until 8).map { _ =>
            new java.util.concurrent.Callable[Unit] {
              def call(): Unit =
                (0 until reps).foreach(_ => hybridQs.foreach { q =>
                  lat.add(timeS(
                    graft.query.Hybrid.searchWith(rel.searchCached, ann,
                      qvs.head, q, 10))._2)
                })
            }
          }
          val t0 = System.nanoTime()
          pool.invokeAll(tasks.asJava.asInstanceOf[
            java.util.Collection[java.util.concurrent.Callable[Unit]]])
          val wall = (System.nanoTime() - t0) / 1e9
          pool.shutdown()
          val ts = lat.asScala.toSeq.sorted
          qtimes("q_hybrid_hot8_p50") = ts(ts.size / 2)
          qtimes("q_hybrid_hot8_qps") = ts.size / wall
        }
        ann.close()
      }
    } finally if (spark != null) spark.stop()

    qtimes(s"build_n$n1") = secN
    qtimes(s"build_n$n4") = sec4N
    // seconds total over builds + per-query MEDIANS (raw reps excluded so
    // reps don't inflate the headline value; the hot8 throughput entry is
    // a QPS figure, not seconds — summing it inflated r4's headline value
    // by ~2800); fps/stage entries added after
    val total = qtimes.collect {
      case (k, v) if !k.matches(".*_r\\d+$") && !k.endsWith("_qps") => v
    }.sum
    // raw per-iteration throughputs (noise transparency; excluded from the
    // seconds total)
    runsN.zipWithIndex.foreach { case ((f, _, _, _), i) =>
      qtimes(s"fps_n${n1}_i$i") = f }
    runs4N.zipWithIndex.foreach { case ((f, _, _, _), i) =>
      qtimes(s"fps_n${n4}_i$i") = f }
    // per-stage seconds of the MEDIAN run at each level — the artifact
    // itself shows which stage loses the N->4N ratio
    def stageKey(s: String): String =
      s.replace(' ', '_').replace("-", "_")
    stagesN.foreach { case (k, v) =>
      qtimes(s"stage_n${n1}_${stageKey(k)}") = v }
    stages4N.foreach { case (k, v) =>
      qtimes(s"stage_n${n4}_${stageKey(k)}") = v }
    val qs = qtimes.map { case (k, v) => s""""$k":$v""" }
      .mkString("{", ",", "}")
    println(
      s"""{"metric":"fts index build + BM25 top-10 query","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","n_docs":$nDocs,"scaling_mode":"$mode","bench_iters":$iters,"files_per_sec_n$n1":$fpsN,"files_per_sec_n$n4":$fps4N,"scaling_efficiency":$efficiency,"p50_query_exhaustive_sec":$p50Ex,"p50_query_wand_sec":$p50Wand,"p50_query_cached_sec":$p50Cached}""")
  }
}
