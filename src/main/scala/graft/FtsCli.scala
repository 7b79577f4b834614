package graft

import org.apache.spark.sql.SparkSession

import graft.query.{FtsIndex, FtsQuery, SearchResult}

/** cidx-style entry point: build an index from a parquet ingest table and
  * query it from the command line, with the reference CLI's result
  * rendering (reference: cli.py:638-707 `_display_fts_results` — full mode
  * `i. path (Line L, Col C)` + Language/Match/snippet, quiet mode
  * `i. path:line:col`).
  *
  * Usage:
  *   graft.FtsCli index <sourceParquet> <indexDir> [--discover]
  *     (--discover applies the reference FileFinder intake: extension
  *      allow-list, dir prunes, repo .gitignore merge, size/binary sniff)
  *   graft.FtsCli query <indexDir> <text> [--case-sensitive]
  *     [--case-insensitive] [--fuzzy [N]] [--edit-distance N] [--regex]
  *     [--limit N] [--snippet-lines N] [--language L]...
  *     [--exclude-language L]... [--path-filter G]... [--exclude-path G]...
  *     [--wand] [--quiet]
  *   graft.FtsCli upsert <batchParquet> <indexDir>   (watch-mode update)
  *   graft.FtsCli delete <keysParquet> <indexDir>    (keys: repo, path)
  *   graft.FtsCli fold <indexDir>                    (tiered delta compaction)
  *   graft.FtsCli compact <indexDir>                 (full rebuild of live set)
  *   graft.FtsCli ann-build <embParquet> <annDir> [--cells N] [--probe N]
  *     (build + persist the IVF serving index: versioned centroids +
  *      cell-partitioned assignment, atomic pointer)
  *   graft.FtsCli ann-query <annDir> <embParquet> <vecId> [--k N]
  *     [--min-score S] [--accuracy fast|balanced|high] [--probe N]
  *     (reopen from disk — zero clustering jobs — and run a cosine top-k
  *      using vector <vecId> as the query; the reference's embedding
  *      provider is out of scope, so the query vector comes from the
  *      table. --min-score/--accuracy are the reference's semantic query
  *      knobs, cli.py:4236-4242: score floor + probe-width profile)
  *   graft.FtsCli hybrid <indexDir> <annDir> <text> <embParquet> <vecId>
  *     [--limit N] [--k N] [--min-score S] [--accuracy fast|balanced|high]
  *     [--quiet]
  *     (the reference's `cidx query --hybrid` analog: FTS + semantic run
  *      concurrently, results displayed SEPARATELY — no score fusion)
  *   graft.FtsCli watch <dropDir> <indexDir> [--checkpoint D] [--fold N]
  *     (the reference's `cidx watch` analog: tail a directory for parquet
  *      drops of (repo, path, commit, lang, content) rows — each
  *      microbatch becomes one atomic delta generation; empty/null
  *      content rows are deletions; auto-fold keeps generations O(1).
  *      Runs until Ctrl-C.)
  */
object FtsCli {

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("graft-cli")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, args.toList)
    finally spark.stop()
  }

  private def run(spark: SparkSession, args: List[String]): Unit = args match {
    case "index" :: source :: indexDir :: rest
        if rest.isEmpty || rest == List("--discover") =>
      // --discover mirrors the reference's `cidx index` intake: extension
      // allow-list, structural dir prunes, repo .gitignore merge (root +
      // one level), size cap, binary sniff (file_finder.py FileFinder)
      val raw = spark.read.parquet(source)
      val input =
        if (rest.isEmpty) raw
        else {
          import graft.sources.Discovery
          // per-repo gitignore composition: repo A's rules never filter
          // repo B's files. The .gitignore scan runs ONCE — the collected
          // rules feed both the report and the filter (ADVICE r04 #3).
          val byRepo = Discovery.gitignoreRulesByRepo(raw)
          val kept = raw.where(
            Discovery.extensionFilter() &&
              Discovery.gitignoreExcludeFilter(byRepo,
                Discovery.DefaultExcludeDirs) &&
              Discovery.sizeFilter() && Discovery.textFilter)
          println(s"Discovery: gitignore rules from ${byRepo.size} repo(s) " +
            s"(${byRepo.valuesIterator.map(_.count(!_.negation)).sum} patterns, " +
            s"${byRepo.valuesIterator.map(_.count(_.negation)).sum} negations) " +
            "merged per-repo into the exclude spec")
          kept
        }
      val report = graft.index.FtsIndexBuilder.build(spark, input, indexDir)
      println(s"Indexed ${report.nDocs} documents into $indexDir " +
        s"(${report.version}, shards built: ${report.shardsBuilt.size}, " +
        s"skipped: ${report.shardsSkipped.size})")

    case "query" :: indexDir :: text :: rest =>
      var q = FtsQuery(text)
      var quiet = false
      var wand = false
      def parse(as: List[String]): Unit = as match {
        case Nil =>
        case "--case-sensitive" :: t => q = q.copy(caseSensitive = true); parse(t)
        case "--case-insensitive" :: t => q = q.copy(caseSensitive = false); parse(t)
        // the reference's spellings (cli.py:4270-4281): bare --fuzzy is a
        // flag meaning edit distance 1; --edit-distance N sets it exactly;
        // --fuzzy N stays accepted as this CLI's historical shorthand
        case "--fuzzy" :: n :: t if n.nonEmpty && n.forall(_.isDigit) =>
          q = q.copy(editDistance = n.toInt); parse(t)
        case "--fuzzy" :: t =>
          q = q.copy(editDistance = math.max(1, q.editDistance)); parse(t)
        case "--edit-distance" :: n :: t =>
          q = q.copy(editDistance = n.toInt); parse(t)
        case "--regex" :: t => q = q.copy(useRegex = true); parse(t)
        case "--limit" :: n :: t => q = q.copy(limit = n.toInt); parse(t)
        case "--snippet-lines" :: n :: t => q = q.copy(snippetLines = n.toInt); parse(t)
        case "--language" :: l :: t => q = q.copy(languages = q.languages :+ l); parse(t)
        case "--exclude-language" :: l :: t =>
          q = q.copy(excludeLanguages = q.excludeLanguages :+ l); parse(t)
        case "--path-filter" :: g :: t => q = q.copy(pathFilters = q.pathFilters :+ g); parse(t)
        case "--exclude-path" :: g :: t =>
          q = q.copy(excludePathFilters = q.excludePathFilters :+ g); parse(t)
        case "--wand" :: t => wand = true; parse(t)
        case "--quiet" :: t => quiet = true; parse(t)
        case other :: _ => throw new IllegalArgumentException(s"unknown flag $other")
      }
      parse(rest)
      val idx = new FtsIndex(spark, indexDir).warm()
      // searchWand takes the FULL query — every shape and filter runs the
      // WAND kernel on the cluster, and only an oversized dead set or
      // over-pull falls back to the exhaustive scorer; no flag is dropped
      val results =
        if (wand) idx.searchWand(q)
        else idx.searchCollected(q)
      render(results, quiet)

    case "upsert" :: source :: indexDir :: Nil =>
      val gen = graft.index.FtsDeltas.upsert(
        spark, spark.read.parquet(source), indexDir)
      println(s"Upserted batch as delta generation d$gen")

    case "delete" :: keys :: indexDir :: Nil =>
      val gen = graft.index.FtsDeltas.delete(
        spark, spark.read.parquet(keys), indexDir)
      println(s"Tombstoned keys at delta generation d$gen")

    case "fold" :: indexDir :: Nil =>
      graft.index.FtsDeltas.fold(spark, indexDir) match {
        case Some(g) => println(s"Folded deltas into generation d$g")
        case None => println("Nothing to fold (fewer than 2 generations)")
      }

    case "compact" :: indexDir :: Nil =>
      graft.index.FtsDeltas.compact(spark, indexDir)
      println("Compacted to a fresh version (== full rebuild)")

    case "ann-build" :: embParquet :: annDir :: rest =>
      var cells = 64
      var probe = 8
      def parseAnn(as: List[String]): Unit = as match {
        case Nil =>
        case "--cells" :: n :: t =>
          cells = n.toInt
          require(cells >= 1, s"--cells must be >= 1, got $cells")
          parseAnn(t)
        case "--probe" :: n :: t =>
          probe = n.toInt
          // parse-time mirror of AnnIndex's constructor guard: a width
          // of 0 would persist an index whose every query scans no cells
          require(probe >= 1, s"--probe must be >= 1, got $probe")
          parseAnn(t)
        case other :: _ =>
          throw new IllegalArgumentException(s"unknown flag $other")
      }
      parseAnn(rest)
      val ann = new graft.ops.AnnIndex(spark.read.parquet(embParquet),
        nCells = cells, nProbe = probe)
      val vDir = ann.save(annDir)
      ann.close()
      println(s"ANN index published at $vDir " +
        s"($cells cells, probe $probe, cell-partitioned assignment)")

    case "ann-query" :: annDir :: embParquet :: vecId :: rest =>
      var k = 10
      var minScore: Option[Double] = None
      var accuracy = "balanced"
      var probeOverride: Option[Int] = None
      def parseAq(as: List[String]): Unit = as match {
        case Nil =>
        case "--k" :: n :: t => k = n.toInt; parseAq(t)
        case "--min-score" :: s :: t => minScore = Some(s.toDouble); parseAq(t)
        case "--accuracy" :: a :: t => accuracy = checkAccuracy(a); parseAq(t)
        case "--probe" :: n :: t =>
          val p = n.toInt
          if (p <= 0) throw new IllegalArgumentException(
            s"--probe must be >= 1, got $p")
          probeOverride = Some(p); parseAq(t)
        case other :: _ =>
          throw new IllegalArgumentException(s"unknown flag $other")
      }
      parseAq(rest)
      // no --probe: serve with the build-time probe width persisted in
      // the version's meta file
      val ann = graft.ops.AnnIndex.load(spark, annDir, probeOverride)
      val qv = queryVector(spark, embParquet, vecId.toLong)
      println("Semantic Search Results\n")
      ann.topKWarm(qv, k, minScore, ann.probesFor(accuracy))
        .zipWithIndex.foreach { case ((id, sim), i) =>
          println(f"${i + 1}. vec_$id%d  cosine=$sim%.4f")
        }
      ann.close()

    case "hybrid" :: indexDir :: annDir :: text :: embParquet :: vecId :: rest =>
      var limit = 10
      var k = 10
      var minScore: Option[Double] = None
      var accuracy = "balanced"
      var quiet = false
      def parseHy(as: List[String]): Unit = as match {
        case Nil =>
        case "--limit" :: n :: t => limit = n.toInt; parseHy(t)
        case "--k" :: n :: t => k = n.toInt; parseHy(t)
        case "--min-score" :: s :: t => minScore = Some(s.toDouble); parseHy(t)
        case "--accuracy" :: a :: t => accuracy = checkAccuracy(a); parseHy(t)
        case "--quiet" :: t => quiet = true; parseHy(t)
        case other :: _ =>
          throw new IllegalArgumentException(s"unknown flag $other")
      }
      parseHy(rest)
      val rel = new graft.query.ReloadingFtsIndex(spark, indexDir)
      val ann = graft.ops.AnnIndex.load(spark, annDir)
      val qv = queryVector(spark, embParquet, vecId.toLong)
      val r = graft.query.Hybrid.searchWith(qq => rel.searchCached(qq), ann,
        qv, FtsQuery(text, limit = limit), kSemantic = k,
        minScore = minScore, accuracy = accuracy)
      // both lists, side by side — the reference fuses nothing
      render(r.fts, quiet)
      if (!quiet) println("Semantic Search Results\n")
      r.semantic.zipWithIndex.foreach { case (h, i) =>
        println(f"${i + 1}. vec_${h.vec_id}%d  cosine=${h.sim}%.4f")
      }
      ann.close()

    case "watch" :: dropDir :: indexDir :: rest =>
      var checkpoint: Option[String] = None
      var foldEvery = 16
      def parseW(as: List[String]): Unit = as match {
        case Nil =>
        case "--checkpoint" :: d :: t => checkpoint = Some(d); parseW(t)
        case "--fold" :: n :: t => foldEvery = n.toInt; parseW(t)
        case other :: _ =>
          throw new IllegalArgumentException(s"unknown flag $other")
      }
      parseW(rest)
      // the drop dir's schema comes from the files already present (or
      // the canonical ingest schema when the dir starts empty)
      val schema =
        try spark.read.parquet(dropDir).schema
        catch {
          case _: Exception => org.apache.spark.sql.types.StructType.fromDDL(
            "repo string, path string, commit string, lang string, " +
              "content string")
        }
      val stream = spark.readStream.schema(schema).parquet(dropDir)
      val q = graft.streaming.FtsStream.start(stream, indexDir,
        checkpointDir = checkpoint, foldEvery = foldEvery)
      println(s"Watching $dropDir -> $indexDir " +
        s"(fold every $foldEvery generations; Ctrl-C to stop)")
      q.awaitTermination()

    case _ =>
      System.err.println("usage: FtsCli index <sourceParquet> <indexDir> | " +
        "FtsCli query <indexDir> <text> [flags] | " +
        "FtsCli upsert|delete <parquet> <indexDir> | " +
        "FtsCli fold|compact <indexDir> | " +
        "FtsCli ann-build <embParquet> <annDir> [--cells N] [--probe N] | " +
        "FtsCli ann-query <annDir> <embParquet> <vecId> [--k N] " +
        "[--min-score S] [--accuracy fast|balanced|high] [--probe N] | " +
        "FtsCli hybrid <indexDir> <annDir> <text> <embParquet> <vecId> [flags] | " +
        "FtsCli watch <dropDir> <indexDir> [--checkpoint D] [--fold N]")
      sys.exit(2)
  }

  /** Validate an --accuracy value AT PARSE TIME (shared by ann-query and
    * hybrid), so a typo fails before any index load or Spark job runs —
    * like every other bad flag. The valid-profile set lives in ONE place
    * ([[graft.ops.AnnIndex.AccuracyProfiles]], the engine that consumes
    * it), so the CLI can never drift from the engine. */
  private def checkAccuracy(a: String): String = {
    if (!graft.ops.AnnIndex.AccuracyProfiles.contains(a))
      throw new IllegalArgumentException(
        s"--accuracy must be ${graft.ops.AnnIndex.profileNames}, got '$a'")
    a
  }

  /** The query vector for ann-query/hybrid: row <vecId> of the embeddings
    * table (the engine-side contract starts from the query vector —
    * SURVEY §0 scopes the embedding provider out). */
  private def queryVector(spark: SparkSession, embParquet: String,
                          vecId: Long): Array[Float] = {
    import org.apache.spark.sql.functions.col
    val rows = spark.read.parquet(embParquet)
      .where(col("vec_id") === vecId).select("embedding").collect()
    require(rows.nonEmpty, s"vec_id $vecId not found in $embParquet")
    rows(0).getSeq[Float](0).toArray
  }

  /** Reference display format (cli.py:638-707, minus terminal colors). */
  private[graft] def render(results: Seq[SearchResult],
                            quiet: Boolean): Unit = {
    if (!quiet) println("Full-Text Search Results\n")
    if (results.isEmpty) {
      if (!quiet) println("No matches found")
      return
    }
    results.zipWithIndex.foreach { case (r, i0) =>
      val i = i0 + 1
      if (quiet) println(s"$i. ${r.path}:${r.line}:${r.column}")
      else {
        println(s"$i. ${r.path} (Line ${r.line}, Col ${r.column})")
        if (r.language.nonEmpty) println(s"   Language: ${r.language}")
        if (r.match_text.nonEmpty) println(s"   Match: ${r.match_text}")
        if (r.snippet.nonEmpty) {
          println(s"   Snippet (from line ${r.snippet_start_line}):")
          r.snippet.split("\n", -1).zipWithIndex.foreach { case (l, j) =>
            println(f"   ${r.snippet_start_line + j}%5d | $l")
          }
        }
        println(f"   Score: ${r.score}%.4f")
        println()
      }
    }
  }
}
