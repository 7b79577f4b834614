package graft.index

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.analysis.Tokenizer
import graft.index.FtsSchema._

/** Incremental index maintenance: watch-mode upsert / delete re-expressed
  * as tombstones + delta segments (reference: fts_watch_handler.py:40-128
  * `update_document` = delete-by-path + add + commit,
  * tantivy_index_manager.py:955-1035).
  *
  * Model: each delta batch k writes under `v<N>/deltas/d<k>/`:
  *   - docs/       new document rows at generation k (fresh doc_ids in the
  *     (1000+k) << 40 namespace, disjoint from base shards)
  *   - segments/   posting blocks for exactly those docs
  *   - dict/       df/cf contribution of the delta
  *   - tombstones/ (repo, path, gen=k) rows — any older generation of the
  *     path is dead (upsert writes docs + tombstone; delete writes
  *     tombstone only)
  *
  * Query-time resolution keeps, per (repo, path), only docs with
  * gen >= max tombstone gen (see [[graft.query.FtsIndex]]). Like the
  * reference (and Tantivy before a merge), dead docs still contribute to
  * df/avgdl until [[compact]] rewrites a fresh version — the documented
  * eventual-consistency contract (tantivy_index_manager.py:25-33).
  * `compact` restores bit-identical-to-rebuild state.
  */
object FtsDeltas {

  /** Generation offset so delta doc_ids can never collide with base shard
    * ids (builders use shard < 1000). Shards >= GenBase are delta
    * generations — the mutable part of a version dir; shards below it are
    * immutable base segments (the cache-inheritance boundary). */
  private[graft] val GenBase = 1000L

  private def currentDir(spark: SparkSession, root: String): String =
    FtsIndexBuilder.currentVersionDir(spark, root)

  /** Sorted delta-generation numbers under a version dir: the ONE
    * listing of the d<N> naming scheme — snapshots, fingerprints,
    * nextGen, fold and the streaming sink all derive from it. */
  private[graft] def generations(spark: SparkSession,
                                 vDir: String): Seq[Int] = {
    val hfs = FtsIndexBuilder.fs(spark, vDir)
    val d = new Path(s"$vDir/deltas")
    if (!hfs.exists(d)) Nil
    else hfs.listStatus(d).map(_.getPath.getName)
      .filter(_.matches("d\\d+")).map(_.drop(1).toInt).sorted.toSeq
  }

  /** Sorted live delta-generation numbers of an index root. */
  def liveGenerations(spark: SparkSession, root: String): Seq[Int] =
    generations(spark, currentDir(spark, root))

  private def nextGen(spark: SparkSession, vDir: String): Int =
    generations(spark, vDir).lastOption.getOrElse(0) + 1

  /** Delta doc-id assignment for one generation, mirroring stageDocs'
    * shard scheme inside the delta's own namespace: sub-shard =
    * xxhash64(repo, path) mod nShards, row numbers assigned per sub-shard
    * (a bulk upsert parallelizes across nShards window partitions instead
    * of funneling through one task), and doc_id = (1000+gen) << 40 |
    * subshard << 28 | rank — deterministic under any parallelism,
    * disjoint from base shards and other generations. */
  private def assignDeltaDocs(batch: DataFrame, gen: Int,
                              cfg: FtsIndexBuilder.Config): DataFrame = {
    val withIds =
      if (batch.columns.contains("identifiers")) batch
      else batch.withColumn("identifiers", lit(null).cast("array<string>"))
    val extractIds = udf((content: String) => Tokenizer.identifiers(content))
    // chunk-granularity batches carry line_start/line_end — keep them (and
    // make them part of the deterministic ordering), like stageDocs
    val chunked = batch.columns.contains("line_start")
    val orderCols =
      if (chunked) Seq(col("repo"), col("path"), col("line_start"))
      else Seq(col("repo"), col("path"))
    val extraCols = if (chunked) Seq("line_start", "line_end") else Nil
    val w = Window.partitionBy(col("subshard")).orderBy(orderCols: _*)
    withIds
      .withColumn("subshard",
        pmod(xxhash64(col("repo"), col("path")), lit(cfg.nShards)).cast("int"))
      .withColumn("shard", lit((GenBase + gen).toInt))
      .withColumn("doc_id",
        lit((GenBase + gen) << 40) +
          col("subshard").cast("long") * lit(1L << 28) +
          (row_number().over(w) - 1))
      .withColumn("sha256", sha2(col("content"), 256))
      .withColumn("ids", coalesce(col("identifiers"), extractIds(col("content"))))
      .withColumn("gen", lit(gen))
      .select(("doc_id" +: "shard" +: "repo" +: "path" +: "commit" +:
        "lang" +: "sha256" +: "ids" +: "content" +: "gen" +: extraCols)
        .map(col): _*)
  }

  /** Driver-side parquet row count from file footers — zero Spark jobs
    * (the 2^28 guard must not recompute the batch lineage every streaming
    * microbatch, ADVICE r03 #5). */
  private[graft] def parquetRowCount(spark: SparkSession,
                                     dir: String): Long = {
    val hfs = FtsIndexBuilder.fs(spark, dir)
    val conf = spark.sparkContext.hadoopConfiguration
    hfs.listStatus(new Path(dir)).iterator
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map { st =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromStatus(st, conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRecordCount finally r.close()
      }.sum
  }

  /** Atomic publish of a fully-staged generation dir: FileContext.rename
    * with Rename.NONE FAILS when the destination exists — unlike
    * FileSystem.rename, which silently moves the source INSIDE an existing
    * destination directory and returns true (ADVICE r03 #1: under a
    * concurrent writer that "success" would nest the staged dir invisibly
    * and the caller would then delete live generations). */
  private[graft] def publishGen(spark: SparkSession, tmpDir: String,
                                dstDir: String): Unit = {
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      new Path(tmpDir).toUri, spark.sparkContext.hadoopConfiguration)
    fc.rename(fc.makeQualified(new Path(tmpDir)),
      fc.makeQualified(new Path(dstDir)),
      org.apache.hadoop.fs.Options.Rename.NONE)
  }

  /** The norm regime comes from the INDEX, never the caller: a
    * default-Config maintenance write into a quantized version must write
    * quantized postings (and vice versa), or the same doc would score
    * differently depending on which generation it lives in. An EXPLICIT
    * `quantizeNorms = true` against an exact-norm index is a caller
    * error and fails loudly rather than being silently dropped (the
    * reverse direction is indistinguishable from the default and is
    * coerced — harmlessly, since quantized stays quantized). */
  private def withIndexNormRegime(spark: SparkSession, vDir: String,
                                  cfg0: FtsIndexBuilder.Config)
      : FtsIndexBuilder.Config = {
    val persisted = FtsIndexBuilder.quantizedNorms(spark, vDir)
    require(!cfg0.quantizeNorms || persisted,
      "quantizeNorms=true requested but this index was built with exact " +
        "fieldnorms; mixed-regime generations would score the same doc " +
        "differently — rebuild the index with quantizeNorms=true instead")
    cfg0.copy(quantizeNorms = persisted)
  }

  def upsert(spark: SparkSession, batch: DataFrame, root: String,
             cfg0: FtsIndexBuilder.Config = FtsIndexBuilder.Config()): Int = {
    require(cfg0.nShards <= 4096,
      s"delta doc-id namespace fits 4096 sub-shards, got ${cfg0.nShards}")
    val vDir = currentDir(spark, root)
    val cfg = withIndexNormRegime(spark, vDir, cfg0)
    val hfs = FtsIndexBuilder.fs(spark, vDir)
    val gen = nextGen(spark, vDir)
    // stage the WHOLE generation under a WRITER-UNIQUE name the
    // generation listing ignores, publish with one atomic rename: readers
    // never see a torn half-generation, and two concurrent upserts can
    // never interleave writes into one staging dir (whichever publishes
    // d<gen> second fails loudly at the Rename.NONE below and cleans up
    // its own stage)
    val tmpDir =
      s"$vDir/deltas/up.tmp.$gen.${java.util.UUID.randomUUID.toString.take(8)}"
    try {
      assignDeltaDocs(batch, gen, cfg)
        .write.mode("overwrite").parquet(s"$tmpDir/docs")

      // rank overflow guard: doc_id packs row_number into 28 bits per
      // sub-shard; a batch under 2^28 rows can't overflow ANY sub-shard's
      // rank space (ADVICE r02 #4). Validated from the WRITTEN parquet
      // footers — no extra Spark action, no lineage recompute — and the
      // staged dir is still invisible to readers if it fails.
      require(parquetRowCount(spark, s"$tmpDir/docs") < (1L << 28),
        "delta upsert batch exceeds the 2^28-docs-per-generation id space; " +
          "split the batch or run a full rebuild")

      val written = spark.read.parquet(s"$tmpDir/docs")
      writeDeltaSegments(spark, written, tmpDir, gen, cfg)
      written.select(col("repo"), col("path"), lit(gen).as("gen"))
        .write.mode("overwrite").parquet(s"$tmpDir/tombstones")
      publishGen(spark, tmpDir, s"$vDir/deltas/d$gen")
    } catch {
      case e: Throwable =>
        hfs.delete(new Path(tmpDir), true) // doc_ids are baked to this gen
        throw e
    }
    gen
  }

  /** Delete by key: tombstones only (reference on_deleted,
    * fts_watch_handler.py:81-99). `keys` columns: (repo, path).
    *
    * Stages under a writer-unique dir and publishes via the same
    * Rename.NONE path as [[upsert]]/[[fold]]: a reader can never list a
    * half-written d<gen>, and a concurrent upsert that computed the same
    * nextGen makes exactly one of the two publishes fail loudly instead
    * of the tombstone sets silently overwriting each other (ADVICE r04
    * #2). */
  def delete(spark: SparkSession, keys: DataFrame, root: String): Int = {
    val vDir = currentDir(spark, root)
    val gen = nextGen(spark, vDir)
    deleteAt(spark, keys, vDir, gen)
    gen
  }

  /** The post-[[nextGen]] half of [[delete]] (package-private so the
    * collision spec can pin the exact race interleaving: another writer
    * publishes d<gen> between the gen computation and this publish). */
  private[graft] def deleteAt(spark: SparkSession, keys: DataFrame,
                              vDir: String, gen: Int): Unit = {
    val hfs = FtsIndexBuilder.fs(spark, vDir)
    val tmpDir =
      s"$vDir/deltas/up.tmp.$gen.${java.util.UUID.randomUUID.toString.take(8)}"
    try {
      keys.select(col("repo"), col("path"), lit(gen).as("gen"))
        .write.mode("overwrite").parquet(s"$tmpDir/tombstones")
      publishGen(spark, tmpDir, s"$vDir/deltas/d$gen")
    } catch {
      case e: Throwable =>
        hfs.delete(new Path(tmpDir), true) // gen was claimed by another writer
        throw e
    }
  }

  private def writeDeltaSegments(spark: SparkSession, docs: DataFrame,
                                 dDir: String, gen: Int,
                                 cfg: FtsIndexBuilder.Config): Unit = {
    import spark.implicits._
    FtsIndexBuilder.postingRuns(docs, cfg)
      .repartition(math.max(cfg.segmentPartitions / 4, 1),
        $"shard", $"field", $"term", $"bucket")
      .sortWithinPartitions("shard", "field", "term", "bucket", "first_doc")
      .as[(Int, String, String, Long, Long, Int,
        Array[Byte], Array[Byte], Array[Byte], Array[Byte])]
      .mapPartitions(it =>
        FtsIndexBuilder.encodeRunPartition(it, cfg.blockSize))
      .write.mode("overwrite")
      .option("parquet.enable.dictionary#doc_bytes", "false")
      .option("parquet.enable.dictionary#tf_bytes", "false")
      .option("parquet.enable.dictionary#dl_bytes", "false")
      .option("parquet.enable.dictionary#pos_bytes", "false")
      .parquet(s"$dDir/segments")
    FtsIndexBuilder.writeDict(spark.read.parquet(s"$dDir/segments"),
      math.max(cfg.segmentPartitions / 4, 1), s"$dDir/dict")
  }

  /** TIERED compaction: fold every delta generation into ONE equivalent
    * generation WITHOUT touching base shards — the cost scales with the
    * size of the deltas, never with the size of the index (a full
    * [[compact]] under heavy streaming churn would rebuild 100 TB to
    * absorb a few MB of updates).
    *
    * Reads only delta state: alive delta docs (tombstone-resolved among
    * the deltas themselves — the base is never scanned, its docs are
    * killed by the surviving tombstone keys), re-ids them into the folded
    * generation's namespace, rebuilds their segments/dict, and writes one
    * tombstone per previously-tombstoned key at the folded generation.
    *
    * Swap is near-atomic: the folded generation is fully written under a
    * temp name invisible to readers, renamed into place, and only then are
    * the old generations deleted. A reader opening a NEW snapshot in the
    * window sees old AND folded generations together: membership stays
    * exactly correct (the folded tombstones kill every old-generation
    * doc), only df/N drift briefly — within the documented
    * eventual-consistency contract (tantivy_index_manager.py:25-33).
    * A snapshot PINNED from before the fold ([[graft.query.FtsIndex]]
    * resolves its delta dirs at construction) references the deleted
    * generation paths and will fail its next cold scan — pair pinned
    * snapshots with [[graft.query.ReloadingFtsIndex]] (its fingerprint
    * check swaps to the folded state before any stale path is read), or
    * drain in-flight readers before folding.
    *
    * Returns the folded generation number, or None when there is nothing
    * to fold (fewer than 2 generations). */
  def fold(spark: SparkSession, root: String,
           cfg0: FtsIndexBuilder.Config = FtsIndexBuilder.Config()): Option[Int] = {
    val vDir = currentDir(spark, root)
    val cfg = withIndexNormRegime(spark, vDir, cfg0)
    val hfs = FtsIndexBuilder.fs(spark, vDir)
    val gens = generations(spark, vDir)
    if (gens.length <= 1) return None
    val gNew = gens.max + 1

    def sub(s: String): Seq[String] = gens.map(g => s"$vDir/deltas/d$g/$s")
      .filter(p => hfs.exists(new Path(p)))
    val tombs = spark.read.parquet(sub("tombstones"): _*)
    val tmax = tombs.groupBy("repo", "path").agg(max("gen").as("tgen"))

    val docPaths = sub("docs")
    val alive: Option[DataFrame] =
      if (docPaths.isEmpty) None
      else {
        val d = docPaths.map(spark.read.parquet(_))
          .reduce(_.unionByName(_, allowMissingColumns = true))
        val a = d.join(tmax, Seq("repo", "path"), "left")
          .where(col("gen") >= coalesce(col("tgen"), lit(0)))
        if (a.isEmpty) None else Some(a)
      }

    // stage the folded generation under a writer-unique name the
    // generation listing ignores (a concurrent fold/upsert must never
    // share a staging dir)
    val tmpName = s"fold.tmp.$gNew.${java.util.UUID.randomUUID.toString.take(8)}"
    val tmpDir = s"$vDir/deltas/$tmpName"
    alive.foreach { a =>
      val lineCols =
        if (a.columns.contains("line_start"))
          Seq(col("line_start"), col("line_end")) else Nil
      val batch = a.select(col("repo") +: col("path") +: col("commit") +:
        col("lang") +: col("content") +: col("ids").as("identifiers") +:
        lineCols: _*)
      assignDeltaDocs(batch, gNew, cfg)
        .write.mode("overwrite").parquet(s"$tmpDir/docs")
      writeDeltaSegments(spark, spark.read.parquet(s"$tmpDir/docs"),
        tmpDir, gNew, cfg)
    }
    tombs.select("repo", "path").distinct()
      .withColumn("gen", lit(gNew))
      .write.mode("overwrite").parquet(s"$tmpDir/tombstones")

    // publish, then retire the folded-away generations. Rename.NONE
    // THROWS when a concurrent upsert already claimed d<gNew> —
    // FileSystem.rename would instead move the staged dir INSIDE the
    // existing destination and report success, and the deletes below
    // would then lose every delta since the last compact (ADVICE r03 #1)
    try publishGen(spark, tmpDir, s"$vDir/deltas/d$gNew")
    catch { case e: Throwable =>
      hfs.delete(new Path(tmpDir), true) // deltas intact; fold is re-runnable
      throw e
    }
    // belt-and-braces: the published generation must be top-level complete
    // before anything is deleted
    require(hfs.exists(new Path(s"$vDir/deltas/d$gNew/tombstones")),
      s"fold publish left d$gNew without top-level tombstones; " +
        "no generation was deleted")
    gens.foreach(g => hfs.delete(new Path(s"$vDir/deltas/d$g"), true))
    Some(gNew)
  }

  /** Rewrite a fresh version from the surviving documents — after this the
    * index is bit-identical to a from-scratch rebuild of the same logical
    * content (the MVCC segment-merge analog; reference atomic rebuild,
    * storage/background_index_rebuilder.py). */
  def compact(spark: SparkSession, root: String,
              cfg0: FtsIndexBuilder.Config = FtsIndexBuilder.Config()): Unit = {
    // the fresh version inherits the retiring version's norm regime
    val cfg = withIndexNormRegime(spark, currentDir(spark, root), cfg0)
    val idx = new graft.query.FtsIndex(spark, root)
    val lineCols =
      if (idx.effectiveDocs.columns.contains("line_start"))
        Seq(col("line_start"), col("line_end"))
      else Nil
    val live = idx.effectiveDocs
      .select(col("repo") +: col("path") +: col("commit") +: col("lang") +:
        col("content") +: col("ids").as("identifiers") +: lineCols: _*)
    FtsIndexBuilder.build(spark, live, root, cfg)
  }
}
