package graft.index

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.analysis.Tokenizer
import graft.index.FtsSchema._

/** Builds the on-disk inverted index (see [[FtsSchema]] for the layout).
  *
  * Build lifecycle (reference analog: SmartIndexer full build,
  * services/smart_indexer.py:589+, with ProgressiveMetadata resume,
  * services/progressive_metadata.py):
  *
  *  1. docs stage — assign stable docIds: shard = xxhash64(repo, path) mod
  *     nShards, docId = shard << 40 | row_number within shard ordered by
  *     (repo, path). Deterministic under any parallelism (the scaling
  *     evidence precondition). Written partitioned by shard.
  *  2. shard stage, per shard (the resumable checkpoint unit): tokenize all
  *     three fields and build PER-MAP-PARTITION posting runs (sorted,
  *     delta-gap varint packed — the north star's "per-partition inverted
  *     indexes") -> ONE hash shuffle on (shard, field, term, doc-bucket)
  *     [the bucket splits a skewed term's posting list across partitions
  *     by doc range — the salting analog required by the north rule] ->
  *     sortWithinPartitions -> streaming merge-encoder emitting delta-gap
  *     + varint blocks with block-max metadata. A manifest row with
  *     lineage + token/byte metrics commits the shard.
  *  3. finalize — global dict (df/cf summed across shards, exactly-once
  *     because per-shard docs are disjoint), corpus stats, and an atomic
  *     `current` pointer swap (reference analog: tmp dir + os.rename,
  *     tantivy_index_manager.py:1037-1136).
  *
  * Resume: rerunning `build` on the same root skips shards whose manifest
  * row is `done` (anti-join of shard list vs manifest — W4 in SURVEY.md §2.5).
  */
object FtsIndexBuilder {

  final case class Config(
      nShards: Int = 4,
      segmentPartitions: Int = 32,
      blockSize: Int = 128,
      /** camelCase sub-token analyzers on the identifiers field; disable
        * for exact reference-fixture parity. */
      codeAnalyzers: Boolean = true,
      /** index the case-preserving content_raw field. */
      indexRawField: Boolean = true,
      /** prefix-n-gram lane (lengths 3-8) on the identifiers field for
        * code-completion-style prefix lookup (north-star analyzer). */
      prefixNgrams: Boolean = false,
      /** shard-group batching: shards stay the manifest/resume unit, but
        * each group of ceil(nShards/shardGroups) shards builds in ONE job
        * chain. Keep the value stable across resume runs of one build. */
      shardGroups: Int = 4,
      /** doc-range width of one map-side posting run, in posting BLOCKS
        * (bucketDocs = bucketBlocks * blockSize). Larger buckets put
        * fewer, longer runs through the segments exchange (less per-row
        * shuffle overhead for mid/high-df terms) at the cost of coarser
        * map-side combine granularity. Segment bytes depend on this value
        * — keep it stable across resume runs of one build. */
      bucketBlocks: Int = 32,
      /** Tantivy-regime 1-byte fieldnorms ([[Fieldnorm]], SURVEY §7.3
        * risk 1): round-trip every posting's dl through the quantized
        * code at BUILD time, so all query paths score the quantized
        * length with no score-path branching. Off by default — exact
        * lengths, the documented deviation. Keep stable across
        * resume/delta runs of one index. */
      quantizeNorms: Boolean = false)

  final case class BuildReport(version: String, nDocs: Long,
                               shardsBuilt: Seq[Int], shardsSkipped: Seq[Int])

  /** Byte budget for broadcasting the doc-id table in [[stageDocs]]:
    * 4 Mi rows of ~100 B of key + id, a few hundred MB, within the guide's
    * broadcast comfort zone. A larger table falls back to a shuffle join,
    * which costs what the former window plan cost. */
  private val MaxBroadcastIdBytes = (4L << 20) * 100

  /** Whether a doc-id table of `nIds` rows and `nCols` columns, whose
    * string keys sum to `keyBytes` UTF-8 bytes, fits the broadcast
    * budget: the key bytes plus 8 B per row and column (an UnsafeRow's
    * null-bit word and fixed-width slots). Gated on bytes, not rows, so a
    * corpus of few docs with long paths cannot broadcast gigabytes. */
  private[graft] def broadcastsIds(nIds: Long, keyBytes: Long,
                                   nCols: Int): Boolean =
    keyBytes + nIds * 8L * (nCols + 1) <= MaxBroadcastIdBytes

  private[graft] def fs(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Whether a published version dir was built with 1-byte quantized
    * fieldnorms ([[Config.quantizeNorms]]) — the source of truth for
    * every delta op writing into that version. */
  private[graft] def quantizedNorms(spark: SparkSession,
                                    vDir: String): Boolean =
    fs(spark, vDir).exists(new Path(vDir, "QUANTIZED_NORMS"))

  /** Full (or resumed) index build from an ingest table with columns
    * (repo, path, commit, lang, content[, identifiers array<string>]). */
  private val timing = sys.env.contains("GRAFT_BUILD_TIMING")
  @inline private def phase[A](name: String)(f: => A): A = {
    if (!timing) f
    else {
      val t0 = System.nanoTime()
      val a = f
      println(f"[timing] $name ${(System.nanoTime() - t0) / 1e9}%.2fs")
      a
    }
  }

  def build(spark: SparkSession, source: DataFrame, root: String,
            cfg: Config = Config()): BuildReport = {
    val vDir = stageDocs(spark, source, root, cfg)
    val (built, skipped) = stageShards(spark, vDir, cfg, None)
    val nDocs = stageFinalize(spark, root, vDir, cfg)
    BuildReport(vDir.split('/').last, nDocs, built, skipped)
  }

  /** Stage 1: assign docIds and persist the doc table. Returns the version
    * dir. Idempotent (skips if the docs parquet is complete). Callable on
    * its own so a multi-worker deployment (one driver per executor-set,
    * e.g. the scaling bench's taskset-pinned JVMs) can share it. */
  def stageDocs(spark: SparkSession, source: DataFrame, root: String,
                cfg: Config = Config()): String = {
    import spark.implicits._
    val hfs = fs(spark, root)
    val version = resumableVersion(hfs, root)
    val vDir = s"$root/$version"
    val docsDir = s"$vDir/docs"
    if (!hfs.exists(new Path(docsDir, "_SUCCESS"))) phase("docs") {
      val withIds =
        if (source.columns.contains("identifiers")) source
        else source.withColumn("identifiers",
          lit(null).cast("array<string>"))
      val extractIds = udf((content: String) =>
        Tokenizer.identifiers(content))
      // chunk-granularity ingest carries line_start/line_end (several docs
      // per path) — keep them and make the docId ordering deterministic
      val chunked = source.columns.contains("line_start")
      val orderCols =
        if (chunked) Seq($"repo", $"path", $"line_start")
        else Seq($"repo", $"path")
      val keyCols =
        if (chunked) Seq("repo", "path", "line_start")
        else Seq("repo", "path")
      val extraCols =
        if (chunked) Seq("line_start", "line_end") else Nil
      val w = Window.partitionBy($"shard").orderBy(orderCols: _*)
      // doc_id assignment over METADATA only (identical shard + rank
      // formula — ids are bit-identical to the former plan): the window's
      // exchange and sort carry (repo, path[, line_start]), never content.
      // The id table re-attaches to the payload via a broadcast join, so
      // content flows scan -> project -> write with NO exchange and no
      // full-row sort — the "decide on small rows, move heavy rows once"
      // shape. The write's per-task dynamic-partition sort is keyed
      // (shard, doc_id), so every written file is an ascending doc range
      // and the segment stage's posting runs stay long.
      //
      // A duplicated source key would be several rows of one doc and
      // multiply on the join below: equal keys are neighbours in the
      // window, so a `lag` over it flags each repeat, and the job that
      // counts the ids also finds the least flagged key.
      val idTable = source.select(keyCols.map(col): _*)
        .withColumn("shard",
          pmod(xxhash64($"repo", $"path"), lit(cfg.nShards)).cast("int"))
        .withColumn("doc_id",
          $"shard".cast("long") * lit(1L << 40) +
            (row_number().over(w) - 1))
        .withColumn("dup", keyCols.map(c =>
          lag(col(c), 1).over(w) <=> col(c)).reduce(_ && _))
        .persist()
      val idStats = idTable.agg(count(lit(1)),
        min(when($"dup", struct(keyCols.map(col): _*))),
        coalesce(sum(octet_length($"repo") + octet_length($"path")),
          lit(0L))).head()
      if (!idStats.isNullAt(1)) {
        idTable.unpersist()
        throw new IllegalArgumentException(
          s"duplicate source key (${keyCols.mkString(", ")}) = " +
            idStats.getStruct(1).toSeq.mkString("(", ", ", ")"))
      }
      val ids = idTable.drop("dup")
      val payload = withIds.drop("doc_id", "shard", "sha256", "ids", "clen")
      val attached =
        if (broadcastsIds(idStats.getLong(0), idStats.getLong(2),
              ids.columns.length))
          payload.join(broadcast(ids), keyCols)
        else
          // beyond the broadcast budget (~10^8-row corpora per build
          // partition) the join shuffles the payload by its key — the
          // former window plan's single content exchange, not two
          payload.join(ids, keyCols)
      attached
        .withColumn("sha256", sha2($"content", 256))
        .withColumn("ids", coalesce($"identifiers", extractIds($"content")))
        .withColumn("clen", length($"content"))
        .select((Seq("doc_id", "shard", "repo", "path", "commit", "lang",
          "sha256", "ids", "content", "clen") ++ extraCols).map(col): _*)
        .sortWithinPartitions("shard", "doc_id")
        .write.mode("overwrite").partitionBy("shard").parquet(docsDir)
      idTable.unpersist()
    }
    // per-shard ingest stats (lineage inputs), computed ONCE here instead
    // of once per shard group — and from SMALL columns only (clen is
    // materialized at write time so content is never re-read)
    val dsDir = s"$vDir/docstats"
    if (!hfs.exists(new Path(dsDir, "_SUCCESS"))) phase("docstats") {
      val d = spark.read.parquet(docsDir)
      val lenCol = if (d.columns.contains("clen")) $"clen"
                   else length($"content")
      d.groupBy("shard").agg(
          count(lit(1)).as("n_docs"),
          sum(crc32($"sha256")).as("input_sha"),
          sum(lenCol).as("bytes_docs"))
        .coalesce(1)
        .write.mode("overwrite").parquet(dsDir)
    }
    vDir
  }

  /** Stage 2: per-shard segments (resumable). `subset` restricts the work
    * to given shards — the unit a worker claims in a multi-driver
    * deployment; None = all shards not yet manifested. Shards are
    * independent checkpoint units; groups are submitted concurrently so
    * the scheduler interleaves their jobs (wall-clock ~ max(group)). */
  def stageShards(spark: SparkSession, vDir: String, cfg: Config,
                  subset: Option[Seq[Int]]): (Seq[Int], Seq[Int]) = {
    val done = doneShards(spark, vDir)
    val candidates = subset.getOrElse(0 until cfg.nShards).toSeq
    val (skipped, todo) = candidates.partition(done.contains)
    if (todo.nonEmpty) {
      // deterministic round-robin grouping of the remaining shards; group
      // id = min shard of the group (stable across identical resume states)
      val nGroups = math.max(1, math.min(cfg.shardGroups, todo.size))
      val groups = todo.zipWithIndex.groupBy(_._2 % nGroups)
        .values.map(_.map(_._1)).toSeq.sortBy(_.min)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.global
      // scan balance for the tokenize stage: the docs store is striped
      // across one file per (write task, shard), and default split
      // packing (openCost-charged) lands just above core count — one
      // full wave plus a lone straggler (measured: 9 splits at 8 cores,
      // ~15% of the stage wall idle). Floor the split count at 4x the
      // available cores so the heaviest stage of the build packs into
      // even waves; derived from defaultParallelism, not a host
      // constant. The floor lives in a session of its own that carries
      // the caller's runtime conf, so the caller's session — and every
      // query running on it meanwhile — never sees it.
      val shardSpark = spark.newSession()
      spark.conf.getAll.foreach { case (k, v) =>
        if (shardSpark.conf.isModifiable(k)) shardSpark.conf.set(k, v)
      }
      shardSpark.conf.set("spark.sql.files.minPartitionNum",
        (4 * spark.sparkContext.defaultParallelism).toString)
      val docs = shardSpark.read.parquet(s"$vDir/docs")
      phase("shard-groups")(Await.result(
        Future.sequence(groups.map { g =>
          Future(buildShardGroup(shardSpark, docs, vDir, g.min, g, cfg))
        }), Duration.Inf))
    }
    (todo, skipped)
  }

  /** The one writer of a dictionary dir ([[DictRow]]): df and cf of each
    * (field, term) summed over the given posting blocks, hash-partitioned
    * into `parts` files and sorted by term within each. */
  private[index] def writeDict(segments: DataFrame, parts: Int,
                               dir: String): Unit =
    segments.groupBy("field", "term")
      .agg(sum("n").as("df"), sum("sum_tf").as("cf"))
      .repartition(parts, col("field"), col("term"))
      .sortWithinPartitions("field", "term")
      .write.mode("overwrite").parquet(dir)

  /** Stage 3: global dict, corpus stats, atomic current-pointer swap.
    * Returns nDocs. */
  def stageFinalize(spark: SparkSession, root: String, vDir: String,
                    cfg: Config): Long = {
    import spark.implicits._
    val hfs = fs(spark, root)
    val version = vDir.split('/').last
    val nDocs = phase("docs count")(
      spark.read.parquet(s"$vDir/docstats")
        .agg(sum("n_docs")).collect()(0).getLong(0))
    val tFin = System.nanoTime()
    // the shard-group dirs, listed (as FtsIndex does): a glob path makes
    // the Parquet source probe a metadata dir named after the glob
    val groupDirs = hfs.listStatus(new Path(s"$vDir/segments"))
      .filter(_.isDirectory).map(_.getPath.toString).sorted
    writeDict(spark.read.parquet(groupDirs.toIndexedSeq: _*),
      cfg.segmentPartitions / 2 max 1, s"$vDir/dict")
    Seq(StatsRow(nDocs)).toDF().write.mode("overwrite").parquet(s"$vDir/stats")
    // the norm regime is INDEX state, not caller state: a marker file in
    // the version dir lets delta ops (upsert/fold/compact) reproduce it
    // without every caller re-supplying the flag — a default-Config fold
    // on a quantized index must not silently mix exact and quantized
    // generations
    if (cfg.quantizeNorms)
      hfs.create(new Path(vDir, "QUANTIZED_NORMS"), true).close()
    hfs.create(new Path(vDir, "BUILD_SUCCESS"), true).close()
    publishPointer(spark, root, version)
    if (timing) println(f"[timing] finalize ${(System.nanoTime() - tFin) / 1e9}%.2fs")
    nDocs
  }

  /** Atomic `current`-pointer swap shared by every versioned index root
    * (FTS and ANN): rename-with-overwrite via FileContext — no
    * delete-then-rename window in which a concurrent reader sees no
    * `current` at all (reference os.rename-over-existing semantics,
    * tantivy_index_manager.py:1037-1136). */
  private[graft] def publishPointer(spark: SparkSession, root: String,
                                    version: String): Unit = {
    val hfs = fs(spark, root)
    val tmp = new Path(root, s"current.tmp.$version")
    val out = hfs.create(tmp, true)
    out.write(version.getBytes("UTF-8")); out.close()
    val cur = new Path(root, "current")
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      new Path(root).toUri, spark.sparkContext.hadoopConfiguration)
    fc.rename(fc.makeQualified(tmp), fc.makeQualified(cur),
      org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** Per-posting accumulator used during the doc-local combine. The
    * common case (tf == 1 — most distinct terms appear once per doc) is
    * buffer-free: the byte stream is only allocated on the SECOND
    * occurrence. At ~10^2 distinct terms per doc x 10^5 docs per
    * partition this removes the dominant small-allocation source of the
    * scan (the measured scaling-efficiency ceiling, BENCH/BASELINE.md §3). */
  private final class PostingAcc {
    private var out: Codec.ByteBuf = null
    private var first = -1
    private var last = -1
    var n = 0L
    def add(pos: Int): Unit = {
      if (n == 0L) first = pos
      else {
        if (out == null) {
          out = new Codec.ByteBuf(8)
          Codec.writeVarLong(out, first.toLong)
        }
        Codec.writeVarLong(out, (pos - last).toLong)
      }
      last = pos; n += 1
    }
    def toBytes: Array[Byte] =
      if (out != null) out.toByteArray
      else Codec.encodeVarLong(first.toLong) // single position
  }

  /** Per-PARTITION string intern pool: a distinct term materializes as ONE
    * String for the whole partition instead of one per (doc, term) —
    * "import" in 10^5 docs used to allocate 10^5 identical Strings per map
    * partition. Open-addressed, capacity-capped (beyond the cap new terms
    * are returned uninterned so pathological vocabularies can't pin
    * unbounded memory). */
  private final class InternPool(initialCap: Int, maxEntries: Int) {
    private var cap = Integer.highestOneBit(math.max(initialCap, 16) * 2 - 1)
    private var mask = cap - 1
    private var hashes = new Array[Int](cap)
    private var strs = new Array[String](cap)
    private var n = 0

    @inline private def eqBuf(t: String, buf: Array[Char], len: Int): Boolean = {
      if (t.length != len) return false
      var i = 0
      while (i < len) { if (t.charAt(i) != buf(i)) return false; i += 1 }
      true
    }

    def intern(buf: Array[Char], len: Int, hash: Int): String = {
      var i = hash & mask
      while (true) {
        val s = strs(i)
        if (s == null) {
          val made = new String(buf, 0, len)
          if (n < maxEntries) {
            hashes(i) = hash; strs(i) = made; n += 1
            if (n * 4 > cap * 3 && cap < maxEntries * 2) grow()
          }
          return made
        } else if (hashes(i) == hash && eqBuf(s, buf, len)) {
          return s
        }
        i = (i + 1) & mask
      }
      null // unreachable
    }

    private def grow(): Unit = {
      val oh = hashes; val os = strs; val oc = cap
      cap *= 2; mask = cap - 1
      hashes = new Array[Int](cap)
      strs = new Array[String](cap)
      var i = 0
      while (i < oc) {
        if (os(i) != null) {
          var j = oh(i) & mask
          while (strs(j) != null) j = (j + 1) & mask
          hashes(j) = oh(i); strs(j) = os(i)
        }
        i += 1
      }
    }
  }

  /** Open-addressing (term -> PostingAcc) map looked up by a char buffer,
    * so a REPEATED token in a document allocates nothing: the term String
    * is interned once on first occurrence, later occurrences only probe.
    * (The round-1 path allocated a substring + a lowercased copy + two
    * tuples per token occurrence — the allocation rate was the measured
    * scaling-efficiency ceiling, see BENCH/BASELINE.md §3.) */
  private final class TermMap(initialCap: Int) {
    private var cap = Integer.highestOneBit(math.max(initialCap, 16) * 2 - 1)
    private var mask = cap - 1
    private var hashes = new Array[Int](cap)
    private var terms = new Array[String](cap)
    private var accs = new Array[PostingAcc](cap)
    private var n = 0

    @inline private def eqBuf(t: String, buf: Array[Char], len: Int): Boolean = {
      if (t.length != len) return false
      var i = 0
      while (i < len) { if (t.charAt(i) != buf(i)) return false; i += 1 }
      true
    }

    def getOrInsert(buf: Array[Char], len: Int, hash: Int,
                    pool: InternPool): PostingAcc = {
      var i = hash & mask
      while (true) {
        val acc = accs(i)
        if (acc == null) {
          val a = new PostingAcc
          hashes(i) = hash; terms(i) = pool.intern(buf, len, hash); accs(i) = a
          n += 1
          if (n * 4 > cap * 3) grow()
          return a
        } else if (hashes(i) == hash && eqBuf(terms(i), buf, len)) {
          return acc
        }
        i = (i + 1) & mask
      }
      null // unreachable
    }

    /** Slow-path insert for terms already materialized as Strings
      * (non-ASCII lowercase fallback). */
    def getOrInsert(term: String): PostingAcc = {
      val hash = hashOf(term)
      var i = hash & mask
      while (true) {
        val acc = accs(i)
        if (acc == null) {
          val a = new PostingAcc
          hashes(i) = hash; terms(i) = term; accs(i) = a
          n += 1
          if (n * 4 > cap * 3) grow()
          return a
        } else if (hashes(i) == hash && terms(i) == term) {
          return acc
        }
        i = (i + 1) & mask
      }
      null // unreachable
    }

    private def grow(): Unit = {
      val oh = hashes; val ot = terms; val oa = accs; val oc = cap
      cap *= 2; mask = cap - 1
      hashes = new Array[Int](cap)
      terms = new Array[String](cap)
      accs = new Array[PostingAcc](cap)
      var i = 0
      while (i < oc) {
        if (oa(i) != null) {
          var j = oh(i) & mask
          while (accs(j) != null) j = (j + 1) & mask
          hashes(j) = oh(i); terms(j) = ot(i); accs(j) = oa(i)
        }
        i += 1
      }
    }

    def foreachEntry(f: (String, PostingAcc) => Unit): Unit = {
      var i = 0
      while (i < cap) { if (accs(i) != null) f(terms(i), accs(i)); i += 1 }
    }

    def size: Int = n
  }

  @inline private def hashOf(s: String): Int = {
    // same rolling hash as the buffer path (String.hashCode formula)
    var h = 0; var i = 0
    while (i < s.length) { h = h * 31 + s.charAt(i); i += 1 }
    h
  }

  /** One-pass tokenize + doc-local combine for the content (lowercased)
    * and content_raw fields. Walks the text once with the exact
    * [[Tokenizer]] boundary semantics (non-alphanumeric Unicode split,
    * drop >40 chars), lowercasing ASCII chars in a reused buffer; only
    * non-ASCII tokens fall back to substring + String.toLowerCase (the
    * Locale.ROOT-correct slow path, so semantics stay identical — the
    * differential spec asserts it). Emits the same rows as
    * combine-over-Tokenizer did; allocation is O(distinct terms), not
    * O(token occurrences). Returns (contentMap, rawMap or null, dl). */
  private def scanContent(text: String, indexRaw: Boolean,
                          pool: InternPool): (TermMap, TermMap, Long) = {
    val cMap = new TermMap(64)
    val rMap = if (indexRaw) new TermMap(64) else null
    val buf = new Array[Char](Tokenizer.MaxTokenLen)
    var dl = 0L
    if (text == null || text.isEmpty) return (cMap, rMap, 0L)
    val n = text.length
    var i = 0
    var start = -1
    var pos = 0

    @inline def emit(endExcl: Int): Unit = {
      val len = endExcl - start
      if (len <= Tokenizer.MaxTokenLen) {
        // raw + lowercase hashes in one pass over the token chars;
        // sawUpper tracks "raw form differs from lowered form" EXACTLY
        // (a hash comparison was only a proxy — ADVICE r02 #2)
        var ascii = true
        var sawUpper = false
        var hRaw = 0
        var hLow = 0
        var j = 0
        while (j < len) {
          val c = text.charAt(start + j)
          if (c >= 128) ascii = false
          val lc =
            if (c >= 'A' && c <= 'Z') { sawUpper = true; (c + 32).toChar }
            else c
          buf(j) = lc
          hRaw = hRaw * 31 + c
          hLow = hLow * 31 + lc
          j += 1
        }
        if (ascii) {
          cMap.getOrInsert(buf, len, hLow, pool).add(pos)
          if (rMap != null) {
            // reuse buf for the raw form only if it differs
            if (!sawUpper) rMap.getOrInsert(buf, len, hRaw, pool).add(pos)
            else {
              var k = 0
              while (k < len) { buf(k) = text.charAt(start + k); k += 1 }
              rMap.getOrInsert(buf, len, hRaw, pool).add(pos)
            }
          }
        } else {
          val raw = text.substring(start, endExcl)
          cMap.getOrInsert(raw.toLowerCase(java.util.Locale.ROOT)).add(pos)
          if (rMap != null) rMap.getOrInsert(raw).add(pos)
        }
        pos += 1
        dl += 1
      }
    }

    while (i < n) {
      val cp = text.codePointAt(i)
      val w = Character.charCount(cp)
      if (Tokenizer.isAlphaNumCp(cp)) {
        if (start < 0) start = i
      } else if (start >= 0) {
        emit(i)
        start = -1
      }
      i += w
    }
    if (start >= 0) emit(n)
    (cMap, rMap, dl)
  }

  /** One map-side posting RUN: the postings of one (field, term) over a
    * contiguous ascending doc range, already delta-gap + varint packed.
    * first_doc/lastDoc bound the range; docOut holds gaps, tfOut/dlOut
    * plain varints, posOut the concatenated per-posting position lists. */
  private final class RunAcc(val firstDoc: Long) {
    var lastDoc: Long = -1L
    var n: Int = 0
    val docOut = new Codec.ByteBuf(16)
    val tfOut = new Codec.ByteBuf(8)
    val dlOut = new Codec.ByteBuf(8)
    val posOut = new Codec.ByteBuf(32)
    def add(doc: Long, dl: Long, tf: Long, pos: Array[Byte]): Unit = {
      if (n == 0) Codec.writeVarLong(docOut, doc)
      else Codec.writeVarLong(docOut, doc - lastDoc)
      lastDoc = doc
      Codec.writeVarLong(tfOut, tf)
      Codec.writeVarLong(dlOut, dl)
      posOut.write(pos, 0, pos.length)
      n += 1
    }
  }

  private type RunRow = (Int, String, String, Long, Long, Int,
    Array[Byte], Array[Byte], Array[Byte], Array[Byte])

  /** Map-side posting RUNS — the north-star architecture made literal:
    * each input partition builds per-partition inverted posting lists
    * (sorted, delta-gap varint packed) and the shuffle moves those packed
    * runs, not per-doc rows. One shuffle row per (field, term, doc-bucket)
    * per map partition instead of one per (doc, field, term): typically
    * 10-30x fewer rows and several-x fewer bytes through the exchange —
    * the map-side combine a 100 TB build needs.
    *
    * Runs are keyed by (shard, field, term, bucket) where bucket =
    * doc_id / (32*blockSize) — the same skew-splitting key as before (a
    * df==N stopword's postings split across partitions by doc range).
    * Within a run, docs are strictly ascending; the builder flushes on
    * shard/bucket change or any doc-order regress (file-split packing can
    * concatenate non-adjacent chunks), so runs of one key coming from
    * different map partitions cover disjoint doc ranges and concatenate in
    * first_doc order into the identical posting stream the per-doc path
    * produced — final segment blocks are byte-identical at ANY input
    * split layout or parallelism (asserted by FtsBuildSpec).
    *
    * Tokenization AND per-(doc, term) aggregation happen in the same map
    * pass (a document is self-contained). Field lengths come from the
    * same single split pass. */
  private[graft] def postingRuns(docs: DataFrame, cfg: Config): DataFrame = {
    import docs.sparkSession.implicits._
    val indexRaw = cfg.indexRawField
    val codeAn = cfg.codeAnalyzers
    val ngrams = cfg.prefixNgrams
    val bucketDocs = cfg.bucketBlocks.toLong * cfg.blockSize
    val quantNorms = cfg.quantizeNorms
    docs.select($"shard", $"doc_id", $"content", $"ids")
      .as[(Int, Long, String, Seq[String])]
      .mapPartitions { it =>
        runIterator(it, indexRaw, codeAn, ngrams, bucketDocs, quantNorms)
      }
      .toDF("shard", "field", "term", "bucket", "first_doc", "n",
        "doc_bytes", "tf_bytes", "dl_bytes", "pos_bytes")
  }

  private def runIterator(
      docsIt: Iterator[(Int, Long, String, Seq[String])],
      indexRaw: Boolean, codeAn: Boolean, ngrams: Boolean,
      bucketDocs: Long,
      quantNorms: Boolean = false): Iterator[RunRow] = new Iterator[RunRow] {
    // one map PER FIELD, keyed by the (partition-interned) term String —
    // no (field, term) Tuple2 allocation per (doc, term) lookup
    private val fieldNames = Array(FieldContent, FieldRaw, FieldIdent)
    private val accsF = Array.fill(fieldNames.length)(
      new java.util.LinkedHashMap[String, RunAcc]())
    private val pool = new InternPool(4096, 1 << 21)
    private var curShard = Int.MinValue
    private var curBucket = Long.MinValue
    private var lastDoc = Long.MinValue
    private val outQ = new scala.collection.mutable.Queue[RunRow]()

    private def flush(): Unit = {
      var fi = 0
      while (fi < accsF.length) {
        val e = accsF(fi).entrySet().iterator()
        while (e.hasNext) {
          val kv = e.next()
          val a = kv.getValue
          outQ += ((curShard, fieldNames(fi), kv.getKey, curBucket,
            a.firstDoc, a.n, a.docOut.toByteArray, a.tfOut.toByteArray,
            a.dlOut.toByteArray, a.posOut.toByteArray))
        }
        accsF(fi).clear()
        fi += 1
      }
    }

    @inline private def addPosting(fi: Int, t: String, doc: Long,
                                   dl: Long, tf: Long,
                                   pos: Array[Byte]): Unit = {
      val m = accsF(fi)
      var a = m.get(t)
      if (a == null) { a = new RunAcc(doc); m.put(t, a) }
      a.add(doc, dl, tf, pos)
    }

    private def processDoc(sh: Int, id: Long, content: String,
                           ids: Seq[String]): Unit = {
      val b = id / bucketDocs
      if (sh != curShard || b != curBucket || id <= lastDoc) flush()
      curShard = sh; curBucket = b; lastDoc = id
      val (cMap, rMap, dl0) = scanContent(content, indexRaw, pool)
      // quantized norms are baked into the postings at build time, so
      // every query path scores the same (quantized) length
      val dl = if (quantNorms) Fieldnorm.quantize(dl0) else dl0
      cMap.foreachEntry((t, acc) =>
        addPosting(0, t, id, dl, acc.n, acc.toBytes))
      if (rMap != null)
        rMap.foreachEntry((t, acc) =>
          addPosting(1, t, id, dl, acc.n, acc.toBytes))
      val identToks = Tokenizer.identifierFieldTokens(ids, codeAn, ngrams)
      val identDl =
        if (quantNorms) Fieldnorm.quantize(identToks.size.toLong)
        else identToks.size.toLong
      combine(sh, FieldIdent, id, identDl, identToks.iterator)
        .foreach { case (_, _, t, _, dli, tfi, pb) =>
          addPosting(2, t, id, dli, tfi, pb)
        }
    }

    override def hasNext: Boolean = {
      while (outQ.isEmpty && docsIt.hasNext) {
        val (sh, id, c, ids) = docsIt.next()
        processDoc(sh, id, c, ids)
      }
      if (outQ.isEmpty && accsF.exists(!_.isEmpty)) flush()
      outQ.nonEmpty
    }

    override def next(): RunRow = {
      if (!hasNext) throw new NoSuchElementException
      outQ.dequeue()
    }
  }

  /** Decode sorted packed runs back to per-posting order and feed the
    * streaming block encoder. The reduce-side sort key
    * (shard, field, term, bucket, first_doc) totally orders RUNS; within
    * one (shard, field, term, bucket) group the runs of different map
    * partitions may INTERLEAVE doc ranges (the docs store keeps several
    * ascending files per shard — one per write task — so a shard's doc
    * space is striped across files), so the group's runs are k-way
    * MERGED by doc_id. Doc ids are globally unique, so the merged stream
    * is strictly ascending and every segment block comes out
    * byte-identical to the single-file layout's (FtsBuildSpec pins
    * this). Memory is O(bucket) per group — a bucket holds at most
    * bucketBlocks x blockSize postings of ONE term, regardless of df.
    *
    * Each group is encoded on its own, so a block never spans a bucket
    * boundary: the hash exchange may send buckets b0 and b2 of a term to
    * this partition and b1 to another, and a block running from b0 into
    * b2 would cover b1's doc range, which block-max WAND (it assumes a
    * shard's blocks of a term are disjoint and ordered) then skips. */
  private[graft] def encodeRunPartition(it: Iterator[RunRow],
                                        blockSize: Int): Iterator[SegmentBlock] = {
    val rows = it.buffered
    new Iterator[Iterator[SegmentBlock]] {
      override def hasNext: Boolean = rows.hasNext
      override def next(): Iterator[SegmentBlock] = {
        val h = rows.head
        val key = (h._1, h._2, h._3, h._4)
        val runs = scala.collection.mutable.ArrayBuffer.empty[RunRow]
        while (rows.hasNext && {
          val r = rows.head
          (r._1, r._2, r._3, r._4) == key
        }) runs += rows.next()
        encodePartition(decodeMerged(runs), blockSize)
      }
    }.flatten
  }

  /** Decode one key group's runs into ascending-doc posting order: the
    * single-run case streams straight through; multi-run groups merge
    * their (already sorted, doc-disjoint) decoded streams. */
  private def decodeMerged(runs: scala.collection.mutable.ArrayBuffer[RunRow])
      : Iterator[(Int, String, String, Long, Long, Long, Array[Byte])] = {
    if (runs.length == 1) {
      val (sh, f, t, _, _, n, docB, tfB, dlB, posB) = runs(0)
      val docs = Codec.decodeDeltas(docB, n)
      val tfs = Codec.decodeVarints(tfB, n)
      val dls = Codec.decodeVarints(dlB, n)
      val pr = new Codec.VarIntReader(posB)
      (0 until n).iterator.map { i =>
        (sh, f, t, docs(i), dls(i), tfs(i), pr.readRawList(tfs(i).toInt))
      }
    } else {
      val (sh, f, t) = (runs(0)._1, runs(0)._2, runs(0)._3)
      val k = runs.length
      val docsA = new Array[Array[Long]](k)
      val tfsA = new Array[Array[Long]](k)
      val dlsA = new Array[Array[Long]](k)
      val posA = new Array[Codec.VarIntReader](k)
      val idx = new Array[Int](k)
      var total = 0
      var r = 0
      while (r < k) {
        val (_, _, _, _, _, n, docB, tfB, dlB, posB) = runs(r)
        docsA(r) = Codec.decodeDeltas(docB, n)
        tfsA(r) = Codec.decodeVarints(tfB, n)
        dlsA(r) = Codec.decodeVarints(dlB, n)
        posA(r) = new Codec.VarIntReader(posB)
        total += n
        r += 1
      }
      val n = total
      new Iterator[(Int, String, String, Long, Long, Long, Array[Byte])] {
        private var emitted = 0
        override def hasNext: Boolean = emitted < n
        override def next(): (Int, String, String, Long, Long, Long, Array[Byte]) = {
          var best = -1
          var bestDoc = Long.MaxValue
          var i = 0
          while (i < k) {
            if (idx(i) < docsA(i).length && docsA(i)(idx(i)) < bestDoc) {
              bestDoc = docsA(i)(idx(i)); best = i
            }
            i += 1
          }
          val j = idx(best)
          idx(best) = j + 1
          emitted += 1
          // position bytes are consumed run-locally in doc order, so the
          // per-run reader stays aligned with its own doc stream
          (sh, f, t, docsA(best)(j), dlsA(best)(j), tfsA(best)(j),
            posA(best).readRawList(tfsA(best)(j).toInt))
        }
      }
    }
  }

  /** Per-doc posting rows (shard, field, term, doc_id, dl, tf, pos_bytes),
    * decoded from [[postingRuns]] — a debugging/differential-test view;
    * there is exactly ONE tokenize+combine path. */
  private[graft] def postingRows(docs: DataFrame, cfg: Config): DataFrame = {
    import docs.sparkSession.implicits._
    postingRuns(docs, cfg)
      .as[RunRow]
      .flatMap { case (sh, f, t, _, _, n, docB, tfB, dlB, posB) =>
        val ids = Codec.decodeDeltas(docB, n)
        val tfs = Codec.decodeVarints(tfB, n)
        val dls = Codec.decodeVarints(dlB, n)
        val pr = new Codec.VarIntReader(posB)
        (0 until n).iterator.map { i =>
          (sh, f, t, ids(i), dls(i), tfs(i), pr.readRawList(tfs(i).toInt))
        }
      }
      .toDF("shard", "field", "term", "doc_id", "dl", "tf", "pos_bytes")
  }

  /** Doc-local combine for a positional token stream (identifiers field):
    * per-(doc, term) tf + delta-varint position list in one pass. */
  private def combine(sh: Int, field: String, id: Long, dl: Long,
                      toks: Iterator[(String, Int)])
      : Iterator[(Int, String, String, Long, Long, Long, Array[Byte])] = {
    val m = new java.util.LinkedHashMap[String, PostingAcc]()
    toks.foreach { case (t, p) =>
      var acc = m.get(t)
      if (acc == null) { acc = new PostingAcc; m.put(t, acc) }
      acc.add(p)
    }
    val it = m.entrySet().iterator()
    new Iterator[(Int, String, String, Long, Long, Long, Array[Byte])] {
      def hasNext: Boolean = it.hasNext
      def next(): (Int, String, String, Long, Long, Long, Array[Byte]) = {
        val e = it.next()
        (sh, field, e.getKey, id, dl, e.getValue.n, e.getValue.toBytes)
      }
    }
  }

  /** Build the segments of a GROUP of shards in one Spark job chain.
    * Shards remain the manifest/lineage unit (one row each, committed
    * atomically per group); grouping just batches jobs so driver-side
    * orchestration overhead stays O(groups), not O(shards) — at many
    * thousands of shards per cluster that difference is the build time.
    */
  private def buildShardGroup(spark: SparkSession, docs: DataFrame,
                              vDir: String, gid: Int, shards: Seq[Int],
                              cfg: Config): Unit = {
    import spark.implicits._
    val t0 = System.currentTimeMillis()
    val d = docs.where($"shard".isin(shards: _*))

    // Map-side posting RUNS (see postingRuns) -> ONE shuffle:
    // hash-partition on (shard, field, term, doc-bucket). Deterministic in
    // the partition COUNT only (no range-sampling pass; run boundaries
    // vary with the input split layout but the DECODED posting stream —
    // and therefore every segment block — is bit-identical at any
    // parallelism). The doc-bucket key splits a skewed term's posting
    // list (df == N stopwords) across partitions in blockSize*32-doc
    // slices — the north-rule salting analog. Terms stay sorted WITHIN
    // each partition, so Parquet row-group min/max stats still prune term
    // lookups.
    val blockSize = cfg.blockSize
    // per-shard metrics are tallied AS THE BLOCKS ARE ENCODED and shipped
    // through an accumulator — the former post-write read of the segment
    // parquet's metadata columns was a whole extra job per group (~1-2 s
    // per build level). Partials are keyed by reduce partition id and
    // DEDUPED on the driver (last wins): a retried/speculative task
    // recomputes an identical partial, so exactly-once never depends on
    // Spark's accumulator semantics.
    val metricsAcc = spark.sparkContext.collectionAccumulator[
      (Int, Map[Int, (Long, Long, Long, Long)])]("segment-metrics")
    postingRuns(d, cfg)
      .repartition(cfg.segmentPartitions, $"shard", $"field", $"term",
        $"bucket")
      .sortWithinPartitions("shard", "field", "term", "bucket", "first_doc")
      .as[RunRow]
      .mapPartitions { it =>
        val inner = encodeRunPartition(it, blockSize)
        val partial = scala.collection.mutable.LongMap.empty[Array[Long]]
        new Iterator[SegmentBlock] {
          override def hasNext: Boolean = {
            val h = inner.hasNext
            if (!h && partial.nonEmpty) {
              metricsAcc.add((org.apache.spark.TaskContext.getPartitionId(),
                partial.map { case (sh, a) =>
                  sh.toInt -> (a(0), a(1), a(2), a(3)) }.toMap))
              partial.clear()
            }
            h
          }
          override def next(): SegmentBlock = {
            val b = inner.next()
            val a = partial.getOrElseUpdate(b.shard.toLong, new Array[Long](4))
            a(0) += 1L // blocks
            a(1) += b.n // postings
            if (b.field == FieldContent) a(2) += b.sum_tf // tokens
            a(3) += b.n_bytes // bytes
            b
          }
        }
      }
      .write.mode("overwrite")
      // posting blobs are unique — a dictionary-encode attempt hashes
      // every blob before falling back (hot in the JFR profile); keep
      // dictionaries for the repetitive term/field columns only
      .option("parquet.enable.dictionary#doc_bytes", "false")
      .option("parquet.enable.dictionary#tf_bytes", "false")
      .option("parquet.enable.dictionary#dl_bytes", "false")
      .option("parquet.enable.dictionary#pos_bytes", "false")
      .parquet(s"$vDir/segments/g$gid")
    if (timing) println(f"[timing] g$gid%d segments ${(System.currentTimeMillis() - t0) / 1e3}%.2fs")

    // per-shard metrics: dedupe partials by partition id (a successful
    // retry reports the same deterministic numbers), then sum per shard
    import scala.jdk.CollectionConverters._
    val byPartition = metricsAcc.value.asScala.toMap // last write per id wins
    val m = scala.collection.mutable.Map.empty[Int, Array[Long]]
    byPartition.values.foreach(_.foreach { case (sh, (bl, po, tk, by)) =>
      val a = m.getOrElseUpdate(sh, new Array[Long](4))
      a(0) += bl; a(1) += po; a(2) += tk; a(3) += by
    })

    // per-shard lineage + metrics rows, committed together (group-atomic:
    // either every shard of the group is manifested or none is)
    val wall = System.currentTimeMillis() - t0
    val dd = spark.read.parquet(s"$vDir/docstats")
      .where($"shard".isin(shards: _*))
    val rows = dd.collect().map { r =>
      val sh = r.getAs[Int]("shard")
      val a = m.getOrElse(sh, new Array[Long](4))
      ManifestRow(sh, "done",
        r.getAs[Long]("n_docs"),
        a(2), a(1), a(0),
        r.getAs[Long]("bytes_docs"),
        a(3),
        wall, r.getAs[Long]("input_sha").toString)
    }
    spark.createDataset(rows.toSeq)
      .write.mode("overwrite").parquet(s"$vDir/manifest/g$gid")
    if (timing) println(f"[timing] g$gid%d manifest ${(System.currentTimeMillis() - t0) / 1e3}%.2fs")
  }

  /** Streaming block encoder over ONE (shard, field, term, bucket)
    * group's doc-ascending postings ([[encodeRunPartition]]): a block
    * every `blockSize` postings. Memory is O(blockSize), independent of
    * posting-list length — a term with df = N (stopword-grade skew) streams
    * through without buffering; the exchange on (shard, field, term,
    * bucket) has already split such a list across partitions by doc range
    * (the north-rule skew treatment).
    */
  private[graft] def encodePartition(
      it: Iterator[(Int, String, String, Long, Long, Long, Array[Byte])],
      blockSize: Int): Iterator[SegmentBlock] =
    new Iterator[SegmentBlock] {
      private val buf = it.buffered
      override def hasNext: Boolean = buf.hasNext
      override def next(): SegmentBlock = {
        val (shard, field, term, _, _, _, _) = buf.head
        val docIds = new scala.collection.mutable.ArrayBuffer[Long](blockSize)
        val tfs = new scala.collection.mutable.ArrayBuffer[Long](blockSize)
        val dls = new scala.collection.mutable.ArrayBuffer[Long](blockSize)
        val posOut = new Codec.ByteBuf(64)
        var maxTf = 0L
        var minDl = Long.MaxValue
        var sumTf = 0L
        while (buf.hasNext && docIds.length < blockSize) {
          val (_, _, _, doc, dl, tf, posBytes) = buf.next()
          docIds += doc; tfs += tf; dls += dl
          sumTf += tf
          if (tf > maxTf) maxTf = tf
          if (dl < minDl) minDl = dl
          // per-posting position list is already delta-varint encoded by
          // the doc-local combine — append verbatim
          posOut.write(posBytes, 0, posBytes.length)
        }
        val docB = Codec.encodeDeltas(docIds.toArray)
        val tfB = Codec.encodeVarints(tfs.toArray)
        val dlB = Codec.encodeVarints(dls.toArray)
        val posB = posOut.toByteArray
        SegmentBlock(shard, field, term, docIds.head, docIds.last,
          docIds.length, sumTf, docB, tfB, dlB, posB, maxTf, minDl,
          docB.length.toLong + tfB.length + dlB.length + posB.length)
      }
    }

  private def doneShards(spark: SparkSession, vDir: String): Set[Int] = {
    val hfs = fs(spark, vDir)
    if (!hfs.exists(new Path(s"$vDir/manifest"))) return Set.empty
    import spark.implicits._
    spark.read.parquet(s"$vDir/manifest/*")
      .where($"status" === "done").select("shard")
      .as[Int].collect().toSet
  }

  /** Pick the version dir to (re)build: an unfinished one if present,
    * else the next fresh one. */
  private def resumableVersion(hfs: FileSystem, root: String): String = {
    val rootPath = new Path(root)
    if (!hfs.exists(rootPath)) hfs.mkdirs(rootPath)
    val versions = hfs.listStatus(rootPath).toSeq
      .map(_.getPath.getName).filter(_.matches("v\\d+"))
      .map(_.drop(1).toInt).sorted
    val unfinished = versions.reverse.find { v =>
      !hfs.exists(new Path(s"$root/v$v/BUILD_SUCCESS"))
    }
    unfinished.map(v => s"v$v")
      .getOrElse(s"v${versions.lastOption.getOrElse(0) + 1}")
  }

  /** Read the `current` pointer's content, tolerating the two transient
    * windows Hadoop's local ChecksumFs leaves during [[publishPointer]]'s
    * overwrite-rename (HDFS renames atomically and checksums server-side,
    * so neither occurs there):
    *   - `FileNotFoundException` — Rename.OVERWRITE is implemented as
    *     delete-then-rename, so a racing reader can see NO `current`;
    *   - `ChecksumException` — the `.current.crc` sidecar is renamed in a
    *     separate step, so a reader can pair the new pointer bytes with
    *     the old generation's crc (observed by the ANN reload-race spec).
    * Bounded retry — both windows are sub-millisecond. A root that truly
    * has no pointer (never built, mistyped path) fails FAST, not after
    * the retry budget: not-found only retries while a publish is
    * plausibly in flight — the root listing shows `current` (the rename
    * just completed) or a staged `current.tmp.*` (rename mid-flight). */
  private[graft] def readPointer(spark: SparkSession, root: String): String = {
    val hfs = fs(spark, root)
    var attempt = 0
    var blindMisses = 0
    var last: java.io.IOException = null
    while (attempt < 40) {
      try {
        val in = hfs.open(new Path(root, "current"))
        return (try new String(
            org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8").trim
          finally in.close())
      } catch {
        case e @ (_: java.io.FileNotFoundException |
                  _: org.apache.hadoop.fs.ChecksumException) =>
          val midPublish = e.isInstanceOf[
              org.apache.hadoop.fs.ChecksumException] ||
            (try hfs.listStatus(new Path(root)).exists { s =>
                val n = s.getPath.getName
                n == "current" || n.startsWith("current.tmp.")
              }
             catch { case _: java.io.FileNotFoundException => false })
          if (!midPublish) {
            // a local-fs readdir can transiently miss BOTH `current` and
            // the staged tmp while the rename is in flight (observed
            // once by the ANN reload-race spec on a stolen host): absorb
            // a few quick retries before concluding the root truly has
            // no pointer — 3 x 2 ms stays far inside the missing-root
            // fast-fail budget the round-5 spec pins (<150 ms)
            blindMisses += 1
            if (blindMisses > 3) throw e
            last = e.asInstanceOf[java.io.IOException]
            attempt += 1; Thread.sleep(2)
          } else {
            blindMisses = 0
            last = e.asInstanceOf[java.io.IOException]
            attempt += 1; Thread.sleep(5)
          }
      }
    }
    throw last
  }

  /** Read the live version dir from the `current` pointer. */
  def currentVersionDir(spark: SparkSession, root: String): String =
    s"$root/${readPointer(spark, root)}"
}
