package graft.query

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.analysis.Tokenizer
import graft.functions.PathGlob
import graft.index.{FtsIndexBuilder, IndexBuilder}
import graft.index.FtsSchema._

/** Query parameters, mirroring the reference surface
  * (reference: query/QUERY_PARAMETERS.md:15-111 — FTS-specific params
  * case_sensitive, fuzzy edit_distance 0-3, snippet_lines 0-50, regex,
  * language/path include+exclude, limit with limit=0 "unlimited").
  * minLine/maxLine filter on the indexed chunk line range (the reference
  * indexes line_start/line_end as u64 FAST fields for filtering,
  * services/tantivy_index_manager.py:108-110). */
final case class FtsQuery(
    text: String,
    caseSensitive: Boolean = false,
    editDistance: Int = 0,
    useRegex: Boolean = false,
    snippetLines: Int = 5,
    limit: Int = 10,
    languages: Seq[String] = Nil,
    excludeLanguages: Seq[String] = Nil,
    pathFilters: Seq[String] = Nil,
    excludePathFilters: Seq[String] = Nil,
    minLine: Option[Long] = None,
    maxLine: Option[Long] = None) {
  def hasFilters: Boolean =
    languages.nonEmpty || excludeLanguages.nonEmpty ||
      pathFilters.nonEmpty || excludePathFilters.nonEmpty ||
      minLine.isDefined || maxLine.isDefined
}

/** One search hit, the reference's result-row schema
  * (tantivy_index_manager.py:754-763) plus repo/doc_id. */
final case class SearchResult(doc_id: Long, repo: String, path: String,
                              line: Int, column: Int, match_text: String,
                              snippet: String, snippet_start_line: Int,
                              language: String, score: Double)

/** Searcher over an on-disk index built by [[FtsIndexBuilder]].
  *
  * Query model (reference semantics, SURVEY.md §2.4):
  *   - query text splits on whitespace into words; ALL words must match
  *     (Occur.Must AND — tantivy_index_manager.py:375-387)
  *   - each exact word is parsed per field over [search_field, identifiers]
  *     (OR across fields, scores summed); a word that tokenizes into
  *     several tokens becomes a positional PHRASE query on that field
  *     (tantivy parse_query behavior for e.g. "login_user")
  *   - fuzzy words expand over the term dictionary with Damerau-Levenshtein
  *     distance (transpositions = 1 edit), search field only
  *   - regex mode: the whole query is one token-level pattern on the search
  *     field only (full-match, linear-time engine in the reference)
  *   - BM25 k1=1.2 b=0.75, idf = ln(1 + (N - df + 0.5)/(df + 0.5)); phrase
  *     idf = sum of constituent idfs, tf = phrase frequency
  *   - filters compose AFTER scoring and BEFORE top-k in the reference's
  *     precedence order (lang-excl, lang-incl, path-excl, path-incl); the
  *     reference's 3x overfetch becomes unnecessary (no recall loss)
  *   - limit=0 => cap 100000 and snippets forced off
  *
  * Plan shape at scale: the segment scan is pruned by (field, term)
  * predicates (Parquet min/max on the sorted term column skips row groups);
  * per-(field,term) df comes from a broadcast join against the dict; the
  * per-doc evaluation is a hash shuffle of ONLY the matched postings
  * (positions excluded unless a phrase node needs them); top-k is
  * TakeOrderedAndProject over (doc_id, score) pairs, and only the final k
  * rows ever touch the doc store's content column. Nothing query-sized is
  * broadcast — a stopword-grade term (df ~ N) flows through the same
  * shuffle-and-take plan as a rare term.
  */
class FtsIndex(spark: SparkSession, root: String) {
  import spark.implicits._

  val versionDir: String = FtsIndexBuilder.currentVersionDir(spark, root)

  /** Delta batch dirs (incremental upserts/deletes) — see
    * [[graft.index.FtsDeltas]]. */
  private val deltaDirs: Seq[String] = {
    val hfs = FtsIndexBuilder.fs(spark, root)
    val d = new org.apache.hadoop.fs.Path(s"$versionDir/deltas")
    if (!hfs.exists(d)) Nil
    else hfs.listStatus(d).toSeq.map(_.getPath)
      .filter(_.getName.matches("d\\d+"))
      .sortBy(_.getName.drop(1).toInt).map(_.toString)
  }
  private def deltaSub(sub: String): Seq[String] = {
    val hfs = FtsIndexBuilder.fs(spark, root)
    deltaDirs.map(p => s"$p/$sub")
      .filter(p => hfs.exists(new org.apache.hadoop.fs.Path(p)))
  }

  /** Snapshot fingerprint of what this instance loaded — compared by
    * [[ReloadingFtsIndex]] to detect staleness. */
  val fingerprint: String = FtsIndex.fingerprint(versionDir, deltaDirs)

  /** Base docs at generation 0, plus delta docs at their own generations. */
  val docs: DataFrame = {
    val base = spark.read.parquet(s"$versionDir/docs")
      .withColumn("gen", lit(0))
    deltaSub("docs").foldLeft(base) { (acc, p) =>
      acc.unionByName(spark.read.parquet(p).drop("shard")
        .withColumn("shard", lit(-1)), allowMissingColumns = true)
    }
  }

  val segments: Dataset[SegmentBlock] = {
    val paths = s"$versionDir/segments/*" +: deltaSub("segments")
    spark.read.parquet(paths: _*).as[SegmentBlock]
  }

  /** Global dictionary: base + delta contributions summed. Dead docs keep
    * contributing until compaction (reference eventual-consistency
    * contract, tantivy_index_manager.py:25-33). */
  val dict: DataFrame = {
    val paths = s"$versionDir/dict" +: deltaSub("dict")
    if (paths.length == 1) spark.read.parquet(paths.head)
    else {
      // harmonize schemas (an old base dict may predate the cmask column)
      val parts = paths.map(spark.read.parquet(_)).map { d =>
        if (d.columns.contains("cmask")) d
        else d.withColumn("cmask", lit(null).cast("long"))
      }
      parts.reduce(_.unionByName(_))
        .groupBy("field", "term")
        .agg(sum("df").as("df"), sum("cf").as("cf"),
          max("cmask").as("cmask"))
    }
  }

  /** (repo, path, gen) delete markers across all deltas. */
  val tombstones: Option[DataFrame] = {
    val paths = deltaSub("tombstones")
    if (paths.isEmpty) None else Some(spark.read.parquet(paths: _*))
  }

  /** Documents still alive: per (repo, path) only generations at or above
    * the newest tombstone survive. */
  val effectiveDocs: DataFrame = tombstones match {
    case None => docs
    case Some(t) =>
      val tmax = t.groupBy("repo", "path").agg(max("gen").as("tgen"))
      docs.join(tmax, Seq("repo", "path"), "left")
        .where(col("gen") >= coalesce(col("tgen"), lit(0)))
        .drop("tgen")
  }

  val manifest: DataFrame = spark.read.parquet(s"$versionDir/manifest/*")

  private val statsRow = spark.read.parquet(s"$versionDir/stats").collect()(0)

  /** Corpus size including delta docs (alive AND dead — like df, dead docs
    * keep counting until compaction; a Tantivy searcher reload likewise
    * includes new segments in N before merge). Without this, idf mixes a
    * stale N with an inflated df and can go negative (ADVICE r01 #2). */
  val nDocs: Long = statsRow.getAs[Long]("n_docs") + {
    val d = deltaSub("docs")
    if (d.isEmpty) 0L else spark.read.parquet(d: _*).count()
  }

  /** avgdl per field. Base-only: read from the stats row. With deltas:
    * recomputed exactly from the combined dictionary (sum cf per field /
    * N), mirroring stageFinalize's own calculation. */
  private val avgdlByField: Map[String, Double] =
    if (deltaDirs.isEmpty) Map(
      FieldContent -> statsRow.getAs[Double]("avgdl_content"),
      FieldRaw -> statsRow.getAs[Double]("avgdl_raw"),
      FieldIdent -> statsRow.getAs[Double]("avgdl_ident"))
    else {
      val cfByField = dict.groupBy("field").agg(sum("cf").as("cf"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      def a(f: String): Double =
        if (nDocs == 0) 0.0
        else cfByField.getOrElse(f,
          cfByField.getOrElse(FieldContent, 0L)).toDouble / nDocs
      Map(FieldContent -> a(FieldContent), FieldRaw -> a(FieldRaw),
        FieldIdent -> a(FieldIdent))
    }

  /** Per-field average document length (BM25 denominator input). */
  def avgdl(field: String): Double = avgdlByField(field)

  /** Whether incremental delta generations exist. */
  def hasDeltas: Boolean = deltaDirs.nonEmpty

  /** Cap on the dead-doc id set collected to the driver (2^22 ids =
    * 32 MB); beyond it callers use the exhaustive path, whose
    * alive-semi-join handles any size. */
  private val maxDeadDocs = 1 << 22

  /** Key-addressed stores over the snapshot's segments and alive docs
    * ([[SnapshotStore]]): the warm cache's block and row misses run as
    * one plain `runJob` each over these, never as a Catalyst plan. The
    * exhaustive and cluster-WAND scorers keep reading the relations
    * above. */
  private[query] val segmentStore = new SnapshotStore(
    "graft-segment-store", () => SnapshotStore.segmentParts(segments))
  private[query] val docStore = new SnapshotStore(
    "graft-doc-store", () => SnapshotStore.docParts(effectiveDocs))

  /** The snapshot's term dictionary on the driver ([[TermDict]]; immutable
    * once loaded — delta generations produce a new snapshot): one collect
    * of the dictionary relation, in [[warm]] or on first use. */
  private lazy val termDict: TermDict = TermDict.collect(dict)

  /** df per (field, term), 0 for a term the dictionary lacks: the ONE df
    * source of every query path, the warm cache included. A binary search
    * per dictionary run on the driver — no Spark job. */
  private[query] def dfsOf(fts: Seq[(String, String)])
      : Map[(String, String), Long] = {
    val d = termDict
    fts.iterator.map(ft => ft -> d.df(ft._1, ft._2)).toMap
  }

  /** Every posting block of the given (field, term)s, base and delta,
    * each term's blocks sorted by (shard, first_doc): one `runJob` over
    * the segment store. Absent terms are absent from the map. */
  private[query] def blocksOf(fts: Seq[(String, String)])
      : Map[(String, String), Array[SegmentBlock]] =
    segmentStore.lookup(SnapshotStore.blockLookup(fts.distinct.toArray))
      .groupBy(_._1)
      .map { case (ft, parts) =>
        ft -> parts.flatMap(_._2).sortBy(b => (b.shard, b.first_doc))
      }

  /** Alive docs' serving rows by doc_id (content null unless asked for):
    * one `runJob` over the doc store. Unknown or dead ids are absent. */
  private[query] def docRowsOf(ids: Seq[Long], withContent: Boolean)
      : Map[Long, SnapshotStore.DocEntry] =
    docStore.lookup(SnapshotStore.docLookup(ids.distinct.toArray,
      withContent)).toMap

  /** Sorted doc_ids whose postings survive in the segments but which a
    * newer tombstone has killed — the alive filter that lets block-max
    * WAND and the driver cache keep serving DURING watch mode (the
    * reference daemon serves from its warm index throughout,
    * daemon/cache.py:82-383). Delta-bounded: one id per superseded
    * document, and the streaming auto-fold keeps live generations O(1).
    * None when the set exceeds `maxDeadDocs`. Computed once per snapshot:
    * one column-pruned scan of (doc_id, repo, path, gen) against the
    * broadcast tombstone key set — never the content column. */
  lazy val deadDocs: Option[Array[Long]] = tombstones match {
    case None => Some(Array.emptyLongArray)
    case Some(t) =>
      val tmax = t.groupBy("repo", "path").agg(max("gen").as("tgen"))
      val ids = docs.join(broadcast(tmax), Seq("repo", "path"))
        .where(col("gen") < col("tgen"))
        .select("doc_id").limit(maxDeadDocs + 1)
        .collect().map(_.getLong(0))
      if (ids.length > maxDeadDocs) None
      else { java.util.Arrays.sort(ids); Some(ids) }
  }

  /** The dead set as a cluster broadcast — built ONCE per snapshot (the
    * set is immutable; re-broadcasting per query would pay torrent
    * distribution every time and leak blocks until the ContextCleaner
    * runs) and unpersisted by [[cool]] on snapshot retirement. */
  @volatile private var deadBcCache
      : Option[org.apache.spark.broadcast.Broadcast[Wand.DeadSet]] = null
  private def deadBc
      : Option[org.apache.spark.broadcast.Broadcast[Wand.DeadSet]] = {
    if (deadBcCache == null) synchronized {
      if (deadBcCache == null)
        deadBcCache = deadDocs.filter(_.nonEmpty)
          .map(ids => spark.sparkContext.broadcast(new Wand.DeadSet(ids)))
    }
    deadBcCache
  }

  /** Cache the index relations across queries (the reference daemon's warm
    * index cache analog, server/cache/fts_index_cache.py), build the
    * key-addressed stores over them and collect the term dictionary. Each
    * build job reads its relation through the cache just registered, so
    * ONE job per relation both fills the columnar cache and builds the
    * store or the driver dictionary. */
  def warm(): this.type = {
    docs.persist(); segments.persist(); dict.persist()
    docStore.materialize(); segmentStore.materialize(); termDict
    this
  }

  /** Release relations persisted by [[warm]] (called on reload swap), the
    * key-addressed stores, plus the snapshot's dead-set broadcast if one
    * was built. The driver dictionary stays: it is plain driver heap, so a
    * racing reader keeps its df lookups job-free.
    *
    * The broadcast is UNPERSISTED, never destroyed: [[ReloadingFtsIndex]]
    * swaps and cools the stale snapshot while unsynchronized readers may
    * still be mid-query on it — a destroyed broadcast turns that benign
    * race into a hard SparkException, whereas an unpersisted one simply
    * re-broadcasts on next use and is reclaimed by the ContextCleaner
    * when the snapshot is GC'd (ADVICE r04 #1). */
  def cool(): this.type = {
    docs.unpersist(); segments.unpersist(); dict.unpersist()
    docStore.release(); segmentStore.release()
    val bc = deadBcCache
    if (bc != null) bc.foreach(_.unpersist())
    this
  }

  import FtsIndex._

  private[query] def validate(q: FtsQuery): Unit = {
    if (q.useRegex && q.editDistance > 0)
      throw new IllegalArgumentException(
        "Cannot combine regex matching with fuzzy matching (edit_distance > 0)")
    if (q.editDistance < 0 || q.editDistance > 3)
      throw new IllegalArgumentException(
        s"edit_distance must be 0-3, got ${q.editDistance}")
    if (q.snippetLines < 0 || q.snippetLines > 50)
      throw new IllegalArgumentException(
        s"snippet_lines must be 0-50, got ${q.snippetLines}")
    if (q.limit < 0)
      throw new IllegalArgumentException(s"limit must be >= 0, got ${q.limit}")
    if (q.useRegex) {
      try java.util.regex.Pattern.compile(q.text)
      catch {
        case e: Exception => throw new IllegalArgumentException(
          s"Invalid regex pattern '${q.text}': ${e.getMessage}")
      }
    }
  }

  private[query] def buildNodes(q: FtsQuery): Seq[Node] = {
    val searchField = if (q.caseSensitive) FieldRaw else FieldContent
    if (q.useRegex) {
      Seq(Node(Seq(RegexQ(searchField, q.text))))
    } else {
      val words = q.text.split("\\s+").filter(_.nonEmpty).toSeq
      words.map { w =>
        if (q.editDistance > 0) {
          // fuzzy_term_query uses the word as typed, search field only
          // (tantivy_index_manager.py:347-374)
          Node(Seq(FuzzyQ(searchField, w, q.editDistance)))
        } else {
          val alts = Seq(searchField, FieldIdent).flatMap { f =>
            val toks =
              if (f == FieldRaw) Tokenizer.tokenizeRaw(w)
              else Tokenizer.tokenize(w)
            toks match {
              case Seq() => None
              case Seq(t) => Some(TermQ(f, t))
              case ts => Some(PhraseQ(f, ts))
            }
          }
          Node(alts)
        }
      }
    }
  }

  /** Expand fuzzy/regex alternatives over the term DICTIONARY into concrete
    * term sets — the Spark analog of the reference's automaton walk over
    * Tantivy's FST term dictionary (tantivy_index_manager.py:347-374 fuzzy,
    * :492-505 regex), walked on the driver like the reference's in-process
    * one; matched terms replace the alternative as
    * plain [[TermQ]]s, so everything downstream (codegen exact scorer,
    * block-max WAND, the driver cache) sees only exact terms, and the
    * SEGMENTS scan is pruned by a pushable isin predicate instead of
    * running a UDF over every block. */
  private[query] def expandNodes(nodes: Seq[Node]): Seq[Node] = {
    val dyn = nodes.flatMap(_.alts).collect {
      case f: FuzzyQ => f: FieldQ
      case r: RegexQ => r: FieldQ
    }.distinct
    if (dyn.isEmpty) return nodes
    val expanded = expandAlts(dyn)
    nodes.map { nd =>
      Node(nd.alts.flatMap {
        case a: FuzzyQ => expanded(a)
        case a: RegexQ => expanded(a)
        case a => Seq(a)
      })
    }
  }

  /** Dictionary expansion of dynamic (fuzzy/regex) alternatives: one scan
    * of the driver dictionary per alternative ([[TermDict.expand]]: length
    * band and character-class bitmap prefilters before the bounded
    * Damerau distance), no Spark job. Returned term lists are sorted for
    * determinism; their dfs are [[dfsOf]] lookups like any other term's. */
  private[query] def expandAlts(dyn: Seq[FieldQ]): Map[FieldQ, Seq[TermQ]] = {
    val d = termDict
    dyn.map(a => a -> d.expand(a)).toMap
  }

  /** Predicate over (field, term) used to prune both the segment scan and
    * the dict lookup. Callers pass EXPANDED nodes (fuzzy/regex already
    * resolved to term sets by [[expandNodes]]) so the predicate is always
    * a pushable field/term isin — never a UDF over the segments scan. */
  private def termPredicate(nodes: Seq[Node]): org.apache.spark.sql.Column = {
    require(!nodes.exists(_.alts.exists(a =>
      a.isInstanceOf[FuzzyQ] || a.isInstanceOf[RegexQ])),
      "dynamic alternatives must be dictionary-expanded before scoring")
    val exactByField = nodes.flatMap(_.alts).flatMap {
      case TermQ(f, t) => Seq((f, t))
      case PhraseQ(f, ts) => ts.map((f, _))
      case _ => Nil
    }.groupBy(_._1).view.mapValues(_.map(_._2).distinct).toMap
    val parts = exactByField.map { case (f, ts) =>
      col("field") === f && col("term").isin(ts: _*)
    }.toSeq
    parts.reduceOption(_ || _).getOrElse(lit(false))
  }

  // ---- scoring ----------------------------------------------------------

  /** (doc_id, score) for all matching docs — unfiltered, unlimited.
    *
    * Two plans:
    *   - exact path (every alternative is a TermQ — the common query
    *     shape): pure Catalyst. Blocks decode to position-free posting
    *     rows, dict + node-id relations (both query-bounded) broadcast in,
    *     BM25 is column math, and AND semantics are one hash aggregate
    *     with a node bitmask — whole-stage codegen from join to aggregate,
    *     map-side partial aggregation before the doc_id shuffle.
    *   - general path (phrase/fuzzy/regex): groupByKey over matched
    *     postings; positions decode ONLY when a phrase node exists, so
    *     non-phrase shuffles never carry position payloads.
    */
  private def scoreDocs(nodes: Seq[Node]): Dataset[(Long, Double)] = {
    if (nodes.isEmpty || nodes.exists(_.alts.isEmpty))
      return spark.emptyDataset[(Long, Double)]
    val allExact = nodes.size <= 63 &&
      nodes.forall(_.alts.forall(_.isInstanceOf[TermQ]))
    if (allExact) return scoreDocsExact(nodes)

    val pred = termPredicate(nodes)
    val n = nDocs
    val avgdl = avgdlByField
    val nodesB = nodes
    val needPos = nodes.exists(_.alts.exists(_.isInstanceOf[PhraseQ]))

    val decoded: Dataset[Posting] = segments.where(pred).flatMap { b =>
      val docIds = graft.index.Codec.decodeDeltas(b.doc_bytes, b.n)
      val tfs = graft.index.Codec.decodeVarints(b.tf_bytes, b.n)
      val dls = graft.index.Codec.decodeVarints(b.dl_bytes, b.n)
      val pr =
        if (needPos) new graft.index.Codec.VarIntReader(b.pos_bytes) else null
      (0 until b.n).iterator.map { i =>
        Posting(b.field, b.term, docIds(i), tfs(i), dls(i),
          if (needPos) pr.readDeltaList(tfs(i).toInt) else EmptyPos)
      }
    }
    val dictDs = dict.where(pred).as[DictRow]
    val withDf = decoded
      .joinWith(broadcast(dictDs),
        decoded("field") === dictDs("field") &&
          decoded("term") === dictDs("term"))
      .map { case (p, d) => (p.doc_id, p.field, p.term, p.tf, p.dl,
        p.positions, d.df) }

    withDf.groupByKey(_._1)
      .mapGroups((docId: Long,
                  rows: Iterator[(Long, String, String, Long, Long, Array[Int], Long)]) =>
        (docId, FtsIndex.scoreDoc(nodesB, n, avgdl, rows)))
      .filter(r => !r._2.isNaN)
  }

  /** Exact-term scorer: everything stays in Tungsten. One row per matched
    * posting, one hash aggregate keyed by doc_id; the node bitmask encodes
    * AND-of-nodes without a second aggregation pass.
    *
    * df/idf and the node bit are resolved DRIVER-side ([[dfsOf]], the
    * same point lookup every other path does) and inlined as literal CASE
    * expressions, so the per-query plan is scan -> decode -> project -> one
    * hash aggregate -> top-k: the former dict and node broadcast hash joins (two
    * BroadcastExchanges and their build jobs per query) are gone. The
    * arithmetic mirrors the joined plan bit-for-bit (StrictMath.log — the
    * function Spark's `log` expression evaluates — over the identical
    * double operation order), asserted by the oracle rows. A query whose
    * words repeat a (field, term) across nodes (e.g. "merge merge") keeps
    * the join-based plan: its per-node row duplication sums tscore once
    * per node, which a single literal row cannot reproduce bit-exactly. */
  private def scoreDocsExact(nodes: Seq[Node]): Dataset[(Long, Double)] = {
    val pred = termPredicate(nodes)
    val pairs = nodes.zipWithIndex.flatMap { case (nd, i) =>
      nd.alts.collect { case TermQ(f, t) => (f, t, i) }
    }
    val decoded = segments.where(pred).flatMap { b =>
      val docIds = graft.index.Codec.decodeDeltas(b.doc_bytes, b.n)
      val tfs = graft.index.Codec.decodeVarints(b.tf_bytes, b.n)
      val dls = graft.index.Codec.decodeVarints(b.dl_bytes, b.n)
      (0 until b.n).iterator.map { i =>
        (b.field, b.term, docIds(i), tfs(i), dls(i))
      }
    }.toDF("field", "term", "doc_id", "tf", "dl")

    val avgdlCol =
      when(col("field") === FieldContent, lit(avgdlByField(FieldContent)))
        .when(col("field") === FieldRaw, lit(avgdlByField(FieldRaw)))
        .otherwise(lit(avgdlByField(FieldIdent)))
    val fullMask = nodes.indices.map(1L << _).sum
    val byFt = pairs.groupBy(p => (p._1, p._2))

    if (byFt.valuesIterator.forall(_.size == 1)) {
      val dfMap = dfsOf(byFt.keys.toSeq)
      // only (field, term)s present in the dictionary score — the joined
      // plan's inner-join semantics (a posting without a dict row cannot
      // occur on a well-formed index, but the filter keeps the plans
      // equivalent by construction); df = 0 marks absence in dfsOf
      val scoreFts = pairs.filter(p => dfMap.getOrElse((p._1, p._2), 0L) > 0L)
      if (scoreFts.isEmpty) return spark.emptyDataset[(Long, Double)]
      def cond(f: String, t: String) =
        col("field") === f && col("term") === t
      // Spark's `log` expression evaluates StrictMath.log; the operand
      // order mirrors the former column expression exactly
      def idfLit(df: Long): Double =
        StrictMath.log(1.0 + (nDocs.toDouble - df + 0.5) / (df + 0.5))
      def caseOver(v: ((String, String, Int)) => org.apache.spark.sql.Column)
          : org.apache.spark.sql.Column =
        scoreFts.tail.foldLeft(
          when(cond(scoreFts.head._1, scoreFts.head._2), v(scoreFts.head))) {
          (acc, p) => acc.when(cond(p._1, p._2), v(p))
        }
      val idfCol = caseOver(p => lit(idfLit(dfMap((p._1, p._2)))))
        .otherwise(lit(0.0))
      val nodeBit = caseOver(p => lit(1L << p._3)).otherwise(lit(0L))
      val tscore = idfCol * col("tf") * lit(IndexBuilder.K1 + 1.0) /
        (col("tf") + lit(IndexBuilder.K1) * (lit(1.0 - IndexBuilder.B) +
          lit(IndexBuilder.B) * col("dl") / avgdlCol))
      val base =
        if (scoreFts.size == pairs.size) decoded
        else decoded.where(FtsIndex.orAll(
          scoreFts.map(p => cond(p._1, p._2))))
      base
        .withColumn("tscore", tscore)
        .withColumn("nodebit", nodeBit)
        .groupBy("doc_id")
        .agg(sum("tscore").as("score"), expr("bit_or(nodebit)").as("mask"))
        .where(col("mask") === fullMask)
        .select(col("doc_id"), col("score"))
        .as[(Long, Double)]
    } else {
      val pairsDf = pairs.toDF("field", "term", "node")
      val idf = log(lit(1.0) +
        (lit(nDocs.toDouble) - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
      val tscore = idf * col("tf") * lit(IndexBuilder.K1 + 1.0) /
        (col("tf") + lit(IndexBuilder.K1) * (lit(1.0 - IndexBuilder.B) +
          lit(IndexBuilder.B) * col("dl") / avgdlCol))
      decoded
        .join(broadcast(dict.where(pred).select("field", "term", "df")),
          Seq("field", "term"))
        .join(broadcast(pairsDf), Seq("field", "term"))
        .withColumn("tscore", tscore)
        .groupBy("doc_id")
        .agg(sum("tscore").as("score"),
          expr("bit_or(shiftleft(CAST(1 AS BIGINT), node))").as("mask"))
        .where(col("mask") === fullMask)
        .select(col("doc_id"), col("score"))
        .as[(Long, Double)]
    }
  }

  // ---- public API --------------------------------------------------------

  /** Full search: score -> filters (reference precedence) -> top-k ->
    * content fetch -> match/snippet extraction. Returns rows ordered by
    * (score desc, doc_id).
    *
    * Scale shape: the scored relation is QUERY-sized (a stopword makes it
    * O(corpus)) so it is never broadcast. Unfiltered queries take top-k
    * directly on (doc_id, score) — TakeOrderedAndProject, k rows survive.
    * Filtered queries shuffle-join only the small metadata columns
    * (path/lang/lines) before the top-k. Either way, the content column is
    * only read for the final k rows via a k-row broadcast against the doc
    * store. */
  def search(q: FtsQuery): Dataset[SearchResult] = {
    validate(q)
    val k = if (q.limit == 0) 100000 else q.limit
    val snippetLines = if (q.limit == 0) 0 else q.snippetLines
    val chunked = effectiveDocs.columns.contains("line_start")

    val scored = scoreDocs(expandNodes(buildNodes(q))).toDF("doc_id", "score")
    // With delta generations, tombstoned docs still have postings in the
    // segments; they must not occupy top-k slots (they'd be dropped by the
    // content join below, returning < k rows and hiding alive docs ranked
    // past them — ADVICE r02 #1). Semi-join against the alive set BEFORE
    // the limit; the delta-free fast path keeps the bare top-k.
    val aliveScored =
      if (hasDeltas)
        scored.join(effectiveDocs.select("doc_id"), Seq("doc_id"), "left_semi")
      else scored
    val topScored: DataFrame =
      if (!q.hasFilters)
        aliveScored.orderBy(desc("score"), asc("doc_id")).limit(k)
      else {
        val metaCols = Seq("doc_id", "path", "lang") ++
          (if (chunked) Seq("line_start", "line_end") else Nil)
        var hits = scored.join(
          effectiveDocs.select(metaCols.map(col): _*), "doc_id")

        // filter precedence (tantivy_index_manager.py:642-678):
        // 1 lang-excl, 2 lang-incl, 3 path-excl, 4 path-incl.
        // Reference quirk preserved: with NO exclusions the include list
        // matches stored language values verbatim (facet path, :516-547);
        // with exclusions present BOTH lists expand name->extensions via
        // the LanguageMapper (:570-588).
        if (q.excludeLanguages.nonEmpty) {
          val excl = LanguageMap.extensions(q.excludeLanguages)
          hits = hits.where(!$"lang".isin(excl.toSeq: _*))
          if (q.languages.nonEmpty) {
            val incl = LanguageMap.extensions(q.languages)
            hits = hits.where($"lang".isin(incl.toSeq: _*))
          }
        } else if (q.languages.nonEmpty) {
          hits = hits.where($"lang".isin(q.languages: _*))
        }
        // globs compile driver-side to ONE |-joined anchored regex and run
        // as a codegen'd rlike — no ScalaUDF on the scored-match relation
        // (this filter runs BEFORE top-k, over the whole match set)
        if (q.excludePathFilters.nonEmpty)
          PathGlob.anyRegex(q.excludePathFilters).foreach { re =>
            hits = hits.where(!$"path".rlike(re))
          }
        if (q.pathFilters.nonEmpty)
          hits = PathGlob.anyRegex(q.pathFilters) match {
            case Some(re) => hits.where($"path".rlike(re))
            case None => hits.where(lit(false)) // no valid glob matches nothing
          }
        // line-range overlap: a whole-file doc (no chunk columns) spans
        // [1, +inf) — minLine always overlaps, maxLine only if >= 1
        q.minLine.foreach { m =>
          hits =
            if (chunked) hits.where(
              coalesce($"line_end", lit(Long.MaxValue)) >= m)
            else hits
        }
        q.maxLine.foreach { m =>
          hits =
            if (chunked) hits.where(coalesce($"line_start", lit(1L)) <= m)
            else if (m < 1) hits.where(lit(false)) else hits
        }
        hits.select("doc_id", "score")
          .orderBy(desc("score"), asc("doc_id")).limit(k)
      }

    // chunk-granularity docs carry a line_start offset (reference stores
    // the chunk's line range and reports file-absolute lines)
    val fetchCols = Seq("doc_id", "repo", "path", "lang", "content") ++
      (if (chunked) Seq("line_start") else Nil)
    val lineStartCol =
      if (chunked) coalesce(col("line_start"), lit(1)) else lit(1)
    val top = broadcast(topScored)
      .join(effectiveDocs.select(fetchCols.map(col): _*), "doc_id")
      .orderBy(desc("score"), asc("doc_id"))
      .select($"doc_id", $"repo", $"path", $"lang", $"content", $"score",
        lineStartCol.cast("int").as("ls"))
      .as[(Long, String, String, String, String, Double, Int)]

    top.map { case (docId, repo, path, lang, content, score, ls) =>
      FtsIndex.hitOf(q, snippetLines, docId, repo, path, lang, content, ls,
        score)
    }
  }

  /** Collected, deterministically ordered results (score desc, doc_id asc). */
  def searchCollected(q: FtsQuery): Seq[SearchResult] =
    search(q).collect().toSeq.sortBy(r => (-r.score, r.doc_id))

  // ---- block-max WAND top-k (exact multi-term AND, unfiltered) ----------

  def searchWand(text: String, k: Int = 10,
                 caseSensitive: Boolean = false): Seq[SearchResult] =
    searchWand(FtsQuery(text, caseSensitive = caseSensitive, limit = k))

  /** Top-k via the block-max WAND scorer ([[Wand]]): per-shard pruned
    * scoring in parallel (`flatMapGroups` over the shard key — shards have
    * disjoint doc spaces, and delta generations are ordinary shards in the
    * (1000+gen) namespace), then a driver-side merge of the tiny per-shard
    * top-k lists. Under live deltas the snapshot's dead-doc set
    * ([[deadDocs]], delta-sized) broadcasts into the per-shard scorers so
    * tombstoned docs never occupy heap slots — the daemon keeps its fast
    * path during watch mode. Falls back to [[search]] for phrase
    * nodes (fuzzy/regex expand to terms first), when filters are present (a θ-threshold
    * over the unfiltered stream would not be the filtered top-k), or when
    * the dead set exceeds its driver budget. Returns the same docs and
    * scores as the exhaustive scorer — asserted by the differential
    * spec. */
  def searchWand(q: FtsQuery): Seq[SearchResult] = {
    validate(q)
    // fuzzy/regex expand to exact term sets first, so they ride the
    // pruned WAND path too (the reference daemon serves every query shape
    // from its warm index)
    val nodes = expandNodes(buildNodes(q))
    val simple = nodes.nonEmpty && nodes.forall(_.alts.nonEmpty) &&
      nodes.forall(_.alts.forall(_.isInstanceOf[TermQ]))
    if (!simple || q.hasFilters) return searchCollected(q)
    val dead: Wand.DeadSet = deadDocs match {
      case Some(ids) if ids.isEmpty => Wand.DeadSet.empty
      case Some(ids) => new Wand.DeadSet(ids) // sorted by construction
      case None => return searchCollected(q)
    }
    val k = if (q.limit == 0) 100000 else q.limit
    // limit=0 forces snippets off, like search() and the reference
    // (tantivy_index_manager.py:549-553) — ADVICE r02 #3
    val snippetLines = if (q.limit == 0) 0 else q.snippetLines

    val pred = termPredicate(nodes)
    // dictionary point lookup on the driver (zero Spark jobs); df = 0
    // (absent) yields idf 0.0
    val idfs: Map[(String, String), Double] =
      dfsOf(nodes.flatMap(_.alts.collect {
        case TermQ(f, t) => (f, t) }).distinct)
        .map { case (ft, df) => ft -> idfOf(nDocs, df) }
    val groupSpec: Seq[Seq[(String, String)]] =
      nodes.map(_.alts.collect { case TermQ(f, t) => (f, t) })
    val avgdl = avgdlByField

    // the dead set rides Spark's torrent broadcast (it can reach tens of
    // MB under heavy churn; the task closure should stay small) — one
    // broadcast per SNAPSHOT, shared by every query
    val deadBcLocal = if (dead.isEmpty) None else deadBc
    val perShard = segments.where(pred)
      .groupByKey(_.shard)
      .flatMapGroups { (_: Int, it: Iterator[SegmentBlock]) =>
        val dd = deadBcLocal.map(_.value).getOrElse(Wand.DeadSet.empty)
        val byFt = it.toArray.groupBy(b => (b.field, b.term))
          .view.mapValues(_.sortBy(_.first_doc)).toMap
        val groups = groupSpec.map(_.flatMap { ft =>
          byFt.get(ft).map(bl => (bl, idfs.getOrElse(ft, 0.0), avgdl(ft._1)))
        })
        if (groups.exists(_.isEmpty)) Iterator.empty
        else Wand.topKShard(groups, k, 0.0, dd)._1.iterator
      }.collect()

    val top = perShard.sortBy(s => (-s.score, s.doc)).take(k)
    if (top.isEmpty) return Nil
    // top-k rows from the doc store; top is already (score desc, doc asc)
    val rows = docRowsOf(top.map(_.doc).toSeq, withContent = true)
    top.toSeq.flatMap { s =>
      rows.get(s.doc).map(e => hitOf(q, snippetLines, s.doc, e.repo, e.path,
        e.lang, e.content, e.ls, s.score))
    }
  }
}

/** Serializable query-node model + per-document scoring, kept outside the
  * (session-holding, non-serializable) [[FtsIndex]] so executor closures
  * capture only plain data. */
object FtsIndex {

  private[query] val EmptyPos: Array[Int] = Array.empty[Int]

  /** Balanced OR of predicate columns: a linear `reduce(_ || _)` over a
    * many-alternative query (e.g. hundreds of fuzzy words) builds an
    * expression chain deep enough to overflow the column-conversion
    * recursion; pairwise folding keeps depth at log2(n). */
  private[query] def orAll(
      cols: Seq[org.apache.spark.sql.Column]): org.apache.spark.sql.Column = {
    require(cols.nonEmpty)
    var cur = cols
    while (cur.size > 1)
      cur = cur.grouped(2)
        .map(g => if (g.size == 2) g(0) || g(1) else g(0)).toSeq
    cur.head
  }

  /** Staleness fingerprint of an index root's on-disk state: live version
    * dir + delta generation list (reference reload-on-access staleness
    * tracking, server/cache/fts_index_cache.py:34-47). */
  def fingerprint(spark: SparkSession, root: String): String = {
    val vDir = FtsIndexBuilder.currentVersionDir(spark, root)
    val hfs = FtsIndexBuilder.fs(spark, root)
    val d = new org.apache.hadoop.fs.Path(s"$vDir/deltas")
    val gens =
      if (!hfs.exists(d)) Nil
      else hfs.listStatus(d).toSeq.map(_.getPath.getName)
        .filter(_.matches("d\\d+")).sortBy(_.drop(1).toInt)
    fingerprint(vDir, gens)
  }

  private[query] def fingerprint(vDir: String, gens: Seq[String]): String =
    (vDir +: gens.map(_.split('/').last)).mkString(",")

  sealed trait FieldQ extends Serializable { def field: String }
  final case class TermQ(field: String, term: String) extends FieldQ
  final case class PhraseQ(field: String, terms: Seq[String]) extends FieldQ
  final case class FuzzyQ(field: String, word: String, dist: Int) extends FieldQ
  final case class RegexQ(field: String, pattern: String) extends FieldQ
  /** One query word: OR over field alternatives; all nodes must match. */
  final case class Node(alts: Seq[FieldQ]) extends Serializable

  /** The BM25 scalar primitives, shared by EVERY scalar scoring path —
    * cluster [[scoreDoc]] and the WAND cursors ([[Wand]]) of the cluster
    * and driver paths — so the formula exists in exactly one place (the
    * columnar [[scoreDocsExact]] twin is pinned to these by the
    * differential fuzz battery). Arithmetic order is fixed:
    * every caller must stay bit-identical to the DuckDB oracle twins. */
  private[query] def idfOf(n: Long, df: Long): Double =
    if (df == 0) 0.0 else math.log(1.0 + (n - df + 0.5) / (df + 0.5))

  private[query] def bm25Of(tf: Double, dl: Long, avgdl: Double,
                            idfV: Double): Double = {
    import graft.index.IndexBuilder.{K1, B}
    idfV * tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / avgdl))
  }

  /** BM25-evaluate all nodes against one document's matched postings.
    * Row shape: (doc_id, field, term, tf, dl, positions, df).
    * Returns NaN when any node fails to match (AND semantics). */
  private[query] def scoreDoc(
      nodes: Seq[Node], n: Long, avgdl: Map[String, Double],
      rows: Iterator[(Long, String, String, Long, Long, Array[Int], Long)])
      : Double = {
    val postings = rows.toArray
    val byFieldTerm = postings.iterator.map(r => ((r._2, r._3), r)).toMap
    def idf(df: Long): Double = idfOf(n, df)
    def bm25(tf: Double, dl: Long, field: String, idfV: Double): Double =
      bm25Of(tf, dl, avgdl(field), idfV)
    var total = 0.0
    var all = true
    nodes.foreach { node =>
      var matched = false
      node.alts.foreach {
        case TermQ(f, t) =>
          byFieldTerm.get((f, t)).foreach { p =>
            total += bm25(p._4.toDouble, p._5, f, idf(p._7)); matched = true
          }
        case PhraseQ(f, ts) =>
          val ps = ts.map(t => byFieldTerm.get((f, t)))
          if (ps.forall(_.isDefined)) {
            val pf = phraseFreq(ps.map(_.get._6))
            if (pf > 0) {
              val idfSum = ps.map(p => idf(p.get._7)).sum
              total += bm25(pf.toDouble, ps.head.get._5, f, idfSum)
              matched = true
            }
          }
        case other =>
          // fuzzy/regex alts are dictionary-expanded to TermQs before any
          // scoring path runs ([[FtsIndex.expandNodes]])
          sys.error(s"unexpanded dynamic alternative in scoreDoc: $other")
      }
      if (!matched) all = false
    }
    if (all) total else Double.NaN
  }

  /** One hit row of a scored doc: its first match (a regex match in
    * regex mode), the snippet around it and FILE-absolute lines (`ls` is a
    * chunk doc's line_start, 1 for a whole file). Without a match, the
    * reference's fallback row at the doc's line_start. Shared by every
    * search path. */
  private[query] def hitOf(q: FtsQuery, snippetLines: Int, docId: Long,
                           repo: String, path: String, lang: String,
                           content: String, ls: Int,
                           score: Double): SearchResult = {
    val m =
      if (q.useRegex) {
        val flags =
          if (q.caseSensitive) 0 else java.util.regex.Pattern.CASE_INSENSITIVE
        Snippets.findRegexMatch(content,
          java.util.regex.Pattern.compile(q.text, flags))
      } else Snippets.findMatch(content, q.text, q.caseSensitive,
        q.editDistance)
    m match {
      case Some(mm) =>
        val e = Snippets.extractSnippet(content, mm.start, snippetLines)
        SearchResult(docId, repo, path, e.line + ls - 1, e.column, mm.text,
          e.snippet, e.snippetStartLine + ls - 1, lang, score)
      case None =>
        SearchResult(docId, repo, path, ls, 1, q.text, "", ls, lang, score)
    }
  }

  /** Count of phrase alignments: positions where the terms appear at
    * consecutive offsets (tf of the phrase). */
  private[query] def phraseFreq(lists: Seq[Array[Int]]): Int = {
    val first = lists.head
    var count = 0
    var i = 0
    while (i < first.length) {
      val start = first(i)
      var k = 1
      var ok = true
      while (ok && k < lists.length) {
        if (java.util.Arrays.binarySearch(lists(k), start + k) < 0) ok = false
        k += 1
      }
      if (ok) count += 1
      i += 1
    }
    count
  }
}
