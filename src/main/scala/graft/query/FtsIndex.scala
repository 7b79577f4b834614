package graft.query

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.analysis.Tokenizer
import graft.functions.PathGlob
import graft.index.{FtsDeltas, FtsIndexBuilder, IndexBuilder}
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
  * per-(field,term) df is a driver lookup in the snapshot's one
  * dictionary ([[dfsOf]]), inlined into the plan with no join; the per-doc
  * evaluation is a hash shuffle of ONLY the matched postings
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
  private val deltaDirs: Seq[String] = FtsDeltas.generations(spark, versionDir)
    .map(g => s"$versionDir/deltas/d$g")
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

  /** One read per segment directory, each holding whole shards: a base
    * shard group's `segments/g<gid>` and a delta generation's `segments`
    * (its one shard). The schema is given, so no read infers one. The
    * [[segments]] relation and the segment store share these reads. */
  private val segmentDirs: Seq[Dataset[SegmentBlock]] = {
    val hfs = FtsIndexBuilder.fs(spark, root)
    val base = hfs.listStatus(new org.apache.hadoop.fs.Path(
      s"$versionDir/segments")).filter(_.isDirectory).map(_.getPath.toString)
    val schema = Encoders.product[SegmentBlock].schema
    (base.sorted.toSeq ++ deltaSub("segments"))
      .map(spark.read.schema(schema).parquet(_).as[SegmentBlock])
  }

  /** Base and delta posting blocks: the union of the directory reads. */
  val segments: Dataset[SegmentBlock] = segmentDirs.reduce(_ union _)

  /** One read over the base and every delta `dict` dir with the
    * [[DictRow]] schema given (an older index's extra columns are not
    * read): the input of the snapshot's one dictionary, [[termDict]]. */
  private def dictLayers: DataFrame =
    spark.read.schema(Encoders.product[DictRow].schema)
      .parquet(s"$versionDir/dict" +: deltaSub("dict"): _*)

  /** The dictionary as a relation, one row per (field, term), base and
    * delta contributions summed. Dead docs keep contributing until
    * compaction (reference eventual-consistency contract,
    * tantivy_index_manager.py:25-33). A view for inspection: no serving
    * path reads it, every df comes from [[dfsOf]]. */
  lazy val dict: DataFrame =
    if (deltaDirs.isEmpty) dictLayers
    else dictLayers.groupBy("field", "term")
      .agg(sum("df").as("df"), sum("cf").as("cf"))

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

  lazy val manifest: DataFrame =
    spark.read.parquet(s"$versionDir/manifest/*")

  /** Corpus size including delta docs (alive AND dead — like df, dead docs
    * keep counting until compaction; a Tantivy searcher reload likewise
    * includes new segments in N before merge). Without this, idf mixes a
    * stale N with an inflated df and can go negative (ADVICE r01 #2). The
    * delta docs are counted from their Parquet footers, no job. */
  val nDocs: Long =
    spark.read.parquet(s"$versionDir/stats").collect()(0)
      .getAs[Long]("n_docs") +
      deltaSub("docs").map(FtsDeltas.parquetRowCount(spark, _)).sum

  /** avgdl per field: the dictionary's cf total over N, base and delta
    * layers alike (sum(cf) / N == avg(dl) exactly: token totals are exact
    * longs and zero-token docs add 0 to both). A field no layer indexed
    * takes the content field's. */
  private lazy val avgdlByField: Map[String, Double] = {
    val d = termDict
    Seq(FieldContent, FieldRaw, FieldIdent).map { f =>
      f -> (if (nDocs == 0) 0.0
            else d.cf(f).orElse(d.cf(FieldContent)).getOrElse(0L)
              .toDouble / nDocs)
    }.toMap
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
    * ([[SnapshotStore]]), the only in-memory copy of either: the warm
    * cache's block and row misses and the cluster WAND kernel run as one
    * plain `runJob` each over these, never as a Catalyst plan. The segment
    * store has one partition per segment directory, so each partition
    * holds whole shards. The exhaustive scorer reads the relations above
    * from Parquet. */
  private[query] val segmentStore = new SnapshotStore(
    "graft-segment-store", () => SnapshotStore.segmentParts(segmentDirs))
  private[query] val docStore = new SnapshotStore(
    "graft-doc-store", () => SnapshotStore.docParts(effectiveDocs))

  /** The snapshot's one term dictionary, on the driver ([[TermDict]];
    * immutable once loaded — delta generations produce a new snapshot):
    * one collect of [[dictLayers]], in [[warm]] or on first use. The only
    * source of df, cf and avgdl. */
  private lazy val termDict: TermDict = TermDict.collect(dictLayers)

  /** df per (field, term), 0 for a term the dictionary lacks: the ONE df
    * source of every query path, the warm cache and the exhaustive scorer
    * included. A binary search per dictionary run on the driver, summed —
    * no Spark job. */
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

  /** The doc_ids whose postings survive in the segments but which a
    * newer tombstone has killed — the alive filter that lets the WAND
    * pipeline keep serving DURING watch mode (the reference daemon serves
    * from its warm index throughout, daemon/cache.py:82-383). Delta-bounded:
    * one id per superseded document, and the streaming auto-fold keeps
    * live generations O(1). None when the set exceeds `maxDeadDocs`.
    * Computed once per snapshot and shared by every query: one
    * column-pruned scan of (doc_id, repo, path, gen) against the broadcast
    * tombstone key set — never the content column. */
  lazy val deadSet: Option[Wand.DeadSet] = tombstones match {
    case None => Some(Wand.DeadSet.empty)
    case Some(t) =>
      val tmax = t.groupBy("repo", "path").agg(max("gen").as("tgen"))
      val ids = docs.join(broadcast(tmax), Seq("repo", "path"))
        .where(col("gen") < col("tgen"))
        .select("doc_id").limit(maxDeadDocs + 1)
        .collect().map(_.getLong(0))
      if (ids.length > maxDeadDocs) None else Some(Wand.DeadSet(ids))
  }

  /** The dead set as a cluster broadcast — built ONCE per snapshot (the
    * set is immutable; re-broadcasting per query would pay torrent
    * distribution every time and leak blocks until the ContextCleaner
    * runs) and unpersisted by [[cool]] on snapshot retirement. */
  @volatile private var deadBcBuilt = false
  private lazy val deadBc
      : Option[org.apache.spark.broadcast.Broadcast[Wand.DeadSet]] = {
    deadBcBuilt = true
    deadSet.filter(!_.isEmpty).map(spark.sparkContext.broadcast(_))
  }

  /** Build the key-addressed stores (the reference daemon's warm index
    * cache analog, server/cache/fts_index_cache.py) and collect the term
    * dictionary: one job per store reads its relation from Parquet, one
    * job collects the dictionary. No relation is cached besides: the
    * stores are the one in-memory copy of the segments and docs. */
  def warm(): this.type = {
    docStore.materialize(); segmentStore.materialize(); termDict
    this
  }

  /** Release the key-addressed stores (called on reload swap) plus the
    * snapshot's dead-set broadcast if one was built. The driver dictionary
    * stays: it is plain driver heap, so a racing reader keeps its df
    * lookups job-free.
    *
    * The broadcast is UNPERSISTED, never destroyed: [[ReloadingFtsIndex]]
    * swaps and cools the stale snapshot while unsynchronized readers may
    * still be mid-query on it — a destroyed broadcast turns that benign
    * race into a hard SparkException, whereas an unpersisted one simply
    * re-broadcasts on next use and is reclaimed by the ContextCleaner
    * when the snapshot is GC'd (ADVICE r04 #1). */
  def cool(): this.type = {
    docStore.release(); segmentStore.release()
    if (deadBcBuilt) deadBc.foreach(_.unpersist())
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
    * running a UDF over every block. `expand` is [[expandAlts]] or the
    * warm cache's LRU in front of it. */
  private[query] def expandNodes(nodes: Seq[Node],
      expand: Seq[FieldQ] => Map[FieldQ, Seq[TermQ]] = expandAlts)
      : Seq[Node] = {
    val dyn = nodes.flatMap(_.alts).collect {
      case f: FuzzyQ => f: FieldQ
      case r: RegexQ => r: FieldQ
    }.distinct
    if (dyn.isEmpty) return nodes
    val expanded = expand(dyn)
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

  /** Predicate over (field, term) used to prune the segment scan.
    * Callers pass EXPANDED nodes (fuzzy/regex already resolved to term
    * sets by [[expandNodes]]) so the predicate is always a pushable
    * field/term isin — never a UDF over the segments scan. */
  private def termPredicate(nodes: Seq[Node]): org.apache.spark.sql.Column = {
    require(!nodes.exists(_.alts.exists(a =>
      a.isInstanceOf[FuzzyQ] || a.isInstanceOf[RegexQ])),
      "dynamic alternatives must be dictionary-expanded before scoring")
    val exactByField = nodes.flatMap(_.alts)
      .flatMap(a => termsOf(a).map((a.field, _)))
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct).toMap
    val parts = exactByField.map { case (f, ts) =>
      col("field") === f && col("term").isin(ts: _*)
    }.toSeq
    parts.reduceOption(_ || _).getOrElse(lit(false))
  }

  // ---- scoring ----------------------------------------------------------

  /** (doc_id, score) for all matching docs — unfiltered, unlimited.
    *
    * Two plans, both reading df from [[dfsOf]] on the driver (a posting
    * whose (field, term) has df 0 is dropped):
    *   - exact path (every alternative is a TermQ — the common query
    *     shape): pure Catalyst. Blocks decode to position-free posting
    *     rows, idf and node bits are literal CASE columns, BM25 is column
    *     math, and AND semantics are one hash aggregate with a node
    *     bitmask — whole-stage codegen from decode to aggregate, map-side
    *     partial aggregation before the doc_id shuffle.
    *   - general path (phrase/fuzzy/regex): groupByKey over matched
    *     postings, scored by [[FtsIndex.scoreDoc]] against the captured df
    *     map; positions decode ONLY when a phrase node exists, so
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
    val dfs = dfsOf(nodes.flatMap(_.alts)
      .flatMap(a => termsOf(a).map((a.field, _))).distinct)
    val needPos = nodes.exists(_.alts.exists(_.isInstanceOf[PhraseQ]))

    segments.where(pred).flatMap { b =>
      if (dfs((b.field, b.term)) == 0L) Iterator.empty
      else {
        val docIds = graft.index.Codec.decodeDeltas(b.doc_bytes, b.n)
        val tfs = graft.index.Codec.decodeVarints(b.tf_bytes, b.n)
        val dls = graft.index.Codec.decodeVarints(b.dl_bytes, b.n)
        val pr =
          if (needPos) new graft.index.Codec.VarIntReader(b.pos_bytes)
          else null
        (0 until b.n).iterator.map { i =>
          Posting(b.field, b.term, docIds(i), tfs(i), dls(i),
            if (needPos) pr.readDeltaList(tfs(i).toInt) else EmptyPos)
        }
      }
    }.groupByKey(_.doc_id)
      .mapGroups((docId: Long, rows: Iterator[Posting]) =>
        (docId, FtsIndex.scoreDoc(nodesB, n, avgdl, dfs, rows)))
      .filter(r => !r._2.isNaN)
  }

  /** Exact-term scorer: everything stays in Tungsten. One row per matched
    * posting, one hash aggregate keyed by doc_id; the node bitmask encodes
    * AND-of-nodes without a second aggregation pass.
    *
    * df/idf and the node bits are resolved DRIVER-side ([[dfsOf]], the
    * same point lookup every other path does) and inlined as literal CASE
    * expressions, so the per-query plan is scan -> decode -> project -> one
    * hash aggregate -> top-k, with no join. The arithmetic is pinned by the
    * oracle rows (StrictMath.log — the function Spark's `log` expression
    * evaluates — over a fixed double operation order). A (field, term)
    * repeated across nodes (e.g. "merge merge") has one CASE arm: the OR
    * of its node bits, and its tscore times the number of those nodes. */
  private def scoreDocsExact(nodes: Seq[Node]): Dataset[(Long, Double)] = {
    val pred = termPredicate(nodes)
    val pairs = nodes.zipWithIndex.flatMap { case (nd, i) =>
      nd.alts.collect { case TermQ(f, t) => ((f, t), i) }
    }.distinct
    val fts = pairs.map(_._1).distinct
    val nodesOf = pairs.groupMap(_._1)(_._2)
    val dfMap = dfsOf(fts)
    val scoreFts = fts.filter(dfMap(_) > 0L).map(ft => (ft, nodesOf(ft)))
    if (scoreFts.isEmpty) return spark.emptyDataset[(Long, Double)]
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
    def cond(ft: (String, String)) =
      col("field") === ft._1 && col("term") === ft._2
    // Spark's `log` expression evaluates StrictMath.log; the operand
    // order mirrors the column expression it replaced exactly
    def idfLit(df: Long): Double =
      StrictMath.log(1.0 + (nDocs.toDouble - df + 0.5) / (df + 0.5))
    def caseOver(v: (((String, String), Seq[Int])) => Any)
        : org.apache.spark.sql.Column =
      scoreFts.tail.foldLeft(
        when(cond(scoreFts.head._1), lit(v(scoreFts.head)))) {
        (acc, p) => acc.when(cond(p._1), lit(v(p)))
      }
    val idfCol = caseOver(p => idfLit(dfMap(p._1))).otherwise(lit(0.0))
    val nodeBit = caseOver(_._2.map(1L << _).reduce(_ | _)).otherwise(lit(0L))
    val bm25 = idfCol * col("tf") * lit(IndexBuilder.K1 + 1.0) /
      (col("tf") + lit(IndexBuilder.K1) * (lit(1.0 - IndexBuilder.B) +
        lit(IndexBuilder.B) * col("dl") / avgdlCol))
    val tscore =
      if (scoreFts.forall(_._2.size == 1)) bm25
      else bm25 * caseOver(_._2.size.toDouble).otherwise(lit(0.0))
    val base =
      if (scoreFts.size == fts.size) decoded
      else decoded.where(FtsIndex.orAll(scoreFts.map(p => cond(p._1))))
    base
      .withColumn("tscore", tscore)
      .withColumn("nodebit", nodeBit)
      .groupBy("doc_id")
      .agg(sum("tscore").as("score"), expr("bit_or(nodebit)").as("mask"))
      .where(col("mask") === fullMask)
      .select(col("doc_id"), col("score"))
      .as[(Long, Double)]
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

    top.mapPartitions { rows =>
      val m = Snippets.matcher(q)
      rows.map { case (docId, repo, path, lang, content, score, ls) =>
        FtsIndex.hitOf(m, snippetLines, docId, repo, path, lang,
          new Snippets.TextView(content), ls, score)
      }
    }
  }

  /** Collected, deterministically ordered results (score desc, doc_id asc). */
  def searchCollected(q: FtsQuery): Seq[SearchResult] =
    search(q).collect().toSeq.sortBy(r => (-r.score, r.doc_id))

  // ---- block-max WAND top-k: the one pipeline of every top-k path -----

  def searchWand(text: String, k: Int = 10,
                 caseSensitive: Boolean = false): Seq[SearchResult] =
    searchWand(FtsQuery(text, caseSensitive = caseSensitive, limit = k))

  /** Top-k of every query shape via the WAND pipeline ([[wandSearch]])
    * with the kernel on the cluster, a probe of the segment store: no SQL
    * execution. Falls back to [[searchCollected]] only when the dead set
    * exceeds its driver budget or a filtered query's over-pull exceeds
    * 16 384 candidates. Returns the same docs
    * and scores as the exhaustive scorer — asserted by the differential
    * spec. */
  def searchWand(q: FtsQuery): Seq[SearchResult] = {
    val out = wandSearch(q, new Lookups)
    if (out == null) searchCollected(q) else out
  }

  /** What the WAND pipeline reads besides the snapshot's dictionary: by
    * default straight from the snapshot, with the kernel on the cluster.
    * The warm cache ([[FtsQueryCache]]) puts its LRUs in front of each
    * lookup and runs the kernel on the driver when its df gates pass. */
  private[query] class Lookups(val maxOverpull: Int = 16384) {
    def expand(dyn: Seq[FieldQ]): Map[FieldQ, Seq[TermQ]] = expandAlts(dyn)
    /** Each alternative's blocks for the driver kernel (a phrase: its
      * aligned blocks); None runs the kernel on the cluster. */
    def blocks(fts: Seq[(String, String)], dfs: Map[(String, String), Long])
        : Option[FieldQ => Array[SegmentBlock]] = None
    def rows(ids: Seq[Long], withContent: Boolean)
        : Map[Long, SnapshotStore.DocEntry] = docRowsOf(ids, withContent)
  }

  /** The one block-max WAND top-k pipeline ([[Wand]]), every query
    * shape: nodes, dictionary expansion, dfs, the candidate bound B, the
    * kernel, the filter over-pull, the top-k rows. A fuzzy/regex
    * alternative is expanded into terms, a phrase alternative is one more
    * cursor over its aligned blocks ([[Wand.phraseBlocks]]). The snapshot's
    * dead set ([[deadSet]]) keeps tombstoned docs out of the kernel's heap.
    *
    * Filtered queries run the kernel with an over-pull, then apply the
    * reference's filter precedence (lang-excl, lang-incl, path-excl,
    * path-incl — tantivy_index_manager.py:642-678) and re-pull with a
    * larger k until k results survive or the match stream is exhausted —
    * EXACT filter-then-top-k semantics (the reference's own daemon
    * overfetches x3 and accepts recall loss). A match of an AND node
    * matches one of its alternatives, so B = min over nodes of the summed
    * alternative df (a phrase counts its rarest term's df); df also
    * counts dead and delta docs, so B bounds the alive matches from above.
    * The first pull takes min(max(3k, 30), B) candidates and a pull of B
    * candidates is final.
    *
    * Returns null when the query needs the exhaustive scorer: the dead set
    * is over its driver budget, or a filtered query would pull more than
    * `lk.maxOverpull` candidates. */
  private[query] def wandSearch(q: FtsQuery, lk: Lookups): Seq[SearchResult] = {
    validate(q)
    val dead = deadSet.orNull
    if (dead == null) return null
    val alts = expandNodes(buildNodes(q), lk.expand).map(_.alts)
    if (alts.isEmpty || alts.exists(_.isEmpty)) return Nil
    val fts = alts.flatten.flatMap(a => termsOf(a).map((a.field, _))).distinct
    val dfs = dfsOf(fts)
    def altDfs(a: FieldQ): Seq[Long] = termsOf(a).map(t => dfs((a.field, t)))
    val bound = alts.map(_.map(altDfs(_).min).sum).min
    if (bound == 0) return Nil
    val k = if (q.limit == 0) 100000 else q.limit
    // limit=0 forces snippets off (tantivy_index_manager.py:549-553)
    val snippetLines = if (q.limit == 0) 0 else q.snippetLines
    // a cursor's weight: a term's idf, a phrase's summed term idfs
    val weight = alts.flatten.map(a => a -> altDfs(a).map(idfOf(nDocs, _)).sum)
      .toMap
    val kernel: Int => Seq[Wand.Scored] = lk.blocks(fts, dfs) match {
      case Some(blocksOf) =>
        wandTopK(alts, blocksOf, weight, avgdlByField, _, dead)
      case None => wandCluster(alts, weight, _, dead)
    }

    val top: Seq[Wand.Scored] =
      if (!q.hasFilters) kernel(k)
      else {
        // checked BEFORE the first pull too, so a filtered limit=0 query
        // (k=100000) over a common word never collects its candidates'
        // metadata, while one whose bound B is small takes one pull
        var kk = math.min(math.max(3 * k, 30).toLong, bound).toInt
        if (kk > lk.maxOverpull) return null
        val pathMatch = PathGlob.anyMatcher(q.pathFilters)
        val pathExcl = PathGlob.anyMatcher(q.excludePathFilters)
        var out: Seq[Wand.Scored] = null
        while (out == null) {
          val cands = kernel(kk)
          val meta = lk.rows(cands.map(_.doc), withContent = false)
          val kept = cands.filter(s => meta.get(s.doc)
            .exists(passesFilters(q, pathMatch, pathExcl, _)))
          if (kept.size >= k || cands.size < kk || kk >= bound)
            out = kept.take(k)
          else if (kk >= lk.maxOverpull) return null
          else kk = math.min(math.min(4L * kk, bound), lk.maxOverpull.toLong).toInt
        }
        out
      }
    if (top.isEmpty) return Nil
    // top is ordered (score desc, doc asc) by the kernel already
    val rows = lk.rows(top.map(_.doc), withContent = true)
    val m = Snippets.matcher(q)
    top.flatMap(s => rows.get(s.doc).map(e => hitOf(m, snippetLines, s.doc,
      e.repo, e.path, e.lang, e.text, e.ls, s.score)))
  }

  /** The kernel on the cluster: [[wandTopK]] in each segment-store
    * partition (whole shards, so a phrase aligns from the partition's own
    * blocks), then a driver merge of the per-partition top-k lists. A
    * non-empty dead set rides the snapshot's one broadcast ([[deadBc]]) —
    * it can reach tens of MB under heavy churn. */
  private def wandCluster(alts: Seq[Seq[FieldQ]], weight: Map[FieldQ, Double],
                          k: Int, dead: Wand.DeadSet): Seq[Wand.Scored] = {
    val deadB = if (dead.isEmpty) None else deadBc
    segmentStore.lookup(SnapshotStore.wandLookup(alts, weight, avgdlByField,
      k, deadB)).sortBy(s => (-s.score, s.doc)).take(k).toSeq
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
    fingerprint(vDir, FtsDeltas.generations(spark, vDir).map(g => s"d$g"))
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

  /** BM25-evaluate all nodes against one document's matched postings,
    * each term's df taken from `dfs`.
    * Returns NaN when any node fails to match (AND semantics). */
  private[query] def scoreDoc(
      nodes: Seq[Node], n: Long, avgdl: Map[String, Double],
      dfs: Map[(String, String), Long], rows: Iterator[Posting]): Double = {
    val byFieldTerm = rows.map(r => ((r.field, r.term), r)).toMap
    def idf(ft: (String, String)): Double = idfOf(n, dfs(ft))
    def bm25(tf: Double, dl: Long, field: String, idfV: Double): Double =
      bm25Of(tf, dl, avgdl(field), idfV)
    var total = 0.0
    var all = true
    nodes.foreach { node =>
      var matched = false
      node.alts.foreach {
        case TermQ(f, t) =>
          byFieldTerm.get((f, t)).foreach { p =>
            total += bm25(p.tf.toDouble, p.dl, f, idf((f, t))); matched = true
          }
        case PhraseQ(f, ts) =>
          val ps = ts.map(t => byFieldTerm.get((f, t)))
          if (ps.forall(_.isDefined)) {
            val pf = phraseFreq(ps.map(_.get.positions))
            if (pf > 0) {
              val idfSum = ts.map(t => idf((f, t))).sum
              total += bm25(pf.toDouble, ps.head.get.dl, f, idfSum)
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
    * regex mode) by the query's matcher, the snippet around it and
    * FILE-absolute lines (`ls` is a chunk doc's line_start, 1 for a whole
    * file). Without a match, the reference's fallback row at the doc's
    * line_start. Shared by every search path. */
  private[query] def hitOf(m: Snippets.QueryMatcher, snippetLines: Int,
                           docId: Long, repo: String, path: String,
                           lang: String, doc: Snippets.TextView, ls: Int,
                           score: Double): SearchResult =
    m.find(doc) match {
      case Some(mm) =>
        val e = doc.extract(mm.start, snippetLines)
        SearchResult(docId, repo, path, e.line + ls - 1, e.column, mm.text,
          e.snippet, e.snippetStartLine + ls - 1, lang, score)
      case None =>
        SearchResult(docId, repo, path, ls, 1, m.text, "", ls, lang, score)
    }

  /** An exact alternative's terms: a term's one, a phrase's in order. */
  private[query] def termsOf(a: FieldQ): Seq[String] = a match {
    case TermQ(_, t) => Seq(t)
    case PhraseQ(_, ts) => ts
    case _ => Nil
  }

  /** The WAND kernel over blocks in hand: the shards of `blocksOf` run
    * in turn so the θ floor carries across them (nextDown keeps
    * exact-score ties alive for the doc_id tie-break). Runs on the driver
    * over the warm cache's blocks and in each segment-store partition on
    * the cluster. Returns the top k ordered by (score desc, doc asc). */
  private[query] def wandTopK(alts: Seq[Seq[FieldQ]],
                              blocksOf: FieldQ => Array[SegmentBlock],
                              weight: Map[FieldQ, Double],
                              avgdl: Map[String, Double], k: Int,
                              dead: Wand.DeadSet): Seq[Wand.Scored] = {
    val all = alts.flatten.distinct.map(a => a -> blocksOf(a)).toMap
    val shards = all.values.flatMap(_.map(_.shard)).toSeq.distinct.sorted
    val collected = scala.collection.mutable.ArrayBuffer.empty[Wand.Scored]
    var floor = 0.0
    shards.foreach { sh =>
      collected ++= shardTopK(alts, all(_).filter(_.shard == sh), weight,
        avgdl, k, floor, dead)
      if (collected.size >= k) {
        val kth = collected.sortBy(s => (-s.score, s.doc)).apply(k - 1)
        floor = Math.nextDown(kth.score)
      }
    }
    collected.sortBy(s => (-s.score, s.doc)).take(k).toSeq
  }

  /** One shard's top-k over AND-of-alternatives ([[Wand.topKShard]]): a
    * cursor per alternative over `blocksOf(alt)` — the shard's blocks,
    * sorted by first_doc — weighted by `weight(alt)`. An alternative
    * without blocks drops out; a node left without one matches nothing. */
  private[query] def shardTopK(alts: Seq[Seq[FieldQ]],
                               blocksOf: FieldQ => Array[SegmentBlock],
                               weight: Map[FieldQ, Double],
                               avgdl: Map[String, Double], k: Int,
                               floor: Double, dead: Wand.DeadSet)
      : Seq[Wand.Scored] = {
    val groups = alts.map(_.flatMap(a => Some(blocksOf(a)).filter(_.nonEmpty)
      .map((_, weight(a), avgdl(a.field)))))
    if (groups.exists(_.isEmpty)) Nil
    else Wand.topKShard(groups, k, floor, dead)._1
  }

  /** The reference's post-filter precedence (Q5-Q8) plus the chunk
    * line-range overlap (Q9 note): the per-row mirror of [[search]]'s
    * filtered branch, facet-vs-extension quirk included. Whole-file docs
    * carry (ls=1, le=Long.MaxValue), so the overlap checks are uniform. */
  private[query] def passesFilters(q: FtsQuery, pathMatch: String => Boolean,
                                   pathExcl: String => Boolean,
                                   e: SnapshotStore.DocEntry): Boolean = {
    if (q.excludeLanguages.nonEmpty) {
      if (LanguageMap.extensions(q.excludeLanguages).contains(e.lang))
        return false
      if (q.languages.nonEmpty &&
          !LanguageMap.extensions(q.languages).contains(e.lang)) return false
    } else if (q.languages.nonEmpty && !q.languages.contains(e.lang))
      return false
    if (q.excludePathFilters.nonEmpty && pathExcl(e.path)) return false
    if (q.pathFilters.nonEmpty && !pathMatch(e.path)) return false
    !q.minLine.exists(e.le < _) && !q.maxLine.exists(e.ls > _)
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
