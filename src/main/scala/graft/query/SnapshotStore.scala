package graft.query

import scala.reflect.ClassTag

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.storage.StorageLevel

import graft.functions.Distance
import graft.index.FtsSchema.SegmentBlock

/** A key-addressed, persisted in-memory store over one of a snapshot's
  * relations (dictionary, segments, alive docs): partition i of the store
  * holds partition i of the relation as ONE lookup structure `P` — a
  * sorted term array, a (field, term) hash map, a doc_id hash map. A
  * lookup is one `SparkContext.runJob` of a plain Scala closure over the
  * store's partitions: no Catalyst analysis, optimization or codegen, and
  * no per-row predicate over the cached relation (the Tantivy regime of
  * the reference daemon: an FST walk or a doc fetch, not a query plan —
  * SURVEY.md §2.4). [[graft.ops.AnnIndex.topK]] serves the same way.
  *
  * The store RDD is created and persisted on first use; [[FtsIndex.warm]]
  * materializes it in the job that also fills the relation's columnar
  * cache. [[release]] unpersists it (a racing reader on a released store
  * simply rebuilds the partitions it touches). */
private[query] final class SnapshotStore[P](name: String,
                                            parts: () => RDD[P]) {
  @volatile private var built: RDD[P] = null

  private def rdd: RDD[P] = {
    if (built == null) synchronized {
      if (built == null)
        built = parts().setName(name).persist(StorageLevel.MEMORY_ONLY)
    }
    built
  }

  /** Build and cache every partition (one job, no result rows). */
  def materialize(): Unit = {
    val r = rdd
    r.sparkContext.runJob(r, (it: Iterator[P]) => it.size)
  }

  /** Run `f` against every partition's structure; one Spark job.
    * `f` must capture plain data only (it ships to the executors). */
  def lookup[R: ClassTag](f: P => Array[R]): Array[R] = {
    val r = rdd
    val got = new Array[Array[R]](r.getNumPartitions)
    r.sparkContext.runJob(r, new SnapshotStore.Probe(f),
      0 until got.length, (i: Int, part: Array[R]) => got(i) = part)
    got.flatten
  }

  /** Unpersist the store if it was ever built. */
  def release(): Unit = {
    val r = built
    if (r != null) r.unpersist(blocking = false)
  }
}

private[query] object SnapshotStore {

  /** The task of [[SnapshotStore.lookup]]. A named class, not a lambda:
    * `SparkContext.clean` returns at once for it, where for a lambda it
    * reads the capturing class's bytecode on every job — and the
    * `Iterator => U` overload of `runJob` wraps its function in a lambda
    * captured by `SparkContext` itself (a 200 KB class). */
  private final class Probe[P, R: ClassTag](f: P => Array[R])
      extends ((TaskContext, Iterator[P]) => Array[R]) with Serializable {
    def apply(ctx: TaskContext, it: Iterator[P]): Array[R] =
      it.flatMap(p => f(p).iterator).toArray
  }

  /** One field's dictionary slice, sorted by term (binary-searched for
    * df; scanned for fuzzy/regex expansion). `cmasks(i)` is term i's
    * character-class bitmap ([[Distance.charMask]]), recomputed where the
    * stored `cmask` column is null or absent, so the prefilter always
    * applies. */
  final class DictField(val terms: Array[String], val dfs: Array[Long],
                        val cmasks: Array[Long]) {
    def df(term: String): Long = {
      val i = java.util.Arrays.binarySearch(
        terms.asInstanceOf[Array[AnyRef]], term)
      if (i >= 0) dfs(i) else 0L
    }
  }

  /** One partition of the dictionary store: its terms, by field. */
  type DictPart = Map[String, DictField]

  /** One doc's serving row: the filter columns, the chunk line range
    * (1 / Long.MaxValue for whole-file docs) and the content. */
  final case class DocEntry(repo: String, path: String, lang: String,
                            ls: Int, le: Long, content: String)

  def dictParts(dict: DataFrame): RDD[DictPart] = {
    val cols = dict.columns
    val iF = cols.indexOf("field")
    val iT = cols.indexOf("term")
    val iD = cols.indexOf("df")
    val iM = cols.indexOf("cmask")
    dict.rdd.mapPartitions({ rows =>
      val byField = scala.collection.mutable.HashMap
        .empty[String, scala.collection.mutable.ArrayBuffer[(String, Long, Long)]]
      rows.foreach { r =>
        val t = r.getString(iT)
        val m =
          if (iM >= 0 && !r.isNullAt(iM)) r.getLong(iM)
          else Distance.charMask(t)
        byField.getOrElseUpdate(r.getString(iF),
          scala.collection.mutable.ArrayBuffer.empty) += ((t, r.getLong(iD), m))
      }
      Iterator.single(byField.map { case (f, buf) =>
        val s = buf.sortBy(_._1)
        f -> new DictField(s.map(_._1).toArray, s.map(_._2).toArray,
          s.map(_._3).toArray)
      }.toMap)
    }, preservesPartitioning = true)
  }

  def segmentParts(segments: Dataset[SegmentBlock])
      : RDD[java.util.HashMap[(String, String), Array[SegmentBlock]]] =
    segments.rdd.mapPartitions({ blocks =>
      val acc = new java.util.HashMap[(String, String),
        scala.collection.mutable.ArrayBuffer[SegmentBlock]]()
      blocks.foreach { b =>
        acc.computeIfAbsent((b.field, b.term),
          _ => scala.collection.mutable.ArrayBuffer.empty) += b
      }
      val out = new java.util.HashMap[(String, String), Array[SegmentBlock]](
        acc.size * 2)
      acc.forEach((k, v) => out.put(k, v.toArray))
      Iterator.single(out)
    }, preservesPartitioning = true)

  def docParts(docs: DataFrame)
      : RDD[java.util.HashMap[java.lang.Long, DocEntry]] = {
    val cols = docs.columns
    val Seq(iId, iRepo, iPath, iLang, iContent) =
      Seq("doc_id", "repo", "path", "lang", "content").map(cols.indexOf(_))
    val iLs = cols.indexOf("line_start")
    val iLe = cols.indexOf("line_end")
    docs.rdd.mapPartitions({ rows =>
      val m = new java.util.HashMap[java.lang.Long, DocEntry]()
      rows.foreach { r =>
        val ls =
          if (iLs < 0 || r.isNullAt(iLs)) 1
          else r.getAs[Number](iLs).intValue
        val le =
          if (iLe < 0 || r.isNullAt(iLe)) Long.MaxValue
          else r.getAs[Number](iLe).longValue
        m.put(r.getLong(iId), DocEntry(r.getString(iRepo), r.getString(iPath),
          r.getString(iLang), ls, le, r.getString(iContent)))
      }
      Iterator.single(m)
    }, preservesPartitioning = true)
  }

  // ---- lookup closures (plain data only: they ship to the executors) ---

  /** (field, term, df) of every key present in the partition. */
  def dfLookup(fts: Array[(String, String)])
      : DictPart => Array[(String, String, Long)] = part =>
    fts.flatMap { case (f, t) =>
      part.get(f).map(_.df(t)).filter(_ > 0L).map(df => (f, t, df))
    }

  /** (field, term, df) of every term matching a fuzzy or regex
    * alternative: length band and character-class bitmap prefilters
    * (every edit adds at most one class the word lacks, a transposition
    * none) before the bounded Damerau distance; regex is a full match. */
  def expandLookup(alts: Array[FtsIndex.FieldQ])
      : DictPart => Array[(String, String, Long)] = part => {
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    // one row per dictionary entry even when several alternatives match
    // it: the driver re-check attributes rows to alternatives, and a
    // repeated row would score the term twice
    val seen = new java.util.HashSet[(String, String)]()
    alts.foreach { a =>
      part.get(a.field).foreach { fd =>
        val hit: Int => Boolean = a match {
          case FtsIndex.FuzzyQ(_, w, d) =>
            val notW = ~Distance.charMask(w)
            i => {
              val t = fd.terms(i)
              math.abs(t.length - w.length) <= d &&
                java.lang.Long.bitCount(fd.cmasks(i) & notW) <= d &&
                Distance.damerauBounded(t, w, d) <= d
            }
          case FtsIndex.RegexQ(_, pat) =>
            val re = java.util.regex.Pattern.compile(s"^(?:$pat)$$")
            i => re.matcher(fd.terms(i)).matches()
          case _ => _ => false
        }
        var i = 0
        while (i < fd.terms.length) {
          if (hit(i) && seen.add((a.field, fd.terms(i))))
            out += ((a.field, fd.terms(i), fd.dfs(i)))
          i += 1
        }
      }
    }
    out.toArray
  }

  /** ((field, term), blocks) of every key present in the partition. */
  def blockLookup(fts: Array[(String, String)])
      : java.util.HashMap[(String, String), Array[SegmentBlock]] =>
        Array[((String, String), Array[SegmentBlock])] = part =>
    fts.flatMap(ft => Option(part.get(ft)).map(ft -> _))

  /** (doc_id, row) of every id present in the partition; content is
    * dropped unless asked for. */
  def docLookup(ids: Array[Long], withContent: Boolean)
      : java.util.HashMap[java.lang.Long, DocEntry] =>
        Array[(Long, DocEntry)] = part =>
    ids.flatMap { id =>
      Option(part.get(id)).map(e =>
        id -> (if (withContent) e else e.copy(content = null)))
    }
}
