package graft.query

import scala.reflect.ClassTag

import org.apache.spark.{SparkException, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}

import graft.index.FtsSchema.SegmentBlock

/** A key-addressed, persisted in-memory store over one of a snapshot's
  * relations (segments, alive docs): partition i of the store holds
  * partition i of the relation as ONE lookup structure `P` — a (field,
  * term) hash map, a doc_id hash map. A lookup is one
  * `SparkContext.runJob` of a plain Scala closure over the store's
  * partitions: no Catalyst analysis, optimization or codegen, and no
  * per-row predicate over the cached relation (the Tantivy regime of the
  * reference daemon: a doc fetch, not a query plan — SURVEY.md §2.4).
  * [[graft.ops.AnnIndex.topK]] serves the same way. The term dictionary
  * lives on the driver instead ([[TermDict]]).
  *
  * The store RDD is created on first use and locally checkpointed
  * (`localCheckpoint()`: persisted memory-and-disk, lineage cut once its
  * first job has built every partition), so a lookup's task carries the
  * checkpointed partitions and the probe, not the relation's scan plan.
  * [[FtsIndex.warm]] materializes it in the job that also fills the
  * relation's columnar cache. [[release]] unpersists it.
  *
  * A checkpointed partition cannot be recomputed: a lookup whose blocks
  * are gone fails with `CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`. A released
  * store (a racing reader on a cooled snapshot) then probes an
  * unpersisted copy, recomputed from the relation and cached nowhere; a
  * live store (blocks lost with an executor) rebuilds itself once and
  * retries. */
private[query] final class SnapshotStore[P](name: String,
                                            parts: () => RDD[P]) {
  @volatile private var built: RDD[P] = null
  @volatile private var released = false

  private[query] def rdd: RDD[P] = {
    if (built == null) synchronized {
      if (built == null)
        built = parts().setName(name).localCheckpoint()
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
    if (released) return SnapshotStore.probe(parts(), f)
    val r = rdd
    try SnapshotStore.probe(r, f)
    catch {
      case e: SparkException if SnapshotStore.lostBlocks(e) =>
        val again = synchronized {
          if (released) parts()
          else {
            if (built eq r) { r.unpersist(blocking = false); built = null }
            rdd
          }
        }
        SnapshotStore.probe(again, f)
    }
  }

  /** Unpersist the store if it was ever built; later lookups recompute. */
  def release(): Unit = synchronized {
    released = true
    if (built != null) built.unpersist(blocking = false)
  }
}

private[query] object SnapshotStore {

  /** The task of [[SnapshotStore.lookup]]. A named class, not a lambda:
    * `SparkContext.clean` returns at once for it, where for a lambda it
    * reads the capturing class's bytecode on every job — and the
    * `Iterator => U` overload of `runJob` wraps its function in a lambda
    * captured by `SparkContext` itself (a 200 KB class). */
  private[query] final class Probe[P, R: ClassTag](f: P => Array[R])
      extends ((TaskContext, Iterator[P]) => Array[R]) with Serializable {
    def apply(ctx: TaskContext, it: Iterator[P]): Array[R] =
      it.flatMap(p => f(p).iterator).toArray
  }

  /** One job of [[Probe]] over every partition of `r`. */
  private def probe[P, R: ClassTag](r: RDD[P], f: P => Array[R]): Array[R] = {
    val got = new Array[Array[R]](r.getNumPartitions)
    r.sparkContext.runJob(r, new Probe(f), 0 until got.length,
      (i: Int, part: Array[R]) => got(i) = part)
    got.flatten
  }

  /** Whether a job failed because a checkpointed partition's blocks are
    * gone (unpersisted, or lost with an executor). */
  private def lostBlocks(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists(t =>
      String.valueOf(t.getMessage).contains("CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"))

  /** One doc's serving row: the filter columns, the chunk line range
    * (1 / Long.MaxValue for whole-file docs) and the content. */
  final case class DocEntry(repo: String, path: String, lang: String,
                            ls: Int, le: Long, content: String)

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
