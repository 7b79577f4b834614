package graft.query

import org.apache.spark.sql.DataFrame

import graft.functions.Distance
import graft.query.FtsIndex.{FieldQ, FuzzyQ, RegexQ, TermQ}

/** A snapshot's one term dictionary, held on the driver: per field, the
  * sorted runs that the partitions of one read over the base and every
  * delta `dict` dir built, kept as they arrived (never merged across
  * partitions). A (field, term) has one row per layer that holds it, so
  * it can sit in several runs: its df is the sum over the runs (a
  * Tantivy searcher likewise sums doc_freq over its segments). A df
  * lookup or a fuzzy/regex expansion is a walk of these arrays in the
  * serving process, the reference's in-process term-dictionary walk
  * (SURVEY.md §2.4), never a Spark job. */
private[query] final class TermDict(
    byField: Map[String, Array[TermDict.Run]]) {

  /** The term's df summed over the layers; 0 when no layer has it. */
  def df(field: String, term: String): Long = {
    val runs = byField.getOrElse(field, TermDict.NoRuns)
    var d = 0L
    var i = 0
    while (i < runs.length) { d += runs(i).df(term); i += 1 }
    d
  }

  /** The field's cf total over all layers; None when no layer indexed
    * the field. */
  def cf(field: String): Option[Long] = byField.get(field).map(_.map(_.cf).sum)

  /** The field's distinct terms matching a fuzzy or regex alternative,
    * sorted: length band and character-class bitmap prefilters (every
    * edit adds at most one class the word lacks, a transposition none)
    * before the bounded Damerau distance; regex is a full match. */
  def expand(a: FieldQ): Seq[TermQ] = {
    val hit: (TermDict.Run, Int) => Boolean = a match {
      case FuzzyQ(_, w, d) =>
        val notW = ~Distance.charMask(w)
        (r, i) => {
          val t = r.terms(i)
          math.abs(t.length - w.length) <= d &&
            java.lang.Long.bitCount(r.cmasks(i) & notW) <= d &&
            Distance.damerauBounded(t, w, d) <= d
        }
      case RegexQ(_, pat) =>
        val m = java.util.regex.Pattern.compile(s"^(?:$pat)$$").matcher("")
        (r, i) => m.reset(r.terms(i)).matches()
      case _ => return Nil
    }
    val out = scala.collection.mutable.TreeSet.empty[String]
    byField.getOrElse(a.field, TermDict.NoRuns).foreach { r =>
      var i = 0
      while (i < r.terms.length) {
        if (hit(r, i)) out += r.terms(i)
        i += 1
      }
    }
    out.iterator.map(TermQ(a.field, _)).toSeq
  }
}

private[query] object TermDict {

  private val NoRuns = Array.empty[Run]

  /** One partition's slice of one field, sorted by term, each term once
    * (a partition can pack a base and a delta file, so equal neighbours
    * are summed). `cmasks(i)` is term i's character-class bitmap
    * ([[Distance.charMask]]); `cf` is the slice's cf total. */
  final class Run(val terms: Array[String], val dfs: Array[Long],
                  val cmasks: Array[Long], val cf: Long) extends Serializable {
    def df(term: String): Long = {
      val i = java.util.Arrays.binarySearch(
        terms.asInstanceOf[Array[AnyRef]], term)
      if (i >= 0) dfs(i) else 0L
    }
  }

  /** The runs of a read over every layer's `dict` dir, with the
    * [[graft.index.FtsSchema.DictRow]] schema given: one job, the one
    * read of the dictionary that serving makes. */
  def collect(dict: DataFrame): TermDict =
    new TermDict(dict.rdd.mapPartitions { rows =>
      val byField = scala.collection.mutable.HashMap.empty[String,
        scala.collection.mutable.ArrayBuffer[(String, Long, Long)]]
      rows.foreach { r =>
        byField.getOrElseUpdate(r.getString(0),
          scala.collection.mutable.ArrayBuffer.empty) +=
          ((r.getString(1), r.getLong(2), r.getLong(3)))
      }
      byField.iterator.map { case (f, buf) => f -> runOf(buf.sortBy(_._1)) }
    }.collect().groupBy(_._1).map { case (f, rs) => f -> rs.map(_._2) })

  /** A run over (term, df, cf) rows sorted by term. */
  private def runOf(rows: Iterable[(String, Long, Long)]): Run = {
    val terms = scala.collection.mutable.ArrayBuffer.empty[String]
    val dfs = scala.collection.mutable.ArrayBuffer.empty[Long]
    var cf = 0L
    rows.foreach { case (t, d, c) =>
      if (terms.nonEmpty && terms.last == t) dfs(dfs.length - 1) += d
      else { terms += t; dfs += d }
      cf += c
    }
    new Run(terms.toArray, dfs.toArray, terms.iterator.map(Distance.charMask)
      .toArray, cf)
  }
}
