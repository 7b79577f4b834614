package graft.query

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame

import graft.functions.Distance
import graft.query.FtsIndex.{FieldQ, FuzzyQ, RegexQ, TermQ}

/** A snapshot's term dictionary, held on the driver: per field, the sorted
  * runs that the dictionary relation's partitions built, kept as they
  * arrived (never merged or re-sorted — a (field, term) lives in exactly
  * one partition, so a df is a binary search per run). A df lookup or a
  * fuzzy/regex expansion is a walk of these arrays in the serving process,
  * the reference's in-process term-dictionary walk (SURVEY.md §2.4), never
  * a Spark job. */
private[query] final class TermDict(
    byField: Map[String, Array[TermDict.Run]]) {

  /** The term's df; 0 when the dictionary lacks it. */
  def df(field: String, term: String): Long = {
    val runs = byField.getOrElse(field, TermDict.NoRuns)
    var i = 0
    while (i < runs.length) {
      val d = runs(i).df(term)
      if (d > 0L) return d
      i += 1
    }
    0L
  }

  /** The field's terms matching a fuzzy or regex alternative, sorted:
    * length band and character-class bitmap prefilters (every edit adds
    * at most one class the word lacks, a transposition none) before the
    * bounded Damerau distance; regex is a full match. */
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
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    byField.getOrElse(a.field, TermDict.NoRuns).foreach { r =>
      var i = 0
      while (i < r.terms.length) {
        if (hit(r, i)) out += r.terms(i)
        i += 1
      }
    }
    out.sorted.map(TermQ(a.field, _)).toSeq
  }
}

private[query] object TermDict {

  private val NoRuns = Array.empty[Run]

  /** One partition's slice of one field, sorted by term. `cmasks(i)` is
    * term i's character-class bitmap ([[Distance.charMask]]), recomputed
    * where the stored `cmask` column is null or absent, so the prefilter
    * always applies. */
  final class Run(val terms: Array[String], val dfs: Array[Long],
                  val cmasks: Array[Long]) extends Serializable {
    def df(term: String): Long = {
      val i = java.util.Arrays.binarySearch(
        terms.asInstanceOf[Array[AnyRef]], term)
      if (i >= 0) dfs(i) else 0L
    }
  }

  /** The dictionary's runs collected to the driver: one job, which also
    * fills the relation's columnar cache when it is persisted. */
  def collect(dict: DataFrame): TermDict =
    new TermDict(runs(dict).collect().toSeq.flatten.groupBy(_._1)
      .map { case (f, rs) => f -> rs.map(_._2).toArray })

  /** Each partition's terms, by field, sorted on the executors. */
  private def runs(dict: DataFrame): RDD[Map[String, Run]] = {
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
        f -> new Run(s.map(_._1).toArray, s.map(_._2).toArray,
          s.map(_._3).toArray)
      }.toMap)
    }, preservesPartitioning = true)
  }
}
