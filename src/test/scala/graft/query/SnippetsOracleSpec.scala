package graft.query

import scala.util.Try

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.corpus.Fixtures
import graft.index.FtsIndexBuilder

/** Differential check of the snippet path: the per-query matcher and the
  * per-row text view ([[Snippets.QueryMatcher]], [[Snippets.TextView]])
  * against a plain transcription of the per-hit code they replace — a
  * lowercase copy and a `split` of the whole document on every hit —
  * kept below as the oracle. Whole [[SearchResult]]s must be identical,
  * quirks included (an offset on a '\n' or inside an empty line reports
  * line 1, column 1). */
class SnippetsOracleSpec extends AnyFunSuite {

  private object Oracle {
    def findMatch(content: String, queryText: String, caseSensitive: Boolean,
                  editDistance: Int): Option[Snippets.Match] = {
      val hay = if (caseSensitive) content else content.toLowerCase
      val needle = if (caseSensitive) queryText else queryText.toLowerCase
      val direct = hay.indexOf(needle)
      if (direct >= 0) return Some(Snippets.Match(direct, queryText))
      val firstWord = queryText.split("\\s+").headOption.getOrElse("")
      if (firstWord.nonEmpty) {
        val fw = if (caseSensitive) firstWord else firstWord.toLowerCase
        val at = hay.indexOf(fw)
        if (at >= 0) return Some(Snippets.Match(at, firstWord))
      }
      if (editDistance > 0)
        Snippets.findFuzzyMatch(content, queryText, caseSensitive)
      else None
    }

    def findRegexMatch(content: String,
                       pattern: java.util.regex.Pattern): Option[Snippets.Match] = {
      val m = pattern.matcher(content)
      if (m.find()) Some(Snippets.Match(m.start(), m.group(0))) else None
    }

    def extractSnippet(content: String, matchStart: Int,
                       snippetLines: Int): Snippets.Extracted = {
      val lines = content.split("\n", -1)
      var lineNumber = 1
      var column = 1
      var pos = 0
      var idx = 0
      var found = false
      while (idx < lines.length && !found) {
        val len = lines(idx).length
        if (pos <= matchStart && matchStart < pos + len) {
          lineNumber = idx + 1
          column = matchStart - pos + 1
          found = true
        } else {
          pos += len + 1
          idx += 1
        }
      }
      if (snippetLines == 0)
        return Snippets.Extracted("", lineNumber, column, lineNumber)
      val li = lineNumber - 1
      val start = math.max(0, li - snippetLines)
      val end = math.min(lines.length, li + snippetLines + 1)
      Snippets.Extracted(lines.slice(start, end).mkString("\n"), lineNumber,
        column, start + 1)
    }

    def hitOf(q: FtsQuery, snippetLines: Int, docId: Long, repo: String,
              path: String, lang: String, content: String, ls: Int,
              score: Double): SearchResult = {
      val m =
        if (q.useRegex) {
          val flags =
            if (q.caseSensitive) 0 else java.util.regex.Pattern.CASE_INSENSITIVE
          findRegexMatch(content, java.util.regex.Pattern.compile(q.text, flags))
        } else findMatch(content, q.text, q.caseSensitive, q.editDistance)
      m match {
        case Some(mm) =>
          val e = extractSnippet(content, mm.start, snippetLines)
          SearchResult(docId, repo, path, e.line + ls - 1, e.column, mm.text,
            e.snippet, e.snippetStartLine + ls - 1, lang, score)
        case None =>
          SearchResult(docId, repo, path, ls, 1, q.text, "", ls, lang, score)
      }
    }
  }

  /** Same value, or both throw the same exception class. */
  private def run[T](f: => T): Either[String, T] =
    Try(f).fold(e => Left(e.getClass.getName), Right(_))

  private implicit class Inspect(s: String) {
    def inspect: String =
      "\"" + s.replace("\r", "\\r").replace("\n", "\\n") + "\""
  }

  private val rng = new scala.util.Random(20261021L)

  /** Pieces that stress line and case handling: empty and trailing lines,
    * CRLF, tabs, case mappings that change length or depend on context
    * (İ lowercases to two chars, ß uppercases to two, Σ to σ or ς) and a
    * surrogate pair. */
  private val pieces = Vector("a", "b", "ab", "AB", "Ab", "foo", "Foo",
    "bar", " ", "  ", "\t", "\n", "\n\n", "\r\n", "İ", "ß", "Σ", "σ", "ς",
    "\uD83D\uDE00", "x_y", "(", ".")

  private def content(): String =
    Seq.fill(rng.nextInt(40))(pieces(rng.nextInt(pieces.size))).mkString

  private def queryText(c: String): String = rng.nextInt(4) match {
    case 0 if c.nonEmpty => // a slice of the document, maybe re-cased
      val i = rng.nextInt(c.length)
      val s = c.substring(i, math.min(c.length, i + 1 + rng.nextInt(6)))
      if (rng.nextBoolean()) s.toUpperCase else s
    case 1 => Seq.fill(1 + rng.nextInt(3))(
      pieces(rng.nextInt(pieces.size)).trim).mkString(" ")
    case 2 => pieces(rng.nextInt(pieces.size))
    case _ => Seq("foo bar", "AB b", " foo", "İ", "ss", "σ", "zzz")(
      rng.nextInt(7))
  }

  test("extractSnippet over every offset from -1 to length, snippetLines " +
       "0-6: identical to the oracle") {
    var checked = 0
    for (_ <- 0 until 400) {
      val c = content()
      for (off <- -1 to c.length; sl <- 0 to 6) {
        assert(Snippets.extractSnippet(c, off, sl) ===
          Oracle.extractSnippet(c, off, sl), s"offset $off lines $sl in ${c.inspect}")
        checked += 1
      }
    }
    assert(checked > 20000)
  }

  test("random documents x random queries: whole SearchResults of the " +
       "matcher and text view equal the oracle's") {
    var matched = 0
    for (i <- 0 until 3000) {
      val c = content()
      val regex = rng.nextInt(6) == 0
      val q = FtsQuery(
        if (regex) Seq("a.", "[bB]+", "\\s", "foo|bar", "İ|ß", "^", "$")(
          rng.nextInt(7))
        else queryText(c),
        caseSensitive = rng.nextBoolean(),
        editDistance = if (regex) 0 else rng.nextInt(3),
        useRegex = regex)
      val sl = rng.nextInt(7)
      val ls = if (rng.nextBoolean()) 1 else 1 + rng.nextInt(50)
      val m = Snippets.matcher(q)
      val view = new Snippets.TextView(c)
      // twice over one view: the cached lowercase copy and line starts
      // must give what the first, building call gave
      for (_ <- 0 until 2) {
        val got = run(FtsIndex.hitOf(m, sl, i, "r", "p", "py", view, ls, 1.5))
        val want = run(Oracle.hitOf(q, sl, i, "r", "p", "py", c, ls, 1.5))
        assert(got === want, s"$q lines $sl ls $ls over ${c.inspect}")
        if (want.exists(_.snippet.nonEmpty)) matched += 1
      }
      assert(run(Snippets.findMatch(c, q.text, q.caseSensitive,
        q.editDistance)) === run(Oracle.findMatch(c, q.text, q.caseSensitive,
        q.editDistance)), s"findMatch $q over ${c.inspect}")
    }
    assert(matched > 1000, s"only $matched hits had a snippet")
  }

  test("fixture files x their own words: identical SearchResults, both " +
       "case flags, chunk line offsets") {
    val docs = Fixtures.corpusA ++ Fixtures.corpusLang ++ Fixtures.corpusB :+
      Fixtures.unicodeDoc
    var checked = 0
    docs.foreach { d =>
      val words = d.content.split("[^\\p{L}\\p{N}_]+").filter(_.nonEmpty)
      val view = new Snippets.TextView(d.content)
      rng.shuffle(words.toSeq).take(8).foreach { w =>
        Seq(w, w.toUpperCase, s"$w ${words(rng.nextInt(words.length))}",
            w.drop(1) + "x").foreach { t =>
          Seq(true, false).foreach { cs =>
            val q = FtsQuery(t, caseSensitive = cs, editDistance = rng.nextInt(2))
            val sl = rng.nextInt(7)
            val ls = 1 + rng.nextInt(3) * 40
            assert(FtsIndex.hitOf(Snippets.matcher(q), sl, 7L, d.repo, d.path,
              d.lang, view, ls, 2.0) ===
              Oracle.hitOf(q, sl, 7L, d.repo, d.path, d.lang, d.content, ls, 2.0),
              s"$q in ${d.path}")
            checked += 1
          }
        }
      }
    }
    assert(checked > 200)
  }

  test("a repeat warm hit reuses the row's text view") {
    val spark = TestSpark.spark
    val root = TestSpark.tempDir("textview")
    FtsIndexBuilder.build(spark, TestSpark.docsDf(Fixtures.corpusA), root,
      FtsIndexBuilder.Config(nShards = 2, segmentPartitions = 4))
    val idx = new FtsIndex(spark, root).warm()
    val cache = new FtsQueryCache(idx)
    val q = FtsQuery("authenticate", limit = 3)
    val first = cache.search(q)
    assert(first.nonEmpty && first.forall(_.snippet.nonEmpty))
    val views = first.map(r => cache.fullRow(r.doc_id).get.text)
    val lowers = views.map(_.lower)
    assert(cache.search(q) === first)
    first.zip(views).zip(lowers).foreach { case ((r, v), l) =>
      val again = cache.fullRow(r.doc_id).get.text
      assert(again eq v, s"text view of doc ${r.doc_id}")
      assert(again.lower eq l, s"lowercase copy of doc ${r.doc_id}")
    }
    idx.cool()
  }
}
