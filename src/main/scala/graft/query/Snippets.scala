package graft.query

/** Match-position + snippet extraction for result rows, replicating the
  * reference's observable behavior (reference:
  * services/tantivy_index_manager.py:680-911):
  *
  *   - literal find of the whole query (case per flag), fallback to the
  *     first word, then a fuzzy Ratcliff/Obershelp sliding-window fallback
  *     (>= 0.6 ratio) when edit_distance > 0
  *   - regex mode extracts the first regex match from the raw content
  *   - line/column are 1-indexed CHARACTER offsets (not bytes — the
  *     reference's Unicode contract, test_tantivy_search.py:319-349)
  *   - snippet = +-N lines around the match line; snippet_lines == 0 =>
  *     empty snippet but line/column still computed
  *
  * Presentation-layer code: runs once per final top-k row, never over the
  * corpus — per hit on the driver in the WAND pipeline
  * ([[FtsIndex.wandSearch]]), and as a Dataset map over the exhaustive
  * scorer's top-k rows. The work is split by what it depends on: a
  * [[QueryMatcher]] holds what depends only on the query (lowercased
  * needle and first word, the compiled regex) and is built once per
  * query; a [[TextView]] holds what depends only on the document (its
  * lowercased copy, its line starts) and is built once per row — the warm
  * cache keeps it with the row ([[SnapshotStore.DocEntry]]), so a repeat
  * hit on a document lowercases and splits nothing. The `String` entry
  * points below are thin wrappers over the two.
  */
object Snippets {

  final case class Match(start: Int, text: String)
  final case class Extracted(snippet: String, line: Int, column: Int,
                             snippetStartLine: Int)

  /** A document's text state for match finding and snippet extraction,
    * each part computed on first use and then kept: the lowercased copy
    * (only a case-insensitive literal or fuzzy match reads it) and the
    * offsets at which its '\n'-separated lines start. Safe to share
    * across threads: a racing first use computes the same value twice. */
  final class TextView(val content: String) {
    @volatile private var lowerC: String = null
    @volatile private var startsC: Array[Int] = null

    /** `content.toLowerCase`, the haystack of a case-insensitive match;
      * its offsets are used as offsets into `content`, as the reference
      * does. */
    def lower: String = {
      var s = lowerC
      if (s == null) { s = content.toLowerCase; lowerC = s }
      s
    }

    /** Start offset of each line of `content.split("\n", -1)`. */
    def lineStarts: Array[Int] = {
      var a = startsC
      if (a == null) {
        val b = Array.newBuilder[Int]
        b += 0
        var i = content.indexOf('\n')
        while (i >= 0) { b += i + 1; i = content.indexOf('\n', i + 1) }
        a = b.result()
        startsC = a
      }
      a
    }

    /** Snippet + 1-indexed line/column from a character offset
      * (reference: _extract_snippet, tantivy_index_manager.py:860-911).
      * An offset outside every line's characters — negative, past the
      * end, on a '\n' or inside an empty line — reports line 1, column
      * 1. */
    def extract(matchStart: Int, snippetLines: Int): Extracted = {
      val starts = lineStarts
      def lineEnd(i: Int): Int =
        if (i + 1 < starts.length) starts(i + 1) - 1 else content.length
      // the last line starting at or before matchStart
      var lo = 0
      var hi = starts.length - 1
      while (lo < hi) {
        val mid = (lo + hi + 1) >>> 1
        if (starts(mid) <= matchStart) lo = mid else hi = mid - 1
      }
      val (lineNumber, column) =
        if (matchStart >= 0 && matchStart < lineEnd(lo))
          (lo + 1, matchStart - starts(lo) + 1)
        else (1, 1)
      if (snippetLines == 0)
        return Extracted("", lineNumber, column, lineNumber)
      val li = lineNumber - 1
      val start = math.max(0, li - snippetLines)
      val end = math.min(starts.length, li + snippetLines + 1)
      val snippet =
        if (start >= end) "" else content.substring(starts(start), lineEnd(end - 1))
      Extracted(snippet, lineNumber, column, start + 1)
    }
  }

  /** One query's match state, built once per query and applied to every
    * hit: the needle and its first word, lowercased once unless the query
    * is case-sensitive, and in regex mode the pattern, compiled on first
    * use (so a query without hits compiles nothing, as before). */
  final class QueryMatcher(val text: String, caseSensitive: Boolean,
                           editDistance: Int, useRegex: Boolean) {
    private val needle = if (caseSensitive) text else text.toLowerCase
    private val firstWord = text.split("\\s+").headOption.getOrElse("")
    private val firstNeedle =
      if (caseSensitive) firstWord else firstWord.toLowerCase
    @volatile private var patternC: java.util.regex.Pattern = null

    private def pattern: java.util.regex.Pattern = {
      var p = patternC
      if (p == null) {
        p = java.util.regex.Pattern.compile(text,
          if (caseSensitive) 0 else java.util.regex.Pattern.CASE_INSENSITIVE)
        patternC = p
      }
      p
    }

    /** The query's first match in the document, None if nothing found
      * (the reference then falls back to line_start=1/column=1 and an
      * empty snippet). */
    def find(doc: TextView): Option[Match] =
      if (useRegex) findRegexMatch(doc.content, pattern)
      else {
        val hay = if (caseSensitive) doc.content else doc.lower
        val direct = hay.indexOf(needle)
        if (direct >= 0) Some(Match(direct, text))
        else {
          val at = if (firstWord.isEmpty) -1 else hay.indexOf(firstNeedle)
          if (at >= 0) Some(Match(at, firstWord))
          else if (editDistance > 0) fuzzyMatch(doc.content, hay, needle)
          else None
        }
      }
  }

  /** The matcher of a query's text and flags. */
  def matcher(q: FtsQuery): QueryMatcher =
    new QueryMatcher(q.text, q.caseSensitive, q.editDistance, q.useRegex)

  /** Locate the match for a non-regex query. Returns None if nothing found
    * (reference then falls back to line_start=1/column=1, empty snippet). */
  def findMatch(content: String, queryText: String, caseSensitive: Boolean,
                editDistance: Int): Option[Match] =
    new QueryMatcher(queryText, caseSensitive, editDistance, useRegex = false)
      .find(new TextView(content))

  /** Regex-mode match extraction (first match of the compiled pattern over
    * the raw content; reference: tantivy_index_manager.py:683-705). */
  def findRegexMatch(content: String, pattern: java.util.regex.Pattern): Option[Match] = {
    val m = pattern.matcher(content)
    if (m.find()) Some(Match(m.start(), m.group(0))) else None
  }

  /** Fuzzy fallback: best >= 0.6-ratio window of length 0.7x..1.3x of the
    * query (reference: _find_fuzzy_match, tantivy_index_manager.py:782-858).
    */
  def findFuzzyMatch(content: String, queryText: String,
                     caseSensitive: Boolean): Option[Match] =
    if (caseSensitive) fuzzyMatch(content, content, queryText)
    else fuzzyMatch(content, content.toLowerCase, queryText.toLowerCase)

  /** [[findFuzzyMatch]] over `hay` (`content`, lowercased unless the
    * query is case-sensitive) and the needle cased like it; the matched
    * text is taken from `content` at the window's offsets. */
  private def fuzzyMatch(content: String, hay: String,
                         needle: String): Option[Match] = {
    if (needle.trim.isEmpty) return None

    val (r1, s1, l1) = bestWindow(hay, needle)
    if (r1 >= 0.6 && s1 >= 0) return Some(Match(s1, content.substring(s1, s1 + l1)))
    val firstWord = needle.split("\\s+").headOption.getOrElse("")
    // a one-word needle is its own first word: a second pass would
    // recompute the same window
    if (firstWord.nonEmpty && firstWord != needle) {
      val (r2, s2, l2) = bestWindow(hay, firstWord)
      if (math.max(r1, r2) >= 0.6 && (if (r2 > r1) s2 else s1) >= 0) {
        val (s, l) = if (r2 > r1) (s2, l2) else (s1, l1)
        return Some(Match(s, content.substring(s, s + l)))
      }
    }
    None
  }

  /** (ratio, start, width) of the first best-ratio window of `hay` against
    * `q`: widths ascending, then starts ascending, strict improvement only.
    * A window is scored only when difflib's quick_ratio bound — 2 * the
    * characters q and the window share as multisets, over their summed
    * length — beats the best so far: matches never exceed that count, so
    * a skipped window could not have won. The shared count is kept as the
    * window slides. */
  private def bestWindow(hay: String, q: String): (Double, Int, Int) = {
    val qLen = q.length
    val minW = math.max(1, (qLen * 0.7).toInt)
    val maxW = (qLen * 1.3).toInt
    // slot(i): hay(i)'s index among q's distinct characters, -1 if absent
    val chars = q.distinct
    val need = new Array[Int](chars.length)
    q.foreach(c => need(chars.indexOf(c)) += 1)
    val slot = Array.tabulate(hay.length)(i => chars.indexOf(hay.charAt(i)))
    val have = new Array[Int](chars.length)
    var shared = 0
    def add(s: Int): Unit = if (s >= 0) {
      if (have(s) < need(s)) shared += 1
      have(s) += 1
    }
    def remove(s: Int): Unit = if (s >= 0) {
      have(s) -= 1
      if (have(s) < need(s)) shared -= 1
    }
    val m = new Matcher(maxW)
    var bestRatio = 0.0
    var bestStart = -1
    var bestLen = 0
    var w = minW
    while (w <= maxW) {
      val end = hay.length - w
      if (end >= 0) {
        java.util.Arrays.fill(have, 0)
        shared = 0
        var j = 0
        while (j < w) { add(slot(j)); j += 1 }
        var i = 0
        while (i <= end) {
          if (i > 0) { remove(slot(i - 1)); add(slot(i + w - 1)) }
          if (2.0 * shared / (qLen + w) > bestRatio) {
            val r = 2.0 * m.matches(q, 0, qLen, hay, i, i + w) / (qLen + w)
            if (r > bestRatio) { bestRatio = r; bestStart = i; bestLen = w }
          }
          i += 1
        }
      }
      w += 1
    }
    (bestRatio, bestStart, bestLen)
  }

  /** Ratcliff/Obershelp similarity, matching Python difflib
    * SequenceMatcher.ratio() for short strings (no autojunk below len 200,
    * which our windows never reach). */
  def ratio(a: String, b: String): Double = {
    if (a.isEmpty && b.isEmpty) return 1.0
    val matches = new Matcher(b.length).matches(a, 0, a.length, b, 0, b.length)
    2.0 * matches / (a.length + b.length)
  }

  /** difflib's matching-blocks recursion, summed: the longest common
    * substring of a[aLo,aHi) and b[bLo,bHi) (first by i, then by j, on
    * ties), plus the same on each side of it. Two reused rows replace
    * difflib's per-row j2len dicts: row(j - bLo) is the length of the
    * match ending at (i, j). Holds windows of b up to `capacity` long. */
  private final class Matcher(capacity: Int) {
    private var prev = new Array[Int](capacity)
    private var cur = new Array[Int](capacity)

    def matches(a: String, aLo: Int, aHi: Int,
                b: String, bLo: Int, bHi: Int): Int = {
      var bestI = aLo; var bestJ = bLo; var bestK = 0
      java.util.Arrays.fill(prev, 0, bHi - bLo, 0)
      var i = aLo
      while (i < aHi) {
        val c = a.charAt(i)
        var j = bLo
        while (j < bHi) {
          val jj = j - bLo
          if (c == b.charAt(j)) {
            val k = (if (jj > 0) prev(jj - 1) else 0) + 1
            cur(jj) = k
            if (k > bestK) { bestI = i - k + 1; bestJ = j - k + 1; bestK = k }
          } else cur(jj) = 0
          j += 1
        }
        val t = prev; prev = cur; cur = t
        i += 1
      }
      if (bestK == 0) 0
      else bestK +
        matches(a, aLo, bestI, b, bLo, bestJ) +
        matches(a, bestI + bestK, aHi, b, bestJ + bestK, bHi)
    }
  }

  /** Snippet + 1-indexed line/column from a character offset (reference:
    * _extract_snippet, tantivy_index_manager.py:860-911). */
  def extractSnippet(content: String, matchStart: Int,
                     snippetLines: Int): Extracted =
    new TextView(content).extract(matchStart, snippetLines)
}
