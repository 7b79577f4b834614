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
  * Presentation-layer code: runs as a Dataset map over the final top-k
  * rows only, never over the corpus.
  */
object Snippets {

  final case class Match(start: Int, text: String)
  final case class Extracted(snippet: String, line: Int, column: Int,
                             snippetStartLine: Int)

  /** Locate the match for a non-regex query. Returns None if nothing found
    * (reference then falls back to line_start=1/column=1, empty snippet). */
  def findMatch(content: String, queryText: String, caseSensitive: Boolean,
                editDistance: Int): Option[Match] = {
    val hay = if (caseSensitive) content else content.toLowerCase
    val needle = if (caseSensitive) queryText else queryText.toLowerCase
    val direct = hay.indexOf(needle)
    if (direct >= 0) return Some(Match(direct, queryText))
    val firstWord = queryText.split("\\s+").headOption.getOrElse("")
    if (firstWord.nonEmpty) {
      val fw = if (caseSensitive) firstWord else firstWord.toLowerCase
      val at = hay.indexOf(fw)
      if (at >= 0) return Some(Match(at, firstWord))
    }
    if (editDistance > 0) findFuzzyMatch(content, queryText, caseSensitive)
    else None
  }

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
                     caseSensitive: Boolean): Option[Match] = {
    val hay = if (caseSensitive) content else content.toLowerCase
    val needle = if (caseSensitive) queryText else queryText.toLowerCase
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
                     snippetLines: Int): Extracted = {
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
      return Extracted("", lineNumber, column, lineNumber)
    val li = lineNumber - 1
    val start = math.max(0, li - snippetLines)
    val end = math.min(lines.length, li + snippetLines + 1)
    Extracted(lines.slice(start, end).mkString("\n"), lineNumber, column,
      start + 1)
  }
}
