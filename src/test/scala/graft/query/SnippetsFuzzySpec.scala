package graft.query

import scala.util.Try

import org.scalatest.funsuite.AnyFunSuite

import graft.corpus.Fixtures

/** Differential check of the fuzzy snippet locator: [[Snippets]] against
  * a plain transcription of difflib's matcher (immutable per-row maps,
  * every window scored, both passes always run), kept below as the
  * oracle. Positions and matched text must be identical, ties included. */
class SnippetsFuzzySpec extends AnyFunSuite {

  private object Oracle {
    def findFuzzyMatch(content: String, queryText: String,
                       caseSensitive: Boolean): Option[Snippets.Match] = {
      val hay = if (caseSensitive) content else content.toLowerCase
      val needle = if (caseSensitive) queryText else queryText.toLowerCase
      if (needle.trim.isEmpty) return None

      def bestWindow(q: String): (Double, Int, Int) = {
        val qLen = q.length
        val minW = math.max(1, (qLen * 0.7).toInt)
        val maxW = (qLen * 1.3).toInt
        var bestRatio = 0.0
        var bestStart = -1
        var bestLen = 0
        var w = minW
        while (w <= maxW) {
          var i = 0
          val end = hay.length - w
          while (i <= end) {
            val r = ratio(q, hay.substring(i, i + w))
            if (r > bestRatio) { bestRatio = r; bestStart = i; bestLen = w }
            i += 1
          }
          w += 1
        }
        (bestRatio, bestStart, bestLen)
      }

      val (r1, s1, l1) = bestWindow(needle)
      if (r1 >= 0.6 && s1 >= 0)
        return Some(Snippets.Match(s1, content.substring(s1, s1 + l1)))
      val firstWord = needle.split("\\s+").headOption.getOrElse("")
      if (firstWord.nonEmpty) {
        val (r2, s2, l2) = bestWindow(firstWord)
        if (math.max(r1, r2) >= 0.6 && (if (r2 > r1) s2 else s1) >= 0) {
          val (s, l) = if (r2 > r1) (s2, l2) else (s1, l1)
          return Some(Snippets.Match(s, content.substring(s, s + l)))
        }
      }
      None
    }

    def ratio(a: String, b: String): Double = {
      if (a.isEmpty && b.isEmpty) return 1.0
      val matches = matchingBlocks(a, 0, a.length, b, 0, b.length)
      2.0 * matches / (a.length + b.length)
    }

    private def matchingBlocks(a: String, aLo: Int, aHi: Int,
                               b: String, bLo: Int, bHi: Int): Int = {
      var bestI = aLo; var bestJ = bLo; var bestK = 0
      var j2len = Map.empty[Int, Int]
      var i = aLo
      while (i < aHi) {
        var newJ2len = Map.empty[Int, Int]
        var j = bLo
        while (j < bHi) {
          if (a.charAt(i) == b.charAt(j)) {
            val k = j2len.getOrElse(j - 1, 0) + 1
            newJ2len += (j -> k)
            if (k > bestK) { bestI = i - k + 1; bestJ = j - k + 1; bestK = k }
          }
          j += 1
        }
        j2len = newJ2len
        i += 1
      }
      if (bestK == 0) 0
      else bestK +
        matchingBlocks(a, aLo, bestI, b, bLo, bestJ) +
        matchingBlocks(a, bestI + bestK, aHi, b, bestJ + bestK, bHi)
    }
  }

  /** Same result, or both throw the same exception class. */
  private def assertSameFuzzy(content: String, query: String,
                              cs: Boolean): Unit = {
    def run(f: => Option[Snippets.Match]) =
      Try(f).fold(e => Left(e.getClass.getName), Right(_))
    assert(run(Snippets.findFuzzyMatch(content, query, cs)) ===
      run(Oracle.findFuzzyMatch(content, query, cs)),
      s"query ${query.inspect} caseSensitive=$cs over ${content.inspect}")
  }

  private implicit class Inspect(s: String) {
    def inspect: String = "\"" + s.replace("\n", "\\n") + "\""
  }

  test("seeded random strings over a small alphabet: ratio and the fuzzy " +
       "window equal the oracle, ties included") {
    val rng = new scala.util.Random(20261019L)
    def str(alphabet: String, n: Int) =
      Seq.fill(n)(alphabet(rng.nextInt(alphabet.length))).mkString
    for (_ <- 0 until 3000) {
      val a = str("abcA", rng.nextInt(14))
      val b = str("abcA", rng.nextInt(14))
      assert(Snippets.ratio(a, b) === Oracle.ratio(a, b), s"ratio($a, $b)")
    }
    for (_ <- 0 until 4000) {
      val content = str("abcdA \n", rng.nextInt(90))
      val query = str("abcdA ", 1 + rng.nextInt(9))
      assertSameFuzzy(content, query, rng.nextBoolean())
    }
  }

  test("every fixture file with typo'd words: the fuzzy match equals " +
       "the oracle") {
    val rng = new scala.util.Random(7L)
    def typo(w: String): String = {
      val i = rng.nextInt(w.length)
      rng.nextInt(3) match {
        case 0 => w.patch(i, "", 1)                       // deletion
        case 1 if i + 1 < w.length =>                     // transposition
          w.patch(i, s"${w(i + 1)}${w(i)}", 2)
        case _ => w.patch(i, "x", 1)                      // substitution
      }
    }
    val docs = Fixtures.corpusA ++ Fixtures.corpusLang ++ Fixtures.corpusB :+
      Fixtures.unicodeDoc
    var checked = 0
    docs.foreach { d =>
      val words = d.content.split("[^\\p{L}\\p{N}_]+").filter(_.length >= 3)
      val picks = rng.shuffle(words.toSeq).take(10)
      picks.foreach { w =>
        val t = typo(w)
        val pair = words((words.indexOf(w) + 1) % words.length)
        Seq(t, t.toUpperCase, s"$t ${typo(pair)}").foreach { q =>
          Seq(true, false).foreach { cs =>
            assertSameFuzzy(d.content, q, cs)
            checked += 1
          }
        }
      }
    }
    assert(checked > 200)
  }
}
