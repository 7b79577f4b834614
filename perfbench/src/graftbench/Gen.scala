package graftbench

import java.util.SplittableRandom

import scala.collection.mutable

import graft.query.FtsQuery

/** One generated source file, in the engine's ingest shape. */
final case class SrcFile(repo: String, path: String, commit: String,
                         lang: String, content: String)

/** A generated query plus the shape label the metrics group by. Queries of
  * shape [[Gen.Routed]] are the ones the warm cache's documented contract
  * sends to the cluster (filtered and limit = 0). */
final case class QSpec(q: FtsQuery, shape: String)

/** Seeded synthetic code corpus and query streams. Everything the engine
  * receives is derived from `seed` through [[SplittableRandom]], so one
  * seed always yields byte-identical files and queries.
  *
  * Corpus properties:
  *   - a Zipf(1.05) vocabulary whose size grows as 25 * files^0.8
  *     (Heaps' law), of pronounceable lowercase words whose length is set
  *     by their rank (frequent words are short), so token lengths do not
  *     vary with the seed;
  *   - def/class/function lines with snake_case and camelCase
  *     identifiers built from the vocabulary, comment lines of prose,
  *     statement lines, and per-language keywords (stopword-grade df);
  *   - log-normal file lengths in lines (median 32, sigma 0.7, at most
  *     300), stratified: every seed deals the same multiset of lengths
  *     to its files, so corpus size does not vary with the seed;
  *   - 5 languages, 8 repos, nested directory paths.
  */
final class Gen(val seed: Long, val nFiles: Int) {
  import Gen._

  private val rnd = new SplittableRandom(seed)

  val vocab: Array[String] = {
    val n = math.max(2000, (25 * math.pow(nFiles, 0.8)).toInt)
    val seen = mutable.HashSet.empty[String]
    val out = new Array[String](n)
    var i = 0
    while (i < n) {
      val w = word(rnd, i)
      if (!seen(w) && !Reserved(w)) { seen += w; out(i) = w; i += 1 }
    }
    out
  }

  private val zipf = new Zipf(vocab.length, 1.05)
  private def pick(r: SplittableRandom): String = vocab(zipf.sample(r))

  /** A few (file index) occurrences per vocabulary rank — the co-occurrence
    * source multi-term and phrase queries draw from, so they match. */
  private val occ = Array.fill(vocab.length)(mutable.ArrayBuffer.empty[Int])
  /** snake_case identifiers per file (identifier-phrase queries). */
  private val snakeIds = Array.fill(nFiles)(mutable.ArrayBuffer.empty[String])
  /** camelCase identifiers per file (case-sensitive queries). */
  private val camelIds = Array.fill(nFiles)(mutable.ArrayBuffer.empty[String])
  private val rankOf: Map[String, Int] = vocab.zipWithIndex.toMap

  private val lineCounts: Array[Int] = {
    val fixed = new SplittableRandom(0x1e5L)
    val ls = Array.fill(nFiles)(math.min(300, math.max(3,
      math.exp(math.log(32) + 0.7 * gauss(fixed)).toInt)))
    shuffle(ls, rnd)
    ls
  }

  val files: Array[SrcFile] = Array.tabulate(nFiles)(file)

  private def note(fi: Int, w: String): Unit = {
    val o = occ(rankOf(w))
    if (o.size < 4 && (o.isEmpty || o.last != fi)) o += fi
  }

  private def snake(r: SplittableRandom, fi: Int): String = {
    val ws = Seq.fill(2 + r.nextInt(2))(pick(r))
    ws.foreach(note(fi, _))
    val s = ws.mkString("_")
    if (snakeIds(fi).size < 8) snakeIds(fi) += s
    s
  }

  private def camel(r: SplittableRandom, fi: Int, upper: Boolean): String = {
    val ws = Seq.fill(2 + r.nextInt(2))(pick(r))
    ws.foreach(note(fi, _))
    val c = ws.map(_.capitalize).mkString
    val s = if (upper) c else c.head.toLower + c.tail
    if (camelIds(fi).size < 8) camelIds(fi) += s
    s
  }

  private def prose(r: SplittableRandom, fi: Int, n: Int): String = {
    val ws = Seq.fill(n)(pick(r))
    ws.foreach(note(fi, _))
    ws.mkString(" ")
  }

  private def file(fi: Int): SrcFile = {
    val r = rnd.split()
    val li = r.nextInt(Langs.length)
    val lang = Langs(li)
    val repo = f"repo_${r.nextInt(8)}%d"
    val depth = 1 + r.nextInt(3)
    val dirs = Seq.fill(depth)(vocab(r.nextInt(math.min(200, vocab.length))))
    val path = ("src" +: dirs :+ s"${snake(r, fi)}_$fi.$lang").mkString("/")
    val commit = f"${r.nextLong()}%016x${r.nextLong()}%016x${r.nextInt()}%08x"
    val lines = lineCounts(fi)
    val sb = new StringBuilder
    var i = 0
    while (i < lines) {
      sb.append(line(r, fi, li, i)).append('\n')
      i += 1
    }
    SrcFile(repo, path, commit, lang, sb.toString)
  }

  private def line(r: SplittableRandom, fi: Int, li: Int, i: Int): String = {
    val c = Comment(li)
    if (i == 0) return s"$c ${prose(r, fi, 4 + r.nextInt(8))}"
    r.nextInt(10) match {
      case 0 => li match {
        case 0 => s"def ${snake(r, fi)}(${snake(r, fi)}, ${pick(r)}):"
        case 1 => s"function ${camel(r, fi, upper = false)}(${pick(r)}) {"
        case 2 => s"  public void ${camel(r, fi, upper = false)}(int ${pick(r)}) {"
        case 3 => s"func ${camel(r, fi, upper = false)}(${pick(r)} int) error {"
        case _ => s"fn ${snake(r, fi)}(${pick(r)}: u32) -> u32 {"
      }
      case 1 => li match {
        case 0 => s"class ${camel(r, fi, upper = true)}:"
        case 2 => s"public class ${camel(r, fi, upper = true)} {"
        case 3 => s"type ${camel(r, fi, upper = true)} struct {"
        case 4 => s"struct ${camel(r, fi, upper = true)} {"
        case _ => s"class ${camel(r, fi, upper = true)} {"
      }
      case 2 | 3 => s"    $c ${prose(r, fi, 3 + r.nextInt(9))}"
      case 4 => s"    return ${snake(r, fi)}"
      case _ =>
        val lhs = if (li == 0 || li == 4) snake(r, fi) else camel(r, fi, upper = false)
        val fn = if (r.nextBoolean()) snake(r, fi) else camel(r, fi, upper = false)
        s"    $lhs = $fn(${pick(r)}, ${pick(r)})"
    }
  }

  def inputBytes: Long = files.iterator.map(_.content.getBytes("UTF-8").length.toLong).sum

  // ---- queries ----------------------------------------------------------

  /** Seeded permutation of vocabulary ranks: query popularity is Zipf over
    * this order, independent of corpus frequency, so popular queries land
    * in every df band. */
  private val popOrder: Array[Int] = {
    val a = Array.tabulate(vocab.length)(identity)
    shuffle(a, new SplittableRandom(seed ^ 0x5eed))
    a
  }

  /** The `j`-th of `nj` ranks drawn from a df band of the vocabulary
    * (head, mid, tail), stratified: one draw per equal slice of the band,
    * so every seed's picks spread over the band alike. */
  private def bandRank(r: SplittableRandom, band: Int, j: Int, nj: Int): Int = {
    val (lo, hi) = band match {
      case 0 => (5, 5 + math.min(100, vocab.length / 4))
      case 1 => (100, math.max(101, math.min(2000, vocab.length / 2)))
      case _ => (2000, math.max(2001, vocab.length))
    }
    lo + ((j + r.nextDouble()) * (hi - lo) / nj).toInt
  }

  private def occurring(rank: Int): Boolean = occ(rank).nonEmpty

  /** A query of `shape` around vocabulary rank `rank`. */
  def query(r: SplittableRandom, rank: Int, shape0: String): QSpec = {
    val w = vocab(rank)
    val o = occ(rank)
    val doc = if (o.isEmpty) -1 else o(r.nextInt(o.size))
    def coWord: String = {
      if (doc < 0) return pick(r)
      val toks = files(doc).content.split("[^A-Za-z0-9]+")
        .map(_.toLowerCase(java.util.Locale.ROOT)).filter(t => t.length > 2 && t != w)
      if (toks.isEmpty) pick(r) else toks(r.nextInt(toks.length))
    }
    // fuzzy and regex need long enough words to stay selective
    val minLen = Map(Fuzzy1 -> 5, Fuzzy2 -> 7, Regex -> 6).getOrElse(shape0, 0)
    val shape = if (w.length < minLen) Exact else shape0
    val q = shape match {
      case Exact => FtsQuery(w)
      case Multi => FtsQuery(s"$w $coWord")
      case Phrase =>
        val ids = if (doc < 0) mutable.ArrayBuffer.empty[String] else snakeIds(doc)
        FtsQuery(if (ids.isEmpty) s"${w}_$coWord" else ids(r.nextInt(ids.size)))
      case Fuzzy1 => FtsQuery(typo(r, w, 1), editDistance = 1)
      case Fuzzy2 => FtsQuery(typo(r, w, 2), editDistance = 2)
      case Regex => FtsQuery(w.take(5) + "[a-z]*", useRegex = true)
      case Lang =>
        FtsQuery(w, languages = Seq(if (doc < 0) Langs(0) else files(doc).lang))
      case PathF =>
        val p = if (doc < 0) "src/" + vocab(0) else files(doc).path.split('/').take(2).mkString("/")
        FtsQuery(w, pathFilters = Seq(p))
      case Case =>
        val ids = if (doc < 0) mutable.ArrayBuffer.empty[String] else camelIds(doc)
        FtsQuery(if (ids.isEmpty) w else ids(r.nextInt(ids.size)), caseSensitive = true)
      case LimitAll => FtsQuery(w, limit = 0)
      case Routed =>
        FtsQuery(w, limit = 0, languages = Seq(if (doc < 0) Langs(0) else files(doc).lang))
    }
    QSpec(q, shape)
  }

  /** `n` queries at seeded ranks across the three df bands, of the
    * [[HotShapes]]: a set whose touched terms and docs fit the cache
    * budgets. */
  def hotSet(n: Int): Array[QSpec] = {
    val r = new SplittableRandom(seed ^ 0x407)
    val perBand = (n + 2) / 3
    Array.tabulate(n) { i =>
      val band = i % 3
      var rank = bandRank(r, band, i / 3, perBand)
      while (!occurring(rank)) rank = bandRank(r, band, i / 3, perBand)
      query(r, rank, HotShapes(i % HotShapes.length))
    }
  }

  /** A query stream with Zipf(s) popularity over the whole vocabulary.
    * Shapes follow `mix` by smooth weighted round-robin, the same order for
    * every seed, so any prefix a run reaches holds each shape in its share
    * (a few slow shapes more or less would move a short run's figures). */
  def stream(n: Int, s: Double, mix: Seq[(String, Int)], salt: Long): Array[QSpec] = {
    val r = new SplittableRandom(seed ^ salt)
    val pop = new Zipf(vocab.length, s)
    val total = mix.map(_._2).sum
    val credit = new Array[Int](mix.length)
    Array.fill(n) {
      var rank = popOrder(pop.sample(r))
      while (!occurring(rank)) rank = popOrder(pop.sample(r))
      mix.indices.foreach(i => credit(i) += mix(i)._2)
      val k = credit.indices.maxBy(credit(_))
      credit(k) -= total
      query(r, rank, mix(k)._1)
    }
  }
}

object Gen {
  val Langs: Array[String] = Array("py", "js", "java", "go", "rs")
  private val Comment = Array("#", "//", "//", "//", "//")
  private val Reserved = Set("def", "class", "function", "public", "void",
    "int", "func", "error", "type", "struct", "fn", "return")

  val Exact = "exact"; val Multi = "multi"; val Phrase = "phrase"
  val Fuzzy1 = "fuzzy1"; val Fuzzy2 = "fuzzy2"; val Regex = "regex"
  val Lang = "lang"; val PathF = "path"; val Case = "case"
  val LimitAll = "limit0"; val Routed = "routed"

  /** Shapes of the hot set. Fuzzy is left to the long-tail stream: its
    * snippet matching on the warm path costs 20-100 ms per query depending on
    * the matched files, so a handful of fuzzy queries would set the hot
    * set's mean latency on their own. */
  val HotShapes: Array[String] =
    Array(Exact, Multi, Phrase, Exact, Multi, Regex, Lang, PathF, Case, LimitAll)

  private val Onsets = "bcdfghklmnprstvwz"
  private val Vowels = "aeiou"
  private val Codas = "nrstlx"

  /** A word of consonant-vowel syllables; its length depends on the rank
    * only: 2 syllables up to rank 30, 3 up to 600, 4 beyond, and every
    * third rank ends in a consonant. */
  private def word(r: SplittableRandom, rank: Int): String = {
    val n = if (rank < 30) 2 else if (rank < 600) 3 else 4
    val sb = new StringBuilder
    var i = 0
    while (i < n) {
      sb.append(Onsets.charAt(r.nextInt(Onsets.length)))
        .append(Vowels.charAt(r.nextInt(Vowels.length)))
      i += 1
    }
    if (rank % 3 == 0) sb.append(Codas.charAt(r.nextInt(Codas.length)))
    sb.toString
  }

  private def shuffle(a: Array[Int], r: SplittableRandom): Unit = {
    var i = a.length - 1
    while (i > 0) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
  }

  private def gauss(r: SplittableRandom): Double = {
    // Box-Muller (SplittableRandom has no nextGaussian)
    val u = 1.0 - r.nextDouble()
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  /** `d` single-letter substitutions at distinct positions. */
  private def typo(r: SplittableRandom, w: String, d: Int): String = {
    val cs = w.toCharArray
    val pos = r.ints(0, cs.length).distinct().limit(math.min(d, cs.length).toLong).toArray
    pos.foreach { p =>
      var c = ('a' + r.nextInt(26)).toChar
      while (c == cs(p)) c = ('a' + r.nextInt(26)).toChar
      cs(p) = c
    }
    new String(cs)
  }

  /** Zipf sampler over ranks 0 until n by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val a = new Array[Double](n)
      var acc = 0.0
      var i = 0
      while (i < n) { acc += 1.0 / math.pow(i + 1, s); a(i) = acc; i += 1 }
      i = 0
      while (i < n) { a(i) /= acc; i += 1 }
      a
    }
    def sample(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }
}
