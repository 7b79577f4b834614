package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.util.WeightedLru

/** The weight-bounded LRU backing the aligned-phrase-block and ANN cell
  * caches: eviction is by TOTAL WEIGHT (byte estimate), eldest-accessed
  * first, and the just-inserted entry is never evicted —
  * the property that bounds driver retention under sustained varied
  * phrase traffic where an entry-count cap would not. */
class WeightedLruSpec extends AnyFunSuite {

  private def v(n: Int): String = "x" * n
  // overhead 0 isolates the payload-weight eviction contract; the
  // default per-entry floor has its own tests below
  private def make(budget: Long) =
    new WeightedLru[String, String](budget, _.length.toLong,
      entryOverhead = 0L)

  test("evicts eldest entries until total weight fits the budget") {
    val lru = make(100L)
    lru.put("a", v(40))
    lru.put("b", v(40))
    lru.put("c", v(40)) // 120 > 100: evict a (eldest)
    assert(lru.get("a") == null)
    assert(lru.get("b") != null && lru.get("c") != null)
    assert(lru.weight == 80L && lru.size == 2)
  }

  test("get refreshes access order, like the count LRU") {
    val lru = make(100L)
    lru.put("a", v(40)); lru.put("b", v(40))
    lru.get("a") // a is now newest
    lru.put("c", v(40)) // evict b, not a
    assert(lru.get("b") == null)
    assert(lru.get("a") != null && lru.get("c") != null)
  }

  test("re-put of an existing key swaps its weight, no double counting") {
    val lru = make(100L)
    lru.put("a", v(40))
    lru.put("a", v(70))
    assert(lru.weight == 70L && lru.size == 1)
    lru.put("b", v(30)) // exactly at budget: nothing evicted
    assert(lru.get("a") != null && lru.get("b") != null)
    assert(lru.weight == 100L)
  }

  test("a single entry over budget is retained alone (cap-1 behavior)") {
    val lru = make(100L)
    lru.put("a", v(10)); lru.put("b", v(10))
    lru.put("huge", v(500))
    assert(lru.get("a") == null && lru.get("b") == null)
    assert(lru.get("huge") != null && lru.size == 1)
    // and a later small entry evicts the oversized one
    lru.put("c", v(10))
    assert(lru.get("huge") == null && lru.get("c") != null)
    assert(lru.weight == 10L)
  }

  test("eviction sweeps as many eldest entries as the new one displaces") {
    val lru = make(100L)
    (1 to 10).foreach(i => lru.put(s"k$i", v(10))) // full at 100
    lru.put("big", v(95)) // evicts ALL ten: 195 -> ... -> 95
    assert((1 to 10).forall(i => lru.get(s"k$i") == null))
    assert(lru.get("big") != null && lru.size == 1 && lru.weight == 95L)
  }

  test("zero-weight entries are NOT immortal: the default per-entry " +
       "overhead floor keeps empty-result caching bounded") {
    // the production failure mode: sustained distinct phrase queries
    // whose terms are never adjacent each cache an empty alignment —
    // payload estimate 0 B. Without the floor, total stays 0 and the
    // map (keys, entries) grows without bound.
    val lru = new WeightedLru[String, String](16L << 10, _ => 0L)
    (1 to 10000).foreach(i => lru.put(s"phrase-$i", ""))
    assert(lru.size <= (16 << 10) / 256 + 1,
      s"unbounded growth: ${lru.size} zero-weight entries retained")
    assert(lru.weight <= (16L << 10) + 256L)
  }

  test("the overhead floor also charges tiny-weight entries, so the real " +
       "footprint stays within a small factor of the byte budget") {
    // 1-doc alignments estimate ~20 B but really cost ~300 B of structs;
    // with the floor, a 16 KiB budget admits ~59 entries (16384/276),
    // not the ~800 a bare 20 B estimate would
    val lru = new WeightedLru[String, String](16L << 10, _ => 20L)
    (1 to 1000).foreach(i => lru.put(s"k$i", "v"))
    assert(lru.size <= (16 << 10) / 276 + 1,
      s"floor not applied: ${lru.size} entries retained")
  }

  test("maxEntries caps the entry count alongside the weight budget " +
       "(the ANN cell cache keeps its count contract)") {
    val lru = new WeightedLru[String, String](1L << 20, _.length.toLong,
      entryOverhead = 0L, maxEntries = 3)
    (1 to 5).foreach(i => lru.put(s"k$i", v(10)))
    assert(lru.size == 3)
    assert(lru.get("k1") == null && lru.get("k2") == null)
    assert(lru.get("k3") != null && lru.get("k5") != null)
    assert(lru.weight == 30L)
  }

  test("maxEntries = 0 disables caching entirely — even the just-put " +
       "entry is evicted (the ANN warm-path off switch)") {
    val lru = new WeightedLru[String, String](1L << 20, _.length.toLong,
      maxEntries = 0)
    lru.put("a", v(10))
    assert(lru.get("a") == null && lru.size == 0 && lru.weight == 0L)
  }

  test("clear() resets both the map and the running weight") {
    val lru = make(100L)
    lru.put("a", v(40)); lru.put("b", v(40))
    lru.clear()
    assert(lru.size == 0 && lru.weight == 0L && lru.get("a") == null)
    lru.put("c", v(10))
    assert(lru.size == 1 && lru.weight == 10L)
  }
}
