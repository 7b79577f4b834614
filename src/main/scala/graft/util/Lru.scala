package graft.util

/** Access-ordered LRU map, shared by every driver-side cache (the warm
  * query cache's LRUs, the ANN cell cache): one place for the eviction
  * contract instead of hand-rolled LinkedHashMap subclasses. */
object Lru {
  def apply[K, V](cap: Int): java.util.LinkedHashMap[K, V] =
    new java.util.LinkedHashMap[K, V](64, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
        size() > cap
    }
}

/** Access-ordered LRU bounded by total WEIGHT (an approximate byte
  * estimate) instead of entry count — for caches whose entries vary by
  * orders of magnitude (aligned phrase blocks, ANN cells), where an
  * entry-count cap admits a pathological all-large-entry retention far
  * past the driver's memory budget. Same usage contract as [[Lru.apply]]:
  * callers synchronize on the instance around get/put. A single entry
  * heavier than the budget is retained alone (the count-LRU cap-1
  * behavior); per-entry size is bounded upstream by the df gates.
  *
  * Every entry is charged a fixed `entryOverhead` floor on top of its
  * estimated payload: caches of empty results (a phrase whose terms are
  * absent or never adjacent) would otherwise weigh 0 and NEVER trigger
  * eviction, growing the key/entry structures (boxed tuples, term
  * lists, LinkedHashMap.Entry) without bound under sustained
  * distinct-query traffic. The floor also covers the real
  * per-entry constant (~3 array headers + case class + entry ≈ 200–300 B)
  * that payload estimates ignore, keeping the true footprint within a
  * small factor of the byte budget. */
final class WeightedLru[K, V](maxWeight: Long, weigh: V => Long,
                              entryOverhead: Long = 256L,
                              /** optional entry-count cap on top of the
                                * byte budget (the ANN cell cache keeps its
                                * count contract alongside the new weight
                                * bound); 0 disables caching entirely —
                                * even the just-put entry is evicted. */
                              maxEntries: Int = Int.MaxValue) {
  private val map = new java.util.LinkedHashMap[K, V](64, 0.75f, true)
  private var total = 0L
  private def w(v: V): Long = entryOverhead + math.max(0L, weigh(v))
  def get(k: K): V = map.get(k)
  def put(k: K, v: V): Unit = {
    val old = map.put(k, v)
    if (old != null) total -= w(old)
    total += w(v)
    if (total > maxWeight || map.size() > maxEntries) {
      val it = map.entrySet().iterator() // eldest -> newest
      while ((total > maxWeight || map.size() > maxEntries) && it.hasNext) {
        val e = it.next()
        if (e.getKey != k || maxEntries == 0) {
          total -= w(e.getValue); it.remove()
        }
      }
    }
  }
  def size: Int = map.size()
  def weight: Long = total
  def clear(): Unit = { map.clear(); total = 0L }
}
