package graft.sources

/** A size-capped, access-ordered LRU map, safe to share across request
  * threads — the one holder of driver-side state derived from versioned
  * inputs ([[ServingState]], the DSL's date-span and bounds caches).
  * Such keys carry the input's version, so an input that keeps changing
  * keeps minting keys; the cap keeps a long-lived session from growing
  * without bound, and an evicted entry is recomputed on its next use.
  *
  * Callers compute a missing value OUTSIDE the lock (get, compute, put):
  * a lock held across a Spark job would serialize every lookup of the
  * engine. Two callers that miss the same key at once both compute, and
  * the later put wins.
  */
final class BoundedLru[K, V](val cap: Int) {

  private val m = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[K, V](64, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
        this.size() > cap
    })

  def get(k: K): Option[V] = Option(m.get(k))

  def put(k: K, v: V): Unit = { m.put(k, v); () }

  def size: Int = m.size()
}
