package graft.sources

/** Driver-held serving state of index versions: what a request needs
  * that depends only on the files a version is made of, not on the
  * request's literals — a BM25 index's stats row, an IVF layout's
  * centroids and schema. The first request against a version loads it
  * (a Spark job or two); later requests of the session reuse it and
  * plan without a job.
  *
  * One entry per directory — a BM25 index's `stats` directory or an
  * IVF layout's root — holding the key it was loaded under: the
  * [[ArtifactCache.freshnessToken]] of the directory it was read from
  * (its file names, sizes and times). A lookup under another key
  * reloads and replaces the entry. Every write (merge, compaction,
  * rebuild) gives a file a new UUID name, so state of a changed
  * version always misses; a stale entry is never served.
  *
  * The entries live in a [[BoundedLru]] of [[cap]] entries, so many
  * index directories, or many versions of one, never grow it past the
  * cap; an evicted entry is reloaded on its next use.
  */
object ServingState {

  /** Entries held at most. A BM25 index holds one entry, its stats
    * row, and an IVF index or store one, its layout, so the cap counts
    * the indexes a session serves, not its request literals. An entry
    * is a few hundred bytes (an IVF layout's is its nlist×dims
    * centroids). An evicted entry costs its next request a reload — for
    * bm25 a stats read, one job on top of the plan's 2.
    */
  private[graft] val cap = 1024

  private val held = new BoundedLru[String, (String, Any)](cap)

  /** The value held for `dir` under `key`, else `load`'s, which is then
    * held, replacing any entry. `load` runs outside the lock.
    */
  def apply[V](dir: String, key: String)(load: => V): V =
    held.get(dir).collect { case (k, v) if k == key => v.asInstanceOf[V] }
      .getOrElse {
        val v = load
        held.put(dir, (key, v))
        v
      }

  private[graft] def size: Int = held.size
}
