package graft.sources

/** Driver-held serving state of index versions: what a request needs
  * that depends only on the files a version is made of, not on the
  * request's literals — a BM25 index's corpus stats and document
  * frequencies, an IVF layout's centroids and schema. The first request
  * against a version loads it (a Spark job or two); later requests of
  * the session reuse it and plan without a job.
  *
  * One entry per name — `(directory, facet)`, e.g. an index's `stats`
  * directory, or a postings leaf and a term — holding the key it was
  * loaded under: the [[ArtifactCache.freshnessToken]] of the directory
  * it was read from (its file names, sizes and times). A lookup
  * under another key reloads and replaces the entry. Every write
  * (merge, compaction, rebuild) gives a file a new UUID name, so state
  * of a changed version always misses; a stale entry is never served.
  *
  * The entries live in a [[BoundedLru]] of [[cap]] entries, so many
  * index directories, or many versions of one, never grow it past the
  * cap; an evicted entry is reloaded on its next use.
  */
object ServingState {

  /** Entries held at most. A BM25 index holds one stats entry plus one
    * per (postings leaf, queried term), an IVF index or store one
    * entry: a session over a 97-word vocabulary, one index and one
    * layout holds at most 99, a tenth of the cap. An entry is a few
    * hundred bytes (an IVF layout's is its nlist×dims centroids). An
    * evicted entry costs its next request a reload — a stats read
    * (1 job) and a df collect (3) on top of the plan's 3, which is
    * still under the 13 jobs a bm25 request ran without held state
    * (SearchIndexSpec pins the first request after a merge at ≤7).
    */
  private[graft] val cap = 1024

  private val held = new BoundedLru[(String, String), (String, Any)](cap)

  /** The value held for `(dir, facet)` under `key`, if any. */
  def get[V](dir: String, facet: String, key: String): Option[V] =
    held.get((dir, facet)).collect {
      case (k, v) if k == key => v.asInstanceOf[V]
    }

  /** Hold `value` for `(dir, facet)` under `key`, replacing any entry. */
  def put(dir: String, facet: String, key: String, value: Any): Unit =
    held.put((dir, facet), (key, value))

  /** The value held for `(dir, facet)` under `key`, else `load`'s,
    * which is then held. `load` runs outside the lock.
    */
  def apply[V](dir: String, facet: String, key: String)(load: => V): V =
    get[V](dir, facet, key).getOrElse {
      val v = load
      put(dir, facet, key, v)
      v
    }

  private[graft] def size: Int = held.size
}
