package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Inverted-file ANN with an *analytic* coarse quantizer: the vector's
  * dimensions are split into `signDims` contiguous groups and bucket
  * bit d is the sign of group d's component sum — i.e. `signDims`
  * axis-aligned-block hyperplanes, the deterministic case of the
  * random-hyperplane LSH family (full-support hyperplanes separate
  * clustered data far better than single-component signs: measured
  * recall@5 far above single-component signs at 4 bits / 4 probes on
  * the test corpus). A query probes `nprobe` existing buckets in
  * multi-probe-LSH order — ranked by the signed alignment between the
  * query's group sums and the bucket's sign pattern, so the first
  * probes flip only the query's weakest (nearest-boundary)
  * hyperplanes — and runs exact cosine top-k inside those buckets
  * only.
  *
  * Two reasons this variant exists next to the trained k-means
  * [[IvfIndex]]:
  *  - it is a pure function of each vector, so the full query —
  *    bucketing, probe choice, in-bucket scoring — is reproducible in
  *    portable SQL, giving the ANN surface a real DuckDB correctness
  *    oracle (q76) instead of a recall-only spec;
  *  - at serving scale it needs no training pass at all: the bucket id
  *    is a scan-time projection, and a corpus laid out partitioned by
  *    bucket prunes at the source.
  *
  * Distribution shape: identical to [[AnnTopK]] — one unshuffled
  * corpus scan, broadcast queries (each carrying its probe set), one
  * bounded heap per query per partition, final top-k ranked over
  * `partitions × |Q| × k` rows. The probe filter just skips rows whose
  * bucket no query probes, which is what makes it sub-brute-force.
  *
  * Determinism: same quantized-integer contract as [[AnnTopK]];
  * bucket = Σ 2^d · [Σ_{i∈group d} q_i > 0] with exact integer group
  * sums; probe ranking by (Σ_d ±gsum_d desc, cid) — all exact integer
  * comparisons, reproducible in any engine.
  */
object SignIvf {

  /** Per-group component sums of a quantized vector. The LAST group
    * absorbs the `v.length % sd` remainder so every dimension
    * influences bucketing (an SQL oracle must slice the same way — the
    * q76/q79 oracles' 64/4 `list_slice` bounds match exactly).
    * Shared with [[SemanticDedup]].
    */
  private[operators] def groupSums(v: Array[Long], sd: Int): Array[Long] = {
    val g = v.length / sd
    val out = new Array[Long](sd)
    var d = 0
    while (d < sd) {
      var s = 0L; var i = d * g
      val end = if (d == sd - 1) v.length else i + g
      while (i < end) { s += v(i); i += 1 }
      out(d) = s
      d += 1
    }
    out
  }

  /** Sign-bucket id: bit d set iff group d's exact integer sum > 0. */
  private[operators] def cidOf(v: Array[Long], sd: Int): Int = {
    val gs = groupSums(v, sd)
    var c = 0; var d = 0
    while (d < sd) { if (gs(d) > 0L) c |= (1 << d); d += 1 }
    c
  }

  /** Each query's `nprobe` buckets among the `existing` ones, in
    * multi-probe order: by the alignment of the bucket's sign pattern
    * with the query's group sums (own bucket first, then the cheapest
    * flips), ties → lower bucket. Shared with [[SignPq]].
    */
  private[operators] def probeSets(queries: Array[(Long, Array[Long])],
      existing: Array[Int], sd: Int, nprobe: Int): Array[Array[Int]] =
    queries.map { case (_, qv) =>
      val gs = groupSums(qv, sd)
      def align(c: Int): Long = {
        var s = 0L; var d = 0
        while (d < sd) { s += (if ((c & (1 << d)) != 0) gs(d) else -gs(d)); d += 1 }
        s
      }
      existing.sortBy(c => (-align(c), c)).take(nprobe)
    }

  def topK(e: DataFrame, idCol: String, embCol: String, queryPred: Column,
      signDims: Int = 4, nprobe: Int = 4, k: Int = 5,
      maxQueries: Int = 4096): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val sd = signDims

    // persisted: the existing-buckets collect, the query collect and
    // the scoring scan would otherwise each re-read + re-quantize the
    // corpus (3× the dominant scan cost at scale)
    val quant = AnnTopK.quantized(e, idCol, embCol, queryPred).persist()
    try {
      val corpus = quant.select(col("id"), col("q")).as[(Long, Array[Long])]
        .map { case (id, v) => (id, cidOf(v, sd), v) }
      // buckets that actually exist in the corpus (tiny: ≤ 2^signDims)
      val existing: Array[Int] = corpus.map(_._2).distinct().collect().sorted
      // queries + their probe sets, computed once and broadcast; the
      // collect is bounded by the maxQueries contract (fail loud, not OOM)
      val queries = AnnTopK.queryRows(quant, maxQueries)
      BoundedTopK.ranked(BoundedTopK.scan(corpus, queries,
          Some(probeSets(queries, existing, sd, nprobe)), k)(AnnTopK.cosine), k)
        // materialize (tiny: |Q|×k rows) so the corpus cache can be
        // released before returning
        .localCheckpoint(true)
    } finally quant.unpersist()
  }
}
