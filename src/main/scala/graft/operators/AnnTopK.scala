package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFns

/** Exact brute-force cosine top-k for a small query set against an
  * arbitrarily large corpus — the exact ANN baseline (`q75`) and the
  * scoring engine behind `GraftEngine.annBruteForce`.
  *
  * Distribution shape (the one that survives 100×): the corpus is
  * scanned exactly once and never shuffled, never collected. The query
  * set — definitionally the small side, it is what a user "searches
  * with" — is collected and broadcast. Each partition keeps one
  * bounded top-k heap per query, so only `partitions × |Q| × k` rows
  * leave the scan ([[BoundedTopK.scan]]); the final global top-k ranks
  * that tiny set in one reducer ([[BoundedTopK.ranked]]).
  *
  * The per-pair math runs in a primitive-array kernel rather than the
  * declarative `aggregate(zip_with(...))` form: Spark interprets
  * higher-order functions (no whole-stage codegen), which measured at
  * ~1 ms/pair on the q75 cross join — the kernel does the identical
  * integer arithmetic at ~10 ns/pair (same rationale as
  * [[CosinePairs]], SURVEY.md §7.3 ladder case (d)).
  *
  * Determinism contract: vectors are quantized to 1e-7 BIGINTs
  * ([[VectorFns.quantize]]); dot products are exact integer sums; the
  * final cosine is `dot / (sqrt(|q|²)·sqrt(|c|²))` with the identical
  * IEEE op order as the declarative/oracle form, so results are
  * bit-identical to a DuckDB `list_dot_product` oracle. Ties break on
  * ascending neighbor id.
  */
object AnnTopK {

  /** Shared guard for the ANN operators' query-side collects
    * ([[AnnTopK]], [[SignIvf]], [[IvfIndex]]): the caller `take`s
    * `maxQueries + 1` rows; one extra row proves the predicate matched
    * too much and fails fast with a clear message. Returns the rows
    * sorted by id (the deterministic broadcast order).
    */
  private[operators] def boundedQueryCollect[T](taken: Array[(Long, T)],
      maxQueries: Int): Array[(Long, T)] = {
    require(taken.length <= maxQueries,
      s"ANN query side exceeded maxQueries=$maxQueries rows; the query set " +
        "is collected to the driver and broadcast, so an unbounded predicate " +
        "would OOM the driver — tighten queryPred or raise maxQueries explicitly")
    taken.sortBy(_._1)
  }

  /** Exact top-k neighbors (cosine) for every row matching `queryPred`.
    * Output: (q_id, rank, neighbor_id, sim), rank 1-based long.
    *
    * The query side is collected and broadcast, so it must be small;
    * `maxQueries` turns that contract into a loud failure instead of a
    * driver OOM — the collect fetches at most `maxQueries + 1` rows
    * before the check, never the full oversized result.
    */
  def bruteForce(e: DataFrame, idCol: String, embCol: String,
      queryPred: Column, k: Int, maxQueries: Int = 4096): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._

    val quant = quantized(e, idCol, embCol, queryPred)
    BoundedTopK.ranked(BoundedTopK.scan(
        quant.select(col("id"), lit(0), col("q")).as[(Long, Int, Array[Long])],
        queryRows(quant, maxQueries), None, k)(cosine), k)
  }

  /** (id, q = the 1e-7-quantized vector, is_q = `queryPred`) rows: the
    * encoding of the exact kernels ([[bruteForce]], [[SignIvf]],
    * [[SignPq]]).
    */
  private[operators] def quantized(e: DataFrame, idCol: String, embCol: String,
      queryPred: Column): DataFrame =
    e.select(col(idCol).cast("long").as("id"),
      VectorFns.quantize(col(embCol)).as("q"), queryPred.as("is_q"))

  /** The query rows of a [[quantized]] frame, collected under the
    * `maxQueries` contract ([[boundedQueryCollect]]).
    */
  private[operators] def queryRows(quant: DataFrame,
      maxQueries: Int): Array[(Long, Array[Long])] = {
    import quant.sparkSession.implicits._
    boundedQueryCollect(quant.filter(col("is_q"))
      .select(col("id"), col("q")).as[(Long, Array[Long])]
      .take(maxQueries + 1), maxQueries)
  }

  @inline private def norm(v: Array[Long]): Double = {
    var s = 0L; var d = 0
    while (d < v.length) { s += v(d) * v(d); d += 1 }
    math.sqrt(s.toDouble)
  }

  /** Exact cosine over quantized vectors: integer dot product and
    * squared norms, then `dot / (sqrt(|q|²)·sqrt(|c|²))` in the oracle's
    * op order. The score of [[bruteForce]] and [[SignIvf]].
    */
  private[operators] def cosine(qs: Array[(Long, Array[Long])]): Scorer[Array[Long]] =
    new Scorer[Array[Long]] {
      private val qNorm = qs.map(q => norm(q._2))
      private var cNorm = 0.0
      override def accept(bucket: Int, cv: Array[Long]): Boolean = {
        cNorm = norm(cv); true
      }
      def score(qi: Int, cv: Array[Long]): Double = {
        val qv = qs(qi)._2
        var dot = 0L; var i = 0
        while (i < qv.length) { dot += qv(i) * cv(i); i += 1 }
        dot.toDouble / (qNorm(qi) * cNorm)
      }
    }
}
