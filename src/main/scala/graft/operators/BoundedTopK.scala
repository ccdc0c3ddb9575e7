package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Bounded top-k accumulator ordered by (sim desc, id asc), worst
  * entry at the heap root — the per-query state [[BoundedTopK.scan]]
  * keeps while scanning a partition for the seven ANN kernels
  * ([[AnnTopK.bruteForce]], [[SignIvf]], [[SignPq]], [[QuantizedAnn]],
  * [[IvfPq]], [[IvfIndex.topK]] and [[IvfIndex.probeTopK]]). Primitive
  * arrays only; zero allocation per push.
  */
private[operators] final class BoundedTopK(k: Int) {
  private val sims = new Array[Double](k)
  private val ids = new Array[Long](k)
  private var len = 0

  @inline private def worse(s1: Double, i1: Long, s2: Double, i2: Long): Boolean =
    s1 < s2 || (s1 == s2 && i1 > i2)

  def push(sim: Double, id: Long): Unit = {
    if (len < k) {
      var i = len; len += 1
      sims(i) = sim; ids(i) = id
      while (i > 0 && worse(sims(i), ids(i), sims((i - 1) / 2), ids((i - 1) / 2))) {
        val p = (i - 1) / 2
        val ts = sims(i); val ti = ids(i)
        sims(i) = sims(p); ids(i) = ids(p); sims(p) = ts; ids(p) = ti
        i = p
      }
    } else if (worse(sims(0), ids(0), sim, id)) {
      sims(0) = sim; ids(0) = id
      var i = 0
      var done = false
      while (!done) {
        val l = 2 * i + 1; val r = l + 1
        var m = i
        if (l < len && worse(sims(l), ids(l), sims(m), ids(m))) m = l
        if (r < len && worse(sims(r), ids(r), sims(m), ids(m))) m = r
        if (m == i) done = true
        else {
          val ts = sims(i); val ti = ids(i)
          sims(i) = sims(m); ids(i) = ids(m); sims(m) = ts; ids(m) = ti
          i = m
        }
      }
    }
  }

  /** Unordered (id, sim) entries currently held. */
  def entries: Iterator[(Long, Double)] =
    (0 until len).iterator.map(i => (ids(i), sims(i)))
}

/** What one ANN kernel adds to [[BoundedTopK.scan]]: its score of a
  * corpus row's encoded vector `V` against each query. One scorer is
  * built per partition from the broadcast query set, so per-query
  * tables (norms, ADC lookup tables) are computed once per partition.
  */
private[operators] abstract class Scorer[V] {
  /** Called once per row that some query probes, before its scores;
    * false skips the row.
    */
  def accept(bucket: Int, v: V): Boolean = true

  /** The accepted row's score against query `qi`. */
  def score(qi: Int, v: V): Double
}

object BoundedTopK {

  /** The one scan of the ANN kernels. The corpus rows are
    * (id, bucket, encoded vector); the queries `qs` = (id, encoded
    * query) are broadcast with their probe sets (`probes(i)` = the
    * buckets query i scores; None: every query scores every row). Each
    * partition keeps one bounded heap per query, never scores a row
    * against itself, and emits its heaps: (q_id, neighbor_id, `score`)
    * partials, at most |qs|·k rows per partition, for [[ranked]].
    */
  private[operators] def scan[V, Q](corpus: Dataset[(Long, Int, V)],
      qs: Array[(Long, Q)], probes: Option[Array[Array[Int]]], k: Int,
      score: String = "sim")(scorer: Array[(Long, Q)] => Scorer[V]): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast((qs, probes))
    corpus.mapPartitions { rows =>
      val (q, pr) = bc.value
      val nq = q.length
      if (nq == 0 || !rows.hasNext) Iterator.empty
      else {
        val s = scorer(q)
        val all = Array.range(0, nq)
        // bucket → indices of the queries probing it
        val byBucket: Map[Int, Array[Int]] = pr.fold(Map.empty[Int, Array[Int]])(
          _.zipWithIndex.flatMap { case (ps, i) => ps.map(_ -> i) }
            .groupBy(_._1).map { case (c, xs) => c -> xs.map(_._2) })
        val heaps = Array.fill(nq)(new BoundedTopK(k))
        rows.foreach { case (id, bucket, v) =>
          val qIdx = if (pr.isEmpty) all else byBucket.getOrElse(bucket, null)
          if (qIdx != null && s.accept(bucket, v)) {
            var x = 0
            while (x < qIdx.length) {
              val qi = qIdx(x)
              if (q(qi)._1 != id) heaps(qi).push(s.score(qi, v), id)
              x += 1
            }
          }
        }
        (0 until nq).iterator.flatMap { qi =>
          heaps(qi).entries.map { case (id, sim) => (q(qi)._1, id, sim) }
        }
      }
    }.toDF("q_id", "neighbor_id", score)
  }

  /** The one ranked tail of the ANN kernels: each query's top `k`
    * partials by (`score` desc, neighbor_id asc), as
    * (q_id, rank, neighbor_id, `score`) ordered by (q_id, rank), rank a
    * 1-based long. Over one partition the window and the sort plan as
    * local sorts: one exchange, no range-sampling job.
    */
  private[operators] def ranked(partials: DataFrame, k: Int,
      score: String = "sim"): DataFrame =
    // window bound: one reducer takes ≤ min(nq, maxQueries)·k·(corpus
    // partitions) rows — each partition emits at most k per query
    partials.repartition(1)
      .withColumn("rank", row_number().over(Window.partitionBy("q_id")
        .orderBy(col(score).desc, col("neighbor_id"))).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("neighbor_id"), col(score))
      .orderBy(col("q_id"), col("rank"))
}
