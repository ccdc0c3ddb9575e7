package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The ANN operators collect and broadcast their query side — small by
  * contract. These tests pin the contract's enforcement: a predicate
  * matching more than `maxQueries` rows fails loudly (bounded take, so
  * the oversized set is never pulled to the driver) instead of OOMing.
  * They also pin the one ranked tail ([[BoundedTopK.ranked]]): it ranks
  * exactly as a per-query window over the partials does.
  */
class AnnContractSpec extends SparkSpec {
  import spark.implicits._

  private def embeddings(n: Int, dims: Int = 8) =
    (0 until n).map { i =>
      (i.toLong, Array.tabulate(dims)(d => ((i * 31 + d * 7) % 13 - 6).toFloat / 6f))
    }.toDF("vec_id", "embedding")

  test("AnnTopK.bruteForce rejects an oversized query side") {
    val ex = intercept[IllegalArgumentException] {
      AnnTopK.bruteForce(embeddings(50), "vec_id", "embedding",
        col("vec_id") < 20, k = 3, maxQueries = 10)
    }
    assert(ex.getMessage.contains("maxQueries"))
  }

  test("SignIvf.topK rejects an oversized query side") {
    val cached = spark.sparkContext.getPersistentRDDs.size
    val ex = intercept[IllegalArgumentException] {
      SignIvf.topK(embeddings(50), "vec_id", "embedding",
        col("vec_id") < 20, maxQueries = 10)
    }
    assert(ex.getMessage.contains("maxQueries"))
    assert(spark.sparkContext.getPersistentRDDs.size === cached,
      "the failed call left its corpus cache behind")
  }

  test("IvfIndex.topK rejects an oversized query side") {
    val ex = intercept[IllegalArgumentException] {
      IvfIndex.topK(embeddings(50), "vec_id", "embedding",
        col("vec_id") < 20, IvfIndex.Params(nlist = 4, nprobe = 2, iters = 1, k = 3),
        maxQueries = 10)
    }
    assert(ex.getMessage.contains("maxQueries"))
  }

  test("a query side within the cap is unaffected by it") {
    val e = embeddings(50)
    val loose = AnnTopK.bruteForce(e, "vec_id", "embedding", col("vec_id") < 5, k = 3)
      .collect().toSeq
    val tight = AnnTopK.bruteForce(e, "vec_id", "embedding", col("vec_id") < 5,
        k = 3, maxQueries = 5)
      .collect().toSeq
    assert(loose === tight)
  }

  /** The per-query window ranking: row_number over (score desc,
    * neighbor_id), rank ≤ k, ordered by (q_id, rank).
    */
  private def windowRanked(partials: DataFrame, k: Int, score: String): DataFrame =
    partials
      .withColumn("rank", row_number().over(Window.partitionBy(col("q_id"))
        .orderBy(col(score).desc, col("neighbor_id"))).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("neighbor_id"), col(score))
      .orderBy(col("q_id"), col("rank"))

  /** 12 rows in 4 unshuffled partitions; even ids share one direction
    * and odd ids another, so every query sees tied scores spread over
    * the partitions.
    */
  private def tied = spark.sparkContext.parallelize((0 until 12).map { i =>
    val a = if (i % 2 == 0) Array(3f, 1f, -2f, 1f, 2f, -1f, 1f, 1f)
      else Array(-1f, 2f, 1f, 1f, -2f, 1f, 2f, 1f)
    (i.toLong, a.map(_ * (1 + i % 3)))
  }, 4).toDF("vec_id", "embedding")

  /** `got` holds every candidate of each query (k exceeds the set), with
    * ties, ranked as the window ranks it.
    */
  private def assertWindowRanked(got: DataFrame, score: String,
      candidates: Map[Long, Set[Long]]): Unit = {
    val rows = got.collect().toSeq
    assert(rows === windowRanked(got, 100, score).collect().toSeq)
    assert(rows.groupBy(_.getLong(0)).map { case (q, rs) =>
      q -> rs.map(_.getLong(2)).toSet } === candidates)
    assert(rows.map(r => (r.getLong(0), r.get(3))).distinct.size < rows.size,
      "the case must hold tied scores")
  }

  test("the ranked tail equals the window ranking: ties across partitions, NaN, k beyond the set") {
    val nan = Double.NaN
    val partials = spark.sparkContext.parallelize(Seq(
      (1L, 10L, 0.5), (1L, 3L, 0.9), (2L, 5L, 0.1), (1L, 7L, 0.5),
      (2L, 9L, 0.1), (1L, 12L, nan), (2L, 4L, 0.3), (1L, 2L, 0.5),
      (2L, 1L, 0.1), (1L, 11L, -0.2), (2L, 8L, nan), (1L, 6L, 0.9)), 4)
      .toDF("q_id", "neighbor_id", "sim")
    Seq(2, 5, 20).foreach { k =>
      assert(BoundedTopK.ranked(partials, k).collect().toSeq ===
        windowRanked(partials, k, "sim").collect().toSeq, s"k=$k")
    }
    val adc = partials.select(col("q_id"), col("neighbor_id"),
      (col("neighbor_id") % 3).cast("long").as("adc"))
    assert(BoundedTopK.ranked(adc, 3, "adc").collect().toSeq ===
      windowRanked(adc, 3, "adc").collect().toSeq)
  }

  test("bruteForce, SignPq and probeTopK rank tied candidates as the window ranks them") {
    val others = Map(0L -> (1L until 12L).toSet, 1L -> ((0L until 12L).toSet - 1L))
    assertWindowRanked(AnnTopK.bruteForce(tied, "vec_id", "embedding",
      col("vec_id") < 2, k = 20), "sim", others)
    assertWindowRanked(SignPq.topK(tied, "vec_id", "embedding", col("vec_id") < 2,
      signDims = 2, nprobe = 4, k = 20, m = 2), "adc", others)

    // clusters 0..2 by id % 3; query 100 probes clusters 0 and 1
    val unit = tied.as[(Long, Array[Float])].collect().map { case (id, f) =>
      (id, (id % 3).toInt, IvfIndex.unitize(f.toSeq)) }
    val corpus = spark.sparkContext.parallelize(unit.toSeq, 4).toDS()
    val qs = Array((100L, unit(0)._3), (101L, unit(1)._3))
    assertWindowRanked(IvfIndex.probeTopK(corpus, qs, Array(Array(0, 1), Array(0, 1, 2)),
        IvfIndex.Params(k = 20)), "sim",
      Map(100L -> unit.filter(_._2 < 2).map(_._1).toSet, 101L -> unit.map(_._1).toSet))
  }
}
