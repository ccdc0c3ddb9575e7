package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scalar-quantized (int8) brute-force ANN — the memory-bandwidth
  * scale path for exact-ish search: each vector is quantized to one
  * byte per dimension (`round(x·127/max|x|)`, per-vector scale), a 4×
  * size cut vs float32 that turns a 100 TB embedding corpus into a
  * 25 TB scan, with dot products in cheap integer arithmetic. The
  * serving shape is identical to [[AnnTopK]]: corpus scanned once and
  * never shuffled, queries collected (bounded) and broadcast,
  * per-partition bounded heaps.
  *
  * Determinism contract: quantized codes are exact small integers
  * (|q| ≤ 127), so integer dot products are exact in Long and the
  * final cosine `dot / (sqrt(|a|²)·sqrt(|b|²))` is bit-identical to a
  * DuckDB oracle replaying the same quantizer (`q86`). Rounding is
  * half-away-from-zero — the convention both Spark's `round` and
  * DuckDB's `round` use — so codes agree everywhere. Similarity is
  * computed between CODES, not originals: quantization error is part
  * of the operator's semantics (that's the accuracy/size trade being
  * measured), and `QuantizedAnnSpec` pins its recall against exact
  * float search.
  */
object QuantizedAnn {

  /** round half away from zero, matching Spark/DuckDB `round` */
  @inline private def roundAway(v: Double): Int =
    if (v >= 0) math.floor(v + 0.5).toInt else math.ceil(v - 0.5).toInt

  /** Quantize one vector to int8 codes (per-vector max-abs scale). */
  private[graft] def quantizeI8(v: Array[Float]): Array[Byte] = {
    var mx = 0.0
    var i = 0
    while (i < v.length) { val a = math.abs(v(i).toDouble); if (a > mx) mx = a; i += 1 }
    val out = new Array[Byte](v.length)
    if (mx > 0) {
      i = 0
      while (i < v.length) {
        out(i) = roundAway(v(i).toDouble * 127.0 / mx).toByte
        i += 1
      }
    }
    out
  }

  /** Exact top-k cosine neighbors over int8-quantized codes for every
    * row matching `queryPred`. Output (q_id, rank, neighbor_id, sim),
    * rank 1-based long. Query side bounded by `maxQueries` (loud
    * failure, never a driver OOM — same contract as [[AnnTopK]]).
    */
  def topK(e: DataFrame, idCol: String, embCol: String,
      queryPred: Column, k: Int, maxQueries: Int = 4096): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._

    val quant = e.select(col(idCol).cast("long").as("id"),
        col(embCol).as("v"), queryPred.as("is_q"))
      .as[(Long, Array[Float], Boolean)]
      .map { case (id, v, isQ) => (id, quantizeI8(v), isQ) }
    val queries = AnnTopK.boundedQueryCollect(
      quant.filter(_._3).map(r => (r._1, r._2)).take(maxQueries + 1), maxQueries)

    // one corpus pass; int dot products; |Q| bounded heaps per partition
    BoundedTopK.ranked(BoundedTopK.scan(quant.map(r => (r._1, 0, r._2)),
      queries, None, k)(cosine), k)
  }

  @inline private def norm(v: Array[Byte]): Double = {
    var s = 0L; var d = 0
    while (d < v.length) { s += v(d).toLong * v(d); d += 1 }
    math.sqrt(s.toDouble)
  }

  /** Exact cosine between int8 codes; an all-zero row has no direction
    * and is skipped.
    */
  private def cosine(qs: Array[(Long, Array[Byte])]): Scorer[Array[Byte]] =
    new Scorer[Array[Byte]] {
      private val qNorm = qs.map(q => norm(q._2))
      private var cNorm = 0.0
      override def accept(bucket: Int, cv: Array[Byte]): Boolean = {
        cNorm = norm(cv); cNorm > 0
      }
      def score(qi: Int, cv: Array[Byte]): Double = {
        val qv = qs(qi)._2
        var dot = 0L; var i = 0
        while (i < qv.length) { dot += qv(i).toLong * cv(i); i += 1 }
        dot.toDouble / (qNorm(qi) * cNorm)
      }
    }
}
