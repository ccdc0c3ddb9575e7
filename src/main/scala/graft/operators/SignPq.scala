package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFns

/** IVF-PQ with ANALYTIC quantizers — the oracle-checkable member of
  * the product-quantization family (q88), standing to the trained
  * [[IvfPq]] exactly as [[SignIvf]] stands to the trained k-means
  * [[IvfIndex]]:
  *
  *  - coarse quantizer: [[SignIvf]]'s sign-bucket id (axis-aligned
  *    block hyperplanes over exact integer group sums), probed in the
  *    same multi-probe alignment order — no training pass;
  *  - product codebooks: the vector splits into `m` contiguous
  *    subspaces of `sub = dims/m` dimensions, and each subvector's
  *    code is its SIGN PATTERN — bit i of code s is `[q(s·sub+i) > 0]`
  *    — i.e. per subspace the analytic codebook of all 2^sub ±1
  *    codewords (`sub = 8` gives the classic 256-codeword / one byte
  *    per subquantizer layout). Codes are a pure integer function of
  *    each vector: fully replayable in SQL, so the whole query —
  *    bucketing, probing, encoding, ADC scoring, ranking — has a real
  *    DuckDB oracle, unlike the lossy trained path whose k-means
  *    model is recall-spec'd ([[IvfPq]]).
  *
  * Serving is genuine asymmetric distance computation over the code
  * table: per query, an `m × 2^sub` lookup table holds each code's
  * partial score `Σᵢ ±q_query(s·sub+i)` (sign from the code bit)
  * against the EXACT query vector; scoring a corpus row is then `m`
  * byte-indexed lookups and adds — the float corpus is never read at
  * query time, only the `m`-byte codes (the 32× at-rest shrink that
  * makes a 100 TB float corpus a ~3 TB serving table). Because the
  * quantized query components are exact 1e7-scaled integers, every
  * LUT entry and every ADC score is an exact BIGINT — ties broken by
  * ascending neighbor id — so ranking is deterministic in any engine.
  *
  * Distribution shape: identical to [[SignIvf]]/[[AnnTopK]] — one
  * unshuffled scan of the (tiny) code table, broadcast queries with
  * precomputed probe sets, per-partition bounded heaps, final top-k
  * ranked over `partitions × |Q| × k` rows.
  */
object SignPq {

  /** Encode the corpus: (id, cid, code) — `m` bytes per vector plus
    * the coarse bucket. Map-only, no training, no broadcast state.
    * Requires `dims % m == 0` and `dims/m ≤ 8` (code byte = sign bits
    * of one subspace).
    */
  def encode(e: DataFrame, idCol: String, embCol: String,
      signDims: Int = 4, m: Int = 8): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val sd = signDims
    e.select(col(idCol).cast("long"), VectorFns.quantize(col(embCol)))
      .as[(Long, Array[Long])]
      .map { case (id, v) => (id, SignIvf.cidOf(v, sd), codesOf(v, m)) }
      .toDF("id", "cid", "code")
  }

  private[operators] def codesOf(v: Array[Long], m: Int): Array[Byte] = {
    require(v.length % m == 0, s"dims=${v.length} not divisible by m=$m")
    val sub = v.length / m
    require(sub <= 8, s"dims/m=$sub sign bits exceed one code byte")
    val code = new Array[Byte](m)
    var s = 0
    while (s < m) {
      var c = 0; var i = 0
      while (i < sub) { if (v(s * sub + i) > 0L) c |= (1 << i); i += 1 }
      code(s) = c.toByte
      s += 1
    }
    code
  }

  /** Approximate top-k by integer ADC over the sign-code table.
    * Output: (q_id, rank, neighbor_id, adc) with `adc` the exact
    * BIGINT asymmetric score Σ_d ±q_query(d).
    */
  def topK(e: DataFrame, idCol: String, embCol: String, queryPred: Column,
      signDims: Int = 4, nprobe: Int = 4, k: Int = 5, m: Int = 8,
      maxQueries: Int = 4096): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val sd = signDims
    val M = m

    // persisted: the existing-buckets collect, the query collect and
    // the encoded scan would otherwise each re-read the corpus
    val quant = AnnTopK.quantized(e, idCol, embCol, queryPred).persist()
    try {
      val encoded = quant.select(col("id"), col("q"))
        .as[(Long, Array[Long])]
        .map { case (id, v) => (id, SignIvf.cidOf(v, sd), codesOf(v, M)) }
      val existing: Array[Int] =
        encoded.map(_._2).distinct().collect().sorted
      val queries = AnnTopK.queryRows(quant, maxQueries)
      BoundedTopK.ranked(
        BoundedTopK.scan(encoded, queries,
            Some(SignIvf.probeSets(queries, existing, sd, nprobe)), k, "adc")(adc(M))
          // exact: |adc| ≤ dims × 2e7 ≪ 2^53
          .withColumn("adc", col("adc").cast("long")),
        k, "adc")
        // sever before unpersist: the returned plan must not re-trigger
        // the corpus scans the persist was protecting
        .localCheckpoint(true)
    } finally quant.unpersist()
  }

  /** The ADC score over `m`-byte sign codes: per query an
    * `m × 2^sub` lookup table, lut(s·nc + c) = the exact integer
    * partial score of code c in subspace s; a row's score is `m`
    * byte-indexed adds.
    */
  private def adc(m: Int)(qs: Array[(Long, Array[Long])]): Scorer[Array[Byte]] = {
    val sub = qs(0)._2.length / m
    val nc = 1 << sub
    val luts = qs.map { case (_, qv) =>
      val t = new Array[Long](m * nc)
      var s = 0
      while (s < m) {
        var c = 0
        while (c < nc) {
          var acc = 0L; var i = 0
          while (i < sub) {
            val qd = qv(s * sub + i)
            acc += (if ((c & (1 << i)) != 0) qd else -qd)
            i += 1
          }
          t(s * nc + c) = acc
          c += 1
        }
        s += 1
      }
      t
    }
    new Scorer[Array[Byte]] {
      def score(qi: Int, code: Array[Byte]): Double = {
        val t = luts(qi)
        var adc = 0L; var s = 0
        while (s < m) { adc += t(s * nc + (code(s) & 0xff)); s += 1 }
        adc.toDouble
      }
    }
  }
}
