package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** IVF-PQ: inverted-file ANN with product-quantized residual codes —
  * the index layout that makes billion-vector search fit in storage.
  * On top of [[IvfIndex]]'s coarse k-means quantizer, each vector's
  * residual (x − centroid) is split into `m` subspaces and each
  * subvector replaced by the id of its nearest codeword from a
  * per-subspace codebook: the corpus shrinks from `dims × 4` bytes
  * (float32) to `m` bytes per vector — 32× at dims=64/m=8 — so a
  * 100 TB float corpus becomes a ~3 TB code table that co-resides
  * with the serving executors.
  *
  * Serving uses asymmetric distance computation (ADC): per (query,
  * probed cluster) a lookup table of `m × codes` partial dot products
  * is built once against the EXACT query residual; scoring a corpus
  * vector is then `m` table lookups and adds — no float vector is
  * ever read at query time.
  *
  * Distribution shape, matching the family doctrine:
  *  - coarse training: [[IvfIndex.train]] (broadcast centroids,
  *    executor-combined partials);
  *  - codebook training: one `mapPartitions` pass per Lloyd iteration
  *    computes partial sums for ALL `m` subspaces at once; partials
  *    (`partitions × m × codes` tiny rows) combine on executors in
  *    fixed partition order, so training is deterministic;
  *  - encoding: map-only (broadcast centroids + codebooks);
  *  - serving: one scan of the (tiny) code table with broadcast
  *    queries and per-partition bounded heaps, identical to
  *    [[AnnTopK]].
  *
  * PQ is lossy by construction (that is the point), so like the
  * trained IVF it is recall-spec-checked ([[graft] IvfPqSpec]) rather
  * than oracle-checked; the oracle-checked ANN family members are q75
  * (exact), q76 (analytic sign-IVF) and q86 (int8, exact-over-codes).
  */
object IvfPq {

  /** `m` subspaces × `codes` codewords; `dims % m == 0` required.
    * codes=256 is the classic 8-bits-per-subquantizer FAISS default —
    * measured on the test corpus it keeps ADC recall within ~0.06 of
    * the exact-vector IVF ceiling (the coarse probe, not the code
    * quantization, dominates the loss).
    */
  final case class Params(nlist: Int = 16, nprobe: Int = 4, iters: Int = 3,
      k: Int = 5, m: Int = 8, codes: Int = 256)

  /** Trained model: coarse centroids + per-subspace codebooks
    * (`books(s)(c)` = codeword c of subspace s, length dims/m).
    */
  final case class Model(cents: Array[Array[Double]],
      books: Array[Array[Array[Double]]])

  @inline private def subNearest(x: Array[Double], off: Int,
      book: Array[Array[Double]]): Int = {
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < book.length) {
      val w = book(c)
      var d = 0.0; var i = 0
      while (i < w.length) { val t = x(off + i) - w(i); d += t * t; i += 1 }
      if (d < bestD) { best = c; bestD = d }
      c += 1
    }
    best
  }

  /** Train coarse quantizer + residual codebooks. */
  def trainModel(embeddings: DataFrame, idCol: String, embCol: String,
      p: Params): Model = {
    val spark = embeddings.sparkSession
    val sc = spark.sparkContext
    val v = IvfIndex.unitVectors(embeddings, idCol, embCol, lit(false)).persist()
    try {
      val cents = IvfIndex.train(v, IvfIndex.Params(p.nlist, p.nprobe, p.iters, p.k))
      val dims = cents(0).length
      require(dims % p.m == 0, s"dims=$dims not divisible by m=${p.m}")
      val sub = dims / p.m
      val bcC = sc.broadcast(cents)

      // residual of a row against its coarse centroid
      def residual(x: Array[Double], cs: Array[Array[Double]]): Array[Double] = {
        val cent = cs(IvfIndex.nearest(x, cs))
        val r = new Array[Double](x.length)
        var i = 0
        while (i < x.length) { r(i) = x(i) - cent(i); i += 1 }
        r
      }

      // deterministic init: residual subvectors of the `codes` lowest-id rows
      val seed = v.orderBy(col("_1")).limit(p.codes).collect().map(_._2)
      require(seed.nonEmpty, "PQ training needs a non-empty corpus")
      var books: Array[Array[Array[Double]]] = Array.tabulate(p.m) { s =>
        seed.map { x =>
          val r = residual(x, bcC.value)
          java.util.Arrays.copyOfRange(r, s * sub, (s + 1) * sub)
        }
      }

      for (_ <- 1 to p.iters) {
        val bcB = sc.broadcast(books)
        // one pass: per-partition partial sums for every (subspace, code)
        val partials = v.rdd.mapPartitionsWithIndex { (pid, rows) =>
          val cs = bcC.value; val bks = bcB.value
          val m = bks.length; val nc = bks(0).length
          val cnt = Array.ofDim[Long](m, nc)
          var sums: Array[Array[Array[Double]]] = null
          rows.foreach { case (_, x, _) =>
            if (sums == null) sums = Array.ofDim[Double](m, nc, sub)
            val r = residual(x, cs)
            var s = 0
            while (s < m) {
              val c = subNearest(r, s * sub, bks(s))
              cnt(s)(c) += 1
              val acc = sums(s)(c); var i = 0
              while (i < sub) { acc(i) += r(s * sub + i); i += 1 }
              s += 1
            }
          }
          if (sums == null) Iterator.empty
          else for {
            s <- (0 until m).iterator; c <- (0 until nc).iterator
            if cnt(s)(c) > 0
          } yield (pid, s, c, cnt(s)(c), sums(s)(c))
        }
        // combine per (subspace, code) on executors, fixed pid order —
        // only m × codes tiny rows reach the driver
        val combined = partials
          .map { case (pid, s, c, n, sum) => ((s, c), (pid, n, sum)) }
          .groupByKey(math.min(p.m * p.codes, 32))
          .mapValues { parts =>
            val sorted = parts.toArray.sortBy(_._1)
            val acc = new Array[Double](sub)
            var n = 0L
            sorted.foreach { case (_, cn, sm) =>
              n += cn
              var i = 0; while (i < sub) { acc(i) += sm(i); i += 1 }
            }
            (n, acc)
          }
          .collect().toMap
        books = Array.tabulate(p.m) { s =>
          Array.tabulate(p.codes) { c =>
            combined.get((s, c)) match {
              case None => books(s)(c) // empty code keeps its word
              case Some((n, sum)) =>
                val w = new Array[Double](sub)
                var i = 0; while (i < sub) { w(i) = sum(i) / n; i += 1 }
                w
            }
          }
        }
        bcB.destroy()
      }
      Model(cents, books)
    } finally v.unpersist()
  }

  /** Encode the corpus: (id, cluster, m byte codes) — the at-rest
    * index rows. Map-only over broadcast model.
    */
  def encode(embeddings: DataFrame, idCol: String, embCol: String,
      model: Model): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model)
    IvfIndex.unitVectors(embeddings, idCol, embCol, lit(false))
      .map { case (id, x, _) =>
        val Model(cs, bks) = bc.value
        val m = bks.length; val sub = x.length / m
        val cluster = IvfIndex.nearest(x, cs)
        val cent = cs(cluster)
        val r = new Array[Double](x.length)
        var i = 0
        while (i < x.length) { r(i) = x(i) - cent(i); i += 1 }
        val code = new Array[Byte](m)
        var s = 0
        while (s < m) { code(s) = subNearest(r, s * sub, bks(s)).toByte; s += 1 }
        (id, cluster, code)
      }
      .toDF("id", "cluster", "code")
  }

  /** Approximate top-k by ADC over an encoded corpus. `queries` are
    * raw float vectors (bounded collect + broadcast); per (query,
    * probed cluster) an m×codes lookup table turns each corpus score
    * into m byte-indexed adds.
    */
  def topK(encoded: DataFrame, queries: DataFrame, idCol: String,
      embCol: String, model: Model, p: Params = Params(),
      maxQueries: Int = 4096): DataFrame = {
    val spark = encoded.sparkSession
    import spark.implicits._
    val qs = AnnTopK.boundedQueryCollect(
      IvfIndex.unitVectors(queries, idCol, embCol, lit(true))
        .map(t => (t._1, t._2)).take(maxQueries + 1),
      maxQueries)
    val probes = qs.map { case (_, qx) => IvfIndex.probeSet(qx, model.cents, p.nprobe) }
    val probed = probes.flatten.distinct.sorted
    val bc = spark.sparkContext.broadcast(model)

    val corpus = encoded
      .filter(col("cluster").isin(probed.map(c => c: Any): _*))
      .select(col("id").cast("long"), col("cluster").cast("int"), col("code"))
      .as[(Long, Int, Array[Byte])]
    BoundedTopK.ranked(BoundedTopK.scan(corpus, qs, Some(probes), p.k) { q =>
      val Model(cs, bks) = bc.value
      val m = bks.length; val nc = bks(0).length
      val sub = cs(0).length / m
      // LUT(query, cluster): base = q·cent, plus per-(sub, code)
      // q_sub · codeword — built lazily per cluster seen
      val luts = Array.fill(q.length)(scala.collection.mutable.Map.empty[Int, (Double, Array[Double])])
      def lut(qi: Int, cluster: Int): (Double, Array[Double]) =
        luts(qi).getOrElseUpdate(cluster, {
          val qx = q(qi)._2
          val base = IvfIndex.dot(qx, cs(cluster))
          val t = new Array[Double](m * nc)
          var s = 0
          while (s < m) {
            var c = 0
            while (c < nc) {
              val w = bks(s)(c)
              var d = 0.0; var i = 0
              while (i < sub) { d += qx(s * sub + i) * w(i); i += 1 }
              t(s * nc + c) = d
              c += 1
            }
            s += 1
          }
          (base, t)
        })
      new Scorer[Array[Byte]] {
        private var cluster = 0
        override def accept(bucket: Int, code: Array[Byte]): Boolean = {
          cluster = bucket; true
        }
        def score(qi: Int, code: Array[Byte]): Double = {
          val (base, t) = lut(qi, cluster)
          var sim = base
          var s = 0
          while (s < m) { sim += t(s * nc + (code(s) & 0xff)); s += 1 }
          sim
        }
      }
    }, p.k)
  }
}
