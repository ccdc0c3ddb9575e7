package graft.queries

import org.apache.spark.sql.functions._
import graft.GraftQuery
import graft.sources.Tables

/** Approximate-nearest-neighbor search over the `embeddings` table.
  *
  * q75 is the exact baseline: broadcast the (small) query set against
  * the full vector table — one map-side pass over the corpus, then the
  * per-query top-k ranked in one reducer. Scales to any corpus size (corpus is never
  * shuffled; only |queries| × k rows survive).
  *
  * q76 is the IVF scale path: a coarse quantizer (cluster centroids)
  * prunes the corpus to nprobe buckets per query, cutting scanned
  * vectors by ~nclusters/nprobe. Approximate by construction, so it is
  * spec-checked for recall against q75 instead of oracle-checked.
  */
object Similarity {

  /** q116's whitened-corpus checkpoint from the previous invocation —
    * swapped and unpersisted per run so repeated gate/bench passes
    * bound block-manager storage to one copy instead of accumulating
    * until the ContextCleaner happens to collect them.
    */
  private[queries] val lastWhitened =
    new java.util.concurrent.atomic.AtomicReference[org.apache.spark.sql.DataFrame](null)

  private val K = 5

  def queries: Seq[GraftQuery] = Seq(
    // Brute-force cosine top-k: exact, deterministic (quantized-integer
    // dot products, ties broken by neighbor id). Scoring runs in the
    // AnnTopK partition kernel — one unshuffled corpus scan with
    // per-query bounded heaps; only partitions×|Q|×k rows survive.
    GraftQuery(
      "q75_ann_brute",
      (s, dir) => {
        graft.operators.AnnTopK.bruteForce(
            Tables.load(s, dir, "embeddings"),
            "vec_id", "embedding", col("vec_id") % 50 === 0, K)
          .orderBy(col("q_id"), col("rank"))
      },
      Some(s"""
        WITH e AS (
          SELECT vec_id,
                 list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1e7) AS BIGINT)::DOUBLE) AS q
          FROM embeddings),
        n AS (SELECT vec_id, q, list_dot_product(q, q) AS n2 FROM e),
        qs AS (SELECT vec_id AS q_id, q AS qq, n2 AS qn2 FROM n WHERE vec_id % 50 = 0),
        scored AS (
          SELECT q_id, vec_id,
                 list_dot_product(qq, q) / (sqrt(qn2) * sqrt(n2)) AS sim
          FROM qs CROSS JOIN n WHERE q_id <> vec_id),
        ranked AS (
          SELECT q_id, vec_id, sim,
                 CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS BIGINT) AS rank
          FROM scored)
        SELECT q_id, rank, vec_id AS neighbor_id, sim
        FROM ranked WHERE rank <= $K ORDER BY q_id, rank
      """.stripMargin.trim),
      headline = true),

    // IVF ANN with the analytic sign-bit (hyperoctant) coarse
    // quantizer (operators.SignIvf): 16 buckets, 4 probed per query by
    // Hamming-nearest sign code, exact cosine top-k inside the probed
    // buckets — scans ~nprobe/nlist of the corpus. Deterministic and
    // pure per-vector, so the whole query has a DuckDB oracle; the
    // *trained* k-means quantizer (operators.IvfIndex) is the same
    // serving shape and is spec-checked for recall vs q75.
    GraftQuery(
      "q76_ann_ivf",
      (s, dir) => {
        graft.operators.SignIvf.topK(
            Tables.load(s, dir, "embeddings"),
            "vec_id", "embedding", col("vec_id") % 50 === 0,
            signDims = 4, nprobe = 4, k = K)
          .orderBy(col("q_id"), col("rank"))
      },
      Some(s"""
        WITH e AS (
          SELECT vec_id,
                 list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1e7) AS BIGINT)::DOUBLE) AS q
          FROM embeddings),
        n AS (
          SELECT vec_id, q, list_dot_product(q, q) AS n2,
                 (CASE WHEN list_sum(list_slice(q,  1, 16)) > 0 THEN 1 ELSE 0 END
                + CASE WHEN list_sum(list_slice(q, 17, 32)) > 0 THEN 2 ELSE 0 END
                + CASE WHEN list_sum(list_slice(q, 33, 48)) > 0 THEN 4 ELSE 0 END
                + CASE WHEN list_sum(list_slice(q, 49, 64)) > 0 THEN 8 ELSE 0 END) AS cid
          FROM e),
        buckets AS (SELECT DISTINCT cid FROM n),
        qs AS (SELECT vec_id AS q_id, q AS qq, n2 AS qn2,
                      list_sum(list_slice(q,  1, 16)) AS g1,
                      list_sum(list_slice(q, 17, 32)) AS g2,
                      list_sum(list_slice(q, 33, 48)) AS g3,
                      list_sum(list_slice(q, 49, 64)) AS g4
               FROM n WHERE vec_id % 50 = 0),
        probes AS (
          SELECT q_id, qq, qn2, b.cid
          FROM qs CROSS JOIN buckets b
          QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY
                    (CASE WHEN (b.cid & 1) > 0 THEN g1 ELSE -g1 END
                   + CASE WHEN (b.cid & 2) > 0 THEN g2 ELSE -g2 END
                   + CASE WHEN (b.cid & 4) > 0 THEN g3 ELSE -g3 END
                   + CASE WHEN (b.cid & 8) > 0 THEN g4 ELSE -g4 END) DESC, b.cid) <= 4),
        scored AS (
          SELECT p.q_id, v.vec_id,
                 list_dot_product(p.qq, v.q) / (sqrt(p.qn2) * sqrt(v.n2)) AS sim
          FROM probes p JOIN n v ON v.cid = p.cid AND v.vec_id <> p.q_id),
        ranked AS (
          SELECT q_id, vec_id, sim,
                 CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS BIGINT) AS rank
          FROM scored)
        SELECT q_id, rank, vec_id AS neighbor_id, sim
        FROM ranked WHERE rank <= $K ORDER BY q_id, rank
      """.stripMargin.trim)),

    // int8 scalar-quantized ANN (operators.QuantizedAnn): one byte per
    // dimension (4× smaller corpus scan than float32), integer dot
    // products, same broadcast-queries/bounded-heap serving shape as
    // q75. The oracle replays the identical per-vector max-abs
    // quantizer, so results — including quantization error — are
    // bit-exact; QuantizedAnnSpec separately pins recall vs q75.
    GraftQuery(
      "q86_ann_int8",
      (s, dir) => {
        graft.operators.QuantizedAnn.topK(
            Tables.load(s, dir, "embeddings"),
            "vec_id", "embedding", col("vec_id") % 50 === 0, K)
          .orderBy(col("q_id"), col("rank"))
      },
      Some(s"""
        WITH e AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
        m AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS mx FROM e),
        q AS (SELECT vec_id,
                     CASE WHEN mx = 0 THEN list_transform(v, x -> 0::BIGINT)
                          ELSE list_transform(v, x -> CAST(round(x * 127.0 / mx) AS BIGINT)) END AS qv
              FROM m),
        nn AS (SELECT vec_id, list_transform(qv, x -> x::DOUBLE) AS qd FROM q),
        n2 AS (SELECT vec_id, qd, list_dot_product(qd, qd) AS n2 FROM nn),
        qs AS (SELECT vec_id AS q_id, qd AS qq, n2 AS qn2 FROM n2 WHERE vec_id % 50 = 0),
        scored AS (
          SELECT q_id, vec_id,
                 list_dot_product(qq, qd) / (sqrt(qn2) * sqrt(n2)) AS sim
          FROM qs CROSS JOIN n2 WHERE q_id <> vec_id AND n2 > 0),
        ranked AS (
          SELECT q_id, vec_id, sim,
                 CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS BIGINT) AS rank
          FROM scored)
        SELECT q_id, rank, vec_id AS neighbor_id, sim
        FROM ranked WHERE rank <= $K ORDER BY q_id, rank
      """.stripMargin.trim),
      headline = true),

    // Exact k-NN JOIN within label groups (operators.KnnJoin): every
    // vector is both query and candidate, so neither side broadcasts —
    // block-pair decomposition + per-task bounded heaps keep shuffle
    // at B×corpus and candidate volume at B·k per row (never the
    // within-group pair set). The retrieval-eval / graph-building
    // companion to q75's broadcast serving shape.
    GraftQuery(
      "q91_knn_join",
      (s, dir) => {
        graft.operators.KnnJoin.withinGroups(
            Tables.load(s, dir, "embeddings"),
            "vec_id", "embedding", "label", k = 3)
          .select(col("grp").as("label"), col("id").as("vec_id"),
            col("rank"), col("neighbor_id"), col("sim"))
          .orderBy(col("vec_id"), col("rank"))
      },
      Some("""
        WITH e AS (
          SELECT vec_id, CAST(label AS BIGINT) AS label,
                 list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1e7) AS BIGINT)::DOUBLE) AS q
          FROM embeddings),
        n AS (SELECT vec_id, label, q, list_dot_product(q, q) AS n2 FROM e),
        scored AS (
          SELECT a.label, a.vec_id, b.vec_id AS neighbor_id,
                 list_dot_product(a.q, b.q) / (sqrt(a.n2) * sqrt(b.n2)) AS sim
          FROM n a JOIN n b ON a.label = b.label AND a.vec_id <> b.vec_id),
        ranked AS (
          SELECT label, vec_id, neighbor_id, sim,
                 CAST(ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rank
          FROM scored)
        SELECT label, vec_id, rank, neighbor_id, sim
        FROM ranked WHERE rank <= 3 ORDER BY vec_id, rank
      """.stripMargin.trim),
      headline = true),

    // Approximate within-group kNN join (operators.KnnJoin
    // .approxWithinGroups): the ANN swap for q91's block-pair kernel —
    // sign-bucket (hyperoctant) blocking + 2-probe multi-probe order,
    // pair work ~ (nprobe/2^signDims) of the exact join's. The
    // quantizer is a pure per-vector function (the q76 doctrine), so
    // the whole JOIN — bucketing, probe choice, in-bucket scoring —
    // has a real DuckDB oracle; recall vs the exact join is spec'd
    // separately (KnnJoinSpec).
    GraftQuery(
      "q279_knn_join_approx",
      (s, dir) => {
        graft.operators.KnnJoin.approxWithinGroups(
            Tables.load(s, dir, "embeddings"),
            "vec_id", "embedding", "label", k = 3, signDims = 4, nprobe = 2)
          .select(col("grp").as("label"), col("id").as("vec_id"),
            col("rank"), col("neighbor_id"), col("sim"))
          .orderBy(col("vec_id"), col("rank"))
      },
      Some("""
        WITH e AS (
          SELECT vec_id, CAST(label AS BIGINT) AS label,
                 list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1e7) AS BIGINT)::DOUBLE) AS q
          FROM embeddings),
        n AS (
          SELECT vec_id, label, q, list_dot_product(q, q) AS n2,
                 list_sum(list_slice(q,  1, 16)) AS g1,
                 list_sum(list_slice(q, 17, 32)) AS g2,
                 list_sum(list_slice(q, 33, 48)) AS g3,
                 list_sum(list_slice(q, 49, 64)) AS g4,
                 (CASE WHEN list_sum(list_slice(q,  1, 16)) > 0 THEN 1 ELSE 0 END
                + CASE WHEN list_sum(list_slice(q, 17, 32)) > 0 THEN 2 ELSE 0 END
                + CASE WHEN list_sum(list_slice(q, 33, 48)) > 0 THEN 4 ELSE 0 END
                + CASE WHEN list_sum(list_slice(q, 49, 64)) > 0 THEN 8 ELSE 0 END) AS cid
          FROM e WHERE list_dot_product(q, q) > 0),
        buckets AS (SELECT DISTINCT cid FROM n),
        probes AS (
          SELECT n.vec_id AS q_id, n.label AS ql, n.q AS qq,
                 n.n2 AS qn2, b.cid
          FROM n CROSS JOIN buckets b
          QUALIFY ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
                    (CASE WHEN (b.cid & 1) > 0 THEN g1 ELSE -g1 END
                   + CASE WHEN (b.cid & 2) > 0 THEN g2 ELSE -g2 END
                   + CASE WHEN (b.cid & 4) > 0 THEN g3 ELSE -g3 END
                   + CASE WHEN (b.cid & 8) > 0 THEN g4 ELSE -g4 END) DESC,
                    b.cid) <= 2),
        scored AS (
          SELECT p.ql AS label, p.q_id AS vec_id, v.vec_id AS neighbor_id,
                 list_dot_product(p.qq, v.q) / (sqrt(p.qn2) * sqrt(v.n2)) AS sim
          FROM probes p JOIN n v ON v.cid = p.cid AND v.label = p.ql
                                AND v.vec_id <> p.q_id),
        ranked AS (
          SELECT label, vec_id, neighbor_id, sim,
                 CAST(ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rank
          FROM scored)
        SELECT label, vec_id, rank, neighbor_id, sim
        FROM ranked WHERE rank <= 3 ORDER BY vec_id, rank
      """.stripMargin.trim)),

    // IVF-PQ ANN served by asymmetric distance over a product-code
    // table — the billion-vector index layout (m=8 code bytes/vector
    // vs dims×4 float bytes; the float corpus is never read at query
    // time). This entry runs the ANALYTIC variant (operators.SignPq):
    // sign-bucket coarse quantizer + per-subspace sign-pattern
    // codebooks (256 ±1 codewords), whose ADC scores are exact
    // BIGINTs — so unlike the trained k-means/Lloyd path
    // (operators.IvfPq, recall-spec'd in IvfPqSpec) the full query
    // replays in SQL and gets a real DuckDB oracle: the same
    // trained-vs-analytic split as q76's SignIvf vs IvfIndex.
    GraftQuery(
      "q88_ann_ivfpq",
      (s, dir) => {
        graft.operators.SignPq.topK(
          Tables.load(s, dir, "embeddings"),
          "vec_id", "embedding", col("vec_id") % 50 === 0,
          signDims = 4, nprobe = 4, k = K, m = 8)
      },
      Some(s"""
        WITH e AS (
          SELECT vec_id,
                 list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1e7) AS BIGINT)::DOUBLE) AS q
          FROM embeddings),
        n AS (
          SELECT vec_id, q,
                 (CASE WHEN list_sum(list_slice(q,  1, 16)) > 0 THEN 1 ELSE 0 END
                + CASE WHEN list_sum(list_slice(q, 17, 32)) > 0 THEN 2 ELSE 0 END
                + CASE WHEN list_sum(list_slice(q, 33, 48)) > 0 THEN 4 ELSE 0 END
                + CASE WHEN list_sum(list_slice(q, 49, 64)) > 0 THEN 8 ELSE 0 END) AS cid
          FROM e),
        buckets AS (SELECT DISTINCT cid FROM n),
        qs AS (SELECT vec_id AS q_id, q AS qq,
                      list_sum(list_slice(q,  1, 16)) AS g1,
                      list_sum(list_slice(q, 17, 32)) AS g2,
                      list_sum(list_slice(q, 33, 48)) AS g3,
                      list_sum(list_slice(q, 49, 64)) AS g4
               FROM n WHERE vec_id % 50 = 0),
        probes AS (
          SELECT q_id, qq, b.cid
          FROM qs CROSS JOIN buckets b
          QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY
                    (CASE WHEN (b.cid & 1) > 0 THEN g1 ELSE -g1 END
                   + CASE WHEN (b.cid & 2) > 0 THEN g2 ELSE -g2 END
                   + CASE WHEN (b.cid & 4) > 0 THEN g3 ELSE -g3 END
                   + CASE WHEN (b.cid & 8) > 0 THEN g4 ELSE -g4 END) DESC, b.cid) <= 4),
        -- ADC: decode each corpus code byte to its ±1 codeword and dot
        -- with the exact query — equivalently sum ±query components by
        -- the corpus vector's per-dimension sign (all integer-exact)
        scored AS (
          SELECT p.q_id, v.vec_id,
                 CAST(list_dot_product(p.qq,
                   list_transform(v.q, y -> CASE WHEN y > 0 THEN 1.0 ELSE -1.0 END)) AS BIGINT) AS adc
          FROM probes p JOIN n v ON v.cid = p.cid AND v.vec_id <> p.q_id),
        ranked AS (
          SELECT q_id, vec_id, adc,
                 CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc DESC, vec_id) AS BIGINT) AS rank
          FROM scored)
        SELECT q_id, rank, vec_id AS neighbor_id, adc
        FROM ranked WHERE rank <= $K ORDER BY q_id, rank
      """.stripMargin.trim)),

    // Whitened retrieval ([[graft.operators.Whitening.analyticWhiten]]):
    // cosine top-20 for one query vector in the variance-equalized
    // Hadamard basis — the preprocessing that stops dominant embedding
    // directions from crowding every cosine toward 1. The analytic
    // basis (vs the PCA path's data-driven eigenbasis) is what makes
    // the ENTIRE transform — quantize, exact n-scaled centering, ±1
    // rotation, integer second moments, one rounded float step —
    // replayable in SQL, so the gate hash-checks whitening end to end.
    // Scale: two 64-group aggregates + map-only kernels; the corpus is
    // never shuffled by row, and the final top-k is |corpus| → 20.
    GraftQuery(
      "q116_whitened_retrieval",
      (s, dir) => {
        // materialize once: qy shares no physical plan with the main
        // branch, so without this the whole whitening pipeline (two
        // corpus aggregates + the rotation) runs a second full time
        // just to produce the one broadcast query row; the previous
        // run's blocks are unpersisted so repeated gate/bench passes
        // hold at most ONE whitened copy in block-manager storage
        val y = graft.operators.Whitening.analyticWhiten(
          Tables.load(s, dir, "embeddings"), "vec_id", "embedding")
          .localCheckpoint(true)
        Option(Similarity.lastWhitened.getAndSet(y)).foreach(_.unpersist())
        val qy = y.filter(col("vec_id") === 7).select(col("y").as("qy"))
        val dot = aggregate(zip_with(col("y"), col("qy"), (a, b) => a * b),
          lit(0L), (acc, x) => acc + x)
        val nd = aggregate(zip_with(col("y"), col("y"), (a, b) => a * b),
          lit(0L), (acc, x) => acc + x)
        val nq = aggregate(zip_with(col("qy"), col("qy"), (a, b) => a * b),
          lit(0L), (acc, x) => acc + x)
        y.crossJoin(broadcast(qy))
          .filter(col("vec_id") =!= 7)
          .select(col("vec_id"),
            round(dot.cast("double") /
              (sqrt(nd.cast("double")) * sqrt(nq.cast("double"))), 6).as("score"))
          .orderBy(col("score").desc, col("vec_id")).limit(20)
      },
      Some("""
        WITH q AS (
          SELECT vec_id, i,
                 CAST(round(CAST(embedding[i + 1] AS DOUBLE) * 1e7) AS BIGINT) AS qx
          FROM embeddings, range(0, 64) t(i)),
        tot AS (SELECT COUNT(*) AS n FROM embeddings),
        s AS (SELECT i, CAST(SUM(qx) AS BIGINT) AS sx FROM q GROUP BY i),
        zin AS (
          SELECT vec_id, i, qx * n - sx AS zi
          FROM q JOIN s USING (i) CROSS JOIN tot),
        z AS (
          SELECT vec_id, j,
                 CAST(SUM(CASE WHEN bit_count(CAST(j AS BIGINT) & CAST(i AS BIGINT)) % 2 = 0
                          THEN zi ELSE -zi END) AS BIGINT) AS zj
          FROM zin, range(0, 64) r(j) GROUP BY vec_id, j),
        vn AS (SELECT j, SUM(CAST(zj AS HUGEINT) * zj) AS vnj FROM z GROUP BY j),
        y AS (
          SELECT vec_id, j,
                 CAST(round(CAST(zj AS DOUBLE) / sqrt(CAST(vnj + 1 AS DOUBLE)) * 1e6) AS BIGINT) AS yj
          FROM z JOIN vn USING (j)),
        qy AS (SELECT j, yj AS qyj FROM y WHERE vec_id = 7),
        scored AS (
          SELECT y.vec_id,
                 CAST(SUM(y.yj * qy.qyj) AS BIGINT) AS dot,
                 CAST(SUM(y.yj * y.yj) AS BIGINT) AS nd
          FROM y JOIN qy USING (j) WHERE y.vec_id <> 7 GROUP BY y.vec_id),
        nrm AS (SELECT CAST(SUM(qyj * qyj) AS BIGINT) AS nq FROM qy)
        SELECT vec_id,
               round(CAST(dot AS DOUBLE) /
                 (sqrt(CAST(nd AS DOUBLE)) * sqrt(CAST(nq AS DOUBLE))), 6) AS score
        FROM scored CROSS JOIN nrm
        ORDER BY score DESC, vec_id LIMIT 20
      """.stripMargin.trim)),

    // Matryoshka-style two-stage ANN: candidate shortlist by cosine
    // over the FIRST 16 dims only (MRL truncation — the cheap pass
    // reads a quarter of each vector), then exact FULL-dim re-rank of
    // the ≤60 candidates per query. The shortlist runs the q75
    // bounded-heap kernel on truncated vectors (corpus scanned once,
    // never shuffled); the re-rank scans the corpus twice more — once
    // pruned by the broadcast candidate-id join, once by the pushed
    // query predicate — and in BOTH arms quantization runs AFTER the
    // prune, so the interpreted HOF only ever touches the ≤|Q|·60
    // surviving rows, never the corpus. The final window covers ≤60
    // rows per query. Both stages are exact-integer quantized with ONE
    // IEEE divide, so BOTH are oracle-replayable — unlike a trained
    // index, the accuracy/cost knob itself is hash-gated, not just
    // spec-gated.
    GraftQuery(
      "q340_ann_matryoshka",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        import graft.functions.VectorFns
        val e = Tables.load(s, dir, "embeddings")
        val trunc = e.select(col("vec_id"),
          slice(col("embedding"), 1, 16).as("embedding"))
        val short = graft.operators.AnnTopK.bruteForce(
            trunc, "vec_id", "embedding", col("vec_id") % 50 === 0, k = 60)
          .select(col("q_id"), col("neighbor_id"))
        val qv = e.filter(col("vec_id") % 50 === 0)
          .select(col("vec_id").as("q_id"),
            VectorFns.quantize(col("embedding")).as("qq"))
        // join FIRST, quantize the survivors only
        val cv = e.select(col("vec_id").as("neighbor_id"), col("embedding"))
          .join(broadcast(short), "neighbor_id")
          .select(col("q_id"), col("neighbor_id"),
            VectorFns.quantize(col("embedding")).as("cq"))
        val cand = cv.join(broadcast(qv), "q_id")
        val rer = cand.select(col("q_id"), col("neighbor_id"),
          VectorFns.qcosine(VectorFns.qdot(col("qq"), col("cq")),
            VectorFns.qnorm2(col("qq")), VectorFns.qnorm2(col("cq"))).as("sim"))
        val w = Window.partitionBy(col("q_id"))
          .orderBy(col("sim").desc, col("neighbor_id").asc)
        rer.withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= 10)
          .select(col("q_id"), col("rank"), col("neighbor_id"), col("sim"))
          .orderBy(col("q_id"), col("rank"))
      },
      Some("""
        WITH e AS (
          SELECT vec_id,
                 list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1e7) AS BIGINT)::DOUBLE) AS q
          FROM embeddings),
        tn AS (SELECT vec_id, list_slice(q, 1, 16) AS tq FROM e),
        tn2 AS (SELECT vec_id, tq, list_dot_product(tq, tq) AS tn2 FROM tn),
        tqs AS (SELECT vec_id AS q_id, tq AS qtq, tn2 AS qtn2
                FROM tn2 WHERE vec_id % 50 = 0),
        s1 AS (SELECT q_id, vec_id,
                      list_dot_product(qtq, tq) / (sqrt(qtn2) * sqrt(tn2)) AS tsim
               FROM tqs CROSS JOIN tn2 WHERE q_id <> vec_id),
        short AS (SELECT q_id, vec_id FROM (
            SELECT q_id, vec_id,
                   ROW_NUMBER() OVER (PARTITION BY q_id
                     ORDER BY tsim DESC, vec_id) AS r
            FROM s1) WHERE r <= 60),
        n AS (SELECT vec_id, q, list_dot_product(q, q) AS n2 FROM e),
        qs AS (SELECT vec_id AS q_id, q AS qq, n2 AS qn2
               FROM n WHERE vec_id % 50 = 0),
        rer AS (SELECT sh.q_id, sh.vec_id,
                       list_dot_product(qs.qq, n.q) / (sqrt(qs.qn2) * sqrt(n.n2)) AS sim
                FROM short sh
                JOIN n ON sh.vec_id = n.vec_id
                JOIN qs ON sh.q_id = qs.q_id),
        ranked AS (SELECT q_id, vec_id, sim,
                          CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY sim DESC, vec_id) AS BIGINT) AS rank
                   FROM rer)
        SELECT q_id, rank, vec_id AS neighbor_id, sim
        FROM ranked WHERE rank <= 10 ORDER BY q_id, rank
      """.stripMargin.trim)),

    // Matryoshka at its REAL regime (VERDICT r11 #6): 1024-dim
    // vectors synthesized deterministically from vec_id (32 planted
    // clusters: value = base(cluster, dim)·3 + noise(id, dim), all
    // exact integers in double, so dot products are exact whatever
    // the summation order — the one-IEEE-divide doctrine at high
    // dim), stage 1 on the SIGN-BUCKET INDEX ARM: corpus bucketed by
    // the sign bits of dims 0–3 (16 buckets, deterministic — the
    // SignIvf doctrine: unlike trained IVF the index itself is
    // oracle-replayable), each query multi-probes its own bucket + 4
    // Hamming-1 neighbors (5/16 of the corpus reaches the truncated
    // ranking, via a BROADCAST probe join — the corpus never
    // shuffles), truncated 64-dim cosine shortlists 60, stage 2
    // re-ranks the survivors at full 1024 dims. Candidate rows carry
    // both vectors, so the re-rank is the SAME pass — no second
    // corpus scan at all (tighter than q340's join-back shape).
    GraftQuery(
      "q350_ann_matryoshka_indexed",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val embSql =
          """transform(sequence(0, 1023), d -> CAST(
               (((vec_id % 32) * 37 + d) * 2654435761 % 2001 - 1000) * 3 +
               ((vec_id * 1009 + d * 97003) % 2001 - 1000) AS DOUBLE))"""
        val hd = Tables.load(s, dir, "embeddings").select(col("vec_id"))
          .withColumn("emb", expr(embSql))
          .withColumn("bucket", expr(
            """aggregate(sequence(0, 3), 0L, (acc, d) ->
                 acc * 2 + IF(element_at(emb, d + 1) > CAST(0 AS DOUBLE),
                              1L, 0L))"""))
        val q = hd.filter(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("q_id"), col("emb").as("qemb"),
            col("bucket").as("qb"))
        val probes = q.select(col("q_id"), col("qemb"),
          explode(expr("array(qb, qb ^ 1, qb ^ 2, qb ^ 4, qb ^ 8)"))
            .as("bucket"))
        def dotN(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column, n: Int): org.apache.spark.sql.Column =
          aggregate(zip_with(slice(a, 1, n), slice(b, 1, n),
            (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
        val cand = hd.join(broadcast(probes), Seq("bucket"))
          .filter(col("vec_id") =!= col("q_id"))
          .withColumn("tsim",
            dotN(col("emb"), col("qemb"), 64) /
              (sqrt(dotN(col("emb"), col("emb"), 64)) *
               sqrt(dotN(col("qemb"), col("qemb"), 64))))
        val w1 = Window.partitionBy(col("q_id"))
          .orderBy(col("tsim").desc, col("vec_id").asc)
        val short = cand.withColumn("r", row_number().over(w1))
          .filter(col("r") <= 60)
          .withColumn("sim_raw",
            dotN(col("emb"), col("qemb"), 1024) /
              (sqrt(dotN(col("emb"), col("emb"), 1024)) *
               sqrt(dotN(col("qemb"), col("qemb"), 1024))))
        val w2 = Window.partitionBy(col("q_id"))
          .orderBy(col("sim_raw").desc, col("vec_id").asc)
        short.withColumn("rank", row_number().over(w2).cast("long"))
          .filter(col("rank") <= 10)
          .select(col("q_id"), col("rank"), col("vec_id").as("neighbor_id"),
            round(col("sim_raw"), 6).as("sim"))
          .orderBy(col("q_id"), col("rank"))
      },
      Some("""
        WITH ids AS (SELECT vec_id FROM embeddings),
        v AS (
          SELECT vec_id, list_transform(range(0, 1024), d -> CAST(
            (((vec_id % 32) * 37 + d) * 2654435761 % 2001 - 1000) * 3 +
            ((vec_id * 1009 + d * 97003) % 2001 - 1000) AS DOUBLE)) AS emb
          FROM ids),
        b AS (
          SELECT vec_id, emb,
            (CASE WHEN emb[1] > 0 THEN 8 ELSE 0 END)
            + (CASE WHEN emb[2] > 0 THEN 4 ELSE 0 END)
            + (CASE WHEN emb[3] > 0 THEN 2 ELSE 0 END)
            + (CASE WHEN emb[4] > 0 THEN 1 ELSE 0 END) AS bucket
          FROM v),
        q AS (SELECT vec_id AS q_id, emb AS qemb, bucket AS qb
              FROM b WHERE vec_id % 100 = 0),
        pr AS (SELECT q_id, qemb, xor(qb, x) AS bucket
               FROM q, (SELECT unnest([0, 1, 2, 4, 8]) AS x)),
        cand AS (
          SELECT pr.q_id, pr.qemb, b.vec_id, b.emb,
            list_dot_product(list_slice(pr.qemb, 1, 64), list_slice(b.emb, 1, 64))
              / (sqrt(list_dot_product(list_slice(b.emb, 1, 64), list_slice(b.emb, 1, 64)))
                 * sqrt(list_dot_product(list_slice(pr.qemb, 1, 64), list_slice(pr.qemb, 1, 64)))) AS tsim
          FROM pr JOIN b ON pr.bucket = b.bucket AND b.vec_id <> pr.q_id),
        short AS (
          SELECT q_id, vec_id, qemb, emb FROM (
            SELECT q_id, vec_id, qemb, emb,
                   ROW_NUMBER() OVER (PARTITION BY q_id
                     ORDER BY tsim DESC, vec_id) AS r
            FROM cand) WHERE r <= 60),
        rer AS (
          SELECT q_id, vec_id,
            list_dot_product(qemb, emb)
              / (sqrt(list_dot_product(emb, emb))
                 * sqrt(list_dot_product(qemb, qemb))) AS sim_raw
          FROM short),
        ranked AS (
          SELECT q_id, vec_id, sim_raw,
                 CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                   ORDER BY sim_raw DESC, vec_id) AS BIGINT) AS rank
          FROM rer)
        SELECT q_id, rank, vec_id AS neighbor_id, round(sim_raw, 6) AS sim
        FROM ranked WHERE rank <= 10 ORDER BY q_id, rank
      """.stripMargin.trim)),

    // the 1024-dim BRUTE baseline q350 is measured against (the
    // ANN-vs-brute crossover pair): full-dim cosine over every
    // (query, corpus) pair, top 10 — same fixture, same arithmetic.
    GraftQuery(
      "q351_ann_brute_1024",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val embSql =
          """transform(sequence(0, 1023), d -> CAST(
               (((vec_id % 32) * 37 + d) * 2654435761 % 2001 - 1000) * 3 +
               ((vec_id * 1009 + d * 97003) % 2001 - 1000) AS DOUBLE))"""
        val hd = Tables.load(s, dir, "embeddings").select(col("vec_id"))
          .withColumn("emb", expr(embSql))
        val q = hd.filter(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("q_id"), col("emb").as("qemb"))
        def dotF(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
          aggregate(zip_with(a, b, (x, y) => x * y),
            lit(0.0), (acc, x) => acc + x)
        val scored = hd.crossJoin(broadcast(q))
          .filter(col("vec_id") =!= col("q_id"))
          .withColumn("sim_raw", dotF(col("emb"), col("qemb")) /
            (sqrt(dotF(col("emb"), col("emb"))) *
             sqrt(dotF(col("qemb"), col("qemb")))))
        val w = Window.partitionBy(col("q_id"))
          .orderBy(col("sim_raw").desc, col("vec_id").asc)
        scored.withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= 10)
          .select(col("q_id"), col("rank"), col("vec_id").as("neighbor_id"),
            round(col("sim_raw"), 6).as("sim"))
          .orderBy(col("q_id"), col("rank"))
      },
      Some("""
        WITH ids AS (SELECT vec_id FROM embeddings),
        v AS (
          SELECT vec_id, list_transform(range(0, 1024), d -> CAST(
            (((vec_id % 32) * 37 + d) * 2654435761 % 2001 - 1000) * 3 +
            ((vec_id * 1009 + d * 97003) % 2001 - 1000) AS DOUBLE)) AS emb
          FROM ids),
        n AS (SELECT vec_id, emb, list_dot_product(emb, emb) AS n2 FROM v),
        q AS (SELECT vec_id AS q_id, emb AS qemb, n2 AS qn2
              FROM n WHERE vec_id % 100 = 0),
        s AS (
          SELECT q_id, vec_id,
            list_dot_product(qemb, emb) / (sqrt(qn2) * sqrt(n2)) AS sim_raw
          FROM q CROSS JOIN n WHERE vec_id <> q_id),
        ranked AS (
          SELECT q_id, vec_id, sim_raw,
                 CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                   ORDER BY sim_raw DESC, vec_id) AS BIGINT) AS rank
          FROM s)
        SELECT q_id, rank, vec_id AS neighbor_id, round(sim_raw, 6) AS sim
        FROM ranked WHERE rank <= 10 ORDER BY q_id, rank
      """.stripMargin.trim))
  )
}
