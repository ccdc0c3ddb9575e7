package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.GraftQuery
import graft.functions.TextFns
import graft.sources.Tables

/** Sampling operators for training-data curation — the "how much of
  * which source goes into the mix" stage of a 100 TB pipeline. Both
  * queries are hash-deterministic (never `rand()`): reproducible across
  * runs, engines and cluster sizes, and adding documents never
  * reshuffles existing picks — the property that makes sampled corpora
  * diffable between pipeline versions.
  *
  *   - q81: fixed-size per-stratum sample via a bounded-heap typed
  *     aggregate (k smallest md5-hash keys per stratum). The naive
  *     window form (`row_number() over (partition by stratum order by
  *     hash)`) sends every row of a stratum to one reducer; the
  *     aggregate keeps ≤ k pairs per partition through map-side
  *     combine, so shuffle volume is partitions × strata × k no matter
  *     how large a stratum gets.
  *   - q82: weighted mixture by source — a map-only hash-threshold
  *     Bernoulli filter (rate derived per source), then one count
  *     aggregate. The embarrassing-parallel path: nothing shuffles but
  *     the per-source totals.
  */
object Sampling {

  private val K = 10

  def queries: Seq[GraftQuery] = Seq(
    // Stratified fixed-size sample: k docs per source, picked by
    // smallest md5-derived hash key (salted so the pick is independent
    // of q67's split buckets). Exact and deterministic; the typed
    // bounded-heap aggregate is the scale path (see object scaladoc).
    GraftQuery(
      "q81_sample_stratified",
      // the facade pipeline IS the gated implementation (see q117)
      (s, dir) => graft.GraftEngine(s)
        .stratifiedSample(Tables.load(s, dir, "documents"), "source", "doc_id", K)
        .select(col("stratum").as("source"), col("rank"), col("doc_id"))
        .orderBy(col("source"), col("rank")),
      Some(s"""
        WITH h AS (
          SELECT source, doc_id,
                 ('0x' || substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS hk
          FROM documents),
        r AS (
          SELECT source, doc_id,
                 CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY hk, doc_id) AS BIGINT) AS rank
          FROM h)
        SELECT source, rank, doc_id FROM r WHERE rank <= $K ORDER BY source, rank
      """.stripMargin.trim)),

    // Source-weighted mixture: per-source sampling rate (5..81%,
    // derived from the source id so the oracle needs no literal map),
    // hash-threshold Bernoulli pick, per-source achieved counts and
    // token budget. Map-only until the final per-source aggregate.
    GraftQuery(
      "q82_sample_mixture",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val weight = (substring(col("source"), 4, 10).cast("long") % 20L) * 4L + 5L
        val bucket = pmod(
          TextFns.md5hash60(concat(lit("mix:"), col("doc_id").cast("string"))), lit(100L))
        d.select(col("source"), col("text"), weight.as("weight_pct"),
            (bucket < weight).as("picked"))
          .groupBy(col("source"))
          .agg(first(col("weight_pct")).as("weight_pct"),
            count(lit(1)).as("n_total"),
            sum(when(col("picked"), 1L).otherwise(0L)).as("n_sampled"),
            sum(when(col("picked"), size(TextFns.tokens(col("text"))).cast("long"))
              .otherwise(0L)).as("tokens_sampled"))
          .orderBy(col("source"))
      },
      Some("""
        WITH w AS (
          SELECT source, text,
                 (CAST(substr(source, 4) AS BIGINT) % 20) * 4 + 5 AS weight_pct,
                 ('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS bucket
          FROM documents)
        SELECT source, ANY_VALUE(weight_pct) AS weight_pct, COUNT(*) AS n_total,
               CAST(SUM(CASE WHEN bucket < weight_pct THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
               CAST(SUM(CASE WHEN bucket < weight_pct
                             THEN len(string_split(text, ' ')) ELSE 0 END) AS BIGINT) AS tokens_sampled
        FROM w GROUP BY source ORDER BY source
      """.stripMargin.trim)),

    // Deterministic global shuffle + shard assignment — the "shuffle
    // the corpus once per training run" step every data loader needs.
    // Shard = hash bucket of the doc id; position within shard = rank
    // of a second, independent hash (salts differ, so shard and order
    // are uncorrelated). Hash-based, never rand(): reproducible across
    // runs/engines/cluster sizes, and stable under corpus append.
    // Scale: the window partitions by shard, and nShards is chosen so
    // a shard ≈ one output file (≈1M docs at 100 TB) — per-partition
    // work is bounded by that target size no matter how large the
    // corpus grows, and all shards rank in parallel. The physical
    // write path is the same plan with
    // `partitionBy("shard") + sortWithinPartitions("ok")`.
    GraftQuery(
      "q90_shuffle_shard",
      (s, dir) => {
        val nShards = 8
        val d = Tables.load(s, dir, "documents")
        val keyed = d.select(
          pmod(TextFns.md5hash60(concat(lit("shard:"), col("doc_id").cast("string"))),
            lit(nShards.toLong)).as("shard"),
          TextFns.md5hash60(concat(lit("pos:"), col("doc_id").cast("string"))).as("ok"),
          col("doc_id"))
        keyed
          .withColumn("pos", row_number()
            .over(Window.partitionBy(col("shard")).orderBy(col("ok"), col("doc_id")))
            .cast("long"))
          .select(col("shard"), col("pos"), col("doc_id"))
          .orderBy(col("shard"), col("pos"))
      },
      Some("""
        WITH h AS (
          SELECT doc_id,
                 ('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 8 AS shard,
                 ('0x' || substr(md5('pos:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS ok
          FROM documents)
        SELECT shard,
               CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY ok, doc_id) AS BIGINT) AS pos,
               doc_id
        FROM h ORDER BY shard, pos
      """.stripMargin.trim)),

    // Weighted sampling without replacement via integer priority
    // sampling: priority = hash div weight (longer documents → smaller
    // expected priority → more likely sampled), global k smallest win.
    // All-integer, so exact across engines — no pow/ln key like
    // Efraimidis–Spirakis, same monotone weight-proportional shape.
    // Map-only scoring into a TakeOrdered top-k: only k rows survive
    // per partition, no full sort at any scale.
    GraftQuery(
      "q97_sample_weighted",
      (s, dir) => {
        val k = 25
        // weight > 0 guard: a zero weight would make the integer div
        // NULL, and Spark (NULLS FIRST) and DuckDB (NULLS LAST) order
        // NULLs differently under ASC — exclude rather than depend on it
        val d = Tables.load(s, dir, "documents").filter(col("n_chars") > 0)
        // window bound: k rows — it runs above the TakeOrdered limit
        // (the plan confirms Window above TakeOrderedAndProject)
        val w = Window.orderBy(col("priority"), col("doc_id"))
        d.select(col("doc_id"), col("source"), col("n_chars").as("weight"),
            TextFns.md5hash60(concat(lit("wsample:"), col("doc_id").cast("string")))
              .as("h"))
          .select(col("doc_id"), col("source"), col("weight"),
            expr("h div weight").as("priority"))
          .orderBy(col("priority"), col("doc_id"))
          .limit(k)
          .withColumn("rank", row_number().over(w).cast("long"))
          .select(col("rank"), col("doc_id"), col("source"),
            col("weight"), col("priority"))
          .orderBy(col("rank"))
      },
      Some("""
        WITH h AS (
          SELECT doc_id, source, n_chars AS weight,
                 CAST(('0x' || substr(md5('wsample:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                      // n_chars AS BIGINT) AS priority
          FROM documents WHERE n_chars > 0),
        top AS (SELECT * FROM h ORDER BY priority, doc_id LIMIT 25)
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY priority, doc_id) AS BIGINT) AS rank,
               doc_id, source, weight, priority
        FROM top ORDER BY rank
      """.stripMargin.trim)),

    // TOKEN-budget mixture — the unit real data mixtures are specified
    // in ("sample w_s billion tokens from source s"), vs q82's per-ROW
    // mixture rates: per source, the Bernoulli keep-rate is the exact
    // integer ppm that scales its token mass down to the budget
    // (capped at 1e6 — a source under budget is taken whole), applied
    // via the deterministic per-doc hash. One tiny totals aggregate
    // broadcast into a map-only filter; E[kept tokens] = budget.
    GraftQuery(
      "q108_token_budget_mixture",
      (s, dir) => {
        val budgets = Seq(("src0", 12000L), ("src1", 8000L), ("src2", 5000L))
        val d = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            size(TextFns.tokens(col("text"))).cast("long").as("n_tok"))
        val totals = d.groupBy(col("source")).agg(sum(col("n_tok")).as("total_tok"))
        val bdf = s.createDataFrame(budgets).toDF("source", "budget_tok")
        val rates = totals.join(bdf, "source")
          .select(col("source"),
            least(lit(1000000L), expr("(budget_tok * 1000000) div total_tok"))
              .as("rate_ppm"))
        d.join(broadcast(rates), "source")
          .filter(TextFns.md5hash60(
            concat(lit("mix:"), col("doc_id").cast("string"))) % 1000000L
            < col("rate_ppm"))
          .select(col("doc_id"), col("source"), col("n_tok"), col("rate_ppm"))
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH d AS (SELECT doc_id, source,
                          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
                   FROM documents),
        t AS (SELECT source, SUM(n_tok) AS total_tok FROM d GROUP BY source),
        b AS (SELECT * FROM (VALUES ('src0', 12000), ('src1', 8000), ('src2', 5000)) v(source, budget_tok)),
        r AS (SELECT t.source,
                     CAST(LEAST(1000000, (CAST(b.budget_tok AS BIGINT) * 1000000) // t.total_tok) AS BIGINT) AS rate_ppm
              FROM t JOIN b USING (source))
        SELECT d.doc_id, d.source, d.n_tok, r.rate_ppm
        FROM d JOIN r USING (source)
        WHERE ('0x' || substr(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000 < r.rate_ppm
        ORDER BY d.doc_id
      """.stripMargin.trim)),

    // Deterministic, seedable training shuffle + sharding: every doc
    // gets a multiplicative-hash rank ((id·2654435761 + seed) mod the
    // prime 1e9+7 — engine-portable exact integer arithmetic, no
    // 64-bit wrap, valid for ids < ~3.4e9), a shard = rank mod
    // n_shards, and a position within its shard. At cluster scale
    // this is repartition-by-shard + a PARTITIONED window — never a
    // global sort of the corpus; re-running with the same seed
    // reproduces the exact batch order (the training-data
    // reproducibility contract), a new seed is a fresh epoch
    // permutation.
    GraftQuery(
      "q205_train_shuffle",
      (s, dir) => {
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.expressions.Window
        val docs = graft.sources.Tables.load(s, dir, "documents")
        val hkey = (col("doc_id") * lit(2654435761L) + lit(42L)) % lit(1000000007L)
        val w = Window.partitionBy(col("shard"))
          .orderBy(col("hkey").asc, col("doc_id").asc)
        docs.select(col("doc_id"), hkey.as("hkey"))
          .withColumn("shard", col("hkey") % 8)
          .withColumn("pos", row_number().over(w).cast("long"))
          .select("doc_id", "shard", "pos")
          .orderBy("shard", "pos")
      },
      Some("""
        WITH h AS (
          SELECT doc_id, (doc_id * 2654435761 + 42) % 1000000007 AS hkey
          FROM documents),
        s AS (SELECT doc_id, hkey, CAST(hkey % 8 AS BIGINT) AS shard FROM h),
        r AS (SELECT doc_id, shard,
                CAST(ROW_NUMBER() OVER (PARTITION BY shard
                  ORDER BY hkey, doc_id) AS BIGINT) AS pos
              FROM s)
        SELECT doc_id, shard, pos FROM r ORDER BY shard, pos
      """.stripMargin.trim))
  )
}
