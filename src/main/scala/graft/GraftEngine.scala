package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{functions => F}

import graft.etl.{DdbJson, IngestPipeline}
import graft.functions.TextFns
import graft.operators.IvfIndex
import graft.streaming.{CdcStream, DeltaCdc}

/** User-facing facade: everything a user of the reference pipeline does
  * (ingest a DynamoDB export, tail its change stream, query the
  * per-entity search indices) plus the engine's analytics extensions
  * (relational surface, dedup, similarity search, text analysis), in
  * one place.
  *
  * The facade methods are the oracle-gated implementations: where a
  * registry query covers a capability (term/phrase suggest,
  * more_like_this, search_after, span_near, geo grid, stratified
  * sample, bigram LM, DSIR, quality classifier), the query calls the
  * facade method and adds only its projection and final order/limit,
  * so the code users run is the code the DuckDB oracle and the plan
  * pins check.
  *
  * {{{
  * val g = GraftEngine(spark)
  * val r = g.ingestExport("s3a://bucket/export/")      // backfill
  * g.materialize(r, "/data/indices")                    // fare/flight + dlq
  * val q = g.startCdc("/stream/events", "/data/state", "/ckpt")
  * g.keyLookup(fares, "JFK", skPrefix = Some("DEN#"))   // key/range access
  * g.search(fares, terms = Seq("nonstop"), textCol = "fare_class")
  * }}}
  */
final case class GraftEngine(spark: SparkSession) {

  // ---- reference data path (SURVEY.md §3.2) ----

  /** Batch backfill: read a DynamoDB S3 export, decode, route. */
  def ingestExport(path: String): IngestPipeline.Result =
    IngestPipeline.run(spark, path)

  /** Write the per-entity indices + DLQ. */
  def materialize(r: IngestPipeline.Result, outDir: String): Unit =
    IngestPipeline.materialize(r, outDir)

  /** Tail a change-event feed into a keyed LWW parquet state. */
  def startCdc(eventsPath: String, targetDir: String, checkpoint: String) =
    CdcStream.start(spark, eventsPath, targetDir, checkpoint)

  /** Current queryable CDC state (tombstones filtered). */
  def cdcSnapshot(targetDir: String): Option[DataFrame] =
    CdcStream.readSnapshot(spark, targetDir)

  /** Tail a change-event feed into a delta-log target: O(batch) writes
    * per epoch, full snapshot folded every `compactEvery` deltas — the
    * write-amplification-bounded sink for large states.
    */
  def startCdcDelta(eventsPath: String, targetDir: String, checkpoint: String,
      compactEvery: Int = 8) =
    DeltaCdc.start(spark, eventsPath, targetDir, checkpoint, compactEvery)

  /** Queryable state of a delta-log CDC target (merge-on-read). */
  def cdcDeltaSnapshot(targetDir: String): Option[DataFrame] =
    DeltaCdc.readSnapshot(spark, targetDir)

  // ---- DynamoDB-shaped access patterns (P5, §2.9) ----

  /** Key/range lookup: PK equality + optional SK prefix (begins_with)
    * or SK range (between) — the two DynamoDB key-condition forms.
    */
  def keyLookup(table: DataFrame, pk: String, skPrefix: Option[String] = None,
      skRange: Option[(String, String)] = None): DataFrame = {
    val base = table.filter(col("PK") === pk)
    val p = skPrefix.fold(base)(pre => base.filter(col("SK").startsWith(pre)))
    skRange.fold(p) { case (lo, hi) => p.filter(col("SK").between(lo, hi)) }
  }

  /** OpenSearch-style bool search: all `terms` must appear (tokenized
    * match) in `textCol`, with optional extra predicates.
    */
  def search(table: DataFrame, terms: Seq[String], textCol: String,
      must: Seq[Column] = Nil, mustNot: Seq[Column] = Nil,
      size: Int = 10): DataFrame = {
    // distinct: the tokenized intersection can match each term once,
    // so duplicate query terms would make the all-match filter
    // unsatisfiable
    val qTerms = terms.map(_.toLowerCase).distinct
    val tok = array_distinct(split(lower(col(textCol)), "\\s+"))
    val score = F.size(array_intersect(tok, array(qTerms.map(lit): _*)))
    val searched = table.withColumn("_score", score.cast("long"))
      .filter(col("_score") === qTerms.length)
    val filtered = (must.map(identity) ++ mustNot.map(!_))
      .foldLeft(searched)((df, p) => df.filter(p))
    // deterministic page: every hit has the same score, so tiebreak on
    // the table's leading columns
    val tiebreak = table.columns.take(2).map(col).toSeq
    filtered.orderBy(col("_score").desc +: tiebreak: _*).limit(size)
  }

  /** OpenSearch-style `_search` request body (query-DSL JSON) compiled
    * onto Catalyst — the reference's client wire contract. Returns the
    * hit table (with a LONG `score` column), or the bucket table when
    * the request carries `aggs`. See [[graft.search.QueryDsl]] for the
    * supported clause surface; unsupported clauses fail loud.
    */
  def searchDsl(table: DataFrame, requestJson: String): DataFrame =
    graft.search.QueryDsl.search(table, requestJson)

  /** The `_count` endpoint: one row, one `count` column — the
    * request's query predicate compiled into a single global
    * aggregate (no sort, no score materialization).
    */
  def searchCount(table: DataFrame, requestJson: String): DataFrame =
    graft.search.QueryDsl.countRequest(table, requestJson)

  /** `_msearch` over `_count`-shaped bodies: N requests, ONE corpus
    * scan — every predicate becomes a conditional count in a single
    * global aggregate. Output: (req, count) in request order.
    */
  def msearchCounts(table: DataFrame, requestJsons: Seq[String]): DataFrame =
    graft.search.QueryDsl.msearchCounts(table, requestJsons)

  /** The `_validate/query` endpoint: compile-check a request body
    * without running it — (valid, explanation).
    */
  def validateQuery(table: DataFrame, requestJson: String): (Boolean, Option[String]) =
    graft.search.QueryDsl.validateRequest(table, requestJson)

  /** The `_mget` endpoint: requested documents in request order. */
  def mget(table: DataFrame, requestJson: String): DataFrame =
    graft.search.QueryDsl.mget(table, requestJson)

  /** The `_terms_enum` endpoint: prefix-matched terms in term order. */
  def termsEnum(table: DataFrame, requestJson: String): DataFrame =
    graft.search.QueryDsl.termsEnum(table, requestJson)

  /** The `_field_caps` endpoint: the table's fields and types. */
  def fieldCaps(table: DataFrame): DataFrame =
    graft.search.QueryDsl.fieldCaps(table)

  /** The `_search/template` endpoint: driver-bound `{{var}}`
    * placeholders, then a normal compiled request.
    */
  def searchTemplate(table: DataFrame, templateJson: String): DataFrame =
    graft.search.QueryDsl.searchTemplate(table, templateJson)

  // ---- training-data curation surface ----

  /** Exact-duplicate groups by canonical fingerprint. */
  def exactDuplicates(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.withColumn("_fp", md5(TextFns.normalizeText(col(textCol))))
      .groupBy(col("_fp"))
      .agg(min(col(idCol)).as("keep_id"), collect_list(col(idCol)).as("members"),
        count(lit(1)).as("copies"))
      .filter(col("copies") > 1)

  /** Near-duplicate pairs (Jaccard ≥ threshold) via MinHash+LSH with
    * exact verification — the 100 TB dedup path (operators.MinHashLsh).
    */
  def nearDuplicates(docs: DataFrame, textCol: String, idCol: String,
      threshold: Double = 0.8): DataFrame =
    graft.operators.MinHashLsh.nearDupPairs(docs, idCol, textCol, threshold)

  /** Exact cosine top-k for a set of query vectors (brute force —
    * broadcast queries, one unshuffled corpus scan with per-query
    * bounded heaps; see [[graft.operators.AnnTopK]]).
    */
  def annBruteForce(embeddings: DataFrame, idCol: String, embCol: String,
      queryPred: Column, k: Int = 5): DataFrame =
    graft.operators.AnnTopK.bruteForce(embeddings, idCol, embCol, queryPred, k)

  /** Exact interval join for two large sides — banding turns the
    * point-in-interval predicate into an equi-join on width-`width`
    * buckets plus a residual check (see
    * [[graft.operators.RangeBandJoin]]); a raw theta join would plan a
    * broadcast-nested-loop.
    */
  def rangeBandJoin(points: DataFrame, intervals: DataFrame, ptCol: String,
      loCol: String, hiCol: String, width: Double): DataFrame =
    graft.operators.RangeBandJoin.join(points, intervals, ptCol, loCol, hiCol, width)

  /** Exact k-nearest-neighbor JOIN within groups — every row is both
    * query and candidate (no broadcastable side), so this goes through
    * [[graft.operators.KnnJoin]]'s block-pair kernel: B×corpus shuffle,
    * per-task bounded heaps, per-row top-k merge over ≤ B·k candidates.
    */
  def knnJoin(embeddings: DataFrame, idCol: String, embCol: String,
      groupCol: String, k: Int = 5): DataFrame =
    graft.operators.KnnJoin.withinGroups(embeddings, idCol, embCol, groupCol, k)

  /** IVF approximate top-k (k-means coarse quantizer). */
  def annIvf(embeddings: DataFrame, idCol: String, embCol: String,
      queryPred: Column, params: IvfIndex.Params = IvfIndex.Params()): DataFrame =
    IvfIndex.topK(embeddings, idCol, embCol, queryPred, params)

  /** Per-document mean log-prob under a corpus-trained add-one-smoothed
    * bigram LM, in exact integer micro-nats — the KenLM-perplexity-
    * filter shape (low avg log-prob = gibberish / boilerplate).
    * Bigrams derive map-side from each doc's token array (no
    * self-join); the shuffled state is one bigram count table, bounded
    * by vocabulary², not the corpus.
    */
  def bigramLogProb(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val arr = TextFns.tokens(col(textCol))
    // adjacent pairs by position over ONE array — map-side, order
    // kept. posexplode + element_at instead of a two-arg transform
    // lambda: NamedLambdaVariable ids defeat plan canonicalization,
    // so with the lambda form the bigram subtree's exchange was
    // computed once per consumer (no AQE stage reuse — measured,
    // distinct ShuffleQueryStage ids); lambda-free, the consumers
    // share one stage.
    val bg = docs.select(col(idCol), arr.as("a"))
      .select(col(idCol), col("a"),
        posexplode(F.slice(col("a"), lit(1), F.size(col("a")) - 1)).as(Seq("i", "w1")))
      .select(col(idCol), col("w1"),
        concat(col("w1"), lit(" "), element_at(col("a"), col("i") + 2)).as("b"))
    // ONE vocab²-bounded count table carrying BOTH statistics:
    // n_ctx(w1) = Σ n_b over bigrams sharing the context (tokens are
    // space-split, so w1 is exactly the prefix before the first
    // space) — a window over the count table itself. The corpus is
    // exploded once per side (big-side join + count partials), the
    // enrichment is vocab-bounded work, and the hot path pays ONE
    // broadcast hash join, not one per statistic.
    val cb = bg.groupBy(col("b")).agg(count(lit(1)).as("n_b"))
      .withColumn("n_ctx", sum(col("n_b")).over(
        Window.partitionBy(substring_index(col("b"), " ", 1))))
    val v = docs.select(explode(arr).as("t")).agg(countDistinct(col("t")).as("v"))
    // count tables are vocab-/vocab²-bounded — pinned build sides; the
    // static size estimate (parquet bytes, blind to explode fan-out)
    // would otherwise happily broadcast the corpus-sized bigram stream
    bg.join(broadcast(cb), "b").crossJoin(broadcast(v))
      .select(col(idCol),
        round(log((col("n_b") + lit(1)).cast("double") /
          (col("n_ctx") + col("v")).cast("double")) * 1e6).cast("long").as("mn"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_big"), sum(col("mn")).as("sum_micronats"))
      .withColumn("avg_micronats", expr("sum_micronats div n_big"))
  }

  /** DSIR-style importance weights (Xie et al., data selection by
    * importance resampling): per-doc sum of token log-ratios of a
    * TARGET unigram distribution vs the full corpus, Laplace-smoothed,
    * in micro-nats. `targetPred` marks the target slice (e.g.
    * `col("lang") === "en"`). Positive weight = looks more like the
    * target than the background. One groupBy carries BOTH
    * distributions (the target count rides along as a conditional
    * sum), totals broadcast — two shuffles, independent of corpus size
    * beyond the token stream itself.
    */
  def dsirWeights(docs: DataFrame, idCol: String, textCol: String,
      targetPred: Column): DataFrame = {
    val toks = docs.select(col(idCol), targetPred.as("_tgt"),
      explode(TextFns.tokens(col(textCol))).as("t"))
    val cnt = toks.groupBy(col("t")).agg(
      count(lit(1)).as("n_src"),
      sum(when(col("_tgt"), 1L).otherwise(0L)).as("n_tgt"))
    // totals fold out of the per-token count table (vocab-bounded):
    // Σ n_src = token-stream length, Σ n_tgt = target-stream length,
    // row count = |vocab| — never a second tokenize+explode pass
    val tot = cnt.agg(
      sum(col("n_src")).as("tot_src"),
      sum(col("n_tgt")).as("tot_tgt"),
      count(lit(1)).as("v"))
    // vocabulary-bounded build side pinned: the static estimate would
    // happily broadcast the token stream
    toks.join(broadcast(cnt), "t").crossJoin(broadcast(tot))
      .select(col(idCol),
        round((log((col("n_tgt") + lit(1)).cast("double") /
                   (col("tot_tgt") + col("v")).cast("double")) -
               log((col("n_src") + lit(1)).cast("double") /
                   (col("tot_src") + col("v")).cast("double"))) * 1e6)
          .cast("long").as("mn"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tok"), sum(col("mn")).as("weight_micronats"))
  }

  /** Hashed linear quality classifier: a pretrained bag-of-words model
    * whose per-token weight derives from a portable md5 hash (milli
    * units in [-1000, 1000]) — the model ships as an expression (no
    * join, no broadcast, and both engines score bit-identically in
    * integers), so scoring is a pure map with ONE shuffle (the per-doc
    * aggregate) at any corpus size. Swap `weightOf` to load real
    * trained weights.
    */
  def qualityClassifier(docs: DataFrame, idCol: String, textCol: String,
      weightOf: Column => Column = t =>
        TextFns.md5hash60(concat(lit("w:"), t)) % 2001L - 1000L): DataFrame =
    docs.select(col(idCol),
        explode(TextFns.tokens(col(textCol))).as("t"))
      .select(col(idCol), weightOf(col("t")).as("w_milli"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tok"), sum(col("w_milli")).as("logit_milli"))
      .withColumn("label", when(col("logit_milli") > 0L, 1L).otherwise(0L))

  /** Per-document text-quality metrics (C4/Gopher-style). */
  def textQuality(docs: DataFrame, textCol: String): DataFrame = {
    val tok = TextFns.tokens(col(textCol))
    docs.withColumn("_tok", tok)
      .withColumn("n_tokens", F.size(col("_tok")).cast("long"))
      .withColumn("n_distinct", F.size(array_distinct(col("_tok"))).cast("long"))
      .withColumn("ttr", col("n_distinct").cast("double") / col("n_tokens").cast("double"))
      .drop("_tok")
  }

  /** SimHash near-duplicate pairs (hamming ≤ maxDist, complete for
    * ≤ 3) — kernel fingerprints + banded block join.
    */
  def simhashDuplicates(docs: DataFrame, textCol: String, idCol: String,
      maxDist: Int = 3): DataFrame =
    graft.operators.SimHash.nearDupPairs(docs, idCol, textCol, maxDist)

  /** Native as-of join: latest `right` row per key at or before each
    * left time (single merge pass per co-partitioned sorted partition).
    */
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTime: String, rightTime: String,
      rightTieBreak: Seq[String] = Nil): DataFrame =
    graft.plans.AsofJoin.asof(left, right, keys, leftTime, rightTime, rightTieBreak)

  /** SemDeDup-style semantic dedup over an embedding column: one row
    * per vector with its sign-bucket, kept flag and representative
    * (see [[graft.operators.SemanticDedup]]).
    */
  def semanticDedup(embeddings: DataFrame, idCol: String, embCol: String,
      threshold: Double = 0.3): DataFrame =
    graft.operators.SemanticDedup.assignments(embeddings, idCol, embCol, threshold)

  /** Streaming near-dup dedup: dedup a document stream against itself
    * and the growing accepted corpus via a persisted LSH band index
    * (see [[graft.streaming.StreamingDedup]]).
    */
  def startStreamingDedup(docs: DataFrame, idCol: String, textCol: String,
      acceptedPath: String, indexPath: String, checkpoint: String,
      threshold: Double = 0.8) =
    graft.streaming.StreamingDedup.start(docs, idCol, textCol,
      acceptedPath, indexPath, checkpoint, threshold)

  /** Streaming SEMANTIC dedup over an embedding stream: intra-batch
    * SemDeDup ε-ball pass, then a partition-pruned probe of the
    * bucket-partitioned accepted corpus (codegen'd `cosine_sim`);
    * survivors grow the corpus (see
    * [[graft.streaming.StreamingSemanticDedup]]).
    */
  def startStreamingSemanticDedup(vecs: DataFrame, idCol: String,
      embCol: String, acceptedPath: String, checkpoint: String,
      threshold: Double = 0.9) =
    graft.streaming.StreamingSemanticDedup.start(vecs, idCol, embCol,
      acceptedPath, checkpoint, threshold)

  /** IVF-PQ: train a product-quantized inverted-file model, encode the
    * corpus to m-byte codes (32× smaller than float32 at dims=64/m=8)
    * and serve approximate top-k by ADC lookup tables
    * (see [[graft.operators.IvfPq]]).
    */
  def annIvfPq(embeddings: DataFrame, idCol: String, embCol: String,
      queryPred: Column,
      params: graft.operators.IvfPq.Params = graft.operators.IvfPq.Params()): DataFrame = {
    val model = graft.operators.IvfPq.trainModel(embeddings, idCol, embCol, params)
    val enc = graft.operators.IvfPq.encode(embeddings, idCol, embCol, model)
    graft.operators.IvfPq.topK(enc, embeddings.filter(queryPred),
      idCol, embCol, model, params)
  }

  /** int8 scalar-quantized cosine top-k: 4× smaller corpus scan than
    * float32, integer dot products, same broadcast/heap serving shape
    * as [[annBruteForce]] (see [[graft.operators.QuantizedAnn]]).
    */
  def annQuantized(embeddings: DataFrame, idCol: String, embCol: String,
      queryPred: Column, k: Int = 5): DataFrame =
    graft.operators.QuantizedAnn.topK(embeddings, idCol, embCol, queryPred, k)

  /** Deterministic fixed-size per-stratum sample: the k docs with the
    * smallest salted md5 hash per stratum, via a bounded-heap typed
    * aggregate (shuffle volume partitions × strata × k — never a
    * per-stratum window). Output: stratum, rank (1..k), id.
    */
  def stratifiedSample(docs: DataFrame, stratumCol: String, idCol: String,
      k: Int, salt: String = "sample:"): DataFrame = {
    val topk = F.udaf(new graft.functions.Aggregators.SmallestKByKey(k),
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong))
    docs.select(col(stratumCol).as("stratum"),
        TextFns.md5hash60(concat(lit(salt), col(idCol).cast("string"))).as("_hk"),
        col(idCol).cast("long").as("_id"))
      .groupBy(col("stratum"))
      .agg(topk(col("_hk"), col("_id")).as("_picks"))
      .select(col("stratum"), posexplode(col("_picks")))
      .select(col("stratum"), (col("pos") + 1).cast("long").as("rank"),
        col("col._2").as(idCol))
  }

  /** Analytic IVF-PQ: sign-bucket coarse quantizer + sign-pattern
    * product codebooks served by exact-integer ADC — the
    * reproducible (SQL-replayable) member of the PQ family; the
    * trained float path is [[annIvfPq]]
    * (see [[graft.operators.SignPq]]).
    */
  def annSignPq(embeddings: DataFrame, idCol: String, embCol: String,
      queryPred: Column, k: Int = 5): DataFrame =
    graft.operators.SignPq.topK(embeddings, idCol, embCol, queryPred, k = k)

  /** Merge a CDC batch (one row per key, `_action` ∈ upsert|delete)
    * into a persisted IVF layout written by
    * [[graft.operators.IvfIndex.writeIndex]] — touched cluster
    * partitions only (see [[graft.operators.IvfIndex.mergeCdcBatch]]).
    */
  def ivfMergeCdc(indexDir: String, batch: DataFrame, idCol: String,
      embCol: String): Unit =
    IvfIndex.mergeCdcBatch(spark, indexDir, batch, idCol, embCol)

  /** Build the materialized BM25 search index (postings + doc lengths
    * + corpus stats) at `dir` (see [[graft.etl.SearchIndex]]).
    */
  def searchIndexBuild(docs: DataFrame, idCol: String, textCol: String,
      dir: String, buckets: Int = 64): Unit =
    graft.etl.SearchIndex.build(docs, idCol, textCol, dir, buckets)

  /** Refresh the BM25 index from a CDC batch — touched term/doc
    * buckets only (see [[graft.etl.SearchIndex.mergeCdcBatch]]).
    */
  def searchIndexMergeCdc(dir: String, batch: DataFrame, idCol: String,
      textCol: String): Unit =
    graft.etl.SearchIndex.mergeCdcBatch(spark, dir, batch, idCol, textCol)

  /** BM25 top-k served from the materialized index alone — pruned
    * postings + stats reads, the corpus is never scanned.
    */
  def searchIndexBm25(dir: String, terms: Seq[String], k1: Double = 1.2,
      b: Double = 0.75, topK: Int = 20): DataFrame =
    graft.etl.SearchIndex.bm25(spark, dir, terms, k1, b, topK)

  /** Zero-downtime reindex: build the next index version under
    * `aliasDir` and atomically cut the alias over; serve through
    * [[searchAliasBm25]]; roll back with [[graft.etl.IndexAlias.swap]]
    * until [[graft.etl.IndexAlias.prune]] closes the window.
    */
  def searchReindex(docs: DataFrame, idCol: String, textCol: String,
      aliasDir: String, buckets: Int = 64): String =
    graft.etl.IndexAlias.reindex(docs, idCol, textCol, aliasDir, buckets)

  /** Serve BM25 through an alias created by [[searchReindex]]. */
  def searchAliasBm25(aliasDir: String, terms: Seq[String],
      k: Int = 10): DataFrame =
    graft.etl.IndexAlias.bm25(spark, aliasDir, terms, k)

  /** `_cat/indices` for a [[searchIndexBuild]] layout: document count,
    * average document length, distinct terms, postings rows and term
    * buckets — each from the index's own (bounded) artifacts, never a
    * corpus scan.
    */
  def searchIndexStats(dir: String): DataFrame = {
    val docs = spark.read.parquet(s"$dir/docs")
    val postings = spark.read.parquet(s"$dir/postings")
    val stats = spark.read.parquet(s"$dir/stats")
      .select(col("n_docs").cast("long").as("n_docs"),
        round(col("sum_dl").cast("double") / col("n_docs").cast("double"), 6)
          .as("avg_dl"),
        col("buckets").cast("long").as("buckets"))
    stats.crossJoin(broadcast(docs.agg(
        count(lit(1)).cast("long").as("live_docs"))))
      .crossJoin(broadcast(postings.agg(
        count(lit(1)).cast("long").as("postings_rows"),
        countDistinct(col("term")).as("distinct_terms"))))
  }

  /** CONTINUOUSLY maintain the BM25 index from a CDC stream of
    * (id, text, `_action`[, `_seq`]) rows — the reference's actual
    * program: a stream keeping a search index current, forever (see
    * [[graft.streaming.StreamingSearchIndex.startText]]).
    */
  def searchIndexStream(cdc: DataFrame, idCol: String, textCol: String,
      dir: String, checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    graft.streaming.StreamingSearchIndex.startText(cdc, idCol, textCol,
      dir, checkpoint)

  /** CONTINUOUSLY maintain a persisted IVF vector index from a CDC
    * stream of (id, embedding, `_action`[, `_seq`]) rows (see
    * [[graft.streaming.StreamingSearchIndex.startVectors]]).
    */
  def ivfIndexStream(cdc: DataFrame, idCol: String, embCol: String,
      dir: String, checkpoint: String,
      p: IvfIndex.Params = IvfIndex.Params()): org.apache.spark.sql.streaming.StreamingQuery =
    graft.streaming.StreamingSearchIndex.startVectors(cdc, idCol, embCol,
      dir, checkpoint, p = p)

  /** Measured band width for [[rangeBandJoin]] /
    * `spark.graft.rangeJoin.bandWidth`: the sampled median interval
    * span (see [[graft.operators.RangeBandJoin.suggestWidth]]).
    */
  def suggestBandWidth(intervals: DataFrame, loCol: String, hiCol: String,
      sampleFraction: Double = 1.0): Double =
    graft.operators.RangeBandJoin.suggestWidth(intervals, loCol, hiCol,
      sampleFraction)

  /** Compact the streaming dedup stores' accumulated per-epoch files
    * (also runs automatically every `compactEvery` epochs inside the
    * streaming loops; see [[graft.streaming.IndexCompaction]]).
    */
  def compactStreamingDedup(acceptedPath: String, indexPath: String,
      idCol: String = "doc_id", maxFiles: Int = 8): Seq[String] =
    graft.streaming.StreamingDedup.compactStores(spark, acceptedPath,
      indexPath, idCol, maxFiles)

  /** CDC upsert/delete maintenance of the text dedup stores: deletes
    * free their ids and stop shadowing near-duplicates via
    * epoch-sequenced tombstones; upserts re-enter through the normal
    * admission gate (see [[graft.streaming.StreamingDedup.mergeCdcBatch]]).
    */
  def dedupMergeCdc(batch: DataFrame, idCol: String, textCol: String,
      acceptedPath: String, indexPath: String, epoch: Long,
      threshold: Double = 0.8): Unit =
    graft.streaming.StreamingDedup.mergeCdcBatch(batch, idCol, textCol,
      acceptedPath, indexPath, epoch, threshold)

  /** The embedding-side twin of [[dedupMergeCdc]]
    * (see [[graft.streaming.StreamingSemanticDedup.mergeCdcBatch]]).
    */
  def semanticDedupMergeCdc(batch: DataFrame, idCol: String,
      embCol: String, acceptedPath: String, epoch: Long,
      threshold: Double = 0.9): Unit =
    graft.streaming.StreamingSemanticDedup.mergeCdcBatch(batch, idCol,
      embCol, acceptedPath, epoch, threshold)

  /** PCA-whiten an embedding column: fit mean/covariance in one
    * distributed pass, keep the top `k` unit-variance components,
    * return (idCol, white) (see [[graft.operators.Whitening]]).
    */
  def whitenEmbeddings(embeddings: DataFrame, idCol: String,
      embCol: String, k: Int): DataFrame = {
    val model = graft.operators.Whitening.fit(embeddings, embCol, k)
    graft.operators.Whitening.transform(embeddings, idCol, embCol, model)
  }

  /** Rewrite `df` clustered along the Morton curve of `cols` so
    * conjunctive range predicates on any subset of them prune parquet
    * row groups (see [[graft.operators.ZOrder.write]]).
    */
  def zorderWrite(df: DataFrame, cols: Seq[String], path: String,
      files: Int = 16): Unit =
    graft.operators.ZOrder.write(df, cols, path, files)

  /** Spell-correct `inputs` against the `textCol` vocabulary of
    * `docs` — the term suggester: candidates within `maxEdits`
    * levenshtein (length-banded, so the vocabulary is pruned before
    * any edit distance runs), ranked distance → document frequency →
    * term, top `size` per input.
    */
  def termSuggest(docs: DataFrame, textCol: String, inputs: Seq[String],
      maxEdits: Int = 2, size: Int = 3): DataFrame = {
    val vocab = docs.select(explode(array_distinct(
        graft.functions.TextFns.tokens(col(textCol)))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("freq"))
    val in = spark.range(1).select(
      explode(array(inputs.map(lit): _*)).as("q"))
    val cand = vocab.join(broadcast(in),
        abs(length(col("term")) - length(col("q"))) <= maxEdits &&
          col("term") =!= col("q") &&
          levenshtein(col("q"), col("term")) <= maxEdits)
      .select(col("q"), col("term"),
        levenshtein(col("q"), col("term")).cast("long").as("dist"), col("freq"))
    val w = Window.partitionBy(col("q"))
      .orderBy(col("dist"), col("freq").desc, col("term"))
    cand.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= size)
  }

  /** Documents most similar to `seedId` by its top-`maxQueryTerms`
    * tf·idf terms (more_like_this): the seed's term list is broadcast
    * against the (doc, term) postings and candidates score by an
    * order-free integer idf-weight sum.
    */
  def moreLikeThis(docs: DataFrame, idCol: String, textCol: String,
      seedId: Long, maxQueryTerms: Int = 10, topK: Int = 15): DataFrame =
    GraftEngine.moreLikeThisHits(
        docs.select(col(idCol).cast("long").as("doc_id"), col(textCol)),
        "doc_id", textCol, seedId, maxQueryTerms)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(topK)

  /** Decode an image payload (netpbm PPM / uncompressed 24-bit BMP) to
    * format-independent pixel statistics; None for non-image bytes
    * (see [[graft.multimodal.ImageCodec.decodeImage]]).
    */
  def decodeImage(payload: Array[Byte]): Option[graft.multimodal.ImageCodec.ImageStats] =
    graft.multimodal.ImageCodec.decodeImage(payload)

  /** Whole-phrase spell correction — the phrase suggester. Each
    * position's candidates come from the term-suggester band (top
    * `perPosition` by distance, then document frequency); whole-phrase
    * corrections are re-ranked by corpus evidence, the bigram count of
    * each adjacent corrected pair summed across positions (an exact
    * integer LM score, OpenSearch's `collate` idea). The request stays
    * tiny end-to-end: inputs broadcast into the length band, candidate
    * combinations capped at `perPosition`^positions, and the
    * corpus-sized bigram table is probed by the candidate pairs, never
    * scanned into the request.
    */
  def phraseSuggest(docs: DataFrame, textCol: String, phrase: Seq[String],
      maxEdits: Int = 1, perPosition: Int = 5, size: Int = 5): DataFrame = {
    require(phrase.size >= 2, "phrase suggester needs at least two words")
    // the candidate expansion is perPosition^positions rows and flows
    // through a single-partition rank window — request-side by design,
    // so refuse inputs that would turn it into a data-side explosion
    require(math.pow(perPosition.toDouble, phrase.size.toDouble) <= 100000.0,
      s"perPosition^positions = $perPosition^${phrase.size} exceeds the " +
        "100k request-side cap — shorten the phrase or lower perPosition")
    val vocab = docs.select(explode(array_distinct(
        graft.functions.TextFns.tokens(col(textCol)))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("freq"))
    val in = spark.range(1).select(explode(array(
        phrase.zipWithIndex.map { case (q, i) =>
          struct(lit(i.toLong + 1).as("pos"), lit(q).as("q"))
        }: _*)).as("in"))
      .select(col("in.pos").as("pos"), col("in.q").as("q"))
    val cand = vocab.join(broadcast(in),
        abs(length(col("term")) - length(col("q"))) <= maxEdits &&
          levenshtein(col("q"), col("term")) <= maxEdits)
      .select(col("pos"), col("term"),
        levenshtein(col("q"), col("term")).cast("long").as("dist"),
        col("freq"))
      // distance first, then document frequency — the term-suggester
      // ranking; without the freq tiebreak a frequent true correction
      // can be cut alphabetically before the bigram re-rank sees it
      .withColumn("r", row_number().over(Window.partitionBy(col("pos"))
        .orderBy(col("dist"), col("freq").desc, col("term"))))
      .filter(col("r") <= perPosition)
    // expand to full phrase candidates position by position (bounded:
    // perPosition^positions rows, a request-side quantity)
    val phrases = (2 to phrase.size).foldLeft(
      cand.filter(col("pos") === 1)
        .select(array(col("term")).as("words"), col("dist"))) { (acc, p) =>
      acc.crossJoin(cand.filter(col("pos") === p)
          .select(col("term").as("w"), col("dist").as("d")))
        .select(concat(col("words"), array(col("w"))).as("words"),
          (col("dist") + col("d")).as("dist"))
    }
    val bigrams = docs.select(graft.functions.TextFns.tokens(col(textCol)).as("tok"))
      .filter(org.apache.spark.sql.functions.size(col("tok")) >= 2)
      .select(explode(graft.functions.TextFns.adjacentPairs(col("tok"))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("bcount"))
    val pairs = phrases.select(col("words"), col("dist"),
        explode(graft.functions.TextFns.adjacentPairs(col("words"))).as("p"))
      .select(col("words"), col("dist"), col("p.w1").as("w1"), col("p.w2").as("w2"))
    val hit = bigrams.join(broadcast(pairs.select(col("w1"), col("w2")).distinct()),
      Seq("w1", "w2"))
    val scored = pairs.join(broadcast(hit), Seq("w1", "w2"), "left")
      .groupBy(col("words"), col("dist"))
      .agg(sum(coalesce(col("bcount"), lit(0L))).as("score"))
    // window bound: ≤ perPosition^(phrase length) candidate phrases
    scored.withColumn("rank", row_number().over(Window.orderBy(
        col("score").desc, col("dist"), col("words"))).cast("long"))
      .filter(col("rank") <= size)
      .select(col("rank"), col("words"), col("score"), col("dist"))
      .orderBy(col("rank"))
  }

  /** Keyset ("search_after") pagination: the page of `pageSize` rows
    * strictly after `after` under an (`orderCol` DESC, `tieCol` ASC)
    * sort. The cursor comparison compiles to a scan-level disjunctive
    * range predicate and the page itself to a bounded top-k — page
    * depth costs nothing (see q123's plan pin: zero shuffles).
    */
  def searchAfter(hits: DataFrame, orderCol: String, tieCol: String,
      after: (Long, Long), pageSize: Int = 10): DataFrame =
    hits.filter(col(orderCol) < after._1 ||
        (col(orderCol) === after._1 && col(tieCol) > after._2))
      .orderBy(col(orderCol).desc, col(tieCol))
      .limit(pageSize)

  /** span_near proximity query: documents where `t1` and `t2` occur
    * within `slop` intervening tokens (unordered). Positions come from
    * one posexplode; each term's postings are a pushed filter of it;
    * the pairing is an equi-join on the document key whose blow-up is
    * tf₁·tf₂ per document, never corpus². Returns per-doc pair count
    * and the tightest gap.
    */
  def spanNear(docs: DataFrame, idCol: String, textCol: String,
      t1: String, t2: String, slop: Int = 3): DataFrame = {
    val pos = docs.select(col(idCol),
      posexplode(graft.functions.TextFns.tokens(col(textCol))).as(Seq("p", "tok")))
    val p1 = pos.filter(col("tok") === t1).select(col(idCol), col("p").as("p1"))
    val p2 = pos.filter(col("tok") === t2).select(col(idCol), col("p").as("p2"))
    // a repeated clause (t1 == t2) must pair DISTINCT occurrences, and
    // each unordered pair once — self-pairs would pass any slop with
    // gap -1 and real pairs would be double-counted
    val pairwise =
      if (t1 == t2) p1.join(p2, idCol).filter(col("p1") < col("p2"))
      else p1.join(p2, idCol)
    pairwise
      .withColumn("gap", (abs(col("p1") - col("p2")) - 1).cast("long"))
      .filter(col("gap") <= slop)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_pairs"), min(col("gap")).as("min_gap"))
      .orderBy(col("n_pairs").desc, col(idCol))
  }

  /** distance_feature decay column: pivot/(pivot + |x − origin|), the
    * proximity boost OpenSearch applies to numeric/date/geo origins —
    * multiply it into any base relevance column. Rounded to 6 dp so
    * rankings built on it are engine-portable.
    */
  def distanceFeature(x: Column, origin: Long, pivot: Double): Column =
    round(lit(pivot) / (lit(pivot) + abs(x - lit(origin)).cast("double")), 6)

  /** geo_distance filter + geo-grid aggregation: rows within
    * `radiusKm` of (`latQ`,`lonQ`) by haversine, bucketed into
    * `cellDeg`-degree grid cells with per-cell count and nearest-hit
    * distance — the geohash_grid shape. Distances round to 6 dp
    * before any comparison so results are engine-portable.
    */
  def geoGrid(points: DataFrame, latCol: String, lonCol: String,
      latQ: Double, lonQ: Double, radiusKm: Double,
      cellDeg: Double = 15.0): DataFrame = {
    val dist = graft.search.QueryDsl.haversineKmCols(col(latCol), col(lonCol),
      latQ, lonQ)
    points.withColumn("dist_km", dist)
      .filter(col("dist_km") <= lit(radiusKm))
      .groupBy(floor(col(latCol) / lit(cellDeg)).as("cell_lat"),
        floor(col(lonCol) / lit(cellDeg)).as("cell_lon"))
      .agg(count(lit(1)).as("n"), min(col("dist_km")).as("min_dist"))
      .orderBy(col("cell_lat"), col("cell_lon"))
  }
}

object GraftEngine {

  /** The ONE more_like_this implementation — shared by the facade and
    * the query-DSL request path, so a scoring change cannot diverge
    * the two (the q117/q118 one-implementation gating principle).
    * Unranked hits (idCol, n_shared, score); ranking/paging belongs to
    * the caller. The seed must match EXACTLY one row — a multi-row
    * seed would duplicate query terms and silently inflate
    * n_shared/score, so it fails loud (the count is a bounded probe:
    * the scan stops after two matches).
    *
    * Shape (reworked after the round-9 ScaleBench flagged the old
    * corpus-wide (doc, term) groupBy as the slowest analyzed family):
    * the seed's term frequencies are ONE document's vocabulary —
    * bounded driver metadata, like a centroid list — so they are
    * computed on the driver; document frequencies need the corpus but
    * only for the seed's terms, so the df pass explodes the PER-ROW
    * INTERSECTION with the seed vocabulary (emitting only hits, ≤
    * |seed vocab| keys through the exchange instead of the whole
    * corpus vocabulary); and the scoring pass is PURE MAP-SIDE — the
    * ≤ max_query_terms chosen terms compile to codegen'd
    * array_contains sums, no explode, no join, no shuffle at all
    * (n_shared never needed per-term counts, only distinct
    * membership). Selection arithmetic is bit-identical to the old
    * plan: sel = (tf·n)/df one IEEE divide, weight = n·10⁶ div df
    * exact integer, ties (sel desc, term asc).
    */
  private[graft] def moreLikeThisHits(docs: DataFrame, idCol: String,
      textCol: String, seedValue: Any, maxQueryTerms: Int): DataFrame = {
    require(maxQueryTerms >= 1, s"max_query_terms must be >= 1, got $maxQueryTerms")
    val seedRows = docs.filter(col(idCol) === lit(seedValue))
      .select(col(textCol)).limit(2).collect()
    if (seedRows.length != 1)
      throw new IllegalArgumentException(
        s"more_like_this seed {$idCol: $seedValue} matches ${seedRows.length} " +
          "rows (need exactly 1)")
    val emptySchema = docs.filter(lit(false))
      .select(col(idCol), lit(0L).as("n_shared"), lit(0L).as("score"))
    if (seedRows(0).isNullAt(0)) return emptySchema // NULL text: no terms
    // -1 keeps trailing empty tokens: the driver split must tokenize
    // exactly like TextFns.tokens (Spark's split keeps them)
    val seedToks = seedRows(0).getString(0).split(" ", -1)
    val seedTf: Map[String, Long] =
      seedToks.groupBy(identity).map { case (t, xs) => t -> xs.length.toLong }
    require(seedTf.size <= 100000,
      s"more_like_this seed has ${seedTf.size} distinct terms (cap 100000)")
    val seedVocab = seedTf.keys.toArray.sorted

    val toks = array_distinct(graft.functions.TextFns.tokens(col(textCol)))
    val dfMap: Map[String, Long] = docs
      .select(explode(array_intersect(toks, typedLit(seedVocab))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = docs.count()

    // tf·idf selection on the driver — same arithmetic, same ties
    val chosen: Seq[(String, Long)] = seedTf.toSeq
      .map { case (t, tf) =>
        val df = dfMap(t) // the seed itself contains t, so df >= 1
        (t, (tf * n).toDouble / df, n * 1000000L / df)
      }
      .sortBy { case (t, sel, _) => (-sel, t) }
      .take(maxQueryTerms)
      .map { case (t, _, w) => (t, w) }
    if (chosen.isEmpty) return emptySchema

    // ONE evaluation of the (possibly expensive — derived + analyzed)
    // token chain per row: intersect with the ≤ max_query_terms chosen
    // set FIRST, explode only the matches (≤ K tiny rows per doc, and
    // only for docs sharing a term — the shuffle carries matches, not
    // the corpus vocabulary), then a keyed count/weighted-sum. A
    // per-term membership-sum expression re-evaluates the token chain
    // once per term (branch-conditional subexpressions defeat CSE) —
    // measured 30× slower on a derived+analyzed column at 100×.
    val matches = docs.filter(col(idCol) =!= lit(seedValue))
      .select(col(idCol),
        explode(array_intersect(toks,
          typedLit(chosen.map(_._1).toArray))).as("__t"))
    // Term→weight lookup: a when-chain CASE for small K (pure
    // codegen, no join), but ONE branch per term — thousands of
    // branches exceed the JVM 64KB codegen method limit (interpreted
    // fallback) or blow the Catalyst tree. Above 64 terms, join the
    // matches against a BROADCAST (term, weight) table instead: the
    // exploded side carries only hits, the build side is ≤
    // max_query_terms rows — same arithmetic, no codegen cliff.
    if (chosen.size <= 64) {
      val weightOf = chosen.tail.foldLeft(
        when(col("__t") === chosen.head._1, lit(chosen.head._2))) {
        case (acc, (t2, w2)) => acc.when(col("__t") === t2, lit(w2))
      }
      matches.groupBy(col(idCol))
        .agg(count(lit(1)).as("n_shared"), sum(weightOf).as("score"))
    } else {
      val weights = broadcast(
        docs.sparkSession.createDataFrame(chosen).toDF("__t", "__w"))
      matches.join(weights, "__t")
        .groupBy(col(idCol))
        .agg(count(lit(1)).as("n_shared"), sum(col("__w")).as("score"))
    }
  }
}
