package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, Murmur3Hash, Pmod}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

import graft.sources.{ArtifactCache, ServingState, TouchedLeaves}
import graft.streaming.IndexCompaction

/** Materialized full-text (BM25) search index — the persisted artifact
  * the reference pipeline's OpenSearch sink actually maintains (every
  * bulk-indexed document updates OpenSearch's inverted lists and
  * corpus statistics; custom_resource.py:344-383 is the write path).
  * q44/q102 score BM25 by rescanning the whole corpus per query; this
  * is the serve-many-times shape: tokenize once into an inverted
  * layout, refresh it incrementally from the CDC merge path (ST2),
  * and answer queries from pruned index reads alone.
  *
  * Layout under `dir`:
  *  - `postings/tbucket=H/`: (term, doc_id, tf, dl, df) — one row per
  *    (document, distinct term), document length and the term's
  *    document frequency DENORMALIZED into the row so serving never
  *    joins a doc table or counts a term. Partitioned by
  *    `tbucket = pmod(hash(term), buckets)`: a query's terms prune to
  *    ≤ |terms| buckets at the parquet scan — the inverted-list read.
  *    All of a term's postings live in its one leaf, and every writer
  *    (build, merge, compaction) rewrites whole leaves, so `df` is
  *    computed over the leaf it is written into (Lucene keeps
  *    `docFreq` per segment term dictionary the same way).
  *  - `docs/dbucket=H/`: (doc_id, dl) — narrow per-doc state the MERGE
  *    path needs (old lengths of replaced docs); `dbucket` is a pure
  *    function of doc_id, so a CDC batch prunes its own buckets.
  *  - `stats/`: one row (n_docs, sum_dl, buckets) — the corpus-level
  *    BM25 inputs, recomputed from `docs` on every merge (cheap: two
  *    longs per document) so a replayed epoch always converges to a
  *    consistent row regardless of where the previous run crashed.
  *
  * Incremental refresh ([[mergeCdcBatch]]) mirrors
  * [[graft.operators.IvfIndex.mergeCdcBatch]]: locate the batch ids'
  * existing postings with a column-pruned (doc_id, tbucket) scan,
  * rewrite ONLY touched term buckets (old buckets ∪ the new terms'
  * buckets) through [[graft.sources.TouchedLeaves]], same for the doc
  * buckets.
  * Write amplification is per-touched-bucket, so batch CDC ticks
  * (many docs per merge) amortize exactly like any segment-merging
  * index.
  *
  * Determinism contract: serving reproduces q44's arithmetic — same
  * tokenizer (`split(text, ' ')`), same per-term float-op order, same
  * `round(·, 6)` — so [[bm25]] over an index of a corpus hashes
  * identically to the direct corpus-scan query and shares its oracle.
  *
  * Analyzer parity: the index is built with a named
  * [[graft.search.Analyzer]] ("whitespace" default — the historical
  * raw-token contract; "standard" = lowercase + split on
  * non-alphanumerics, the OpenSearch-default-analyzer analog). The
  * name is stored in the write-once meta sidecar, and the SAME
  * analyzer is applied at CDC merge and at serve time (query terms
  * are normalized through `normText`), so indexed and scanned
  * tokenization can never drift.
  */
object SearchIndex {

  import graft.search.Analyzer

  /** The term-bucket routing expression, `pmod(hash(term), nb)`: the
    * build and the merge evaluate it on the `term` column, serving on
    * a query term ([[tbucketOf]]), so routing cannot drift.
    */
  private def tbucketExpr(term: Expression, nb: Int): Expression =
    new Pmod(new Murmur3Hash(Seq(term)), Literal(nb))

  private def tbucket(nb: Int): Column =
    ColumnBridge.column(tbucketExpr(ColumnBridge.expression(col("term")), nb))

  /** The bucket `term`'s postings live in, evaluated on the driver. */
  private[graft] def tbucketOf(term: String, nb: Int): Int =
    tbucketExpr(Literal(term), nb).eval().asInstanceOf[Int]

  private def tokenized(docs: DataFrame, idCol: String, textCol: String,
      an: Analyzer) =
    docs.select(col(idCol).cast("long").as("doc_id"),
        split(an.norm(col(textCol)), " ").as("tok"))
      .withColumn("dl", size(col("tok")).cast("long"))

  private def postingsOf(tok: DataFrame, nb: Int): DataFrame =
    tok.select(col("doc_id"), col("dl"), explode(col("tok")).as("term"))
      .groupBy(col("term"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("tbucket", tbucket(nb))

  /** `rows` — unique per (term, doc_id), clustered by `tbucket` — with
    * each row's term document frequency. The window's partitioning is
    * satisfied by the `tbucket` clustering, so it adds a sort and no
    * exchange.
    */
  private def withDf(rows: DataFrame): DataFrame =
    rows.withColumn("df", count(lit(1)).over(Window.partitionBy("tbucket", "term")))

  /** One index per (JVM, corpus key). Queries that serve from the
    * index (q103) used to build a fresh temp index per invocation —
    * correct, but each gate/bench call leaked a directory under /tmp
    * and re-paid the build. The cache bounds that to one directory per
    * dataset path, removed on JVM exit.
    */
  def cachedIndex(spark: SparkSession, cacheKey: String, idCol: String,
      textCol: String, buckets: Int = 64, watch: Seq[String] = Nil,
      analyzer: String = "whitespace")(
      docs: => DataFrame): String =
    ArtifactCache.cachedDir(spark, cacheKey, watch,
      "graft_bm25_idx")(dir =>
      build(docs, idCol, textCol, dir, buckets, analyzer))

  /** Full build: tokenize the corpus once into the three tables.
    *
    * `docs` must carry UNIQUE ids: a duplicated doc_id duplicates the
    * doc's rows in docs/ AND its postings (inflating every tf), so it
    * corrupts far more than the stats row — the one place the old
    * docs/-read-back stats path silently papered over it with a
    * dropDuplicates. Feed CDC streams through `CdcMerge.latestPerKey`
    * / use [[mergeCdcBatch]]; a fresh build's input is the caller's
    * contract.
    */
  def build(docs: DataFrame, idCol: String, textCol: String, dir: String,
      buckets: Int = 64, analyzer: String = "whitespace"): Unit = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val an = Analyzer.of(analyzer) // fail loud before any write
    val spark = docs.sparkSession
    // meta is write-once for MERGES; a full rebuild legitimately
    // changes the layout, so drop the old sidecar before writeStats
    // re-creates it with this build's bucket count + analyzer
    fsOf(spark, dir).delete(new org.apache.hadoop.fs.Path(metaPath(dir)), false)
    val tok = tokenized(docs, idCol, textCol, an).persist()
    try {
      // cluster rows by the layout's partition column before the
      // partitioned write: without it every one of the shuffle's N
      // tasks holds rows of all `buckets` partitions and the build
      // fans out N×buckets near-empty files (2048 at the bench's
      // 32×64 — measured 3.9 s, mostly file open/commit). Clustered,
      // each task writes whole buckets: ≤ `buckets` well-sized files,
      // which is also what the bucket-pruned serve path wants to read.
      // The partition count is pinned to `buckets` (≈1 file per task,
      // writers stay parallel): an un-pinned repartition(col) lets AQE
      // coalesce the tiny bench layout into one serial writer task —
      // measured 3.9 s → 4.7 s before the pin, ~2.6 s with it. The
      // extra exchange moves only the aggregated postings (guide §6:
      // output file sizing), and `buckets` is the caller's scale knob.
      withDf(postingsOf(tok, buckets).repartition(buckets, col("tbucket")))
        .write.mode("overwrite").partitionBy("tbucket").parquet(s"$dir/postings")
      tok.select(col("doc_id"), col("dl"))
        .withColumn("dbucket", pmod(col("doc_id"), lit(buckets.toLong)))
        .repartition(buckets, col("dbucket"))
        .write.mode("overwrite").partitionBy("dbucket").parquet(s"$dir/docs")
      // build-path stats come from the in-memory tokenization the two
      // writes just consumed — identical by construction to what the
      // merge path's read-back of docs/ would compute (a fresh build
      // has no compaction-crash duplicates), minus one full docs/
      // re-read + dedup job (r16 opt). Merges keep reading docs/.
      writeStatsRow(spark, dir, buckets, analyzer,
        tok.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl")))
    } finally tok.unpersist()
  }

  private def fsOf(spark: SparkSession, p: String) =
    new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** True iff a [[build]] ran to its final step at `dir`. The right
    * bootstrap-vs-merge discriminator for stream drivers: postings/ is
    * written FIRST, so its presence only proves a build STARTED — a
    * crash before docs/ and the meta sidecar would send every replay
    * down the merge path into an unrecoverable missing-stats read,
    * crash-looping the stream. The meta file is created by the build's
    * last step (and [[recoverStatsIfMissing]] can rebuild everything
    * else from it), so meta presence means "merge is safe" — and so
    * does a populated stats/, the pre-meta layout generation
    * ([[readMeta]]'s documented fallback): a legacy complete index
    * must take the merge path, never be mistaken for a half-build and
    * overwritten by one batch's upserts.
    */
  private[graft] def isInitialized(spark: SparkSession, dir: String): Boolean =
    fsOf(spark, dir).exists(new org.apache.hadoop.fs.Path(metaPath(dir))) ||
      IndexCompaction.hasDataFiles(spark, s"$dir/stats")

  /** Write-once sidecar holding the layout parameters everything else
    * derives from: line 1 = `buckets`, line 2 = analyzer name (absent
    * on pre-analyzer indexes → whitespace, the historical contract).
    * `stats/` is REWRITTEN every merge (a crash mid-rewrite may lose
    * it), so these must live somewhere immortal or a half-committed
    * epoch would brick the index: with the meta file,
    * [[recoverStatsIfMissing]] can always rebuild `stats/` from
    * `docs/`.
    */
  private def metaPath(dir: String) = s"$dir/_meta_buckets"

  private def writeMetaOnce(spark: SparkSession, dir: String, nb: Int,
      analyzer: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(metaPath(dir))
    val fs = fsOf(spark, dir)
    if (!fs.exists(p)) {
      val out = fs.create(p, true)
      try out.write(s"$nb\n$analyzer".getBytes("UTF-8")) finally out.close()
    }
  }

  private def readMetaLines(spark: SparkSession, dir: String): Option[Seq[String]] = {
    val p = new org.apache.hadoop.fs.Path(metaPath(dir))
    val fs = fsOf(spark, dir)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8")
        .mkString.linesIterator.map(_.trim).toSeq)
      finally in.close()
    }
  }

  /** The layout parameters, from one read of the meta file: the bucket
    * count, falling back to the stats row for indexes built before the
    * meta file existed; and the analyzer the index was built with —
    * every later touch (merge, serve) must tokenize identically.
    * Pre-analyzer meta files (one line) and pre-meta layouts mean
    * whitespace, the only contract that existed then.
    */
  private def readMeta(spark: SparkSession, dir: String): (Int, Analyzer) =
    readMetaLines(spark, dir) match {
      case Some(lines) => (lines.head.toInt,
        Analyzer.of(lines.drop(1).headOption.filter(_.nonEmpty).getOrElse("whitespace")))
      case None => (spark.read.parquet(s"$dir/stats")
        .select(col("buckets")).head().getInt(0), Analyzer.of("whitespace"))
    }

  /** Replay repair: `stats/` is recomputable state (two longs over
    * `docs/`), so if a crash between its delete and rename lost it,
    * rebuild it instead of failing every later merge and query.
    * Returns the listing of `stats/` as it stands after the check — the
    * one listing a serve keys its held stats row on.
    */
  private def recoverStatsIfMissing(spark: SparkSession, dir: String, nb: Int,
      an: Analyzer): Array[org.apache.hadoop.fs.FileStatus] = {
    val stats = IndexCompaction.listing(spark, s"$dir/stats")
    if (IndexCompaction.hasData(stats)) stats
    else {
      writeStats(spark, dir, nb, an.name)
      IndexCompaction.listing(spark, s"$dir/stats")
    }
  }

  /** Stats rewrite with a crash-survivable protocol: write the new row
    * to a temp dir, delete the old `stats/`, rename temp into place.
    * The only loss window (between delete and rename) leaves `stats/`
    * absent — which [[recoverStatsIfMissing]] repairs on the next
    * merge or query, because `buckets` survives in the meta file and
    * the row itself is a pure function of `docs/`.
    */
  private def writeStats(spark: SparkSession, dir: String, nb: Int,
      analyzer: String): Unit =
    writeStatsRow(spark, dir, nb, analyzer,
      spark.read.parquet(s"$dir/docs")
        .dropDuplicates("doc_id") // compaction-crash duplicates must not inflate n_docs
        .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl")))

  /** Commit a (n_docs, sum_dl) aggregate as the stats row via the
    * crash-survivable temp-write + rename protocol. A rename that does
    * not take effect fails loud: `stats/` is the index's completeness
    * marker (`IndexAlias` counts `vN/stats`), so a build must not
    * return without it.
    */
  private def writeStatsRow(spark: SparkSession, dir: String, nb: Int,
      analyzer: String, agg: DataFrame): Unit = {
    writeMetaOnce(spark, dir, nb, analyzer)
    val tmp = s"$dir/_stats_inprogress"
    agg.withColumn("buckets", lit(nb))
      .coalesce(1)
      .write.mode("overwrite").parquet(tmp)
    val fs = fsOf(spark, dir)
    val statsP = new org.apache.hadoop.fs.Path(s"$dir/stats")
    if (fs.exists(statsP)) fs.delete(statsP, true)
    if (!fs.rename(new org.apache.hadoop.fs.Path(tmp), statsP))
      throw new java.io.IOException(s"stats commit: rename $tmp -> $statsP failed")
  }

  /** Incremental refresh from a CDC batch — one row per key
    * (feed through [[CdcMerge.latestPerKey]] first if needed),
    * `actionCol` ∈ "upsert" | "delete". An upsert replaces the doc's
    * postings wholesale; a delete removes them. Only touched term /
    * doc buckets are read or rewritten; replaying a half-committed
    * epoch converges (the rewrite is a pure function of current layout
    * + batch, and stats are recomputed from the merged doc table).
    */
  def mergeCdcBatch(spark: SparkSession, dir: String, batch: DataFrame,
      idCol: String, textCol: String, actionCol: String = "_action"): Unit = {
    val (nb, an) = readMeta(spark, dir) // the build's tokenization, always
    recoverStatsIfMissing(spark, dir, nb, an)
    val ids = batch.select(col(idCol).cast("long").as("doc_id"))

    val newPost = postingsOf(
        tokenized(batch.filter(col(actionCol) === "upsert"), idCol, textCol,
          an), nb)
      // read twice (bucket collect + rewrite) and must not recompute
      // against the layout mid-overwrite
      .localCheckpoint(true)
    try {
      val oldT = spark.read.parquet(s"$dir/postings")
        .select(col("doc_id").cast("long"), col("tbucket").cast("int"))
        .join(broadcast(ids), Seq("doc_id"), "left_semi")
        .select(col("tbucket")).distinct()
        .collect().map(_.getInt(0))
      val newT = newPost.select(col("tbucket").cast("int")).distinct()
        .collect().map(_.getInt(0))
      val touched = (oldT ++ newT).distinct.sorted
      // the old and the new rows are disjoint in doc_id, so one
      // dedup over their union repairs compaction-crash duplicates
      // while the leaf is being rewritten anyway; (tbucket, term,
      // doc_id) keys it like (term, doc_id) — tbucket is a function of
      // term — so the dedup and the df window share the one exchange
      TouchedLeaves.overwrite(s"$dir/postings", "tbucket", touched,
        withDf(spark.read.parquet(s"$dir/postings")
          .filter(col("tbucket").isin(touched.map(c => c: Any): _*))
          .select(col("term"), col("doc_id").cast("long"), col("dl"),
            col("tf"), col("tbucket").cast("int"))
          .join(broadcast(ids), Seq("doc_id"), "left_anti")
          .unionByName(newPost.select(col("term"), col("doc_id"), col("dl"),
            col("tf"), col("tbucket").cast("int")))
          .repartition(col("tbucket"))
          .dropDuplicates("tbucket", "term", "doc_id")))

      // doc table: dbucket is a pure function of doc_id — no scan
      // needed to locate old versions
      val newDocs = tokenized(batch.filter(col(actionCol) === "upsert"),
          idCol, textCol, an)
        .select(col("doc_id"), col("dl"))
        .withColumn("dbucket", pmod(col("doc_id"), lit(nb.toLong)))
      val touchedD = ids
        .select(pmod(col("doc_id"), lit(nb.toLong)).cast("long").as("b"))
        .distinct().collect().map(_.getLong(0))
      TouchedLeaves.overwrite(s"$dir/docs", "dbucket", touchedD.sorted,
        spark.read.parquet(s"$dir/docs")
          .filter(col("dbucket").isin(touchedD.map(c => c: Any): _*))
          .select(col("doc_id").cast("long"), col("dl"),
            col("dbucket").cast("long"))
          .dropDuplicates("doc_id")
          .join(broadcast(ids), Seq("doc_id"), "left_anti")
          .unionByName(newDocs))

      writeStats(spark, dir, nb, an.name)
    } finally newPost.unpersist()
  }

  /** BM25 top-k served from the index alone: one pruned read of the
    * postings leaves the query terms route to, and one aggregate.
    *  - query terms route to their `tbucket` on the driver, through the
    *    build's own [[tbucketExpr]] evaluated on the term;
    *  - the plan reads only the routed `tbucket=` leaves, by explicit
    *    path with the layout's fixed schema ([[TouchedLeaves.read]]);
    *  - each posting row scores its own term with q44's expression,
    *    taking `df` from the row and n_docs, avgdl as literals from the
    *    stats row — the one entry held per index version on the driver
    *    ([[graft.sources.ServingState]]), keyed on the files of `stats/`;
    *  - per doc, each query term contributes the max of its rows'
    *    scores, or the +0.0 q44 adds for a term the doc lacks, summed
    *    in query-term order.
    *
    * A compaction crash between append and delete legally leaves rows
    * duplicated (IndexCompaction's write-then-delete window); the
    * copies are identical, `df` included, so `max` over them needs no
    * dedup. A request for never-served terms runs the same plan as a
    * repeat one; only the first request after a merge, compaction or
    * rebuild rereads the stats row. The corpus is never scanned.
    * Bit-identical to the direct q44 computation (same term order,
    * same float-op order, same rounding), so it shares q44's oracle.
    *
    * A postings row without `df` was written before document frequency
    * rode on the row: the request fails, asking for a rebuild, rather
    * than score the term 0.
    *
    * `after` is the search_after keyset cursor over the ranking's
    * total order (score desc, doc_id asc): pass the LAST row of the
    * previous page to get the next `topK` — a filtered re-serve, no
    * offset scan, the deep-paging shape.
    */
  def bm25(spark: SparkSession, dir: String, rawTerms: Seq[String],
      k1: Double = 1.2, b: Double = 0.75, topK: Int = 20,
      after: Option[(Double, Long)] = None): DataFrame = {
    require(rawTerms.nonEmpty, "bm25 needs at least one query term")
    // query terms go through the INDEX's analyzer (an analyzed term
    // may split into several tokens); first-occurrence order is kept
    // so the per-term float-op order stays deterministic
    val (nb, an) = readMeta(spark, dir)
    val stats = recoverStatsIfMissing(spark, dir, nb, an)
    val terms = rawTerms
      .flatMap(t => an.normText(t).split(" ").filter(_.nonEmpty))
      .distinct
    require(terms.nonEmpty, "bm25 query terms analyze to nothing")
    val (nDocs, sumDl) = heldStats(spark, dir, stats)

    val post = TouchedLeaves.read(spark, s"$dir/postings", "tbucket",
        terms.map(tbucketOf(_, nb)), PostingsSchema)
      .getOrElse(spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), PostingsSchema))
      .filter(col("term").isin(terms: _*))

    // the stats row's division, as the engine does it (null on an
    // empty index, where no posting is scored anyway)
    val avgdl = if (nDocs == 0) lit(null).cast("double")
      else lit(sumDl.toDouble / nDocs.toDouble)
    // q44's exact expression for the row's own term
    val tf = col("tf").cast("double")
    val df = col("df").cast("double")
    val idf = log((lit(nDocs.toDouble) - df + 0.5) / (df + 0.5) + 1.0)
    val termScore = when(col("df").isNull, raise_error(lit(s"bm25: postings under $dir " +
        "carry no df column (a layout from before document frequency rode on " +
        "the posting row); rebuild the index with SearchIndex.build")))
      .otherwise(idf * (tf * (k1 + 1.0)) /
        (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast("double") / avgdl)))
    val perTerm = terms.map(t =>
      coalesce(max(when(col("term") === t, col("s"))), lit(0.0)))
    val ranked = post.withColumn("s", termScore)
      .groupBy(col("doc_id"))
      .agg(round(perTerm.reduce(_ + _), 6).as("score"))
      .filter(col("score") > 0.0)
    val paged = after match {
      case None => ranked
      case Some((s, id)) => ranked.filter(
        col("score") < s || (col("score") === s && col("doc_id") > id))
    }
    paged
      .orderBy(col("score").desc, col("doc_id"))
      .limit(topK)
  }

  /** The postings and stats layouts' fixed schemas: serving reads them
    * by path with these, so no read infers a schema (one Spark job
    * each).
    */
  private val PostingsSchema = StructType(Seq(StructField("term", StringType),
    StructField("doc_id", LongType), StructField("dl", LongType),
    StructField("tf", LongType), StructField("df", LongType),
    StructField("tbucket", IntegerType)))
  private val StatsSchema = StructType(Seq(StructField("n_docs", LongType),
    StructField("sum_dl", LongType)))

  /** The stats row (n_docs, sum_dl), held keyed on `listing`, the files
    * of `stats/` — every merge rewrites them, so a merge always misses.
    */
  private def heldStats(spark: SparkSession, dir: String,
      listing: Array[org.apache.hadoop.fs.FileStatus]): (Long, Long) = {
    val stats = s"$dir/stats"
    ServingState(stats, ArtifactCache.freshnessToken(listing)) {
      val r = spark.read.schema(StatsSchema).parquet(stats).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
  }
}
