package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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
  *  - `postings/tbucket=H/`: (term, doc_id, tf, dl) — one row per
  *    (document, distinct term), document length DENORMALIZED into the
  *    row so serving never joins a doc table. Partitioned by
  *    `tbucket = pmod(hash(term), buckets)`: a query's terms prune to
  *    ≤ |terms| buckets at the parquet scan — the inverted-list read.
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
  * buckets) via dynamic partition overwrite, same for the doc buckets.
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

  private def tbucket(nb: Int) = pmod(hash(col("term")), lit(nb))

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
    graft.sources.ArtifactCache.cachedDir(spark, cacheKey, watch,
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
      postingsOf(tok, buckets)
        .repartition(buckets, col("tbucket"))
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

  private def hasParquetData(spark: SparkSession, p: String): Boolean =
    graft.streaming.IndexCompaction.hasDataFiles(spark, p)

  /** True iff a [[build]] ran to its final step at `dir`. The right
    * bootstrap-vs-merge discriminator for stream drivers: postings/ is
    * written FIRST, so its presence only proves a build STARTED — a
    * crash before docs/ and the meta sidecar would send every replay
    * down the merge path into an unrecoverable missing-stats read,
    * crash-looping the stream. The meta file is created by the build's
    * last step (and [[recoverStatsIfMissing]] can rebuild everything
    * else from it), so meta presence means "merge is safe" — and so
    * does a populated stats/, the pre-meta layout generation
    * ([[readBuckets]]'s documented fallback): a legacy complete index
    * must take the merge path, never be mistaken for a half-build and
    * overwritten by one batch's upserts.
    */
  private[graft] def isInitialized(spark: SparkSession, dir: String): Boolean =
    fsOf(spark, dir).exists(new org.apache.hadoop.fs.Path(metaPath(dir))) ||
      hasParquetData(spark, s"$dir/stats")

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

  /** Bucket count: the write-once meta file, falling back to the stats
    * row for indexes built before the meta file existed.
    */
  private def readBuckets(spark: SparkSession, dir: String): Int =
    readMetaLines(spark, dir) match {
      case Some(lines) => lines.head.toInt
      case None => spark.read.parquet(s"$dir/stats")
        .select(col("buckets")).head().getInt(0)
    }

  /** The analyzer the index was built with — every later touch (merge,
    * serve) must tokenize identically. Pre-analyzer meta files (one
    * line) and pre-meta layouts mean whitespace, the only contract
    * that existed then.
    */
  private[graft] def readAnalyzer(spark: SparkSession, dir: String): Analyzer =
    Analyzer.of(readMetaLines(spark, dir)
      .flatMap(_.drop(1).headOption.filter(_.nonEmpty))
      .getOrElse("whitespace"))

  /** Replay repair: `stats/` is recomputable state (two longs over
    * `docs/`), so if a crash between its delete and rename lost it,
    * rebuild it instead of failing every later merge and query.
    */
  private def recoverStatsIfMissing(spark: SparkSession, dir: String): Unit =
    if (!hasParquetData(spark, s"$dir/stats"))
      writeStats(spark, dir, readBuckets(spark, dir),
        readAnalyzer(spark, dir).name)

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
    recoverStatsIfMissing(spark, dir)
    val nb = readBuckets(spark, dir)
    val an = readAnalyzer(spark, dir) // the build's tokenization, always
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
      if (touched.nonEmpty)
        overwriteBuckets(spark, s"$dir/postings", "tbucket", touched,
          spark.read.parquet(s"$dir/postings")
            .filter(col("tbucket").isin(touched.map(c => c: Any): _*))
            .select(col("term"), col("doc_id").cast("long"), col("dl"),
              col("tf"), col("tbucket").cast("int"))
            // repair compaction-crash duplicates while this bucket is
            // being rewritten anyway (the serve path also tolerates them)
            .dropDuplicates("term", "doc_id")
            .join(broadcast(ids), Seq("doc_id"), "left_anti")
            .unionByName(newPost.select(col("term"), col("doc_id"), col("dl"),
              col("tf"), col("tbucket").cast("int"))))

      // doc table: dbucket is a pure function of doc_id — no scan
      // needed to locate old versions
      val newDocs = tokenized(batch.filter(col(actionCol) === "upsert"),
          idCol, textCol, an)
        .select(col("doc_id"), col("dl"))
        .withColumn("dbucket", pmod(col("doc_id"), lit(nb.toLong)))
      val touchedD = ids
        .select(pmod(col("doc_id"), lit(nb.toLong)).cast("long").as("b"))
        .distinct().collect().map(_.getLong(0))
      if (touchedD.nonEmpty)
        overwriteBuckets(spark, s"$dir/docs", "dbucket",
          touchedD.sorted.map(_.toString),
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

  /** Dynamic-partition-overwrite of the touched buckets, with explicit
    * deletion of buckets the rewrite empties (dynamic overwrite skips
    * partitions that produce no rows).
    */
  private def overwriteBuckets(spark: SparkSession, path: String,
      partCol: String, touched: Seq[Any], replacement: DataFrame): Unit = {
    val repl = replacement.localCheckpoint(true) // plan reads what we overwrite
    try {
      val conf = spark.conf
      val prev = conf.getOption("spark.sql.sources.partitionOverwriteMode")
      conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try repl.write.mode("overwrite").partitionBy(partCol).parquet(path)
      finally prev match {
        case Some(v) => conf.set("spark.sql.sources.partitionOverwriteMode", v)
        case None => conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
      val still = repl.select(col(partCol).cast("string")).distinct()
        .collect().map(_.getString(0)).toSet
      val root = new org.apache.hadoop.fs.Path(path)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      touched.map(_.toString).filterNot(still).foreach { b =>
        val p = new org.apache.hadoop.fs.Path(s"$path/$partCol=$b")
        if (fs.exists(p)) fs.delete(p, true)
      }
    } finally repl.unpersist()
  }

  /** BM25 top-k served from the index alone: a stats read, a
    * term-bucket-pruned postings read, and |terms| tiny aggregates —
    * the corpus is never scanned. Bit-identical to the direct q44
    * computation (same term order, same float-op order, same
    * rounding), so it shares q44's oracle.
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
    recoverStatsIfMissing(spark, dir)
    val nb = readBuckets(spark, dir)
    // query terms go through the INDEX's analyzer (an analyzed term
    // may split into several tokens); first-occurrence order is kept
    // so the per-term float-op order stays deterministic
    val an = readAnalyzer(spark, dir)
    val terms = rawTerms
      .flatMap(t => an.normText(t).split(" ").filter(_.nonEmpty))
      .distinct
    require(terms.nonEmpty, "bm25 query terms analyze to nothing")
    // route terms to buckets with the ENGINE's own hash expression, so
    // build- and serve-side bucketing can never drift
    val termBuckets = spark.createDataFrame(terms.map(Tuple1(_))).toDF("term")
      .select(tbucket(nb)).distinct().collect().map(_.getInt(0))

    val post = spark.read.parquet(s"$dir/postings")
      .filter(col("tbucket").isin(termBuckets.map(c => c: Any): _*)) // pruned
      .filter(col("term").isin(terms: _*))
      // a compaction crash between append and delete legally leaves
      // rows duplicated (IndexCompaction's write-then-delete window);
      // df/tf are NOT duplicate-tolerant (idf is non-linear in df), so
      // the serve path re-establishes uniqueness on the pruned read
      .dropDuplicates("term", "doc_id")

    // per-term document frequencies (≤ |terms| rows) pivoted wide
    val dfs = post.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .agg(terms.map(t =>
        coalesce(sum(when(col("term") === t, col("df"))), lit(0L))
          .cast("double").as(s"df_$t")).head,
        terms.map(t =>
          coalesce(sum(when(col("term") === t, col("df"))), lit(0L))
            .cast("double").as(s"df_$t")).tail: _*)

    // per-doc term frequencies; dl rides along (denormalized)
    val perDoc = post.groupBy(col("doc_id"), col("dl"))
      .agg(terms.map(t =>
        coalesce(sum(when(col("term") === t, col("tf"))), lit(0L))
          .cast("double").as(s"tf_$t")).head,
        terms.map(t =>
          coalesce(sum(when(col("term") === t, col("tf"))), lit(0L))
            .cast("double").as(s"tf_$t")).tail: _*)

    val stats = spark.read.parquet(s"$dir/stats")
      .select(col("n_docs").cast("double").as("n_docs"),
        (col("sum_dl").cast("double") / col("n_docs")).as("avgdl"))

    // q44's exact expression, term by term in the same order
    val perTerm = terms.map { t =>
      val tf = col(s"tf_$t")
      val df = col(s"df_$t")
      val idf = log((col("n_docs") - df + 0.5) / (df + 0.5) + 1.0)
      idf * (tf * (k1 + 1.0)) /
        (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast("double") / col("avgdl")))
    }
    val ranked = perDoc.crossJoin(broadcast(stats)).crossJoin(broadcast(dfs))
      .withColumn("score", round(perTerm.reduce(_ + _), 6))
      .filter(col("score") > 0.0)
      .select(col("doc_id"), col("score"))
    val paged = after match {
      case None => ranked
      case Some((s, id)) => ranked.filter(
        col("score") < s || (col("score") === s && col("doc_id") > id))
    }
    paged
      .orderBy(col("score").desc, col("doc_id"))
      .limit(topK)
  }
}
