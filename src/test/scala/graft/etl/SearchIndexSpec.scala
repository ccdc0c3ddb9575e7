package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.Tables

/** Materialized BM25 index: build/serve parity with the direct corpus
  * -scan query, incremental CDC refresh correctness (upsert + delete,
  * stats kept consistent), replay idempotence, and the serving-plan
  * contracts — no documents scan, term-bucket-pruned postings read.
  */
class SearchIndexSpec extends SparkSpec {
  import spark.implicits._

  private val terms = Seq("spark", "join", "window")

  private def finalNodes(df: DataFrame): Seq[SparkPlan] = {
    val root = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    def flatten(p: SparkPlan): Seq[SparkPlan] =
      p +: (p.children.flatMap(flatten) ++ (p match {
        case q: QueryStageExec => flatten(q.plan)
        case _ => Nil
      }))
    flatten(root)
  }

  /** q44's direct computation over an arbitrary docs frame. */
  private def direct(d0: DataFrame): Seq[(Long, Double)] = {
    val k1 = 1.2; val b = 0.75
    val d = d0.withColumn("tok", split(col("text"), " "))
      .withColumn("dl", size(col("tok")).cast("double"))
    val stats = d.agg(
      count(lit(1)).cast("double").as("n_docs"),
      (sum(col("dl").cast("long")).cast("double") / count(lit(1))).as("avgdl") +:
        terms.map(t => sum(when(array_contains(col("tok"), t), 1L)
          .otherwise(0L)).cast("double").as(s"df_$t")): _*)
    val perTerm = terms.map { t =>
      val tf = size(filter(col("tok"), x => x === t)).cast("double")
      val df = col(s"df_$t")
      val idf = log((col("n_docs") - df + 0.5) / (df + 0.5) + 1.0)
      idf * (tf * (k1 + 1.0)) /
        (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))
    }
    d.crossJoin(broadcast(stats))
      .withColumn("score", round(perTerm.reduce(_ + _), 6))
      .filter(col("score") > 0.0)
      .select(col("doc_id").cast("long"), col("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(20)
      .as[(Long, Double)].collect().toSeq
  }

  test("served BM25 equals the direct corpus scan bit-for-bit; plan reads index only") {
    val docs = Tables.load(spark, sf(), "documents")
    val dir = java.nio.file.Files.createTempDirectory("bm25idx").toString
    SearchIndex.build(docs, "doc_id", "text", dir)
    val served = SearchIndex.bm25(spark, dir, terms)
    assert(served.as[(Long, Double)].collect().toSeq === direct(docs))

    // plan contracts: no scan of the documents table, and the postings
    // scan prunes to the query terms' buckets
    val scans = finalNodes(served).collect { case f: FileSourceScanExec => f }
    assert(!scans.exists(_.metadata.getOrElse("Location", "").contains("documents")),
      "serving must not rescan the corpus")
    val postScans = scans.filter(_.metadata.getOrElse("Location", "").contains("postings"))
    assert(postScans.nonEmpty && postScans.exists(_.partitionFilters.nonEmpty),
      "postings scan must carry a tbucket partition filter")
    served.collect()
    val filesRead = postScans.map(_.metrics("numFiles").value).sum
    val totalFiles = {
      def cnt(f: java.io.File): Long =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(cnt).sum
        else if (f.getName.endsWith(".parquet")) 1L else 0L
      cnt(new java.io.File(s"$dir/postings"))
    }
    assert(filesRead > 0 && filesRead < totalFiles,
      s"expected a pruned postings read: $filesRead of $totalFiles files")
  }

  test("searchIndexed: plain _search match ranks via indexed BM25, keyset pages, fails loud") {
    import graft.search.QueryDsl
    val docs = Tables.load(spark, sf(), "documents")
    val dir = java.nio.file.Files.createTempDirectory("bm25idx_dsl").toString
    SearchIndex.build(docs, "doc_id", "text", dir)
    // parity: the _search body == the operator-surface serve, exactly
    val viaDsl = QueryDsl.searchIndexed(spark, dir,
      """{"query": {"match": {"text": {"query": "spark join window",
           "similarity": "bm25"}}}, "size": 20}""")
    val viaOp = SearchIndex.bm25(spark, dir, terms, topK = 20)
    assert(viaDsl.as[(Long, Double)].collect().toSeq ===
      viaOp.as[(Long, Double)].collect().toSeq)
    assert(viaDsl.as[(Long, Double)].collect().toSeq === direct(docs))
    // plan pin: the corpus is never scanned; postings read stays pruned
    val scans = finalNodes(viaDsl).collect { case f: FileSourceScanExec => f }
    assert(!scans.exists(_.metadata.getOrElse("Location", "").contains("documents")),
      "indexed _search must not rescan the corpus")
    assert(scans.filter(_.metadata.getOrElse("Location", "").contains("postings"))
      .exists(_.partitionFilters.nonEmpty),
      "indexed _search postings scan must carry a tbucket partition filter")
    // keyset paging: page2 via search_after == rows 6..10 of one serve
    val all = viaDsl.as[(Long, Double)].collect().toSeq
    val p1 = QueryDsl.searchIndexed(spark, dir,
      """{"query": {"match": {"text": {"query": "spark join window",
           "similarity": "bm25"}}}, "size": 5}""")
      .as[(Long, Double)].collect().toSeq
    val (ls, lid) = (p1.last._2, p1.last._1)
    val p2 = QueryDsl.searchIndexed(spark, dir,
      s"""{"query": {"match": {"text": {"query": "spark join window",
           "similarity": "bm25"}}}, "size": 5,
          "search_after": [$ls, $lid]}""")
      .as[(Long, Double)].collect().toSeq
    assert(p1 ++ p2 === all.take(10))
    // alias target: searchIndexed resolves the alias's active version
    val aliasDir = java.nio.file.Files.createTempDirectory("bm25alias_dsl").toString
    IndexAlias.reindex(docs, "doc_id", "text", aliasDir)
    val viaAlias = QueryDsl.searchIndexed(spark, aliasDir,
      """{"query": {"match": {"text": {"query": "spark join window",
           "similarity": "bm25"}}}, "size": 20}""")
    assert(viaAlias.as[(Long, Double)].collect().toSeq === all)
    def bad(json: String, frag: String): Unit = {
      val e = intercept[IllegalArgumentException](
        QueryDsl.searchIndexed(spark, dir, json))
      assert(e.getMessage.contains(frag), e.getMessage)
    }
    val m = """"match": {"text": {"query": "spark", "similarity": "bm25"}}"""
    bad("""{"query": {"match": {"text": {"query": "spark"}}}}""",
      "requires the opt-in") // the ranking model is part of the contract
    bad("""{"query": {"match": {"text": {"query": "spark",
      "similarity": "overlap"}}}}""", "unsupported similarity")
    bad("""{"query": {"match": {"text": {"query": "spark",
      "similarity": "bm25", "fuzziness": 1}}}}""", "does not take 'fuzziness'")
    bad("""{"query": {"match": {"text": {"query": "spark",
      "similarity": "bm25", "analyzer": "standard"}}}}""",
      "does not take 'analyzer'")
    bad(s"""{"query": {$m}, "from": 10}""", "unsupported indexed-search")
    bad(s"""{"query": {$m}, "sort": ["doc_id"]}""", "sort must be omitted")
    bad("""{"query": {"term": {"lang": "en"}}}""",
      """requires {"query": {"match"""")
  }

  test("analyzer parity: standard index tokenizes like the scan, survives merge") {
    // mixed-case, punctuated corpus: whitespace tokens ("Spark,") can
    // never equal the lowercase query terms, so any hit below proves
    // the analyzer ran — and ran IDENTICALLY at build, serve and merge
    val docs = Tables.load(spark, sf(), "documents")
      .withColumn("body", expr(
        "replace(concat(upper(substring(text, 1, 20)), substring(text, 21)), ' ', ', ')"))
      .persist()
    val dir = java.nio.file.Files.createTempDirectory("bm25an").toString
    SearchIndex.build(docs, "doc_id", "body", dir, analyzer = "standard")

    // indexed == scanned: serving equals q44's direct computation over
    // the NORMALIZED text (the analyzer applied as a scan expression)
    val normalized = docs.select(col("doc_id"),
      trim(regexp_replace(lower(col("body")), "[^a-z0-9]+", " ")).as("text"))
    val served = SearchIndex.bm25(spark, dir, Seq("Spark!", "JOIN", "window"))
      .as[(Long, Double)].collect().toSeq
    assert(served === direct(normalized) && served.nonEmpty)

    // a mixed-case upsert through the CDC path tokenizes with the
    // INDEX's stored analyzer (meta round-trip), not a default
    val batch = Seq((7L, "SPARK, Join... WINDOW! spark", "upsert"))
      .toDF("doc_id", "body", "_action")
    SearchIndex.mergeCdcBatch(spark, dir, batch, "doc_id", "body")
    val after = normalized.filter(col("doc_id") =!= 7)
      .unionByName(Seq((7L, "spark join window spark")).toDF("doc_id", "text"))
    assert(SearchIndex.bm25(spark, dir, Seq("spark", "join", "window"))
      .as[(Long, Double)].collect().toSeq === direct(after))

    // an unknown analyzer fails loud BEFORE any write
    val e = intercept[IllegalArgumentException](
      SearchIndex.build(docs, "doc_id", "body",
        java.nio.file.Files.createTempDirectory("bm25bad").toString,
        analyzer = "letter"))
    assert(e.getMessage.contains("unknown analyzer"), e.getMessage)
    docs.unpersist()
  }

  test("analyzer parity: english index stems at build, serve and merge") {
    // inflected corpus: "Joining"/"Windows" can only hit the stemmed
    // query terms if the english chain ran identically on both sides
    val docs = Tables.load(spark, sf(), "documents")
      .withColumn("body", expr(
        "concat(upper(substring(text, 1, 10)), substring(text, 11), " +
          "' the Joining and Windows!')"))
      .persist()
    val dir = java.nio.file.Files.createTempDirectory("bm25en").toString
    SearchIndex.build(docs, "doc_id", "body", dir, analyzer = "english")
    val normalized = docs.select(col("doc_id"),
      graft.plans.EnglishFold(col("body")).as("text"))
    val served = SearchIndex.bm25(spark, dir, Seq("Sparks", "Joining", "Windows"))
      .as[(Long, Double)].collect().toSeq
    assert(served === direct(normalized) && served.nonEmpty)
    // CDC upsert stems with the stored analyzer (meta round-trip)
    val batch = Seq((7L, "SPARK was joining windows", "upsert"))
      .toDF("doc_id", "body", "_action")
    SearchIndex.mergeCdcBatch(spark, dir, batch, "doc_id", "body")
    val after = normalized.filter(col("doc_id") =!= 7)
      .unionByName(Seq((7L, "spark join window")).toDF("doc_id", "text"))
    assert(SearchIndex.bm25(spark, dir, Seq("spark", "joining", "windows"))
      .as[(Long, Double)].collect().toSeq === direct(after))
    docs.unpersist()
  }

  test("analyzer parity: custom analyzer survives the meta round-trip (r16)") {
    // the CUSTOM analyzer's NAME is its serialized definition, so the
    // write-once meta sidecar carries the full stop list + synonym map
    // through build, serve and CDC merge with zero new plumbing
    // the synonym group maps onto the fixed scoring trio `direct` uses:
    // "television" canonicalizes to "spark", so serving the query
    // "Television!" only matches `direct` if the custom map ran
    // identically at build, query-normalization and CDC-merge time
    val an = graft.search.Analyzer.custom("standard",
      Seq("nothing"), Seq(Seq("spark", "television")))
    val docs = Tables.load(spark, sf(), "documents")
      .withColumn("body", expr(
        """concat(text, CASE WHEN doc_id % 3 = 0 THEN ' Big television sale'
             WHEN doc_id % 3 = 1 THEN ' my TV broke' ELSE ' nothing else' END)"""))
      .persist()
    val dir = java.nio.file.Files.createTempDirectory("bm25cu").toString
    SearchIndex.build(docs, "doc_id", "body", dir, analyzer = an.name)
    // indexed == scanned under the SAME custom normalization
    val normalized = docs.select(col("doc_id"), an.norm(col("body")).as("text"))
    val served = SearchIndex.bm25(spark, dir, Seq("Television!", "JOIN", "window"))
      .as[(Long, Double)].collect().toSeq
    assert(served === direct(normalized) && served.nonEmpty)
    // a CDC upsert canonicalizes with the STORED definition (meta
    // round-trip of the full custom config, not just a name)
    val batch = Seq((7L, "television join night", "upsert"))
      .toDF("doc_id", "body", "_action")
    SearchIndex.mergeCdcBatch(spark, dir, batch, "doc_id", "body")
    val after = normalized.filter(col("doc_id") =!= 7)
      .unionByName(Seq((7L, "spark join night")).toDF("doc_id", "text"))
    assert(SearchIndex.bm25(spark, dir, Seq("spark", "join", "window"))
      .as[(Long, Double)].collect().toSeq === direct(after))
    docs.unpersist()
  }

  test("CDC merge keeps the index equal to a rebuild: upsert new, replace, delete") {
    val docs = Tables.load(spark, sf(), "documents").persist()
    val base = docs.filter(col("doc_id") < 400)
    val dir = java.nio.file.Files.createTempDirectory("bm25cdc").toString
    SearchIndex.build(base, "doc_id", "text", dir)

    // batch: 50 new docs, one replaced text (with query terms in it),
    // 10 deletes
    val newDocs = docs.filter(col("doc_id") >= 400 && col("doc_id") < 450)
      .select(col("doc_id"), col("text"), lit("upsert").as("_action"))
    val replaced = Seq((7L, "spark join window spark fast", "upsert"))
      .toDF("doc_id", "text", "_action")
    val deletes = (20 until 30).map(i => (i.toLong, null: String, "delete"))
      .toDF("doc_id", "text", "_action")
    val batch = newDocs.unionByName(replaced).unionByName(deletes)
    SearchIndex.mergeCdcBatch(spark, dir, batch, "doc_id", "text")

    // the equivalent post-CDC corpus, computed directly
    val finalCorpus = docs.filter(col("doc_id") < 450)
      .filter(!col("doc_id").between(20, 29) && col("doc_id") =!= 7)
      .select(col("doc_id").cast("long"), col("text"))
      .unionByName(Seq((7L, "spark join window spark fast")).toDF("doc_id", "text"))
    assert(SearchIndex.bm25(spark, dir, terms).as[(Long, Double)].collect().toSeq
      === direct(finalCorpus))

    // stats stayed consistent with the doc table
    val st = spark.read.parquet(s"$dir/stats").head()
    val docAgg = spark.read.parquet(s"$dir/docs")
      .agg(count(lit(1)), sum(col("dl"))).head()
    assert(st.getAs[Long]("n_docs") === docAgg.getLong(0))
    assert(st.getAs[Long]("sum_dl") === docAgg.getLong(1))
    assert(st.getAs[Long]("n_docs") === finalCorpus.count())

    // replaying the same batch converges
    SearchIndex.mergeCdcBatch(spark, dir, batch, "doc_id", "text")
    assert(SearchIndex.bm25(spark, dir, terms).as[(Long, Double)].collect().toSeq
      === direct(finalCorpus))
    docs.unpersist()
  }

  test("a crash that loses stats/ is self-repaired: serve and merge recover from the meta file") {
    val docs = Tables.load(spark, sf(), "documents").persist()
    val base = docs.filter(col("doc_id") < 300)
    val dir = java.nio.file.Files.createTempDirectory("bm25crash").toString
    SearchIndex.build(base, "doc_id", "text", dir)
    val before = SearchIndex.bm25(spark, dir, terms)
      .as[(Long, Double)].collect().toSeq

    // simulate the worst writeStats crash window: stats/ deleted, new
    // row never renamed into place — buckets must survive via _meta
    def nukeStats(): Unit = {
      val p = new org.apache.hadoop.fs.Path(s"$dir/stats")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(p, true): Unit
    }
    nukeStats()
    assert(SearchIndex.bm25(spark, dir, terms)
      .as[(Long, Double)].collect().toSeq === before,
      "serving after a stats-losing crash must recompute stats, not fail")

    nukeStats()
    val batch = docs.filter(col("doc_id") >= 300 && col("doc_id") < 320)
      .select(col("doc_id"), col("text"), lit("upsert").as("_action"))
    SearchIndex.mergeCdcBatch(spark, dir, batch, "doc_id", "text")
    val merged = docs.filter(col("doc_id") < 320)
    assert(SearchIndex.bm25(spark, dir, terms).as[(Long, Double)].collect().toSeq
      === direct(merged),
      "merge after a stats-losing crash must recover and stay correct")
    docs.unpersist()
  }

  test("a stats rename that does not take effect fails the build; the next serve recovers") {
    import graft.streaming.FailRenameFs
    val docs = Tables.load(spark, sf(), "documents").filter(col("doc_id") < 300)
      .persist()
    FailRenameFs.registered(spark.sparkContext.hadoopConfiguration) {
      val dir = "failrename://" +
        java.nio.file.Files.createTempDirectory("bm25rename") + "/idx"
      val err = FailRenameFs.failing("stats") {
        intercept[java.io.IOException](SearchIndex.build(docs, "doc_id", "text", dir))
      }
      assert(err.getMessage.contains("stats"), err.getMessage)
      assert(SearchIndex.bm25(spark, dir, terms).as[(Long, Double)].collect().toSeq
        === direct(docs),
        "the temp-write + recoverStatsIfMissing contract must still repair stats/")
    }
    docs.unpersist()
  }
}
