package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.search.QueryDsl
import graft.sources.Tables

/** `_delete_by_query` / `_update_by_query` as event producers feeding
  * the EXISTING merge machinery — the contract is: applying the events
  * leaves every maintained index indistinguishable from a from-scratch
  * build of the post-op corpus (the StreamingSearchIndexSpec pattern),
  * and the merge physically rewrites ONLY touched buckets (untouched
  * bucket directories byte-stable on disk).
  */
class ByQuerySpec extends SparkSpec {
  import spark.implicits._

  private val terms = Seq("spark", "join", "window")

  /** q44's direct computation (the SearchIndexSpec helper, duplicated
    * to keep each spec self-contained).
    */
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

  /** (relative path → (length, checksum-ish mtime)) for every parquet
    * file under a bucket layout — the physical touched-bucket probe.
    */
  private def fileState(root: String): Map[String, (Long, Long)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    walk(new java.io.File(root))
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getPath.stripPrefix(root) -> ((f.length(), f.lastModified())))
      .toMap
  }

  test("delete_by_query events applied to the BM25 index == rebuild; only touched buckets rewritten") {
    val docs = Tables.load(spark, sf(), "documents").persist()
    val dir = java.nio.file.Files.createTempDirectory("dbq").toString
    SearchIndex.build(docs, "doc_id", "text", dir)
    val before = fileState(s"$dir/postings")

    // delete ONE document: its distinct terms bound the touched set
    val events = QueryDsl.deleteByQuery(docs,
      """{"query": {"term": {"doc_id": 7}}}""")
    assert(events.select(col("_action")).distinct().as[String].collect()
      .toSeq === Seq("delete"))
    SearchIndex.mergeCdcBatch(spark, dir, events, "doc_id", "text")

    // post-op serve parity with a from-scratch build of the remainder
    assert(SearchIndex.bm25(spark, dir, terms).as[(Long, Double)].collect().toSeq
      === direct(docs.filter(col("doc_id") =!= 7)))

    // the touched-bucket pin: the doc's terms reach < all buckets, so
    // some postings files must be byte-stable (same path/len/mtime)
    val after = fileState(s"$dir/postings")
    val untouched = before.toSet.intersect(after.toSet)
    assert(untouched.nonEmpty,
      s"expected untouched postings buckets; before=${before.size} after=${after.size}")
    val changed = after.keySet.diff(untouched.map(_._1))
    assert(changed.nonEmpty && changed.size < after.size,
      s"expected a partial rewrite: ${changed.size} of ${after.size}")
    docs.unpersist()
  }

  test("update_by_query re-index: string replacement flows through to serving") {
    val docs = Tables.load(spark, sf(), "documents").persist()
    val dir = java.nio.file.Files.createTempDirectory("ubq").toString
    SearchIndex.build(docs, "doc_id", "text", dir)

    val events = QueryDsl.updateByQuery(docs,
      """{"query": {"term": {"doc_id": 7}},
         "script": {"source": "ctx._source.text = params.t",
                    "params": {"t": "spark join window spark fast"}}}""")
    assert(events.count() === 1L)
    SearchIndex.mergeCdcBatch(spark, dir, events, "doc_id", "text")

    val expected = docs.filter(col("doc_id") =!= 7)
      .select(col("doc_id").cast("long"), col("text"))
      .unionByName(Seq((7L, "spark join window spark fast")).toDF("doc_id", "text"))
    assert(SearchIndex.bm25(spark, dir, terms).as[(Long, Double)].collect().toSeq
      === direct(expected))
    docs.unpersist()
  }

  test("delete_by_query events drive the IVF vector index too") {
    import graft.operators.IvfIndex
    val emb = Tables.load(spark, sf(), "embeddings").persist()
    val p = IvfIndex.Params(nlist = 8, nprobe = 8, iters = 2, k = 5)
    val dir = java.nio.file.Files.createTempDirectory("dbqivf").toString
    IvfIndex.writeIndex(emb, "vec_id", "embedding", p, dir)
    val before = fileState(s"$dir/data")

    val queries = emb.filter(col("vec_id") === 3)
      .select(col("vec_id"), col("embedding"))
    val beforeTop = IvfIndex.topKFromIndex(spark, dir, queries,
        "vec_id", "embedding", p)
      .select(col("neighbor_id")).as[Long].collect().toSeq
    val victim = beforeTop.head

    val events = QueryDsl.deleteByQuery(emb,
      s"""{"query": {"term": {"vec_id": $victim}}}""")
    IvfIndex.mergeCdcBatch(spark, dir, events, "vec_id", "embedding")

    val afterTop = IvfIndex.topKFromIndex(spark, dir, queries,
        "vec_id", "embedding", p)
      .select(col("neighbor_id")).as[Long].collect().toSeq
    assert(!afterTop.contains(victim) && afterTop.nonEmpty)

    // the touched-cluster pin: one deleted vector lives in one cluster,
    // so every other cluster's files must be byte-stable
    val after = fileState(s"$dir/data")
    val untouched = before.toSet.intersect(after.toSet).map(_._1)
    def cluster(f: String) = f.split("/").find(_.startsWith("cluster="))
    val hit = (before.keySet.diff(untouched) ++ after.keySet.diff(untouched))
      .map(cluster)
    assert(hit.size === 1, s"expected one rewritten cluster, got $hit")
    val others = before.filter { case (f, _) => !hit(cluster(f)) }
    assert(others.nonEmpty && others.toSet.subsetOf(after.toSet),
      "untouched clusters must be byte-stable")
    emb.unpersist()
  }

  test("update_by_query grammar fails loud outside the assignment shape") {
    val docs = Tables.load(spark, sf(), "documents")
    def bad(json: String, fragment: String): Unit = {
      val e = intercept[IllegalArgumentException](
        QueryDsl.updateByQuery(docs, json))
      assert(e.getMessage.contains(fragment), e.getMessage)
    }
    bad("""{"query": {"match_all": {}},
           "script": {"source": "delete everything"}}""",
      "must be an assignment")
    bad("""{"query": {"match_all": {}},
           "script": {"source": "ctx._source.nope = params.t",
                      "params": {"t": "x"}}}""",
      "not a column")
    bad("""{"query": {"match_all": {}},
           "script": {"source": "ctx._source.n_chars = _score + 1"}}""",
      "no _score")
    bad("""{"query": {"match_all": {}},
           "script": {"source": "ctx._source.n_chars = params.t + 1",
                      "params": {"t": "x"}}}""",
      "only usable as the whole right-hand side")
    bad("""{"query": {"match_all": {}}}""", "needs {script")
    // delete takes query only
    val e = intercept[IllegalArgumentException](QueryDsl.deleteByQuery(docs,
      """{"query": {"match_all": {}}, "size": 5}"""))
    assert(e.getMessage.contains("unsupported _delete_by_query request key"),
      e.getMessage)
  }
}
