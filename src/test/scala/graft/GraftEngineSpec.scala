package graft

import org.apache.spark.sql.functions._
import graft.etl.{DdbJson, Fixtures, IngestPipeline}
import graft.sources.Tables

class GraftEngineSpec extends SparkSpec {

  private lazy val g = GraftEngine(spark)
  private lazy val ingest = IngestPipeline.fromRaw(
    DdbJson.readExport(spark, Fixtures.writeExport().toString))

  test("keyLookup: PK equality + SK begins_with, the DynamoDB access path") {
    val fares = ingest.fare
    val hits = g.keyLookup(fares, "LAX", skPrefix = Some("SEA#"))
    assert(hits.count() === 1)
    assert(hits.head().getAs[String]("dest") === "SEA")
    // range form
    val range = g.keyLookup(fares, "LAX", skRange = Some(("A", "ZZZ")))
    assert(range.count() === 2)
  }

  test("search: all terms must match, tokenized") {
    val docs = Tables.load(spark, sf(), "documents")
    val res = g.search(docs, terms = Seq("spark", "join"), textCol = "text",
      must = Seq(col("lang") === "en"), size = 5).collect()
    assert(res.nonEmpty)
    assert(res.forall(_.getAs[String]("lang") == "en"))
    assert(res.forall { r =>
      val t = r.getAs[String]("text").split(" ").toSet
      t.contains("spark") && t.contains("join")
    })
  }

  test("exactDuplicates finds planted copies") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma"), (2L, "  Alpha beta   GAMMA "), (3L, "unrelated text here"))
      .toDF("doc_id", "text")
    val dups = g.exactDuplicates(docs, "text", "doc_id").collect()
    assert(dups.length === 1)
    assert(dups(0).getAs[Long]("keep_id") === 1L)
    assert(dups(0).getAs[Long]("copies") === 2L)
  }

  test("nearDuplicates finds planted near-copies via MinHash+LSH") {
    import spark.implicits._
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val near = (1 to 58).map(i => s"tok$i").mkString(" ") + " x y"
    val far = (100 to 160).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, base), (2L, near), (3L, far)).toDF("doc_id", "text")
    val pairs = g.nearDuplicates(docs, "text", "doc_id", threshold = 0.7).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((1L, 2L)))
  }

  test("annBruteForce returns k ranked neighbors per query") {
    val e = Tables.load(spark, sf(), "embeddings")
    val res = g.annBruteForce(e, "vec_id", "embedding", col("vec_id") < 3, k = 4)
      .collect()
    assert(res.length === 12)
    val byQ = res.groupBy(_.getAs[Long]("q_id"))
    assert(byQ.keySet === Set(0L, 1L, 2L))
    byQ.values.foreach { rows =>
      val sims = rows.sortBy(_.getAs[Long]("rank")).map(_.getAs[Double]("sim"))
      assert(sims.sorted.reverse.toSeq === sims.toSeq) // descending by rank
    }
  }

  test("termSuggest corrects a misspelling to the corpus term it is one edit from") {
    val docs = Tables.load(spark, sf(), "documents")
    val res = g.termSuggest(docs, "text", Seq("sprk", "windoow")).collect()
    val byQ = res.groupBy(_.getAs[String]("q"))
    // "sprk" is one deletion from "spark"; distance ranks before frequency
    val top = byQ("sprk").minBy(_.getAs[Long]("rank"))
    assert(top.getAs[String]("term") === "spark")
    assert(top.getAs[Long]("dist") === 1L)
    assert(byQ("windoow").exists(_.getAs[String]("term") == "window"))
    // ranks are dense from 1 and capped at the requested size
    byQ.values.foreach { rows =>
      assert(rows.map(_.getAs[Long]("rank")).sorted.toSeq ===
        (1L to rows.length.toLong).toSeq)
      assert(rows.length <= 3)
    }
  }

  test("moreLikeThis never returns the seed and scores by shared seed terms") {
    val docs = Tables.load(spark, sf(), "documents")
    val res = g.moreLikeThis(docs, "doc_id", "text", seedId = 7L).collect()
    assert(res.length === 15)
    assert(res.forall(_.getAs[Long]("doc_id") != 7L))
    // descending score with doc_id tie-break = the served order
    val scores = res.map(_.getAs[Long]("score"))
    assert(scores.sorted.reverse.toSeq === scores.toSeq)
    assert(res.forall(_.getAs[Long]("n_shared") >= 1L))
  }

  test("moreLikeThis broadcast-join weight path (K > 64) == when-chain path") {
    // above 64 chosen terms the weight lookup switches from a CASE
    // chain (codegen cliff at thousands of branches) to a broadcast
    // (term, weight) join — the two paths must agree exactly on a
    // seed whose vocabulary (100 terms) exceeds both budgets
    import spark.implicits._
    val seedText = (0 until 100).map(i => f"t$i%03d").mkString(" ")
    val docs = (Seq((0L, seedText)) ++ (1 to 20).map { d =>
      (d.toLong, (0 until 100).filter(i => (i + d) % 3 == 0)
        .map(i => f"t$i%03d").mkString(" "))
    }).toDF("doc_id", "text")
    def run(k: Int) = GraftEngine
      .moreLikeThisHits(docs, "doc_id", "text", 0L, k)
      .orderBy("doc_id").collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // every seed term admitted under both budgets ≥ 100 ⇒ the two
    // lookup paths must produce identical (id, n_shared, score) rows
    val joined = run(100)  // broadcast-join path (> 64)
    assert(joined === run(200), "join path must be budget-insensitive above vocab")
    assert(joined.nonEmpty && joined.forall(_._2 >= 1L))
    // parity vs the ARITHMETIC, not vs the engine itself: recompute
    // (id, n_shared, score) from the fixture definition with plain
    // Scala sets — df(t) = docs containing t (incl. the seed),
    // weight = n·10⁶ div df exact integer — so the join path is
    // pinned to the scoring model, not merely to the chain path
    val docTerms: Map[Long, Set[Int]] =
      (1L to 20L).map(d => d -> (0 until 100)
        .filter(i => (i + d) % 3 == 0).toSet).toMap
    val nDocs = 21L // seed + 20
    def dfOf(i: Int): Long = 1L + docTerms.values.count(_.contains(i))
    val expected = (1L to 20L).map { d =>
      val shared = docTerms(d)
      (d, shared.size.toLong,
        shared.toSeq.map(i => nDocs * 1000000L / dfOf(i)).sum)
    }
    assert(joined.sortBy(_._1) === expected,
      "join path must match the independently computed tf-idf arithmetic")
    // chain path at 64: scores can only shrink, never new docs appear
    val chain = run(64).map(r => r._1 -> r._3).toMap
    val joinMap = joined.map(r => r._1 -> r._3).toMap
    assert(chain.keySet.subsetOf(joinMap.keySet))
    assert(chain.forall { case (id, s) => joinMap(id) >= s })
  }

  test("cdc snapshot round-trip through the facade") {
    val target = java.nio.file.Files.createTempDirectory("graft-eng-cdc").toString
    import spark.implicits._
    val batch = Seq(("d1", "upsert", 1L, "x"), ("d2", "upsert", 2L, "y"))
      .toDF("_doc_id", "_action", "_seq", "payload")
    graft.streaming.CdcStream.mergeBatch(spark, batch, target, 0L)
    assert(g.cdcSnapshot(target).get.count() === 2)
  }

  test("phraseSuggest ranks whole-phrase corrections by bigram evidence") {
    import spark.implicits._
    // "b c" appears 3×, "a c" once — the phrase suggester must prefer
    // the correction the corpus actually says, not alphabetical order
    val docs = Seq("b c x b c", "y b c a c z", "a b").toDF("text")
    val res = g.phraseSuggest(docs, "text", Seq("bb", "cc")).collect()
    assert(res.nonEmpty)
    val top = res.minBy(_.getAs[Long]("rank"))
    assert(top.getAs[Seq[String]]("words") === Seq("b", "c"))
    assert(top.getAs[Long]("score") === 3L)
    // a→"a" is also one edit from "bb"? no — lev("bb","a")=2; candidates
    // for "bb" are {b}, for "cc" are {c}: a single surviving phrase
    assert(res.length === 1)
  }

  test("phraseSuggest scores a three-word phrase by summed bigram counts") {
    import spark.implicits._
    val docs = Seq("u v w", "u v q", "v w u v").toDF("text")
    // "u v" ×3, "v w" ×2 → phrase (u,v,w) scores 5
    val res = g.phraseSuggest(docs, "text", Seq("uu", "vv", "ww")).collect()
    val top = res.minBy(_.getAs[Long]("rank"))
    assert(top.getAs[Seq[String]]("words") === Seq("u", "v", "w"))
    assert(top.getAs[Long]("score") === 5L)
  }

  test("searchAfter pages are disjoint, ordered, and jointly exhaustive") {
    val docs = Tables.load(spark, sf(), "documents")
    val all = docs.orderBy(col("n_chars").desc, col("doc_id"))
      .select(col("doc_id"), col("n_chars")).collect().toSeq
    // walk three pages by cursor; they must equal the first 30 rows
    var cursor = (Long.MaxValue, Long.MinValue)
    val paged = (1 to 3).flatMap { _ =>
      val page = g.searchAfter(docs, "n_chars", "doc_id", cursor).collect()
      val last = page.last
      cursor = (last.getAs[Long]("n_chars"), last.getAs[Long]("doc_id"))
      page.map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_chars")))
    }
    assert(paged === all.take(30).map(r =>
      (r.getAs[Long]("doc_id"), r.getAs[Long]("n_chars"))))
  }

  test("spanNear honors the slop and counts qualifying position pairs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a x b"),        // gap 1 — within slop 1
      (2L, "a x y z b"),    // gap 3 — outside slop 1
      (3L, "b a a b")       // pairs: (2,1)g0 (2,4)g1 (3,1)g1 (3,4)g0 → 4 pairs
    ).toDF("doc_id", "text")
    val res = g.spanNear(docs, "doc_id", "text", "a", "b", slop = 1).collect()
    assert(res.map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_pairs"),
      r.getAs[Long]("min_gap"))).toSeq === Seq((3L, 4L, 0L), (1L, 1L, 1L)))
  }

  test("spanNear with a repeated clause pairs distinct occurrences, each once") {
    import spark.implicits._
    val docs = Seq((1L, "spark x spark"), (2L, "spark y")).toDF("doc_id", "text")
    // doc 1 at slop 0: the only distinct pair (0,2) has gap 1 — no hit;
    // self-pairs (gap -1) must not sneak through
    assert(g.spanNear(docs, "doc_id", "text", "spark", "spark", slop = 0)
      .collect().isEmpty)
    // at slop 1 the distinct pair qualifies exactly once
    val r = g.spanNear(docs, "doc_id", "text", "spark", "spark", slop = 1).collect()
    assert(r.map(x => (x.getAs[Long]("doc_id"), x.getAs[Long]("n_pairs"),
      x.getAs[Long]("min_gap"))).toSeq === Seq((1L, 1L, 1L)))
  }

  test("distanceFeature decays from 1 at the origin and halves at the pivot") {
    import spark.implicits._
    val df = Seq(100L, 110L, 90L, 200L).toDF("x")
      .withColumn("b", g.distanceFeature(col("x"), origin = 100L, pivot = 10.0))
    val by = df.collect().map(r => r.getAs[Long]("x") -> r.getAs[Double]("b")).toMap
    assert(by(100L) === 1.0)
    assert(by(110L) === 0.5 && by(90L) === 0.5)
    assert(by(200L) === 0.090909) // 10/110 rounded to 6 dp
  }

  test("searchIndexStats reports the layout's own numbers; oversize phrases fail loud") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-eng-stats").toString
    val docs = Seq((1L, "a b c"), (2L, "a b"), (3L, "d")).toDF("doc_id", "text")
    graft.etl.SearchIndex.build(docs, "doc_id", "text", dir, buckets = 4)
    val s = g.searchIndexStats(dir).collect().head
    assert(s.getAs[Long]("n_docs") === 3L && s.getAs[Long]("live_docs") === 3L)
    assert(s.getAs[Double]("avg_dl") === 2.0) // (3+2+1)/3
    assert(s.getAs[Long]("distinct_terms") === 4L)
    assert(s.getAs[Long]("postings_rows") === 6L) // (a,1)(b,1)(c,1)(a,2)(b,2)(d,3)
    assert(s.getAs[Long]("buckets") === 4L)
    // the request-side cap: 5^10 candidate phrases is not a request
    val ex = intercept[IllegalArgumentException](
      g.phraseSuggest(docs, "text", phrase = Seq.fill(10)("word")))
    assert(ex.getMessage.contains("request-side cap"))
  }

  test("geoGrid buckets hits inside the radius and reports nearest per cell") {
    import spark.implicits._
    val pts = Seq((40.0, -74.0), (40.5, -74.5), (41.0, -60.0), (-80.0, 100.0))
      .toDF("lat", "lon")
    val res = g.geoGrid(pts, "lat", "lon", 40.0, -74.0, 2000.0)
      .collect()
    // the antipodal point is filtered; the two nearby points share cell
    // (floor(40/15), floor(-74/15)) = (2, -5); (41,-60) lands in (2,-4)
    assert(res.map(r => (r.getAs[Long]("cell_lat"), r.getAs[Long]("cell_lon"),
      r.getAs[Long]("n"))).toSeq === Seq((2L, -5L, 2L), (2L, -4L, 1L)))
    val home = res.find(_.getAs[Long]("cell_lon") === -5L).get
    assert(home.getAs[Double]("min_dist") === 0.0)
  }

  test("LM/DSIR/classifier facade methods match their oracle-gated queries") {
    val dir = sf()
    def rows(df: org.apache.spark.sql.DataFrame, id: String = "doc_id") =
      df.orderBy(id).collect().toSeq
    val q154 = Registry.byName("q154_bigram_logprob").run(spark, dir)
    val q155 = Registry.byName("q155_dsir_weights").run(spark, dir).drop("keep")
    val q156 = Registry.byName("q156_quality_classifier").run(spark, dir)
    assert(rows(g.bigramLogProb(Tables.load(spark, dir, "documents"),
        "doc_id", "text")) === rows(q154))
    assert(rows(g.dsirWeights(Tables.load(spark, dir, "documents"),
        "doc_id", "text", col("lang") === "en").drop("keep")) === rows(q155))
    assert(rows(g.qualityClassifier(Tables.load(spark, dir, "documents"),
        "doc_id", "text")) === rows(q156))
    // the same input under other column names: a body that still
    // hard-codes doc_id or text fails here
    val renamed = Tables.load(spark, dir, "documents")
      .withColumnRenamed("doc_id", "id").withColumnRenamed("text", "body")
    def reg(df: org.apache.spark.sql.DataFrame) =
      rows(df.withColumnRenamed("doc_id", "id"), "id")
    assert(rows(g.bigramLogProb(renamed, "id", "body"), "id") === reg(q154))
    assert(rows(g.dsirWeights(renamed, "id", "body", col("lang") === "en"), "id") ===
      reg(q155))
    assert(rows(g.qualityClassifier(renamed, "id", "body"), "id") === reg(q156))
    // a planted high-weight token flips the classifier's label
    import spark.implicits._
    val toy = Seq((1L, "alpha beta"), (2L, "alpha alpha alpha")).toDF("doc_id", "text")
    val custom = g.qualityClassifier(toy, "doc_id", "text",
      weightOf = t => when(t === "beta", 1000L).otherwise(-1L))
    val m = custom.collect().map(r => r.getLong(0) -> r.getAs[Long]("label")).toMap
    assert(m === Map(1L -> 1L, 2L -> 0L))
  }
}
