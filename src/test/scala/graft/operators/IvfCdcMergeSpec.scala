package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.Tables

/** CDC maintenance of the partitionBy("cluster") IVF layout:
  * upsert/delete merge touches only affected partitions, serving over
  * the merged layout equals a driver-side replay of the same model
  * over the post-CDC corpus, pruning survives, emptied partitions
  * disappear, and a replayed batch is a no-op.
  */
class IvfCdcMergeSpec extends SparkSpec {
  import spark.implicits._

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

  test("CDC merge: upserts move/add vectors, deletes tombstone, probes stay exact and pruned") {
    val emb = Tables.load(spark, sf(), "embeddings")
    val p = IvfIndex.Params(nlist = 8, nprobe = 2, iters = 2, k = 5)
    val dir = java.nio.file.Files.createTempDirectory("ivf_cdc").toString
    // base corpus: ids < 400; held-out rows become CDC arrivals
    IvfIndex.writeIndex(emb.filter(col("vec_id") < 400), "vec_id", "embedding", p, dir)

    // the batch: 30 new ids, one existing id remapped to a held-out
    // vector (may change cluster), 10 deletes
    val newRows = emb.filter(col("vec_id") >= 400 && col("vec_id") < 430)
      .select(col("vec_id"), col("embedding"), lit("upsert").as("_action"))
    val moved = emb.filter(col("vec_id") === 450)
      .select(lit(10L).as("vec_id"), col("embedding"), lit("upsert").as("_action"))
    val deletes = (20 until 30)
      .map(i => (i.toLong, null: Array[Float], "delete"))
      .toDF("vec_id", "embedding", "_action")
    val batch = newRows.unionByName(moved).unionByName(deletes)
    IvfIndex.mergeCdcBatch(spark, dir, batch, "vec_id", "embedding")

    // layout invariants: deletes gone, adds present, id 10 re-vectored
    val data = spark.read.parquet(s"$dir/data")
      .select(col("id").cast("long"), col("unit_vec"), col("cluster").cast("int"))
      .as[(Long, Array[Double], Int)].collect()
    val byId = data.groupBy(_._1)
    assert(byId.forall(_._2.length == 1), "one row per id after merge")
    val idSet = byId.keySet
    assert((20 until 30).forall(i => !idSet(i.toLong)), "deleted ids gone")
    assert((400 until 430).forall(i => idSet(i.toLong)), "new ids present")

    // serving parity: replay the merged model in the driver — original
    // centroids (merge must NOT retrain), post-CDC corpus, same
    // unit-vector/dot/probe math
    val cents = spark.read.parquet(s"$dir/centroids")
      .select(col("cluster").cast("int"), col("centroid"))
      .as[(Int, Array[Double])].collect().sortBy(_._1).map(_._2)
    val queries = emb.filter(col("vec_id") < 3)
    val served = IvfIndex.topKFromIndex(spark, dir, queries, "vec_id", "embedding", p)
    val servedRows = served.as[(Long, Long, Long, Double)].collect().toSeq

    val qvecs = IvfIndex.unitVectors(queries, "vec_id", "embedding", lit(true))
      .map(t => (t._1, t._2)).collect().sortBy(_._1)
    val expected = qvecs.flatMap { case (qid, qx) =>
      val probes = cents.indices.toArray
        .sortBy(c => (-IvfIndex.dot(qx, cents(c)), c)).take(p.nprobe).toSet
      data.filter(t => t._1 != qid && probes(t._3))
        .map { case (oid, ox, _) => (oid, IvfIndex.dot(qx, ox)) }
        .sortBy { case (oid, sim) => (-sim, oid) }
        .take(p.k).zipWithIndex
        .map { case ((oid, sim), r) => (qid, (r + 1).toLong, oid, sim) }
    }.toSeq
    assert(servedRows === expected, "served == driver replay over merged layout")

    // the probe still prunes at the parquet scan
    val scans = finalNodes(served).collect {
      case f: FileSourceScanExec if f.metadata.getOrElse("Location", "").contains("data") => f
    }
    assert(scans.exists(_.partitionFilters.nonEmpty), "partition filter lost after merge")

    // replaying the same batch converges to the same layout
    IvfIndex.mergeCdcBatch(spark, dir, batch, "vec_id", "embedding")
    val replayed = spark.read.parquet(s"$dir/data")
      .select(col("id").cast("long"), col("cluster").cast("int"))
      .as[(Long, Int)].collect().sortBy(_._1)
    assert(replayed.toSeq === data.map(t => (t._1, t._3)).sortBy(_._1).toSeq)
  }

  test("a delete emptying a whole cluster removes its partition directory") {
    val emb = Tables.load(spark, sf(), "embeddings").filter(col("vec_id") < 100)
    val p = IvfIndex.Params(nlist = 4, nprobe = 2, iters = 2, k = 3)
    val dir = java.nio.file.Files.createTempDirectory("ivf_cdc_empty").toString
    IvfIndex.writeIndex(emb, "vec_id", "embedding", p, dir)

    val data = spark.read.parquet(s"$dir/data")
      .select(col("id").cast("long"), col("cluster").cast("int"))
      .as[(Long, Int)].collect()
    // pick the smallest cluster and delete every id in it
    val (victim, victimIds) = data.groupBy(_._2).view.mapValues(_.map(_._1))
      .toSeq.minBy(_._2.length)
    val batch = victimIds.map(i => (i, null: Array[Float], "delete")).toSeq
      .toDF("vec_id", "embedding", "_action")
    IvfIndex.mergeCdcBatch(spark, dir, batch, "vec_id", "embedding")

    assert(!new java.io.File(s"$dir/data/cluster=$victim").exists(),
      "emptied partition directory must be deleted")
    val left = spark.read.parquet(s"$dir/data")
      .select(col("id").cast("long")).as[Long].collect().toSet
    assert(left === data.map(_._1).toSet -- victimIds)
  }

  test("payload columns survive CDC merge; a payload-less batch fails loud (r16)") {
    val emb = Tables.load(spark, sf(), "embeddings")
    val p = IvfIndex.Params(nlist = 4, nprobe = 2, iters = 2, k = 3)
    val dir = java.nio.file.Files.createTempDirectory("ivf_payload_cdc").toString
    IvfIndex.writeIndex(emb.filter(col("vec_id") < 400), "vec_id", "embedding",
      p, dir, payloadCols = Seq("label"))
    assert(IvfIndex.layout(spark, dir).payloadCols === Seq("label"))

    // upsert new ids with labels + replace one id's label
    val batch = emb.filter(col("vec_id").between(400, 450))
      .select(col("vec_id"), col("embedding"), col("label"),
        lit("upsert").as("_action"))
      .unionByName(emb.filter(col("vec_id") === 7)
        .select(col("vec_id"), col("embedding"),
          lit(99L).as("label"), lit("upsert").as("_action")))
    IvfIndex.mergeCdcBatch(spark, dir, batch, "vec_id", "embedding")
    val after = spark.read.parquet(s"$dir/data")
      .select(col("id").cast("long"), col("label").cast("long"))
      .as[(Long, Long)].collect().toMap
    assert(after.contains(425L), "new ids joined the layout")
    assert(after(7L) === 99L, "the replaced id carries its new label")
    // untouched rows keep their original labels
    val orig = emb.filter(col("vec_id") === 3)
      .select(col("label").cast("long")).as[Long].head()
    assert(after(3L) === orig)

    // a batch without the layout's payload column fails loud
    val bad = emb.filter(col("vec_id") === 8)
      .select(col("vec_id"), col("embedding"), lit("upsert").as("_action"))
    val e = intercept[IllegalArgumentException](
      IvfIndex.mergeCdcBatch(spark, dir, bad, "vec_id", "embedding"))
    assert(e.getMessage.contains("payload column 'label'"), e.getMessage)
  }

  test("a merge never changes the session's partitionOverwriteMode") {
    import graft.etl.BlockCreateFs
    val key = "spark.sql.sources.partitionOverwriteMode"
    val mode = spark.conf.get(key)
    val emb = Tables.load(spark, sf(), "embeddings").filter(col("vec_id") < 200)
    val p = IvfIndex.Params(nlist = 4, nprobe = 2, iters = 2, k = 3)
    BlockCreateFs.registered(spark.sparkContext.hadoopConfiguration) {
      val dir = "blockcreate://" +
        java.nio.file.Files.createTempDirectory("ivf_mode") + "/idx"
      IvfIndex.writeIndex(emb.filter(col("vec_id") < 150), "vec_id", "embedding", p, dir)
      val batch = emb.filter(col("vec_id") >= 150)
        .select(col("vec_id"), col("embedding"), lit("upsert").as("_action"))
      // read the conf while the merge's data write is in flight
      val during = BlockCreateFs.whileCreating("data")(
        IvfIndex.mergeCdcBatch(spark, dir, batch, "vec_id", "embedding"))(
        spark.conf.get(key))
      assert(during === mode, "a merge must not set the mode on the session")
      assert(spark.conf.get(key) === mode)
      assert(spark.read.parquet(s"$dir/data").select(col("id").cast("long"))
        .as[Long].collect().sorted.toSeq ===
        emb.select(col("vec_id").cast("long")).as[Long].collect().sorted.toSeq)
    }
  }

  private def knnQuery(seed: Int) = {
    val r = new scala.util.Random(seed)
    Seq((-1L, Array.fill(64)(r.nextFloat() - 0.5f))).toDF("q_id", "q_emb")
  }

  test("a repeat knn request over an unchanged layout runs at most 3 jobs") {
    val emb = Tables.load(spark, sf(), "embeddings")
    val p = IvfIndex.Params(nlist = 16, nprobe = 4, iters = 2, k = 5)
    val dir = java.nio.file.Files.createTempDirectory("ivf_jobs").toString
    IvfIndex.writeIndex(emb, "vec_id", "embedding", p, dir)
    val first = IvfIndex.topKFromIndex(spark, dir, knnQuery(1), "q_id", "q_emb", p)
      .collect().toSeq
    var again: Seq[org.apache.spark.sql.Row] = Nil
    val jobs = org.apache.spark.graftspec.JobCount.of(spark) {
      again = IvfIndex.topKFromIndex(spark, dir, knnQuery(1), "q_id", "q_emb", p)
        .collect().toSeq
    }
    assert(jobs <= 3, s"a repeat request ran $jobs jobs")
    assert(again === first && first.size === 5)
  }

  test("a query vector of ints or longs serves the rows of its float form") {
    val emb = Tables.load(spark, sf(), "embeddings")
    val p = IvfIndex.Params(nlist = 8, nprobe = 3, iters = 2, k = 5)
    val dir = java.nio.file.Files.createTempDirectory("ivf_int_query").toString
    IvfIndex.writeIndex(emb, "vec_id", "embedding", p, dir)
    val v = Array.tabulate(64)(i => (i * 7) % 13 - 6)
    def serve(q: DataFrame) =
      IvfIndex.topKFromIndex(spark, dir, q, "q_id", "q_emb", p).collect().toSeq
    val asFloat = serve(Seq((-1L, v.map(_.toFloat))).toDF("q_id", "q_emb"))
    assert(asFloat.size === 5)
    assert(serve(Seq((-1L, v)).toDF("q_id", "q_emb")) === asFloat)
    assert(serve(Seq((-1L, v.map(_.toLong))).toDF("q_id", "q_emb")) === asFloat)
  }

  test("a serve after a CDC merge sees the merged layout; deleted ids are gone") {
    val emb = Tables.load(spark, sf(), "embeddings")
    val p = IvfIndex.Params(nlist = 8, nprobe = 8, iters = 2, k = 5)
    val dir = java.nio.file.Files.createTempDirectory("ivf_stale_merge").toString
    IvfIndex.writeIndex(emb.filter(col("vec_id") < 400), "vec_id", "embedding", p, dir)
    val before = IvfIndex.topKFromIndex(spark, dir, knnQuery(2), "q_id", "q_emb", p)
      .collect().map(_.getAs[Long]("neighbor_id")).toSeq
    val batch = before.map(i => (i, null: Array[Float], "delete"))
      .toDF("vec_id", "embedding", "_action")
      .unionByName(emb.filter(col("vec_id").between(400, 450))
        .select(col("vec_id"), col("embedding"), lit("upsert").as("_action")))
    IvfIndex.mergeCdcBatch(spark, dir, batch, "vec_id", "embedding")
    val after = IvfIndex.topKFromIndex(spark, dir, knnQuery(2), "q_id", "q_emb", p)
      .collect().toSeq
    assert(after.nonEmpty && !after.exists(r => before.contains(r.getAs[Long]("neighbor_id"))),
      "a deleted id was served")
    // a byte copy of the merged layout, in a directory no serve has held
    // state for, serves the same rows
    val copy = java.nio.file.Files.createTempDirectory("ivf_stale_copy").resolve("idx")
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(dir), copy.toFile)
    assert(IvfIndex.topKFromIndex(spark, copy.toString, knnQuery(2), "q_id", "q_emb", p)
      .collect().toSeq === after)
  }

  test("a rebuild that adds a payload column is seen by the next DSL knn filter") {
    import graft.search.QueryDsl
    val emb = Tables.load(spark, sf(), "embeddings")
    val p = IvfIndex.Params(nlist = 8, nprobe = 8, iters = 2, k = 5)
    val dir = java.nio.file.Files.createTempDirectory("ivf_stale_payload").toString
    IvfIndex.writeIndex(emb, "vec_id", "embedding", p, dir)
    val vec = (0 until 64).map(i => ((i * 7) % 13 - 6) / 10.0).mkString(",")
    def knn(index: String) = QueryDsl.search(emb,
      s"""{"knn": {"field": "embedding", "id_field": "vec_id",
           "query_vector": [$vec], "k": 5,
           "filter": {"range": {"label": {"lte": 4}}},
           "index": {"path": "$dir"$index}}}""")
    // payload-free: the filter is served by over-fetch, oversample allowed
    assert(knn(""", "oversample": 8""").collect().nonEmpty)
    assert(IvfIndex.layout(spark, dir).payloadCols === Nil)

    IvfIndex.writeIndex(emb, "vec_id", "embedding", p, dir, payloadCols = Seq("label"))
    assert(IvfIndex.layout(spark, dir).payloadCols === Seq("label"))
    // the filter now compiles into the layout scan, so oversample is refused
    val e = intercept[IllegalArgumentException](knn(""", "oversample": 8""").collect())
    assert(e.getMessage.contains("no over-fetch window"), e.getMessage)
    val served = knn("").collect().toSeq
    val ok = emb.filter(col("label") <= 4).select("vec_id").as[Long].collect().toSet
    assert(served.nonEmpty && served.forall(r => ok(r.getLong(0))))
  }
}
