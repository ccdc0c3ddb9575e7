package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.Tables

/** The versioned IVF store (r16, VERDICT r15 #5): copy-on-write merges,
  * pointer-flip cutover, point-in-time pins stable across a concurrent
  * merge + vacuum, vacuum refusing pinned versions, release reclaiming.
  */
class IvfAliasSpec extends SparkSpec {
  import spark.implicits._

  private val p = IvfIndex.Params(nlist = 8, nprobe = 3, iters = 2, k = 5)

  private def queries = Tables.load(spark, sf(), "embeddings")
    .filter(col("vec_id") % 50 === 0)

  test("build serves identically to the direct writeIndex layout") {
    val emb = Tables.load(spark, sf(), "embeddings")
    val root = java.nio.file.Files.createTempDirectory("ivf_alias").toString
    val v = IvfAlias.build(emb, "vec_id", "embedding", p, root)
    assert(v === 1 && IvfAlias.activeVersion(spark, root) === 1)
    val dir = java.nio.file.Files.createTempDirectory("ivf_direct").toString
    IvfIndex.writeIndex(emb, "vec_id", "embedding", p, dir)
    val viaStore = IvfAlias.topK(spark, root, queries, "vec_id", "embedding", p)
      .collect().toSeq
    val direct = IvfIndex.topKFromIndex(spark, dir, queries,
      "vec_id", "embedding", p).collect().toSeq
    assert(viaStore === direct && viaStore.nonEmpty,
      "the versioned store must serve the probe core's exact rows")
  }

  test("pinned pages survive merge + vacuum; release reclaims (r16)") {
    val emb = Tables.load(spark, sf(), "embeddings")
    val root = java.nio.file.Files.createTempDirectory("ivf_alias_pit").toString
    IvfAlias.build(emb.filter(col("vec_id") < 400), "vec_id", "embedding",
      p, root)
    val pit = IvfAlias.openPit(spark, root)
    val page1 = IvfAlias.topK(spark, root, queries, "vec_id", "embedding",
      p, pit = Some(pit)).collect().toSeq
    assert(page1.nonEmpty)

    // mid-session: delete a slice of the corpus (some of them served
    // hits), move one vector, add new ids — then vacuum
    val batch = emb.filter(col("vec_id") % 3 === 0 && col("vec_id") < 400)
      .select(col("vec_id"), col("embedding"), lit("delete").as("_action"))
      .unionByName(emb.filter(col("vec_id").between(400, 420))
        .select(col("vec_id"), col("embedding"), lit("upsert").as("_action")))
    val v2 = IvfAlias.merge(spark, root, batch, "vec_id", "embedding")
    assert(IvfAlias.activeVersion(spark, root) === v2)
    assert(IvfAlias.vacuum(spark, root).isEmpty,
      "vacuum must refuse versions a pin references")

    // the pinned composition is frozen: same page, byte for byte
    val page2 = IvfAlias.topK(spark, root, queries, "vec_id", "embedding",
      p, pit = Some(pit)).collect().toSeq
    assert(page2 === page1, "pinned serve drifted across a merge+vacuum")

    // the ACTIVE serve reflects the merge: no deleted id is served
    val active = IvfAlias.topK(spark, root, queries, "vec_id", "embedding", p)
      .collect().toSeq
    assert(active.forall(r => r.getLong(2) % 3 != 0 || r.getLong(2) >= 400),
      "active serve must not return deleted ids")
    assert(active !== page1, "the merge must change the active ranking")

    // release → vacuum reclaims the superseded version dirs
    IvfAlias.release(spark, pit)
    val removed = IvfAlias.vacuum(spark, root)
    assert(removed.nonEmpty, "release must make the old version vacuumable")
    removed.foreach(v => assert(
      !new java.io.File(s"$root/v$v").exists(), s"v$v not deleted"))
    // and the active composition still serves
    assert(IvfAlias.topK(spark, root, queries, "vec_id", "embedding", p)
      .collect().toSeq === active)
    // double release fails loud
    assertThrows[IllegalStateException](IvfAlias.release(spark, pit))
  }

  test("payload columns ride the versioned store; merges keep them filterable") {
    val emb = Tables.load(spark, sf(), "embeddings")
    val root = java.nio.file.Files.createTempDirectory("ivf_alias_pl").toString
    IvfAlias.build(emb.filter(col("vec_id") < 400), "vec_id", "embedding",
      p, root, payloadCols = Seq("label"))
    val batch = emb.filter(col("vec_id").between(400, 450))
      .select(col("vec_id"), col("embedding"), col("label"),
        lit("upsert").as("_action"))
    IvfAlias.merge(spark, root, batch, "vec_id", "embedding")
    val filtered = IvfAlias.topK(spark, root, queries, "vec_id", "embedding",
      p.copy(nprobe = 8), filter = Some(col("label") <= 4)).collect().toSeq
    assert(filtered.nonEmpty)
    val ok = emb.filter(col("label") <= 4)
      .select("vec_id").as[Long].collect().toSet
    assert(filtered.forall(r => ok(r.getLong(2))))
    // a payload-less batch fails loud (the direct-layout contract)
    val bad = emb.filter(col("vec_id") === 8)
      .select(col("vec_id"), col("embedding"), lit("upsert").as("_action"))
    val e = intercept[IllegalArgumentException](
      IvfAlias.merge(spark, root, bad, "vec_id", "embedding"))
    assert(e.getMessage.contains("payload column 'label'"), e.getMessage)
  }

  test("a topK's job count does not grow with nprobe") {
    val emb = Tables.load(spark, sf(), "embeddings")
    val root = java.nio.file.Files.createTempDirectory("ivf_alias_jobs").toString
    IvfAlias.build(emb.filter(col("vec_id") < 400), "vec_id", "embedding", p, root)
    IvfAlias.merge(spark, root, emb.filter(col("vec_id").between(400, 450))
      .select(col("vec_id"), col("embedding"), lit("upsert").as("_action")),
      "vec_id", "embedding")
    val q = Seq((-1L, Array.tabulate(64)(i => ((i * 5) % 9 - 4) / 8.0f)))
      .toDF("q_id", "q_emb")
    def jobs(nprobe: Int) = org.apache.spark.graftspec.JobCount.of(spark)(
      IvfAlias.topK(spark, root, q, "q_id", "q_emb", p.copy(nprobe = nprobe))
        .collect(): Unit)
    jobs(1) // loads the store's serving state
    val one = jobs(1)
    val all = jobs(p.nlist)
    assert(all <= one, s"nprobe ${p.nlist} ran $all jobs, nprobe 1 ran $one")
  }
}
