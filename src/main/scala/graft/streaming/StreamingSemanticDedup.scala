package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.SemanticDedup

/** Streaming SEMANTIC dedup — the embedding-space mirror of
  * [[StreamingDedup]]: each arriving microbatch of vectors is deduped
  * (a) within itself (SemDeDup greedy ε-ball, [[SemanticDedup]]) and
  * (b) against every previously-accepted vector, then survivors join
  * the accepted corpus. The accepted corpus doubles as the probe
  * index: it is written `partitionBy("cid")` on the same deterministic
  * sign-bucket ids the in-batch pass uses, so a probe reads ONLY the
  * (≤ 2^signDims) bucket partitions the batch actually touches — a
  * pruned parquet scan, not a corpus scan.
  *
  * Per epoch:
  *  1. intra-batch SemDeDup pass: drop any vector with a lower-id
  *     in-bucket neighbor at cosine ≥ `threshold` — with the
  *     exact-duplicate collapse and `maxBucket` hot-bucket cap
  *     ([[SemanticDedup.assignments]]), so a batch of N identical
  *     embeddings costs one representative's work, not N²/2 pairs;
  *  2. replay guard: exact ids already accepted never re-enter (an
  *     at-least-once epoch replay converges to the same accepted set —
  *     same contract and reasoning as [[StreamingDedup]]). The guard
  *     reads only the cid partitions the batch touches: a replayed row
  *     carries the same embedding, hence the same cid, so its accepted
  *     twin lives in a touched partition by construction;
  *  3. cross-batch probe: survivors join accepted rows of their own
  *     buckets; the cosine runs in the codegen'd
  *     [[graft.plans.CosineSim]] expression (bit-identical to the
  *     batch kernel's quantized-integer math), any hit ≥ `threshold`
  *     drops the newcomer — arrival order decides, as in any
  *     first-wins stream;
  *  4. append survivors (vector + cid) to the bucket-partitioned
  *     accepted corpus.
  *
  * Single append per epoch (the corpus IS the index), so unlike
  * [[StreamingDedup]] there is no two-write crash window; the
  * `localCheckpoint` below only pins the pre-append snapshot so the
  * write cannot recompute against its own output.
  *
  * Scale: per-epoch cost is the in-batch SemDeDup shape plus
  * |batch| × (probed-bucket rows) codegen'd cosines; no step shuffles
  * or rescans accepted buckets the batch doesn't touch. Degenerate
  * in-batch buckets are absorbed by the collapse + cap; a degenerate
  * ACCEPTED bucket (many mutually-far vectors sharing a sign pattern)
  * still linearly scales the probe — raise signDims to split it.
  * Paths resolve through the Hadoop FileSystem API, so hdfs:///s3a://
  * corpora work identically to local runs.
  */
object StreamingSemanticDedup extends TombstoneLayer {

  def start(vecs: DataFrame, idCol: String, embCol: String,
      acceptedPath: String, checkpoint: String,
      threshold: Double = 0.9, signDims: Int = 4,
      maxBucket: Int = 8192, compactEvery: Int = 16): StreamingQuery =
    vecs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        processBatch(batch, idCol, embCol, acceptedPath, threshold,
          signDims, maxBucket, epoch)
        if (compactEvery > 0 && epoch > 0 && epoch % compactEvery == 0)
          compactAccepted(batch.sparkSession, acceptedPath, idCol): Unit
      }
      .start()

  /** CDC maintenance — the embedding-side mirror of
    * [[StreamingDedup.mergeCdcBatch]]: every batch id is tombstoned at
    * this epoch (a delete frees the id AND stops the dead vector
    * shadowing its ε-neighbors; an upsert's old version dies the same
    * way), then upserts re-enter through the normal [[processBatch]]
    * admission gate. Physical rows linger until [[compactAccepted]]
    * purges them; replays converge (tombstones are append-idempotent
    * under max, re-admitted rows win their own tombstone tie).
    */
  def mergeCdcBatch(batch: DataFrame, idCol: String, embCol: String,
      acceptedPath: String, epoch: Long, threshold: Double = 0.9,
      signDims: Int = 4, maxBucket: Int = 8192,
      actionCol: String = "_action"): Unit = {
    tombstone(batch, idCol, acceptedPath, epoch)
    processBatch(batch.filter(col(actionCol) === "upsert").drop(actionCol),
      idCol, embCol, acceptedPath, threshold, signDims, maxBucket, epoch)
  }

  /** One epoch — also the batch-mode backfill entry. `idCol` must be
    * LongType (it is the join/replay key).
    */
  def processBatch(batch: DataFrame, idCol: String, embCol: String,
      acceptedPath: String, threshold: Double, signDims: Int = 4,
      maxBucket: Int = 8192, epoch: Long = 0L): Unit = {
    val spark = batch.sparkSession
    // at-least-once sources can redeliver a row WITHIN one batch; two
    // copies of the same id would both survive the ε-ball pass (the
    // lower-id-wins rule never fires on equal ids) and double-append
    val b = batch.select(col(idCol).cast("long").as(idCol), col(embCol))
      .dropDuplicates(idCol)

    // 1. intra-batch SemDeDup greedy pass (kept = no lower-id in-bucket
    // neighbor within ε), guarded against identical-vector floods
    val asg = SemanticDedup.assignments(b, idCol, embCol, threshold,
      signDims, maxBucket = maxBucket)
    val intra = b.join(
      asg.filter(col("kept") === 1L)
        .select(col("vec_id").as(idCol), col("cid")),
      Seq(idCol))

    // scheme-aware DATA check (java.nio would see hdfs://.. as
    // always-absent and silently skip the guard + probe; a bare
    // exists() would see a fresh store whose first CDC batch just
    // wrote _tombstones as readable and crash on schema inference)
    val exists = IndexCompaction.hasDataFiles(spark, acceptedPath)

    // localCheckpoint: the probe evaluates this plan three times (cid
    // collect, hits join, anti-join) — without it each evaluation
    // would re-run the batch dedup joins on every micro-batch
    val intraC = intra.localCheckpoint(true)
    try {
      val survivors =
        if (!exists) intraC
        else {
          // cid is the partition column; ≤ 2^signDims literals by
          // construction, so this collect is bounded
          val probeCids = intraC.select(col("cid")).distinct()
            .collect().map(_.getLong(0))
          if (probeCids.isEmpty) intraC
          else {
            // one pruned LIVE read feeds both the replay guard (2) and
            // the probe (3) — only the touched cid partitions are
            // scanned, and tombstoned rows are already filtered (a
            // tombstoned id CAN re-enter: the upsert path)
            val acc = liveAccepted(spark, acceptedPath, idCol)
              .filter(col("cid").isin(probeCids.toIndexedSeq: _*))
            // 2. replay guard: LIVE-accepted ids never re-enter
            val fresh = intraC.join(acc.select(col(idCol)), Seq(idCol),
              "left_anti")
            // 3. cross-batch probe within the touched buckets
            val hits = fresh.join(
                acc.select(col("cid"), col(embCol).as("_acc_emb")),
                Seq("cid"))
              .filter(graft.plans.CosineSim(col(embCol), col("_acc_emb"))
                >= lit(threshold))
              .select(col(idCol)).distinct()
            fresh.join(hits, Seq(idCol), "left_anti")
          }
        }

      // 4. single append, bucket-partitioned; localCheckpoint pins the
      // pre-append snapshot (the plan reads acceptedPath it appends to)
      val out = survivors.withColumn("_epoch", lit(epoch)).localCheckpoint(true)
      try {
        if (!out.isEmpty)
          out.write.mode("append").partitionBy("cid").parquet(acceptedPath)
      } finally out.unpersist()
    } finally intraC.unpersist()
  }
}
