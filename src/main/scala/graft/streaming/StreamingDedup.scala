package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.MinHashLsh

/** Streaming near-duplicate dedup: each arriving microbatch is deduped
  * (a) within itself and (b) against every previously-accepted
  * document, via the persisted LSH band index — the
  * "index the corpus once, dedup the firehose" production shape
  * ([[MinHashLsh.writeBandIndex]]/[[MinHashLsh.probeNew]] give the
  * batch halves; this ties them into a `foreachBatch` loop that also
  * GROWS the index as batches are accepted).
  *
  * Per epoch:
  *  1. intra-batch greedy pass: drop any doc with a lower-id near-dup
  *     in the same batch (`nearDupPairs`, b-side of each oriented pair);
  *  2. cross-batch probe: survivors probe the band index; any hit ≥
  *     `threshold` against an accepted doc drops the newcomer — only
  *     colliding accepted docs are ever re-read (probeNew contract);
  *  3. append survivors to `acceptedPath` and their band rows to the
  *     index (streamed index rows carry write-time `bsize` = 1: the
  *     probe-side hot-bucket cap meaningfully guards the bulk-written
  *     base index; incremental rows stay uncapped until a periodic
  *     batch rewrite recomputes real bucket sizes).
  *
  * At-least-once replay safety without a transaction log: before the
  * near-dup probe, an exact-id anti-join drops any doc already in the
  * accepted corpus (a same-id probe hit would NOT catch it — probeNew
  * excludes self-id pairs by design), so a replayed epoch converges to
  * the same accepted set. The one non-idempotent residue is the crash
  * window between the two appends of step 3: an accepted doc whose
  * band rows never landed is skipped on replay (the id guard) but
  * stays unindexed until a periodic batch rewrite
  * ([[MinHashLsh.writeBandIndex]]) reconciles index and corpus —
  * during that window its later near-dups can be admitted (recall
  * loss, never correctness loss of the accepted set itself).
  *
  * Scale: every step is the batch operators' own distribution shape —
  * nothing here shuffles the accepted corpus; per-epoch cost is
  * O(batch × bands) plus the pruned verification joins.
  *
  * CDC maintenance ([[mergeCdcBatch]]): deletes and replaced versions
  * become epoch-sequenced tombstones ([[TombstoneLayer]];
  * [[liveAccepted]] is the reader's view); [[compactStores]] purges
  * dead rows physically — the LSM write path, chosen because a doc's
  * band rows live in every band partition and an eager delete would
  * rewrite the whole index.
  */
object StreamingDedup extends TombstoneLayer {

  def start(docs: DataFrame, idCol: String, textCol: String,
      acceptedPath: String, indexPath: String, checkpoint: String,
      threshold: Double = 0.8, bands: Int = 16, rows: Int = 2,
      compactEvery: Int = 16): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        processBatch(batch, idCol, textCol, acceptedPath, indexPath,
          threshold, bands, rows, epoch)
        if (compactEvery > 0 && epoch > 0 && epoch % compactEvery == 0)
          compactStores(batch.sparkSession, acceptedPath, indexPath, idCol): Unit
      }
      .start()

  /** CDC maintenance of the dedup stores — upsert/delete with the same
    * batch contract as [[graft.etl.CdcMerge]] (one row per key,
    * `actionCol` ∈ "upsert" | "delete"). Deletes (and the OLD versions
    * of upserted ids) become tombstones: they leave the live view
    * immediately — the id can be re-admitted, and the dead document
    * stops shadowing near-duplicates of itself — while physical rows
    * linger until [[compactStores]] purges them (the LSM shape: the
    * band index is partitioned by band, so a doc's rows live in EVERY
    * band partition and an eager in-place delete would rewrite the
    * whole index per batch). Upserts then re-enter through the normal
    * [[processBatch]] admission gate at this epoch — still subject to
    * intra-batch and cross-corpus near-dup checks against the
    * remaining live corpus. Replaying an epoch converges: tombstones
    * are append-idempotent under max(), and the re-admitted row wins
    * its own tombstone tie.
    */
  def mergeCdcBatch(batch: DataFrame, idCol: String, textCol: String,
      acceptedPath: String, indexPath: String, epoch: Long,
      threshold: Double = 0.8, bands: Int = 16, rows: Int = 2,
      actionCol: String = "_action"): Unit = {
    tombstone(batch, idCol, acceptedPath, epoch)
    processBatch(batch.filter(col(actionCol) === "upsert").drop(actionCol),
      idCol, textCol, acceptedPath, indexPath, threshold, bands, rows, epoch)
  }

  /** Rewrite the two stores' accumulated per-epoch file-sets: the
    * (unpartitioned) accepted corpus root and each band partition of
    * the index holding more than `maxFiles` files become one file each
    * ([[IndexCompaction]]'s write-then-delete protocol — a crash can
    * only duplicate rows, which the id anti-join and probeNew's
    * distinct'd candidate join tolerate, and which the NEXT pass's
    * dropDuplicates repairs). Index compaction also RECOMPUTES `bsize`
    * per (band, bucket) — restoring the probe-side hot-bucket cap for
    * incrementally-appended rows, whose write-time bsize is 1 (the
    * "periodic batch rewrite" the epoch loop's scaladoc promises).
    * Runs automatically every `compactEvery` epochs from [[start]].
    */
  def compactStores(spark: org.apache.spark.sql.SparkSession,
      acceptedPath: String, indexPath: String, idCol: String,
      maxFiles: Int = 8): Seq[String] = {
    import org.apache.spark.sql.expressions.Window
    val a = compactAccepted(spark, acceptedPath, idCol, maxFiles)
    // index: dedupe, purge rows whose doc is no longer live, refresh
    // bsize per (band, bucket) — restoring the probe-side hot-bucket
    // cap for incrementally-appended rows, whose write-time bsize is 1
    val liveIds =
      if (!IndexCompaction.hasDataFiles(spark, acceptedPath)) None
      else Some(liveAccepted(spark, acceptedPath, idCol)
        .select(col(idCol).as("doc_id")).distinct())
    val i = IndexCompaction.compact(spark, indexPath, maxFiles) { df =>
      val deduped = df.dropDuplicates("doc_id", "bucket")
      val purged = liveIds match {
        case None => deduped
        case Some(ids) => deduped.join(ids, Seq("doc_id"), "left_semi")
      }
      purged.withColumn("bsize",
        count(lit(1)).over(Window.partitionBy(col("bucket"))))
    }
    a.map(l => s"accepted:$l") ++ i.map(l => s"index:$l")
  }

  /** One epoch of the loop — also the batch-mode backfill entry (run it
    * over a static partitioned corpus chunk by chunk to bootstrap the
    * index before tailing a stream).
    */
  def processBatch(batch: DataFrame, idCol: String, textCol: String,
      acceptedPath: String, indexPath: String, threshold: Double,
      bands: Int = 16, rows: Int = 2, epoch: Long = 0L): Unit = {
    val spark = batch.sparkSession

    // 1. intra-batch greedy dedup (lower id survives, same marking
    // rule as SemanticDedup)
    val intraDups = MinHashLsh.nearDupPairs(batch, idCol, textCol, threshold)
      .select(col("b_id").as(idCol)).distinct()
    val intra = batch.join(intraDups, Seq(idCol), "left_anti")

    // 2a. replay guard: ids already LIVE-accepted never re-enter
    // (checked against acceptedPath, not the index — the two appends
    // in step 3 are not atomic and accepted is written first). A
    // tombstoned id CAN re-enter — that is the upsert path. Gate on
    // DATA files, not directory existence: a fresh store whose first
    // CDC batch just wrote _tombstones has the directory but nothing
    // liveAccepted could read.
    val fresh =
      if (!IndexCompaction.hasDataFiles(spark, acceptedPath)) intra
      else intra.join(
        liveAccepted(spark, acceptedPath, idCol).select(col(idCol)),
        Seq(idCol), "left_anti")

    // 2b. cross-batch probe against the LIVE accepted corpus via the
    // index: stale index rows of dead docs still generate candidates,
    // but probeNew's corpus semi-join drops them before verification
    val survivors =
      if (!IndexCompaction.hasDataFiles(spark, indexPath)) fresh
      else {
        val accepted = liveAccepted(spark, acceptedPath, idCol)
        val hits = MinHashLsh.probeNew(fresh, accepted, indexPath,
            idCol, textCol, threshold, bands, rows)
          .select(col("new_id").as(idCol)).distinct()
        fresh.join(hits, Seq(idCol), "left_anti")
      }

    // One materialization feeds two writes. This must be
    // localCheckpoint, NOT persist: the first append refreshes Spark's
    // cache for acceptedPath, which a merely-persisted plan depends on
    // (it anti-joins that path) — the second write would recompute
    // against the just-appended files and see every survivor as
    // already accepted, silently writing zero index rows. Severing
    // lineage pins both writes to the pre-append state.
    val out = survivors.withColumn("_epoch", lit(epoch)).localCheckpoint(true)
    try {
      if (!out.isEmpty) {
        out.write.mode("append").parquet(acceptedPath)
        MinHashLsh.bandRows(out, idCol, textCol, bands, rows)
          .withColumn("bsize", lit(1L))
          .write.mode("append").partitionBy("band").parquet(indexPath)
      }
    } finally out.unpersist()
  }
}
