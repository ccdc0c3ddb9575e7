package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.etl.SearchIndex
import graft.operators.IvfIndex
import graft.sources.VersionPointer

/** CONTINUOUS search-index maintenance from a CDC stream — the
  * reference's actual program shape: a DynamoDB stream drives an
  * OpenSearch index document-by-document, forever
  * (custom_resource.py:324-384 — stream → route → per-doc
  * index/update/delete against the search collection). The batch
  * index merges ([[SearchIndex.mergeCdcBatch]],
  * [[IvfIndex.mergeCdcBatch]]) rewrite only the leaves a batch touches
  * through the one in-place writer, [[graft.sources.TouchedLeaves]];
  * this object drives them from `foreachBatch` so the BM25 text index
  * and the IVF vector index are maintained *from the stream*, with the
  * same replay discipline the dedup stores have.
  *
  * Per epoch:
  *  1. replay/restart guard: a fully-applied epoch (strictly below the
  *     committed marker) is skipped; re-running the marker epoch
  *     itself re-applies — safe because both merges are pure functions
  *     of (current layout, batch), so replaying a half-committed epoch
  *     converges. An epoch BELOW an older marker means the stream was
  *     restarted with a cleared checkpoint against a live index —
  *     fail loud rather than silently re-applying history
  *     (same contract as [[CdcStream.mergeBatch]]);
  *  2. collapse the batch to one row per key (`_seq` order when the
  *     CDC feed carries it, [[graft.etl.CdcMerge]]'s contract);
  *  3. bootstrap or merge: the first data-bearing batch BUILDS the
  *     index from its upserts (for IVF this trains the initial
  *     centroids — FAISS `add` semantics thereafter: later batches
  *     assign to the nearest existing centroid, and a periodic batch
  *     retrain re-centers when the corpus has drifted); every later
  *     batch goes through the in-place touched-partition merge;
  *  4. commit the epoch marker through [[graft.sources.VersionPointer]];
  *  5. every `compactEvery` epochs, [[IndexCompaction]] bounds the
  *     file counts of the partitioned layouts.
  *
  * Scale: each epoch's cost is the merge's own touched-partition
  * shape — a small batch reads/rewrites only the term buckets /
  * clusters it touches, never the whole index; nothing here adds a
  * corpus-sized read to the loop.
  */
object StreamingSearchIndex {

  // ---- epoch marker (applied-through watermark) ----------------------

  private val marker = "_applied_epoch"

  private def fsOf(spark: org.apache.spark.sql.SparkSession, dir: String) =
    VersionPointer.fsOf(dir, spark.sparkContext.hadoopConfiguration)

  /** The applied-through epoch. A temp marker is written only once its
    * epoch's merges landed, so where a non-atomic replace lost the
    * marker the newest temp still holds the restart guard.
    */
  private[streaming] def lastApplied(
      spark: org.apache.spark.sql.SparkSession, dir: String): Option[Long] =
    VersionPointer.resolve(fsOf(spark, dir), dir, marker, VersionPointer.tempPrefix(marker))(
      _.toLongOption, _ => true)

  private def commitEpoch(spark: org.apache.spark.sql.SparkSession,
      dir: String, epoch: Long): Unit =
    VersionPointer.commit(fsOf(spark, dir), dir, marker, epoch.toString)

  /** True when this epoch still needs applying; throws on the
    * cleared-checkpoint restart shape.
    */
  private def shouldApply(spark: org.apache.spark.sql.SparkSession,
      dir: String, epoch: Long): Boolean = lastApplied(spark, dir) match {
    case None => true
    case Some(m) if epoch > m => true
    case Some(m) if epoch == m => true // half-committed replay: re-apply, converges
    case Some(m) =>
      throw new IllegalStateException(
        s"index $dir is applied through epoch $m but the stream delivered epoch $epoch — " +
          "was the stream restarted with a fresh checkpoint against an existing index?")
  }

  /** One row per key: `_seq` order when present (the CDC feed's
    * within-batch total order), else the batch must already be keyed.
    */
  private def collapsed(batch: DataFrame, idCol: String): DataFrame =
    if (batch.columns.contains("_seq")) {
      val w = Window.partitionBy(col(idCol)).orderBy(col("_seq").desc)
      batch.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1).drop("_rn", "_seq")
    } else batch.dropDuplicates(idCol)

  // ---- BM25 text index ----------------------------------------------

  /** One epoch of stream-driven BM25 maintenance — also the batch
    * backfill entry.
    */
  def processTextBatch(batch: DataFrame, idCol: String, textCol: String,
      dir: String, epoch: Long, actionCol: String = "_action",
      buckets: Int = 64): Unit = {
    val spark = batch.sparkSession
    if (!shouldApply(spark, dir, epoch)) return
    val b = collapsed(batch, idCol).localCheckpoint(true)
    try {
      // bootstrap-vs-merge keys on the COMPLETED-build marker, not on
      // postings/ (written first): a crash mid-bootstrap must re-run
      // the build on replay, not crash-loop the merge path on a
      // half-written layout
      if (SearchIndex.isInitialized(spark, dir))
        SearchIndex.mergeCdcBatch(spark, dir, b, idCol, textCol, actionCol)
      else {
        // bootstrap: the first data-bearing batch IS the corpus; a
        // deletes-only first batch leaves the index unborn (deletes on
        // nothing are no-ops) and only advances the marker
        val ups = b.filter(col(actionCol) === "upsert").drop(actionCol)
        if (!ups.isEmpty) SearchIndex.build(ups, idCol, textCol, dir, buckets)
      }
      commitEpoch(spark, dir, epoch)
    } finally b.unpersist()
  }

  /** Start the stream-maintained BM25 index: every micro-batch of
    * (id, text, action[, _seq]) rows merges in place;
    * [[SearchIndex.bm25]] serves from the live layout at any time. Each
    * term's document frequency rides on its posting rows, rewritten
    * with the leaf by the epoch's merge; the one driver-held entry per
    * index version is the stats row, keyed on the files of `stats/`,
    * so the first request after an epoch rereads that row and nothing
    * else.
    */
  def startText(cdc: DataFrame, idCol: String, textCol: String,
      dir: String, checkpoint: String, actionCol: String = "_action",
      buckets: Int = 64, compactEvery: Int = 16): StreamingQuery =
    cdc.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        processTextBatch(batch, idCol, textCol, dir, epoch, actionCol, buckets)
        if (compactEvery > 0 && epoch > 0 && epoch % compactEvery == 0) {
          IndexCompaction.compact(batch.sparkSession, s"$dir/postings")(
            _.dropDuplicates("term", "doc_id"))
          IndexCompaction.compact(batch.sparkSession, s"$dir/docs")(
            _.dropDuplicates("doc_id")): Unit
        }
      }
      .start()

  // ---- IVF vector index ---------------------------------------------

  /** One epoch of stream-driven IVF maintenance — also the batch
    * backfill entry.
    */
  def processVectorBatch(batch: DataFrame, idCol: String, embCol: String,
      dir: String, epoch: Long, actionCol: String = "_action",
      p: IvfIndex.Params = IvfIndex.Params()): Unit = {
    val spark = batch.sparkSession
    if (!shouldApply(spark, dir, epoch)) return
    val b = collapsed(batch, idCol).localCheckpoint(true)
    try {
      if (IndexCompaction.hasDataFiles(spark, s"$dir/centroids"))
        IvfIndex.mergeCdcBatch(spark, dir, b, idCol, embCol, actionCol)
      else {
        val ups = b.filter(col(actionCol) === "upsert").drop(actionCol)
        if (!ups.isEmpty) IvfIndex.writeIndex(ups, idCol, embCol, p, dir)
      }
      commitEpoch(spark, dir, epoch)
    } finally b.unpersist()
  }

  /** Start the stream-maintained IVF index: micro-batches of
    * (id, embedding, action[, _seq]) rows; [[IvfIndex.topKFromIndex]]
    * serves from the live layout at any time. Epochs keep the
    * centroids, so its driver-held centroids and schema stay valid
    * across them; only a retrain ([[IvfIndex.writeIndex]]) reloads
    * them.
    */
  def startVectors(cdc: DataFrame, idCol: String, embCol: String,
      dir: String, checkpoint: String, actionCol: String = "_action",
      p: IvfIndex.Params = IvfIndex.Params(),
      compactEvery: Int = 16): StreamingQuery =
    cdc.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        processVectorBatch(batch, idCol, embCol, dir, epoch, actionCol, p)
        if (compactEvery > 0 && epoch > 0 && epoch % compactEvery == 0)
          IndexCompaction.compact(batch.sparkSession, s"$dir/data")(
            _.dropDuplicates("id")): Unit
      }
      .start()
}
