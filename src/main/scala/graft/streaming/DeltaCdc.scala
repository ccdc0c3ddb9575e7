package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.etl.CdcMerge
import graft.sources.VersionPointer

/** Delta-log CDC sink: the write-amplification-bounded variant of
  * [[CdcStream]]'s versioned-snapshot target.
  *
  * [[CdcStream.mergeBatch]] rewrites the FULL state every epoch — the
  * simplest crash-safe layout, but at 100 TB a per-minute CDC tick
  * would rewrite the whole table per minute. This variant is the
  * merge-on-read design (the Hudi-MOR / LSM idea, expressed as plain
  * parquet + the same [[graft.sources.VersionPointer]] commit):
  *
  *  - each epoch appends only the batch-normalized delta
  *    (`d=<epoch>`, O(batch) bytes — per-key winners, `_action` kept);
  *  - readers resolve the latest full snapshot `v=<b>` + the deltas
  *    above it with ONE keyed merge — correct because the per-key
  *    winner rule (max `_seq`, tombstone tiebreak,
  *    [[CdcMerge.applyBatch]]) is associative: merging the union of
  *    deltas equals merging them one epoch at a time;
  *  - every `compactEvery` deltas, that epoch folds base + deltas into
  *    a new full snapshot `v=<epoch>` (write amplification amortized
  *    to O(state/compactEvery) per epoch), after which the deltas at
  *    or below it are dead and vacuumable.
  *
  * Crash-replay contract (same as the full-snapshot path): a replayed
  * epoch overwrites its own `d=<epoch>` (and `v=<epoch>` if it
  * compacts), and the writer path takes as base only versions STRICTLY
  * BELOW the replaying epoch — a crash mid-compaction leaves a partial
  * `v=<epoch>` that the replay overwrites rather than reads. Readers
  * resolve the base through the pointer, which moves only after a
  * snapshot write completes, and read only deltas whose write
  * committed (`_SUCCESS`), so they never scan a partial directory.
  * At-least-once delivery of an epoch is therefore
  * idempotent end-to-end; the restart guard refuses epochs below
  * anything already on disk.
  *
  * Reference contract carried over: keyed index/update/delete actions
  * (custom_resource.py:350-351), null-key events parked in the DLQ
  * rather than merged (dlq shape of custom_resource.py:358-363).
  */
object DeltaCdc {

  private[streaming] def deltasOnDisk(targetDir: String): Seq[Long] =
    VersionPointer.versions(VersionPointer.fsOf(targetDir), targetDir, "d=")

  /** The committed deltas above `base`, ascending — the live tail a
    * reader folds onto the base.
    */
  private[streaming] def liveDeltas(targetDir: String, base: Option[Long]): Seq[Long] = {
    val fs = VersionPointer.fsOf(targetDir)
    deltasOnDisk(targetDir).filter(d =>
      base.forall(_ < d) && fs.exists(new Path(targetDir, s"d=$d/_SUCCESS")))
  }

  /** Fold `base` (if any) + the given delta epochs into one state
    * frame. Deltas re-enter [[CdcMerge.applyBatch]] unioned: per-key
    * winner selection is associative, so one merge equals the
    * epoch-at-a-time sequence.
    */
  private[streaming] def stateFrom(spark: SparkSession, targetDir: String,
      base: Option[Long], deltas: Seq[Long]): Option[DataFrame] = {
    val deltaDf = deltas.map(d => spark.read.parquet(s"$targetDir/d=$d"))
      .reduceOption(_.unionByName(_, allowMissingColumns = true))
    (base.map(v => spark.read.parquet(s"$targetDir/v=$v")), deltaDf) match {
      case (Some(b), Some(d)) => Some(CdcMerge.applyBatch(b, d))
      case (Some(b), None) => Some(b)
      case (None, Some(d)) => Some(CdcMerge.initialState(d))
      case (None, None) => None
    }
  }

  /** One epoch: append the normalized delta; fold into a full snapshot
    * every `compactEvery` deltas. O(batch) writes on non-compacting
    * epochs — never O(state).
    */
  def mergeBatchDelta(spark: SparkSession, batch: DataFrame,
      targetDir: String, epoch: Long, compactEvery: Int = 8): Unit = {
    require(compactEvery >= 1, "compactEvery >= 1")
    val versions = CdcStream.versionsOnDisk(targetDir)
    val deltas = deltasOnDisk(targetDir)
    // state above the replaying epoch ⇒ the stream was restarted with a
    // cleared checkpoint against a live target; proceeding would fork it
    require((versions ++ deltas).forall(_ <= epoch),
      s"target $targetDir holds epochs above $epoch — " +
        "was the stream restarted with a fresh checkpoint against an existing target?")
    val bad = batch.filter(col("_doc_id").isNull)
    if (!bad.isEmpty)
      bad.write.mode("overwrite").parquet(s"$targetDir/dlq/epoch=$epoch")
    // batch-normalized: per-key winner only, `_action` retained so the
    // read path can feed deltas straight back through applyBatch
    CdcMerge.latestPerKey(batch.filter(col("_doc_id").isNotNull))
      .write.mode("overwrite").parquet(s"$targetDir/d=$epoch")
    // base strictly below the epoch: a replayed epoch must not read the
    // (possibly partial) snapshot it crashed while writing
    val base = versions.filter(_ < epoch).lastOption
    val live = liveDeltas(targetDir, base)
    if (live.size >= compactEvery)
      stateFrom(spark, targetDir, base, live).foreach { st =>
        CdcStream.writeSnapshot(st, targetDir, epoch)
      }
  }

  /** Current state: latest complete snapshot (pointer-resolved, so a
    * mid-compaction crash is invisible here) + one keyed merge of the
    * deltas above it. Read cost is bounded by `compactEvery` deltas;
    * the merge touches only delta-affected keys of the base (anti/semi
    * joins inside applyBatch), so with a key-bucketed base it is
    * shuffle-free on the base side.
    */
  def readState(spark: SparkSession, targetDir: String): Option[DataFrame] = {
    val base = CdcStream.latestVersion(targetDir)
    stateFrom(spark, targetDir, base, liveDeltas(targetDir, base))
  }

  /** The queryable view (tombstones filtered). */
  def readSnapshot(spark: SparkSession, targetDir: String): Option[DataFrame] =
    readState(spark, targetDir).map(CdcMerge.snapshot)

  /** Drop deltas already folded into the newest COMMITTED full snapshot
    * (pointer-resolved — never trusts a partial compaction). Deltas
    * above it are live state and are never touched. Returns removed
    * delta epochs.
    */
  def vacuumDeltas(targetDir: String): Seq[Long] = {
    val fs = VersionPointer.fsOf(targetDir)
    // PIT-pinned deltas survive even once folded into a newer snapshot:
    // the pinned composition (old base + its deltas) must stay readable
    val doomed = (CdcStream.latestVersion(targetDir) match {
      case None => Seq.empty[Long]
      case Some(b) => deltasOnDisk(targetDir).filter(_ <= b)
    }).filterNot(d => VersionPointer.isPinned(fs, targetDir, s"d=$d"))
    doomed.foreach(d => fs.delete(new Path(targetDir, s"d=$d"), true))
    doomed
  }

  /** Tail a change-event feed into a delta-log target. */
  def start(spark: SparkSession, eventsPath: String, targetDir: String,
      checkpoint: String, compactEvery: Int = 8): StreamingQuery =
    CdcStream.decode(CdcStream.readChangeEvents(spark, eventsPath)).writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        mergeBatchDelta(batch.sparkSession, batch, targetDir, epoch, compactEvery)
      }
      .start()
}
