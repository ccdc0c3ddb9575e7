package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.etl.{CdcMerge, DdbJson}
import graft.sources.VersionPointer

/** The CDC streaming path (SURVEY.md §2.10): tail a change-event feed,
  * decode, and maintain per-key last-writer-wins state in a parquet
  * snapshot target via `foreachBatch` merge — the Spark-first
  * re-expression of the reference's DynamoDB-stream → OpenSearch
  * pipeline (start_position LATEST, custom_resource.py:331-333; keyed
  * index/update/delete actions :350-351).
  *
  * The sink is a versioned-snapshot parquet table: each epoch writes a
  * full new snapshot directory `v=<epoch>` and commits the `_LATEST`
  * pointer through [[graft.sources.VersionPointer]]; writers never
  * mutate a directory a reader may be scanning. (With a transactional
  * table format the merge body becomes a single MERGE INTO; the
  * surrounding plan is identical.) Checkpointing gives effective
  * exactly-once per epoch on top of the at-least-once feed (ST2).
  */
object CdcStream {

  /** Tail a directory of change-event JSON files (the harness stand-in
    * for a DynamoDB stream shard — same fields as a Streams record).
    */
  def readChangeEvents(spark: SparkSession, path: String): DataFrame =
    spark.readStream
      .schema(DdbJson.changeEventSchema)
      .json(path)

  /** Decode a (streaming or batch) change-event frame into the CDC
    * merge contract: `_doc_id`, `_action`, `_seq` + the new image.
    */
  def decode(events: DataFrame): DataFrame = {
    val keys = DdbJson.dropEmptyAttrs(col("Keys"))
    val img = DdbJson.dropEmptyAttrs(col("NewImage"))
    val pk = DdbJson.attrString(keys, "PK")
    val sk = DdbJson.attrString(keys, "SK")
    events.select(
      // null-strict: concat_ws would silently skip a missing key and
      // produce an ambiguous doc id ("A" for PK=A/no-SK collides with
      // PK=A,SK="") — a null id routes the event to the merge DLQ
      when(pk.isNull || sk.isNull, lit(null: String))
        .otherwise(DdbJson.docId(pk, sk)).as("_doc_id"),
      DdbJson.action(col("eventName")).as("_action"),
      col("SequenceNumber").as("_seq"),
      DdbJson.attrString(img, "PK").as("PK"),
      DdbJson.attrString(img, "SK").as("SK"),
      DdbJson.attrString(img, "type").as("type"),
      img.as("item"))
  }

  /** The committed snapshot version: the `_LATEST` pointer, else the
    * newest `v=` directory whose write committed (`_SUCCESS`).
    */
  def latestVersion(targetDir: String): Option[Long] = {
    val fs = VersionPointer.fsOf(targetDir)
    VersionPointer.resolve(fs, targetDir, "_LATEST", "v=")(_.toLongOption,
      v => fs.exists(new Path(targetDir, s"v=$v/_SUCCESS")))
  }

  /** Current materialized state (empty-schema-safe before first epoch). */
  def readTarget(spark: SparkSession, targetDir: String): Option[DataFrame] =
    latestVersion(targetDir).map(v => spark.read.parquet(s"$targetDir/v=$v"))

  private[streaming] def writeSnapshot(df: DataFrame, targetDir: String, version: Long): Unit = {
    df.write.mode("overwrite").parquet(s"$targetDir/v=$version")
    VersionPointer.commit(
      VersionPointer.fsOf(targetDir, df.sparkSession.sparkContext.hadoopConfiguration),
      targetDir, "_LATEST", version.toString)
  }

  /** Snapshot versions present on disk, ascending (the pointer may lag
    * after a crash — directories are the truth).
    */
  private[streaming] def versionsOnDisk(targetDir: String): Seq[Long] =
    VersionPointer.versions(VersionPointer.fsOf(targetDir), targetDir, "v=")

  /** One epoch of the merge — also usable in batch backfill (ST1).
    *
    * Crash-replay safe: the base snapshot is the newest version
    * STRICTLY BELOW this epoch. If the previous run died between
    * writing `v=epoch` and committing the checkpoint, the replayed
    * epoch re-merges from the same base and overwrites `v=epoch` —
    * never reading the directory it is writing, never double-applying
    * the batch. (Old versions are retained for readers; a production
    * deployment vacuums them like any snapshot table.)
    */
  def mergeBatch(spark: SparkSession, batch: DataFrame, targetDir: String,
      epoch: Long): Unit = {
    val versions = versionsOnDisk(targetDir)
    // versions above the replaying epoch mean the stream was restarted
    // with a fresh/cleared checkpoint against an existing target —
    // proceeding would silently re-initialize the table from one batch
    require(versions.forall(_ <= epoch),
      s"target $targetDir holds versions ${versions.mkString(",")} above epoch $epoch — " +
        "was the stream restarted with a fresh checkpoint against an existing target?")
    // events whose key image couldn't produce a doc id are unaddressable
    // by the keyed merge — park them, don't clobber or drop
    val bad = batch.filter(col("_doc_id").isNull)
    if (!bad.isEmpty)
      bad.write.mode("overwrite").parquet(s"$targetDir/dlq/epoch=$epoch")
    val good = batch.filter(col("_doc_id").isNotNull)
    val base = versions.filter(_ < epoch).lastOption
    val merged = base match {
      case Some(v) => CdcMerge.applyBatch(spark.read.parquet(s"$targetDir/v=$v"), good)
      case None => CdcMerge.initialState(good)
    }
    writeSnapshot(merged, targetDir, epoch)
  }

  /** The queryable view of the target (tombstones filtered). */
  def readSnapshot(spark: SparkSession, targetDir: String): Option[DataFrame] =
    readTarget(spark, targetDir).map(CdcMerge.snapshot)

  /** Start the streaming CDC apply: decode → foreachBatch keyed merge. */
  def start(spark: SparkSession, eventsPath: String, targetDir: String,
      checkpoint: String): StreamingQuery =
    decode(readChangeEvents(spark, eventsPath)).writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        mergeBatch(batch.sparkSession, batch, targetDir, epoch)
      }
      .start()

  /** Retention: drop snapshot versions older than the newest `keep`
    * (older versions serve concurrent readers — a production
    * deployment runs this like any snapshot-table vacuum). `keep` is
    * floored at 2: crash-replay of an epoch whose checkpoint never
    * committed re-bases on the newest version STRICTLY BELOW it, so
    * keeping only the newest could silently re-initialize the table
    * from one replayed batch. Returns the versions removed.
    */
  def vacuum(targetDir: String, keep: Int = 2): Seq[Long] = {
    require(keep >= 2,
      "keep >= 2: the newest version may be an uncommitted epoch whose replay needs the one below it")
    val fs = VersionPointer.fsOf(targetDir)
    // PIT-pinned versions survive (TablePit.open refcounts them): a
    // pagination session must keep reading the state it opened on
    val doomed = versionsOnDisk(targetDir).dropRight(keep)
      .filterNot(v => VersionPointer.isPinned(fs, targetDir, s"v=$v"))
    doomed.foreach(v => fs.delete(new Path(targetDir, s"v=$v"), true))
    doomed
  }

  /** One epoch of the routed fan-out sink with per-route sink-failure
    * DLQ — the reference's behavior for documents that fail *indexing*
    * (not decoding): a failed bulk write parks the documents under a
    * route-keyed DLQ path and the pipeline keeps running
    * (custom_resource.py:358-363,378-383 — `dlq/fare`, `dlq/flight`).
    * Epoch-keyed overwrite keeps crash-replay of an epoch idempotent.
    */
  def writeRoutedEpoch(batch: DataFrame, routes: Seq[(String, Column)],
      outDir: String, epoch: Long): Unit = {
    val src = batch.persist()
    try {
      routes.foreach { case (name, pred) =>
        val slice = src.filter(pred)
        val primary = s"$outDir/$name/epoch=$epoch"
        try slice.write.mode("overwrite").parquet(primary)
        catch { case scala.util.control.NonFatal(e) =>
          // exceptions may carry no message (NPE) — a null literal
          // would be a void-typed column parquet refuses to write,
          // killing the query this DLQ exists to protect
          val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
          // a failed write can leave a partial epoch dir behind; remove
          // it so no reader mistakes it for a committed epoch
          deleteQuietly(Paths.get(primary))
          // the DLQ write gets its own guard: if the failure is
          // environmental (outDir unwritable, disk full) the DLQ write
          // fails too — then surface ONE exception carrying both causes
          // instead of committing the epoch with the slice silently
          // dropped; the uncommitted checkpoint replays it on restart
          try slice.withColumn("_error", lit(msg))
            .write.mode("overwrite").parquet(s"$outDir/dlq/$name/epoch=$epoch")
          catch { case scala.util.control.NonFatal(e2) =>
            deleteQuietly(Paths.get(s"$outDir/dlq/$name/epoch=$epoch"))
            val ex = new java.io.IOException(
              s"route '$name' epoch $epoch: sink write failed ($msg) AND its DLQ " +
                s"write failed (${Option(e2.getMessage).getOrElse(e2.getClass.getName)}) — " +
                "failing the epoch so the checkpoint replays it", e)
            ex.addSuppressed(e2)
            throw ex
          }
        }
      }
    } finally src.unpersist()
  }

  /** Best-effort recursive delete (cleanup of partial epoch output —
    * never worth failing over).
    */
  private def deleteQuietly(dir: java.nio.file.Path): Unit =
    try {
      if (Files.exists(dir))
        Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
          .forEach(p => try Files.delete(p) catch { case _: java.io.IOException => () })
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Start the routed streaming sink: decode → per-route epoch writes,
    * sink failures parked in `dlq/<route>/` without killing the query.
    */
  def startRouted(spark: SparkSession, eventsPath: String, outDir: String,
      checkpoint: String, routes: Seq[(String, Column)]): StreamingQuery =
    decode(readChangeEvents(spark, eventsPath)).writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        writeRoutedEpoch(batch, routes, outDir, epoch)
      }
      .start()
}
