package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The epoch-tombstone layer of the two streaming dedup stores
  * ([[StreamingDedup]], [[StreamingSemanticDedup]]). A CDC batch
  * tombstones every id it names at its epoch; accepted rows carry the
  * epoch they were admitted at (`_epoch`), and a row is live while its
  * `_epoch` is ≥ its id's latest tombstone epoch. Accepts win ties, so
  * a replayed upsert epoch (tombstone + re-admit at the same epoch)
  * converges instead of hiding its own write, and tombstones are
  * append-idempotent under max(). Stores written before CDC
  * maintenance existed (no `_epoch` column) count as epoch 0.
  */
trait TombstoneLayer {

  /** Side-table of (id, `_tomb_epoch`) deletions. Lives INSIDE the
    * accepted directory under an underscore name, which parquet
    * readers skip — so `spark.read.parquet(acceptedPath)` and the
    * tombstones never mix.
    */
  private def tombstonesPath(acceptedPath: String) = s"$acceptedPath/_tombstones"

  private def withEpoch(df: DataFrame): DataFrame =
    if (df.columns.contains("_epoch")) df else df.withColumn("_epoch", lit(0L))

  /** `rows` minus those dead against the tombstones. */
  private def live(spark: SparkSession, acceptedPath: String, idCol: String,
      rows: DataFrame): DataFrame = {
    val tp = new Path(tombstonesPath(acceptedPath))
    if (!tp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(tp)) rows
    else {
      val ts = spark.read.parquet(tp.toString)
        .groupBy(col(idCol)).agg(max(col("_tomb_epoch")).as("_te"))
      rows.join(ts, Seq(idCol), "left")
        .filter(col("_te").isNull || coalesce(col("_epoch"), lit(0L)) >= col("_te"))
        .drop("_te")
    }
  }

  /** The LIVE accepted corpus — the reader's view of the store. */
  def liveAccepted(spark: SparkSession, acceptedPath: String,
      idCol: String): DataFrame =
    live(spark, acceptedPath, idCol,
      withEpoch(spark.read.option("mergeSchema", "true").parquet(acceptedPath)))

  /** Tombstone every id of a CDC batch at `epoch` — deletes, and the
    * old versions of upserted ids, leave the live view at once.
    */
  protected def tombstone(batch: DataFrame, idCol: String,
      acceptedPath: String, epoch: Long): Unit =
    batch.select(col(idCol), lit(epoch).as("_tomb_epoch"))
      .write.mode("append").parquet(tombstonesPath(acceptedPath))

  /** Compact the accepted corpus' leaves holding more than `maxFiles`
    * part files ([[IndexCompaction]]'s write-then-delete protocol — a
    * crash can only duplicate rows, which the stores' id anti-joins
    * and probes tolerate, and which the NEXT pass repairs). Each
    * compacted leaf's rows collapse last-writer-wins per id on
    * `_epoch` (crash duplicates and upsert residue), then rows dead
    * against the tombstones are PURGED — the physical half of the CDC
    * merge. Cross-leaf staleness (an upsert that moved an id to
    * another leaf) is the tombstone filter's to remove, not the
    * per-leaf LWW's. Returns the compacted leaves (`"."` for the root).
    */
  def compactAccepted(spark: SparkSession, acceptedPath: String,
      idCol: String, maxFiles: Int = 8): Seq[String] =
    IndexCompaction.compact(spark, acceptedPath, maxFiles) { df =>
      live(spark, acceptedPath, idCol, withEpoch(df)
        .withColumn("_rn", row_number().over(
          Window.partitionBy(col(idCol)).orderBy(col("_epoch").desc)))
        .filter(col("_rn") === 1).drop("_rn"))
    }
}
