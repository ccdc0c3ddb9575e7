package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** The `k=v` leaf convention of the partitioned index layouts —
  * [[graft.etl.SearchIndex]]'s `postings/tbucket=` and `docs/dbucket=`,
  * [[graft.operators.IvfIndex]]'s `data/cluster=`: the touched-leaf
  * rewrite every in-place layout merges a CDC batch through, and the
  * explicit-leaf read every serve path probes through. The
  * reference's stream indexes, updates or deletes one document at a
  * time (custom_resource.py:324-384); here a batch rewrites the `k=v`
  * leaves its documents live in, and no other leaf is read or written.
  *
  * The caller computes the replacement as a pure function of (layout,
  * batch), so a replayed epoch rewrites the same leaves with the same
  * rows and converges.
  */
object TouchedLeaves {

  /** The `partCol=<v>` leaf of `path`. */
  def leaf(path: String, partCol: String, v: Any): Path = new Path(s"$path/$partCol=$v")

  /** The values of the `partCol=<v>` leaves present under `path`. */
  def values(spark: SparkSession, path: String, partCol: String): Seq[String] = {
    val fs = VersionPointer.fsOf(path, spark.sparkContext.hadoopConfiguration)
    val p = new Path(path)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.collect {
      case s if s.isDirectory && s.getPath.getName.startsWith(s"$partCol=") =>
        s.getPath.getName.stripPrefix(s"$partCol=")
    }
  }

  /** The rows of the `partCol=<v>` leaves of `path` for `values`, read
    * by explicit path with the layout's `schema` (`partCol` included,
    * taken from the leaf names under `basePath`): no other leaf is
    * listed and no schema is inferred, so building the read runs no
    * Spark job. The scan keeps `partCol IN values` as its partition
    * filter, so the plan names the leaves it reads. Absent leaves are
    * skipped; None when none of them exists.
    */
  def read(spark: SparkSession, path: String, partCol: String,
      values: Seq[Any], schema: StructType): Option[DataFrame] = {
    val fs = VersionPointer.fsOf(path, spark.sparkContext.hadoopConfiguration)
    val present = values.distinct.filter(v => fs.exists(leaf(path, partCol, v)))
    if (present.isEmpty) None
    else Some(spark.read.schema(schema).option("basePath", path)
      .parquet(present.map(leaf(path, partCol, _).toString): _*)
      .filter(col(partCol).isin(present: _*)))
  }

  /** Overwrite exactly the `touched` leaves `partCol=<v>` under `path`
    * with `rows`, whose `partCol` values must lie in `touched`. With
    * nothing touched, `rows` is never built.
    *
    * The rows are checkpointed first: their plan reads the leaves the
    * write replaces. Dynamic overwrite is asked of this one write, not
    * of the session, so a concurrent writer on the same session keeps
    * its own mode. Dynamic overwrite leaves a leaf that receives no rows
    * as it was, so a touched leaf the rewrite empties is deleted here.
    */
  def overwrite(path: String, partCol: String, touched: Seq[Any],
      rows: => DataFrame): Unit = if (touched.nonEmpty) {
    val repl = rows.localCheckpoint(true)
    try {
      repl.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partCol).parquet(path)
      val still = repl.select(col(partCol).cast("string")).distinct()
        .collect().map(_.getString(0)).toSet
      val fs = VersionPointer.fsOf(path,
        repl.sparkSession.sparkContext.hadoopConfiguration)
      touched.map(_.toString).filterNot(still).foreach { v =>
        val l = leaf(path, partCol, v)
        if (fs.exists(l)) fs.delete(l, true)
      }
    } finally repl.unpersist()
  }
}
