package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The touched-leaf rewrite every in-place index layout merges a CDC
  * batch through — [[graft.etl.SearchIndex]]'s `postings/tbucket=` and
  * `docs/dbucket=`, [[graft.operators.IvfIndex]]'s `data/cluster=`. The
  * reference's stream indexes, updates or deletes one document at a
  * time (custom_resource.py:324-384); here a batch rewrites the `k=v`
  * leaves its documents live in, and no other leaf is read or written.
  *
  * The caller computes the replacement as a pure function of (layout,
  * batch), so a replayed epoch rewrites the same leaves with the same
  * rows and converges.
  */
object TouchedLeaves {

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
        val leaf = new Path(s"$path/$partCol=$v")
        if (fs.exists(leaf)) fs.delete(leaf, true)
      }
    } finally repl.unpersist()
  }
}
