package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Dev tool: execute queries and report how many times the parquet
  * inputs were ACTUALLY read — distinct executed FileSourceScanExec
  * instances (deduped by metric accumulator id, so a stage printed
  * under several consumers counts once, and a ReusedExchange's child
  * is not double-counted) plus their summed output rows. The honest
  * form of the "FileScan N" plan claims: `executedPlan.toString`
  * re-prints shared stages per consumer. Honors SPARK_GRAFT_SF_DIR.
  */
object ScanCount {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ScanCount <q1> [q2 ...]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.get()
    args.foreach { n =>
      val df = Registry.byName(n).run(spark, sfDir)
      df.queryExecution.toRdd.foreach(_ => ())
      val scans = distinctScans(df)
      val rows = scans.map(_.metrics("numOutputRows").value).sum
      println(s"[scancount] $n distinct_scans=${scans.size} scan_rows=$rows")
    }
    spark.stop()
  }

  /** The distinct scans of an EXECUTED query's final plan, one per
    * `numOutputRows` accumulator id — descending through AQE query
    * stages and reused exchanges, so a shared stage counts once.
    */
  def distinctScans(df: DataFrame): Seq[FileSourceScanExec] = {
    val root = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    def flatten(p: SparkPlan): Seq[SparkPlan] =
      p +: (p.children.flatMap(flatten) ++ (p match {
        case q: QueryStageExec => flatten(q.plan)
        case r: ReusedExchangeExec => flatten(r.child)
        case _ => Nil
      }))
    flatten(root).collect { case f: FileSourceScanExec => f }
      .map(f => f.metrics("numOutputRows").id -> f).toMap.values.toSeq
  }
}
