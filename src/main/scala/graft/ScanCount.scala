package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** How many times a query's parquet inputs were ACTUALLY read:
  * distinct executed FileSourceScanExec instances, deduped by metric
  * accumulator id, so a stage printed under several consumers counts
  * once and a ReusedExchange's child is not double-counted. The honest
  * form of the "FileScan N" plan claims: `executedPlan.toString`
  * re-prints shared stages per consumer. `PlanAssertSpec` pins scan
  * counts with it; perfbench's `queries.scans` counts the same way.
  */
object ScanCount {
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
