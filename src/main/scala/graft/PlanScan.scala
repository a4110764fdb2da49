package graft

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** One AQE-aware traversal for everything that reads file-scan SQL metrics
  * (ClusteredAdjSpec, the benchmark's trace): scans live INSIDE
  * materialized query stages, not as leaves of the top-level adaptive plan,
  * so a plain `plan.collect` misses them — and a future Spark version that
  * adds another wrapper node should be fixed here once, not in each
  * hand-rolled walker.
  */
object PlanScan {

  /** Apply `f` to every [[FileSourceScanExec]] reachable from `p`,
    * recursing through [[AdaptiveSparkPlanExec]]'s final plan and every
    * materialized [[QueryStageExec]].
    */
  def foreachFileScan(p: SparkPlan)(f: FileSourceScanExec => Unit): Unit =
    p.foreach {
      case s: FileSourceScanExec => f(s)
      case a: AdaptiveSparkPlanExec => foreachFileScan(a.executedPlan)(f)
      case q: QueryStageExec => foreachFileScan(q.plan)(f)
      case _ => ()
    }
}
