package bench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanLike
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** File-scan counters of an executed query, read from its physical plan's
  * SQL metrics after the action returned (adaptive plans included). */
object PlanStats extends AdaptiveSparkPlanHelper {
  /** (files read, rows produced by the scans). */
  def scans(df: DataFrame): (Long, Long) = {
    val nodes = collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: FileSourceScanLike => s
    }
    def metric(s: FileSourceScanLike, k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
    (nodes.map(metric(_, "numFiles")).sum, nodes.map(metric(_, "numOutputRows")).sum)
  }
}
