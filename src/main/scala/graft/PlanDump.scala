package graft
import java.nio.file.{Files, Paths}

/** Optimization tooling: dump `.explain("formatted")` for named registry
  * queries to files, so plan-shape claims in OPTIMIZATION_rN.md are
  * checkable without running Spark (plans/rN/<q>_{before,after}.txt).
  *
  * AQE caveat (ADVICE r13): these are the INITIAL physical plans
  * (`AdaptiveSparkPlan isFinalPlan=false`) — AQE may coalesce partitions
  * or rewrite join strategies at runtime, so Exchange counts and join
  * picks here are the static planner's, i.e. what holds independent of
  * runtime sizes. Plan-DIFF claims (operator removed, join rewritten at
  * plan time, filter pushed) are exact; runtime partition counts are not.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <suffix> [q1,q2,...]
  * Settings: Spark properties, as for every main ([[Session]]).
  * Exits non-zero when any selected query fails to plan.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, suffix) = (args(0), args(1), args(2))
    val only: Option[Set[String]] =
      if (args.length > 3) Some(args(3).split(",").toSet) else None
    // match the Verify session so dumped plans are the gated plans
    val spark = Session("graft-plan-dump",
      "spark.graft.scan.autoParallelize" -> "true")
    ops.StageCache.clearAll()
    new java.io.File(outDir).mkdirs()
    var nFailed = 0
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .toSeq.sortBy(_._1)
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), txt)
        } catch { case e: Throwable =>
          System.err.println(s"[plandump] $name failed: ${e.getMessage}")
          nFailed += 1
        }
        spark.catalog.clearCache()
      }
    spark.stop()
    // a tool that exits 0 with every query unplannable is worse than no
    // tool (ADVICE r13)
    if (nFailed > 0) sys.exit(1)
  }
}
