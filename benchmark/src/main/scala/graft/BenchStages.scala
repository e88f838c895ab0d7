package graft

import org.apache.spark.sql.SparkSession

/** The program's shared pipeline stages (`ops.StageCache` builders), which
  * it keeps package-private, by the unit names graft.Bench gives them. Each
  * builder derives its stage eagerly and pins it in the StageCache. */
object BenchStages {
  val builders: Map[String, (SparkSession, String) => Unit] = Map(
    "stage_attr_heuristic" -> ((s, d) => ops.TextOps.attrHeuristic(s, d)),
    "stage_attr_model" -> ((s, d) => ops.TextOps.attrModel(s, d)))
}
