package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the union of every operator family's registry; each entry
  * has matching ANSI SQL in `oracleSql` unless the op is genuinely not
  * SQL-expressible (engine-specific hashing / approximate ops), in which
  * case the driver records a weaker rows-only check.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    ops.Relational.q01PricingSummary(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2.
    *
    * Caller contract: queries whose plan reads a derived frame from
    * MORE THAN ONE downstream branch persist() that frame so the
    * branches share one computation — self-join feature tables
    * (q31/q33/q34, see DedupOps), bounded series/histogram frames
    * (q217/q225/q228/q235/q236/q238), ≤8-row ledgers with 1-row
    * total attaches (q239/q240), the pair-vocab frame (q252), the
    * top-512 rank frame (q242), the daily two-series frame (q255), the
    * per-user experiment frames (q248/q262), the per-group value
    * histogram (q261), the item-support/basket frames (q277), the
    * doubled dup-graph edge frames (q280/q282), the per-part rank
    * frame (q283), and the daily order series (q285). The returned
    * DataFrame is lazy, so the
    * function cannot unpersist after the caller's action; run
    * `spark.catalog.clearCache()` between queries (Verify and the benchmark do)
    * or the cached blocks outlive the query. Every pinned frame is
    * BOUNDED (domain-/calendar-/eval-sized) except the documented
    * self-join feature tables. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    ops.Relational.queries ++ ops.Ingest.queries ++ ops.Windows.queries ++
      ops.TextOps.queries ++ ops.DedupOps.queries ++ ops.SimOps.queries ++
      ops.Multimodal.queries ++ ops.ExtOps.queries ++ ops.Skew.queries ++
      ops.SqlOps.queries ++ ops.StatsOps.queries ++ ops.Pipeline.queries ++
      ops.CurationOps.queries ++ ops.CommerceOps.queries ++
      ops.RankEvalOps.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    ops.Relational.oracles ++ ops.Ingest.oracles ++ ops.Windows.oracles ++
      ops.TextOps.oracles ++ ops.DedupOps.oracles ++ ops.SimOps.oracles ++
      ops.Multimodal.oracles ++ ops.ExtOps.oracles ++ ops.Skew.oracles ++
      ops.SqlOps.oracles ++ ops.StatsOps.oracles ++ ops.Pipeline.oracles ++
      ops.CurationOps.oracles ++ ops.CommerceOps.oracles ++
      ops.RankEvalOps.oracles
}
