package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import ops.{Ingest, JdbcSink}

/** The end-to-end NYT job (SURVEY.md §2.11 O1) — one command that runs the
  * reference's ENTIRE pipeline with bug-fixed semantics: the two-feed
  * counties-then-states batch job
  * (/root/reference/src/main/kotlin/covid19/nytimes/processor/
  * NytimesBatchProcessorApplication.kt:70-74 runs countiesStep then
  * statesStep) over CSV drop directories into a date-partitioned parquet
  * sink, incrementally (the reference's every-15-minutes cron,
  * deploy/deploy.sh:29, becomes one `main` invocation per firing), with an
  * optional JDBC mirror of the reference's actual Postgres sink.
  *
  * Usage: `runMain graft.NytJob <srcRoot> <sinkRoot> <checkpointRoot>
  * [jdbcUrl]` where `srcRoot/counties/` and `srcRoot/states/` hold the
  * feed CSVs (new files accumulate between firings; `checkpointRoot/<feed>/`
  * holds each feed's file ledger, the names already ingested — the
  * reference re-downloads and re-inserts the full feed every firing, we
  * ingest each file once).
  *
  * Each firing is one plain Spark batch per feed with new files: the
  * ledger skips seen files, and the sink merge
  * rewrites only the date partitions present in the new batch
  * ([[ops.Ingest.ingestNewFiles]]) — at years of history and a 15-minute
  * cadence the job stays constant-size, and a firing with no new files
  * runs no Spark job. A checkpoint dir written by the earlier
  * streaming-query version holds no ledger, so the first firing on it
  * re-merges every file once; that changes no row. The optional JDBC
  * mirror replaces ONLY the same touched dates with the freshly merged
  * sink's rows for them (JdbcSink.replaceDates). That is the reference's
  * ON CONFLICT DO NOTHING result: the merge has already let stored rows
  * win, so the sink's slice is what DO NOTHING would leave in the table.
  *
  * Deliberate fixes vs the reference (SURVEY.md §1.6): correct date
  * parsing (no month off-by-one), true NULL fips (no -1 sentinel),
  * deterministic conflict winner (total-order tiebreak).
  */
object NytJob {

  /** Deterministic DO-NOTHING winner: lowest (cases, deaths) —
    * a total order over the non-key columns. */
  private val tiebreak = Seq(col("cases").asc, col("deaths").asc)

  final case class Feed(name: String, schema: org.apache.spark.sql.types.StructType,
                        keys: Seq[String], jdbcTable: String, ddl: String) {
    /** The mirror table plus its `date` index, which keeps each firing's
      * delete O(touched dates) as the mirror grows. */
    def mirrorDdl: Seq[String] =
      Seq(ddl, s"CREATE INDEX ${jdbcTable}_date ON $jdbcTable (date)")
  }

  /** The two NYT feeds, in the reference's execution order (.kt:70-74:
    * counties first, then states). DDL mirrors schema.sql minus
    * Postgres-isms; fips/cases/deaths nullable (P3 null preservation). */
  val feeds: Seq[Feed] = Seq(
    Feed("counties", Ingest.countiesSchema, Ingest.countiesKey, "counties",
      """CREATE TABLE counties (
        |  date DATE NOT NULL,
        |  county VARCHAR(100) NOT NULL,
        |  state VARCHAR(100) NOT NULL,
        |  fips INTEGER,
        |  cases BIGINT,
        |  deaths BIGINT)""".stripMargin),
    Feed("states", Ingest.statesSchema, Ingest.statesKey, "states",
      """CREATE TABLE states (
        |  date DATE NOT NULL,
        |  state VARCHAR(100) NOT NULL,
        |  fips INTEGER,
        |  cases BIGINT,
        |  deaths BIGINT)""".stripMargin))

  /** One "cron firing": incremental-ingest every feed, then mirror each
    * feed's touched dates to JDBC if a URL is given. The mirror runs after
    * the feed's publish and before its ledger commit, so a crash or a
    * mirror failure leaves the feed's new files unrecorded: the next
    * firing re-merges them (no sink row changes) and mirrors their dates. */
  def runOnce(spark: SparkSession, srcRoot: String, sinkRoot: String,
              checkpointRoot: String, jdbcUrl: Option[String] = None): Unit =
    feeds.foreach { f =>
      val sink = s"$sinkRoot/${f.name}"
      Ingest.ingestNewFiles(spark,
        srcDir = s"$srcRoot/${f.name}",
        schema = f.schema, keys = f.keys, tiebreak = tiebreak,
        checkpoint = s"$checkpointRoot/${f.name}",
        sinkPath = sink,
        afterPublish = touched => jdbcUrl.foreach { url =>
          JdbcSink.initSchema(url, f.mirrorDdl)
          // replace ONLY this firing's dates in the DB with the freshly
          // merged sink's rows for them (a partition-pruned read with the
          // feed's schema, so no inference job), keeping the firing O(batch)
          JdbcSink.replaceDates(
            spark.read.schema(f.schema).parquet(sink)
              .select(f.schema.fieldNames.map(col).toSeq: _*),
            url, f.jdbcTable, touched)
        })
    }

  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: NytJob <srcRoot> <sinkRoot> <checkpointRoot> [jdbcUrl]")
    val spark = Session("nyt-batch-job")
    try runOnce(spark, args(0), args(1), args(2), args.lift(3))
    finally spark.stop()
  }
}
