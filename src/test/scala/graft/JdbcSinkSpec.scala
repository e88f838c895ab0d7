package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import ops.{Ingest, JdbcSink}

/** S4 JDBC sink round trip against embedded Derby (in-process, offline):
  * CSV → dedup → JDBC date replace → read-back must equal the parquet
  * path, re-running the replace must leave identical contents, dates
  * outside the touched set must not change, and a failed replace must
  * throw and roll back its deletes.
  */
class JdbcSinkSpec extends AnyFunSuite {
  import SparkTestSession._

  // Derby writes derby.log to user.dir by default — redirect to tmp
  System.setProperty("derby.stream.error.file",
    Files.createTempDirectory("graft-derby-log").resolve("derby.log").toString)

  private val dbDir = Files.createTempDirectory("graft-derby").resolve("db")
  private val url = s"jdbc:derby:$dbDir;create=true"

  // the reference's states DDL (schema.sql:1-8) minus the Postgres-isms
  private def statesDdl(table: String) = Seq(
    s"""CREATE TABLE $table (
       |  date DATE NOT NULL,
       |  state VARCHAR(100) NOT NULL,
       |  fips INTEGER,
       |  cases BIGINT,
       |  deaths BIGINT)""".stripMargin,
    s"CREATE INDEX ${table}_date ON $table (date)")

  private def fixtureCsv(): String = {
    val dir = Files.createTempDirectory("graft-jdbc-src")
    Files.writeString(dir.resolve("states.csv"), Seq(
      "date,state,fips,cases,deaths",
      "2020-03-15,Washington,53,904,48",
      "2020-03-15,Washington,53,999,50", // key dup in-feed → dedup keeps 904
      "2020-03-15,Guam,,3,0",            // null fips (P3 null preservation)
      "2020-03-16,Washington,53,1000,52").mkString("\n") + "\n")
    dir.toString
  }

  private def dedupedStates(src: String) =
    Ingest.dedupKeepFirst(Ingest.readCsv(spark, Ingest.statesSchema, src),
      Ingest.statesKey, Seq(col("cases").asc, col("deaths").asc))

  private def day(d: String) = java.sql.Date.valueOf(d)

  private def statesFrame(rows: (String, String, Option[Int], Long, Long)*) = {
    import spark.implicits._
    rows.toDF("date", "state", "fips", "cases", "deaths")
      .select(col("date").cast("date"), col("state"), col("fips"),
        col("cases"), col("deaths"))
  }

  private def canon(df: org.apache.spark.sql.DataFrame) =
    df.select(col("date").cast("string"), col("state"), col("fips"),
      col("cases"), col("deaths"))
      .collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq

  private def table(name: String) =
    spark.read.jdbc(url, name, new java.util.Properties)

  test("CSV → dedup → JDBC replace → read-back equals the parquet path; rerun is no-op") {
    val src = fixtureCsv()
    JdbcSink.initSchema(url, statesDdl("states"))
    JdbcSink.initSchema(url, statesDdl("states")) // idempotent, index too
    val cleaned = dedupedStates(src)
    val touched = Seq(day("2020-03-15"), day("2020-03-16"))

    JdbcSink.replaceDates(cleaned, url, "states", touched)
    val viaJdbc = table("states")

    // parquet path over the same source: one firing into a fresh sink
    val sink = Files.createTempDirectory("graft-jdbc-pq").resolve("states")
    Ingest.ingestNewFiles(spark, src, Ingest.statesSchema, Ingest.statesKey,
      Seq(col("cases").asc, col("deaths").asc),
      Files.createTempDirectory("graft-jdbc-ckpt").toString, sink.toString)
    val viaParquet = spark.read.parquet(sink.toString)

    val first = canon(viaJdbc)
    assert(first == canon(viaParquet))
    assert(first.size == 3) // 4 rows - 1 in-feed key dup
    // the blank-fips row round-trips as NULL, not a sentinel
    assert(viaJdbc.filter(col("state") === "Guam" && col("fips").isNull)
      .count() == 1)

    // rerun: identical contents, no duplicates
    JdbcSink.replaceDates(cleaned, url, "states", touched)
    assert(canon(table("states")) == first)

    // replace 03-16 and 03-17 only: the frame's 03-15 row is outside the
    // touched set and must not reach the table, and 03-15 stays as it was
    JdbcSink.replaceDates(statesFrame(
      ("2020-03-15", "Washington", Some(53), 777L, 7L),
      ("2020-03-16", "Washington", Some(53), 1001L, 53L),
      ("2020-03-17", "Washington", Some(53), 1100L, 55L)),
      url, "states", Seq(day("2020-03-16"), day("2020-03-17")))
    val after = canon(table("states"))
    assert(after.filter(_.head == "2020-03-15") ==
      first.filter(_.head == "2020-03-15"))
    assert(after.filterNot(_.head == "2020-03-15") == Seq(
      Seq("2020-03-16", "Washington", 53, 1001L, 53L),
      Seq("2020-03-17", "Washington", 53, 1100L, 55L)))
  }

  test("a replace that fails part-way throws and leaves the touched dates as they were") {
    JdbcSink.initSchema(url, statesDdl("states_rollback"))
    val touched = Seq(day("2020-03-15"), day("2020-03-16"))
    JdbcSink.replaceDates(dedupedStates(fixtureCsv()), url, "states_rollback",
      touched)
    val before = canon(table("states_rollback"))
    assert(before.size == 3)

    // more than one JDBC batch of good rows, then a state name too long
    // for VARCHAR(100): the first batch has executed when the insert fails
    val good = statesFrame((1 to JdbcSink.ChunkRows + 500)
      .map(i => ("2020-03-15", s"S$i", Option(i), i.toLong, 0L)): _*)
    val bad = statesFrame(("2020-03-16", "x" * 200, Some(1), 1L, 1L))
    val slice = good.coalesce(1).union(bad.coalesce(1))
    intercept[java.sql.SQLException] {
      JdbcSink.replaceDates(slice, url, "states_rollback", touched)
    }
    // the DELETEs and the executed batch were rolled back
    assert(canon(table("states_rollback")) == before)
  }

  test("initSchema swallows only already-exists states: Postgres 42P07 counts, others rethrow") {
    // NytJob re-runs the mirror DDL every data firing, so Postgres's
    // "duplicate table" (42P07, also raised for an existing index) must
    // count as "exists" like Derby's X0Y32 / X0Y68
    def failure(state: String) = new java.sql.SQLException("ddl failed", state)
    Seq("X0Y32", "X0Y68", "42P07").foreach(s =>
      assert(JdbcSink.alreadyExists(failure(s)), s))
    assert(!JdbcSink.alreadyExists(failure("42000")))
    // any other failure (here Derby's syntax error 42X01) is rethrown
    val e = intercept[java.sql.SQLException](
      JdbcSink.initSchema(url, Seq("CREATE TABLE")))
    assert(!JdbcSink.alreadyExists(e), e.getSQLState)
  }

  test("writeJdbc appends via Spark's batched writer and creates the table") {
    val src = fixtureCsv()
    val cleaned = dedupedStates(src)
    JdbcSink.writeJdbc(cleaned, url, "states_plain", batchSize = 2)
    val back = spark.read.jdbc(url, "states_plain", new java.util.Properties)
    assert(back.count() == 3)
    assert(back.columns.map(_.toLowerCase).toSet ==
      Set("date", "state", "fips", "cases", "deaths"))
  }

  test("JDBC read-back pushes filters and prunes columns into the database") {
    // the S4 source direction: a Spark read over the JDBC relation must
    // ship the predicate and projection to the database (the JDBC twin
    // of parquet's PushedFilters) — at scale the DB evaluates the WHERE,
    // not the cluster after a full-table fetch
    val src = fixtureCsv()
    JdbcSink.writeJdbc(dedupedStates(src), url, "states_push", batchSize = 2)
    val df = spark.read.jdbc(url, "states_push", new java.util.Properties)
      .filter(col("cases") > 900L)
      .select(col("state"), col("cases"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") && p.contains("cases"),
      s"filter not pushed to JDBC:\n$p")
    // only the two selected columns (plus the filter column) reach the
    // relation — no SELECT *
    assert(!p.toLowerCase.contains("deaths"), s"column pruning lost:\n$p")
    assert(df.collect().map(_.getLong(1)).sorted.sameElements(
      Array(904L, 1000L)))
  }
}
