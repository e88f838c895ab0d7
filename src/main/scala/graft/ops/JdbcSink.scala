package graft.ops

import java.sql.{Connection, DriverManager, SQLException}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** JDBC sink surface (SURVEY.md §2.1 S4) — the reference's ONLY sink is a
  * batched Postgres insert with conflict-skip
  * (`JdbcBatchItemWriter` + `INSERT … ON CONFLICT (…) DO NOTHING`,
  * /root/reference/src/main/kotlin/covid19/nytimes/processor/
  * NytimesBatchProcessorApplication.kt:90-96, SQL at :138-141,175-178).
  *
  * Two paths, both exercised against embedded Derby
  * (`/opt/spark/jars/derby-*.jar` — in-process, offline-testable):
  *
  *  1. [[writeJdbc]] — the declarative path: `df.write.jdbc` with
  *     `batchsize`, Spark's own partition-parallel batched writer (each
  *     task opens one connection and streams its partition in batches —
  *     the reference's chunk(1000) transaction loop, .kt:88, distributed).
  *     Append-only: no conflict handling, for first loads and
  *     insert-only tables.
  *
  *  2. [[replaceDates]] — the mirror of a date-partitioned sink: one
  *     driver-side transaction deletes the touched dates and inserts the
  *     sink's rows for them. This gives the reference's ON CONFLICT DO
  *     NOTHING result because the sink merge
  *     ([[Ingest.appendIdempotent]]) has already let stored rows win: the
  *     sink's slice is exactly what DO NOTHING would leave in the table, so
  *     replacing the mirror's slice with it needs no key match, no per-row
  *     existence probe and no per-type SQL mapping. One connection means no
  *     cross-task lock race; plain ANSI statements work on Derby and
  *     Postgres alike.
  */
object JdbcSink {

  /** Rows per JDBC batch: the reference's chunk(1000), .kt:88. */
  val ChunkRows = 1000

  /** S4 declarative path: Spark's batched JDBC writer. `batchSize` maps
    * to the driver-level `addBatch`/`executeBatch` chunking. Creates the
    * table (from the frame's schema via the JDBC dialect) if absent;
    * appends otherwise. */
  def writeJdbc(df: DataFrame, url: String, table: String,
                batchSize: Int = ChunkRows): Unit =
    df.write.mode("append")
      .option("batchsize", batchSize.toString)
      .jdbc(url, table, new java.util.Properties)

  /** A5+S4: make `table`'s rows for `dates` equal `df`'s rows for them, in
    * one transaction: a batch of `DELETE … WHERE date = ?`, then plain
    * batched INSERTs of the slice, streamed to the driver with
    * `toLocalIterator` (one partition in memory at a time). Any failure
    * rolls the whole replace back, so a date is never left half-mirrored.
    * NULLs (e.g. a blank fips) bind with the column type the database
    * reports for the insert's parameter. The cost is O(rows of the touched
    * dates) given an index on `date`. */
  def replaceDates(df: DataFrame, url: String, table: String,
                   dates: Seq[Any]): Unit = {
    val cols = df.columns
    val insert = s"INSERT INTO $table (${cols.mkString(", ")}) " +
      s"VALUES (${cols.map(_ => "?").mkString(", ")})"
    Using.resource(DriverManager.getConnection(url)) { conn =>
      conn.setAutoCommit(false)
      try {
        Using.resource(conn.prepareStatement(s"DELETE FROM $table WHERE date = ?")) { del =>
          dates.foreach { d => del.setObject(1, d); del.addBatch() }
          del.executeBatch()
        }
        Using.resource(conn.prepareStatement(insert)) { ins =>
          val meta = ins.getParameterMetaData
          val types = cols.indices.map(i => meta.getParameterType(i + 1)).toArray
          var pending = 0
          df.filter(col("date").isin(dates: _*)).toLocalIterator().asScala.foreach { r =>
            var i = 0
            while (i < types.length) {
              if (r.isNullAt(i)) ins.setNull(i + 1, types(i))
              else ins.setObject(i + 1, r.get(i))
              i += 1
            }
            ins.addBatch()
            pending += 1
            if (pending == ChunkRows) { ins.executeBatch(); pending = 0 }
          }
          if (pending > 0) ins.executeBatch()
        }
        conn.commit()
      } catch {
        case e: Throwable => conn.rollback(); throw e
      }
    }
  }

  /** The SQLStates of "table or index already exists": Derby's X0Y32 /
    * X0Y68 and Postgres's 42P07. */
  private[graft] def alreadyExists(e: SQLException): Boolean =
    Set("X0Y32", "X0Y68", "42P07")(e.getSQLState)

  /** S6 DDL surface: run schema-init statements (the reference's
    * `schema.sql` analog) over a plain JDBC connection. Statements that
    * fail because the object already exists are swallowed
    * ([[alreadyExists]]), so init is idempotent like
    * `CREATE TABLE IF NOT EXISTS`; any other failure is rethrown. */
  def initSchema(url: String, statements: Seq[String]): Unit = {
    val conn: Connection = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try statements.foreach { ddl =>
        try st.executeUpdate(ddl)
        catch {
          case e: SQLException if alreadyExists(e) => ()
        }
      } finally st.close()
    } finally conn.close()
  }
}
