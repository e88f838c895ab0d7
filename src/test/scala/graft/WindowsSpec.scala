package graft

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

import ops.Windows

case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
              event_type: String, value: Double)

/** Event-time windowing suite (SURVEY.md §2.9): the batch transforms behind
  * q22–q24 and the q112 debounce, beyond what the DuckDB oracle checks.
  */
class WindowsSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  test("batch session windows merge within gap inclusive, split beyond") {
    // exactly-30:00 gap still merges (inclusive); 30:01 splits
    val rows = Seq(
      Ev(1, Timestamp.valueOf("2024-01-01 00:00:00"), 1, "a", 1.0),
      Ev(2, Timestamp.valueOf("2024-01-01 00:30:00"), 1, "a", 1.0),
      Ev(3, Timestamp.valueOf("2024-01-01 01:00:00"), 2, "a", 1.0),
      Ev(4, Timestamp.valueOf("2024-01-01 01:30:01"), 2, "a", 1.0))
    val sess = Windows.sessionAgg(rows.toDF())
      .orderBy("user_id", "session_start").collect()
    assert(sess.count(_.getLong(0) == 1L) == 1) // merged at exactly-gap
    assert(sess.count(_.getLong(0) == 2L) == 2) // split beyond gap
  }

  test("q112 debounce matches a join-route predecessor recount") {
    import org.apache.spark.sql.functions._
    val r = Windows.q112EventDedup(spark, sf)
    // every key keeps its first event; kept never exceeds total
    assert(r.filter(col("n_kept") < 1 || col("n_kept") > col("n_events"))
      .count() == 0)
    // recount through a different mechanism: each event's predecessor by
    // max_by over a self-join (not a window), then the same 60 s rule
    val e = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"))
    val a = e.select(col("user_id"), col("event_type"),
      col("event_id"), col("ts_us"))
    val b = e.select(col("user_id").as("b_uid"),
      col("event_type").as("b_type"),
      col("event_id").as("p_id"), col("ts_us").as("p_ts"))
    // predecessor condition INSIDE the left join: a first event keeps a
    // single all-null match row instead of vanishing from the recount
    val withPrev = a.join(b,
      col("user_id") === col("b_uid") && col("event_type") === col("b_type")
        && (col("p_ts") < col("ts_us") ||
          (col("p_ts") === col("ts_us") && col("p_id") < col("event_id"))),
      "left")
      .groupBy(col("user_id"), col("event_type"), col("event_id"),
        col("ts_us"))
      .agg(max(col("p_ts")).as("pred_ts"))
      .withColumn("kept", col("pred_ts").isNull ||
        col("ts_us") - col("pred_ts") > 60000000L)
    val expect = withPrev.groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("e_n"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("e_kept"),
        sum(when(col("kept"), col("event_id")).otherwise(0L))
          .as("e_id_sum"))
    val bad = r.join(expect, Seq("user_id", "event_type"))
      .filter(col("n_events") =!= col("e_n") ||
        col("n_kept") =!= col("e_kept") ||
        col("kept_id_sum") =!= col("e_id_sum"))
    assert(bad.count() == 0)
  }
}
