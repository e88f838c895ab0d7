package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import Fx._

/** Event-time windowing surface (SURVEY.md §2.9), as batch queries.
  *
  * The reference has no streaming engine — it approximates incremental
  * processing with an external 15-minute cron re-run plus idempotent upsert
  * (the reference's every-15-min cron, deploy/deploy.sh:29; ON CONFLICT
  * DO NOTHING at NytimesBatchProcessorApplication.kt:140,177).
  * This repo does the same: each firing is one plain batch
  * ([[Ingest.ingestNewFiles]]). The windowed aggregates below are
  * declarative batch transforms, oracle-checked against DuckDB (q22–q24).
  *
  * Scale: windowed aggregation is a single hash shuffle on
  * (window, key); session windows shuffle on the session key then merge
  * locally — both spill-capable, both fine at 1000 executors.
  */
object Windows {

  // ---- windowed transforms ---------------------------------------------

  /** Tumbling 10-minute windows per event_type (counts + quantized sum —
    * Fx element-wise quantization keeps the DuckDB hash-compare exact). */
  def tumblingAgg(df: DataFrame): DataFrame =
    df.groupBy(window(col("ts"), "600 seconds"), col("event_type"))
      .agg(count(lit(1)).as("n"), moneySum(col("value")).as("sum_value"))
      .select(col("window.start").as("w_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Sliding 10-minute windows every 5 minutes (each event in 2 windows). */
  def slidingAgg(df: DataFrame): DataFrame =
    df.groupBy(window(col("ts"), "600 seconds", "300 seconds"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("event_type"), col("n"))

  /** Session windows per user with a 30-minute inactivity gap. Spark merges
    * an event into the open session iff it arrives within the gap INCLUSIVE
    * (an event at exactly last_ts + gap still merges — the per-event range
    * [ts, ts+gap] union rule); session end = last event + gap. */
  def sessionAgg(df: DataFrame): DataFrame =
    df.groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), moneySum(col("value")).as("sum_value"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("sum_value"))

  // ---- oracle-checked batch queries ------------------------------------

  def q22Tumbling(s: SparkSession, d: String): DataFrame =
    tumblingAgg(Tables.events(s, d))
      .orderBy(col("w_start"), col("event_type"))

  // Window start alignment: Spark tumbling windows align to the epoch, so
  // start = floor(epoch_us / 600e6) * 600e6 — stated explicitly in the SQL
  // rather than relying on DuckDB time_bucket origin conventions.
  val q22Sql: String = s"""
    SELECT make_timestamp((epoch_us(ts) // 600000000) * 600000000) AS w_start,
      event_type, COUNT(*) AS n, ${sqlMoneySum("value")} AS sum_value
    FROM events
    GROUP BY 1, 2 ORDER BY 1, 2"""

  def q23Sliding(s: SparkSession, d: String): DataFrame =
    slidingAgg(Tables.events(s, d))
      .orderBy(col("w_start"), col("event_type"))

  // Sliding(duration=600s, slide=300s): event at t belongs to starts
  // {floor(t/300)*300, floor(t/300)*300 - 300} — exactly two windows.
  val q23Sql: String = """
    SELECT make_timestamp((epoch_us(ts) // 300000000) * 300000000
                          - k * 300000000) AS w_start,
      event_type, COUNT(*) AS n
    FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k) shifts
    GROUP BY 1, 2 ORDER BY 1, 2"""

  def q24Session(s: SparkSession, d: String): DataFrame =
    sessionAgg(Tables.events(s, d))
      .orderBy(col("user_id"), col("session_start"))

  // Gaps-and-islands (SURVEY.md §7.3.5): new session when the gap to the
  // previous event is STRICTLY greater than 30 min (Spark merges at the
  // exactly-gap boundary); session_end = last event + gap.
  val q24Sql: String = s"""
    WITH flagged AS (
      SELECT user_id, ts, value,
        CASE WHEN LAG(ts) OVER w IS NULL
               OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
             THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
    sess AS (
      SELECT user_id, ts, value,
        SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM flagged)
    SELECT user_id, MIN(ts) AS session_start,
      MAX(ts) + INTERVAL 30 MINUTE AS session_end,
      COUNT(*) AS n_events, ${sqlMoneySum("value")} AS sum_value
    FROM sess GROUP BY user_id, sid
    ORDER BY user_id, session_start"""

  // ---- q112: event-burst dedup (debounce within 60 s per key) ----------
  // Telemetry and clickstreams repeat the same logical event in bursts
  // (retries, double-fires); the standard cleanup keeps an event only if
  // it is the first of its (user, type) or arrived more than 60 s after
  // its predecessor. Previous-ROW debounce on purpose (not previous-KEPT
  // throttling, which is a sequential per-key fold that neither SQL nor
  // a shuffle-parallel plan expresses): bursts collapse the same way,
  // and the rule stays one window function. Microsecond integers on
  // both engines (unix_micros / epoch_us over the micros-truncated ts —
  // the q22 parity recipe), so the keep decision is exact.
  //
  // Scale shape: one shuffle — the (user_id, event_type) window
  // partitioning; per-key state is a single lag. Output aggregates per
  // key (count, kept count, kept-id checksum), so the dump stays small
  // while pinning the exact kept SET.
  def q112EventDedup(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts_us"), col("event_id"))
    Tables.events(s, d)
      .withColumn("ts_us", unix_micros(col("ts")))
      .withColumn("prev", lag(col("ts_us"), 1).over(w))
      .withColumn("kept",
        col("prev").isNull || col("ts_us") - col("prev") > 60000000L)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("kept"), col("event_id")).otherwise(0L))
          .as("kept_id_sum"))
      .orderBy(col("user_id"), col("event_type"))
  }

  val q112Sql: String = """
    WITH m AS (
      SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us,
        lag(epoch_us(ts)) OVER (PARTITION BY user_id, event_type
          ORDER BY epoch_us(ts), event_id) AS prev
      FROM events)
    SELECT user_id, event_type, COUNT(*) AS n_events,
      CAST(SUM(CASE WHEN prev IS NULL OR ts_us - prev > 60000000
        THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      CAST(SUM(CASE WHEN prev IS NULL OR ts_us - prev > 60000000
        THEN event_id ELSE 0 END) AS BIGINT) AS kept_id_sum
    FROM m GROUP BY user_id, event_type
    ORDER BY user_id, event_type"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q22_tumbling_window" -> q22Tumbling _,
    "q23_sliding_window"  -> q23Sliding _,
    "q24_session_window"  -> q24Session _,
    "q112_event_dedup"    -> q112EventDedup _)

  val oracles: Map[String, String] = Map(
    "q22_tumbling_window" -> q22Sql,
    "q23_sliding_window"  -> q23Sql,
    "q24_session_window"  -> q24Sql,
    "q112_event_dedup"    -> q112Sql)
}
