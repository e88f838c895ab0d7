package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._

import graft.Tables
import Fx._

/** Weighted-average aggregator over pre-quantized (weight, value) longs —
  * the custom typed `Aggregator` surface of SURVEY.md §2.10. The buffer is
  * a pair of exact integer sums, so merge order cannot affect the result
  * (associative + commutative), and the final division is one IEEE op on
  * identical integers in both engines.
  */
class WeightedAvgQ extends Aggregator[(Long, Long), (Long, Long), Double] {
  def zero: (Long, Long) = (0L, 0L)
  // addExact/multiplyExact: at extreme scale Σw·x can exceed Long range —
  // fail loudly (like DuckDB's HUGEINT→BIGINT cast does) rather than
  // silently wrap into a plausible-looking wrong average
  def reduce(b: (Long, Long), in: (Long, Long)): (Long, Long) =
    (Math.addExact(b._1, Math.multiplyExact(in._1, in._2)),
      Math.addExact(b._2, in._1)) // (Σ w·x, Σ w)
  def merge(a: (Long, Long), b: (Long, Long)): (Long, Long) =
    (Math.addExact(a._1, b._1), Math.addExact(a._2, b._2))
  def finish(r: (Long, Long)): Double =
    if (r._2 == 0) Double.NaN else r._1.toDouble / r._2.toDouble
  def bufferEncoder = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
  def outputEncoder = Encoders.scalaDouble
}

/** Top-3 (value, key) pairs per group as a MERGEABLE bounded aggregate —
  * the per-key analog of TakeOrderedAndProject, which Spark only has for
  * GLOBAL top-k (q02). The window idiom (q14: row_number ≤ k) must sort
  * every group's rows inside each partition and shuffle ALL N rows; this
  * aggregator keeps a k-bounded buffer per key, so partial aggregation
  * collapses each partition to ≤ k rows per key MAP-SIDE and the shuffle
  * carries O(G·k) rows, not N. At 100 TB that is the difference between
  * "sort the corpus" and "stream it once".
  *
  * Ordering: value desc, key asc (ties deterministic). The buffer is a
  * fixed-width 6-long tuple (3 × (value, key), empty slots =
  * Long.MinValue sentinels) — k is a compile-time constant, which keeps
  * the buffer a flat primitive row (no per-row collection churn); a
  * general-k variant swaps the tuple for an array buffer, same algebra.
  * Insert and merge preserve "sorted best-first", so the aggregator is
  * associative + commutative: any partial/merge tree yields the same
  * buffer, the precondition for map-side combine.
  */
case class Top3Buf(v1: Long, k1: Long, v2: Long, k2: Long,
                   v3: Long, k3: Long)

class Top3Q extends Aggregator[(Long, Long), Top3Buf, Top3Buf] {
  private val E = Long.MinValue
  def zero: Top3Buf = Top3Buf(E, E, E, E, E, E)
  // better = higher value, then lower key; empty slots sort last
  private def better(v1: Long, k1: Long, v2: Long, k2: Long): Boolean =
    v1 > v2 || (v1 == v2 && k1 < k2)
  private def insert(b: Top3Buf, v: Long, k: Long): Top3Buf =
    if (b.v1 == E || better(v, k, b.v1, b.k1))
      Top3Buf(v, k, b.v1, b.k1, b.v2, b.k2)
    else if (b.v2 == E || better(v, k, b.v2, b.k2))
      Top3Buf(b.v1, b.k1, v, k, b.v2, b.k2)
    else if (b.v3 == E || better(v, k, b.v3, b.k3))
      Top3Buf(b.v1, b.k1, b.v2, b.k2, v, k)
    else b
  def reduce(b: Top3Buf, in: (Long, Long)): Top3Buf =
    insert(b, in._1, in._2)
  def merge(a: Top3Buf, b: Top3Buf): Top3Buf = {
    var r = a
    if (b.v1 != E) r = insert(r, b.v1, b.k1)
    if (b.v2 != E) r = insert(r, b.v2, b.k2)
    if (b.v3 != E) r = insert(r, b.v3, b.k3)
    r
  }
  def finish(r: Top3Buf): Top3Buf = r
  def bufferEncoder = Encoders.product[Top3Buf]
  def outputEncoder = Encoders.product[Top3Buf]
}

/** Remaining SURVEY.md §2 operators: as-of join (J4), approximate distinct
  * (A2), map explode (F10), range-frame windows (W3 date-correct variant),
  * and the custom-UDAF surface (§2.10).
  */
object ExtOps {

  // ---- q106: top-k per group via the mergeable heap aggregate ----------
  // Same semantic contract as q14 (top-3 orders per market segment by
  // price), but the plan is ONE hash aggregate with map-side partial
  // combine — no Window, no per-partition sort of the fact table, G·k
  // rows through the shuffle (PlanSpec-guarded). Prices compare in exact
  // integer units so the oracle's ROW_NUMBER ordering agrees bit-for-bit.
  def q106TopkHeap(s: SparkSession, d: String): DataFrame = {
    s.udf.register("top3q", udaf(new Top3Q()))
    val slots = array(
      struct(col("t.v1").as("pu"), col("t.k1").as("k")),
      struct(col("t.v2").as("pu"), col("t.k2").as("k")),
      struct(col("t.v3").as("pu"), col("t.k3").as("k")))
    Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"),
        toUnits(col("o_totalprice")).as("pu"), col("o_orderkey"))
      .groupBy(col("c_mktsegment"))
      .agg(expr("top3q(pu, o_orderkey)").as("t"))
      .select(col("c_mktsegment"), posexplode(slots).as(Seq("pos", "s")))
      .filter(col("s.pu") =!= lit(Long.MinValue))
      .select(col("c_mktsegment"), (col("pos") + 1).cast("long").as("rank"),
        col("s.k").as("o_orderkey"), col("s.pu").as("price_units"))
      .orderBy(col("c_mktsegment"), col("rank"))
  }

  val q106Sql: String = s"""
    SELECT c_mktsegment, rank, o_orderkey, price_units FROM (
      SELECT c_mktsegment,
        CAST(ROW_NUMBER() OVER (PARTITION BY c_mktsegment
          ORDER BY pu DESC, o_orderkey) AS BIGINT) AS rank,
        o_orderkey, pu AS price_units
      FROM (SELECT c_mktsegment, ${sqlUnits("o_totalprice")} AS pu,
              o_orderkey
            FROM orders JOIN customer ON o_custkey = c_custkey))
    WHERE rank <= 3 ORDER BY c_mktsegment, rank"""

  // ---- q119: exact-k uniform sample per stratum (reservoir analog) -----
  // q53/q54/q101 gate rows by hash ACCEPTANCE — sample sizes are only
  // expected values. Eval-set construction wants EXACTLY k per stratum,
  // reproducibly: rank docs by the salted hash h60("rs:"+doc_id) (a
  // fixed uniform permutation) and keep each source's k smallest — a
  // without-replacement uniform sample that any re-run, any partitioning,
  // any engine reproduces bit-identically. The mechanism is the q106
  // bounded-heap aggregate fed NEGATED hashes (max-heap of -h = min-k of
  // h): ONE hash aggregate with map-side partial combine, G·k rows
  // through the shuffle — the distributed reservoir; no window, no sort
  // of the corpus (PlanSpec-guarded via the q106 family).
  def q119ReservoirSample(s: SparkSession, d: String): DataFrame = {
    graft.expressions.Hash60.register(s)
    s.udf.register("top3q", udaf(new Top3Q()))
    val slots = array(
      struct(col("t.v1").as("nh"), col("t.k1").as("k")),
      struct(col("t.v2").as("nh"), col("t.k2").as("k")),
      struct(col("t.v3").as("nh"), col("t.k3").as("k")))
    Tables.documents(s, d)
      .select(col("source"), col("doc_id"),
        expr("h60(concat('rs:', cast(doc_id as string)))").as("h"))
      .groupBy(col("source"))
      .agg(expr("top3q(-h, doc_id)").as("t"))
      .select(col("source"), posexplode(slots).as(Seq("pos", "s")))
      .filter(col("s.nh") =!= lit(Long.MinValue))
      .select(col("source"), (col("pos") + 1).cast("long").as("rank"),
        col("s.k").as("doc_id"), (-col("s.nh")).as("h"))
      .orderBy(col("source"), col("rank"))
  }

  val q119Sql: String = """
    SELECT source, rank, doc_id, h FROM (
      SELECT source, doc_id, h,
        CAST(ROW_NUMBER() OVER (PARTITION BY source
          ORDER BY h, doc_id) AS BIGINT) AS rank
      FROM (SELECT source, doc_id,
              CAST('0x' || substring(md5('rs:' ||
                CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
            FROM documents))
    WHERE rank <= 3 ORDER BY source, rank"""

  // ---- q121: rolling 7-day active users (sliding-window distinct) ------
  // WAU per day — the canonical sliding DISTINCT, which no window frame
  // expresses (count_distinct over a range frame isn't partial-
  // aggregatable). The scalable batch shape: collapse events to distinct
  // (user, day) pairs first (the big shuffle, and the one that matters),
  // then expand each pair to the <=7 window-end days it contributes to
  // and count distinct users per end day. The 7× expansion runs on the
  // COLLAPSED pair set, not raw events; end days past the observed range
  // drop via the semi-join against observed days. At 100 TB the same
  // plan holds (W× the pair set), with q42/q81's HLL route as the
  // approximate fallback when W gets large.
  def q121RollingWau(s: SparkSession, d: String): DataFrame = {
    val ud = Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val days = ud.select(col("day").as("t_day")).distinct()
    ud.select(col("user_id"), explode(
        sequence(col("day"), date_add(col("day"), 6))).as("t_day"))
      .join(days, Seq("t_day"))
      .groupBy(col("t_day"))
      .agg(countDistinct(col("user_id")).as("wau"))
      .orderBy(col("t_day"))
  }

  val q121Sql: String = """
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    days AS (SELECT DISTINCT day AS t_day FROM ud),
    x AS (
      SELECT user_id, day + CAST(k AS INTEGER) AS t_day
      FROM ud CROSS JOIN (SELECT unnest(range(0, 7)) AS k))
    SELECT x.t_day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
    FROM x JOIN days ON x.t_day = days.t_day
    GROUP BY x.t_day ORDER BY x.t_day"""

  // ---- q208: sketch-merged rolling actives (the q121 scale route) ------
  // q121's comment promises "the HLL route when W gets large" — this IS
  // that route, materialized and held against the exact answer: ONE
  // DataSketches HLL per day (map-side combinable, fixed bytes), the
  // trailing-7-day union formed by MERGING the ≤|days| day sketches (the
  // q121 expansion shape, but on the |days|-row sketch frame instead of
  // the (user, day) pair set — at 100 TB that is the whole point: the
  // pair set is corpus-sized, the sketch frame is calendar-sized).
  // Output contract is the q42/q81 sketch discipline: the exact WAU
  // column is oracle-checked, the estimate is engine-specific so it
  // ships as a within-5%-of-exact boolean (lgConfigK=12 → rsd ≈ 1.6%,
  // 3σ inside the bound).
  def q208SketchWau(s: SparkSession, d: String): DataFrame = {
    val ud = Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      .persist() // day sketches AND the exact answer derive from it
    val daySk = ud.groupBy(col("day"))
      .agg(expr("hll_sketch_agg(user_id, 12)").as("sk"))
    val days = ud.select(col("day").as("t_day")).distinct()
    val est = daySk.select(explode(
        sequence(col("day"), date_add(col("day"), 6))).as("t_day"),
        col("sk"))
      .join(days, Seq("t_day"))
      .groupBy(col("t_day"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk, false))")
        .as("est"))
    val exact = ud.select(col("user_id"), explode(
        sequence(col("day"), date_add(col("day"), 6))).as("t_day"))
      .join(days, Seq("t_day"))
      .groupBy(col("t_day"))
      .agg(countDistinct(col("user_id")).as("wau"))
    exact.join(est, Seq("t_day"))
      .select(col("t_day"), col("wau"),
        (abs(col("est") - col("wau")) * 20 <= col("wau"))
          .as("est_within_5pct"))
      .orderBy(col("t_day"))
  }

  val q208Sql: String = """
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    days AS (SELECT DISTINCT day AS t_day FROM ud),
    x AS (
      SELECT user_id, day + CAST(k AS INTEGER) AS t_day
      FROM ud CROSS JOIN (SELECT unnest(range(0, 7)) AS k))
    SELECT x.t_day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau,
      TRUE AS est_within_5pct
    FROM x JOIN days ON x.t_day = days.t_day
    GROUP BY x.t_day ORDER BY x.t_day"""

  // ---- q210: time-bounded ordered funnel -------------------------------
  // q65 with conversion windows — the form product analytics actually
  // ships: first view, first click within 1 DAY of that view, first
  // purchase within 7 DAYS of that click. Same scalable chain (three
  // per-user MIN aggregates glued by equi-joins on user_id, the time
  // residuals inside the join — no per-user event buffering, no
  // corpus-wide window), plus exact integer conversion ppm per stage.
  def q210WindowedFunnel(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_type"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("v_ts"))
    val c = ev.filter(col("event_type") === "click").as("c")
      .join(v.as("v"), col("c.user_id") === col("v.user_id") &&
        col("c.ts") >= col("v.v_ts") &&
        col("c.ts") <= col("v.v_ts") + expr("INTERVAL 1 DAY"))
      .groupBy(col("c.user_id").as("user_id"))
      .agg(min(col("c.ts")).as("c_ts"))
    val p = ev.filter(col("event_type") === "purchase").as("p")
      .join(c.as("c2"), col("p.user_id") === col("c2.user_id") &&
        col("p.ts") >= col("c2.c_ts") &&
        col("p.ts") <= col("c2.c_ts") + expr("INTERVAL 7 DAYS"))
      .groupBy(col("p.user_id").as("user_id"))
      .agg(min(col("p.ts")).as("p_ts"))
    val nv = v.agg(count(lit(1)).as("n_view"))
    val nc = c.agg(count(lit(1)).as("n_click_1d"))
    val np = p.agg(count(lit(1)).as("n_purchase_7d"))
    nv.crossJoin(broadcast(nc)).crossJoin(broadcast(np))
      .select(col("n_view"), col("n_click_1d"), col("n_purchase_7d"),
        expr("n_click_1d * 1000000 div nullif(n_view, 0)")
          .as("click_ppm"),
        expr("n_purchase_7d * 1000000 div nullif(n_click_1d, 0)")
          .as("purchase_ppm"))
  }

  val q210Sql: String = """
    WITH v AS (
      SELECT user_id, MIN(ts) AS v_ts FROM events
      WHERE event_type = 'view' GROUP BY 1),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS c_ts
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts >= v.v_ts
        AND e.ts <= v.v_ts + INTERVAL 1 DAY
      GROUP BY 1),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS p_ts
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= c.c_ts
        AND e.ts <= c.c_ts + INTERVAL 7 DAY
      GROUP BY 1)
    SELECT
      CAST((SELECT COUNT(*) FROM v) AS BIGINT) AS n_view,
      CAST((SELECT COUNT(*) FROM c) AS BIGINT) AS n_click_1d,
      CAST((SELECT COUNT(*) FROM p) AS BIGINT) AS n_purchase_7d,
      CAST((SELECT COUNT(*) FROM c) * 1000000
        // nullif((SELECT COUNT(*) FROM v), 0) AS BIGINT) AS click_ppm,
      CAST((SELECT COUNT(*) FROM p) * 1000000
        // nullif((SELECT COUNT(*) FROM c), 0) AS BIGINT)
        AS purchase_ppm"""

  // ---- q168: event-rate burst detection (trailing-24h baseline) --------
  // The ops alarm on the events stream: per (event_type, hour), the
  // event count vs its OWN trailing 24-hour mean — error-rate spikes and
  // traffic bursts that an absolute threshold misses (each type has its
  // own baseline). Time-correct under gaps: the trailing frame is a
  // RANGE window over the integer hour number, so absent hours count as
  // zero events instead of silently stretching the window (a rows-frame
  // would). Exact integers: ratio_ppm = n·24·10⁶ div trailing_sum (all
  // nonnegative); the first 24h per type is 'warmup' (no baseline), a
  // zero trailing sum with activity is 'cold_start'.
  //
  // Scale shape: one map-side-combining groupBy onto the (types ×
  // hours-in-retention) frame — bounded by the clock, not the corpus —
  // then a range window partitioned by type over that bounded frame.
  def q168BurstDetect(s: SparkSession, d: String): DataFrame = {
    val hourly = Tables.events(s, d)
      .withColumn("hn", expr(
        "unix_timestamp(date_trunc('hour', ts)) div 3600"))
      .groupBy(col("event_type"), col("hn"))
      .agg(count(lit(1)).as("n_events"))
    val trail = Window.partitionBy(col("event_type")).orderBy(col("hn"))
      .rangeBetween(-24, -1)
    val start = Window.partitionBy(col("event_type"))
    hourly
      .withColumn("trailing_24h",
        coalesce(sum(col("n_events")).over(trail), lit(0L)))
      .withColumn("first_hn", min(col("hn")).over(start))
      .withColumn("ratio_ppm",
        when(col("trailing_24h") > 0L,
          expr("n_events * 24 * 1000000 div trailing_24h")))
      .withColumn("band",
        when(col("hn") - col("first_hn") < 24L, "warmup")
          .when(col("trailing_24h") === 0L, "cold_start")
          .when(col("ratio_ppm") >= 3000000L, "burst")
          .when(col("ratio_ppm") >= 1500000L, "elevated")
          .otherwise("normal"))
      .select(col("event_type"), col("hn"), col("n_events"),
        col("trailing_24h"), col("ratio_ppm"), col("band"))
      .orderBy(col("event_type"), col("hn"))
  }

  val q168Sql: String = """
    WITH hourly AS (
      SELECT event_type,
        CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600 AS hn,
        CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1, 2),
    w AS (
      SELECT event_type, hn, n_events,
        CAST(COALESCE(SUM(n_events) OVER (PARTITION BY event_type
          ORDER BY hn RANGE BETWEEN 24 PRECEDING AND 1 PRECEDING), 0)
          AS BIGINT) AS trailing_24h,
        MIN(hn) OVER (PARTITION BY event_type) AS first_hn
      FROM hourly)
    SELECT event_type, hn, n_events, trailing_24h,
      CAST(CASE WHEN trailing_24h > 0
        THEN n_events * 24 * 1000000 // trailing_24h END AS BIGINT)
        AS ratio_ppm,
      CASE WHEN hn - first_hn < 24 THEN 'warmup'
           WHEN trailing_24h = 0 THEN 'cold_start'
           WHEN n_events * 24 * 1000000 // trailing_24h >= 3000000
             THEN 'burst'
           WHEN n_events * 24 * 1000000 // trailing_24h >= 1500000
             THEN 'elevated'
           ELSE 'normal' END AS band
    FROM w ORDER BY event_type, hn"""

  // ---- q170: event-type Markov transition matrix ------------------------
  // The behavior model behind synthetic-event generation and funnel
  // anomaly detection: P(next event type | current event type), estimated
  // from each user's time-ordered event stream. A '<start>' pseudo-state
  // captures entry probabilities (which type opens a session), so the
  // matrix rows sum to the full measure over observed follows.
  //
  // Determinism: events are ordered by (ts, event_id) — event_id is
  // unique, so simultaneous events tie-break identically in both engines.
  // p_next_ppm is an exact integer div; the numerator accumulates in
  // Decimal(38,0) (the q153 convention — transition counts at 100 TB
  // exceed the Long·10⁶ wrap).
  //
  // Scale shape: ONE shuffle on user_id for the lag window (per-user
  // groups are bounded by per-user activity, the events table's natural
  // partitioning), then a map-side-combining hash aggregate onto the
  // (|types|+1)·|types| transition frame — bounded by the event-type
  // alphabet, not the corpus. The row-normalizing window runs on that
  // bounded frame only, partitioned by prev_type.
  def q170EventTransitions(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val trans = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"))
      .withColumn("prev_type",
        coalesce(lag(col("event_type"), 1).over(w), lit("<start>")))
      .groupBy(col("prev_type"), col("event_type"))
      .agg(count(lit(1)).as("n_trans"))
    val rowW = Window.partitionBy(col("prev_type"))
    trans
      .withColumn("row_total", sum(col("n_trans")).over(rowW))
      .withColumn("p_next_ppm",
        expr("cast(n_trans as decimal(38,0)) * 1000000 div row_total"))
      .select(col("prev_type"), col("event_type"), col("n_trans"),
        col("p_next_ppm"))
      .orderBy(col("prev_type"), col("event_type"))
  }

  val q170Sql: String = """
    WITH seq AS (
      SELECT COALESCE(LAG(event_type) OVER (PARTITION BY user_id
          ORDER BY ts, event_id), '<start>') AS prev_type,
        event_type
      FROM events),
    trans AS (
      SELECT prev_type, event_type, CAST(COUNT(*) AS BIGINT) AS n_trans
      FROM seq GROUP BY 1, 2)
    SELECT prev_type, event_type, n_trans,
      CAST(CAST(n_trans AS HUGEINT) * 1000000
        // SUM(n_trans) OVER (PARTITION BY prev_type) AS BIGINT)
        AS p_next_ppm
    FROM trans ORDER BY prev_type, event_type"""

  // ---- q172: inter-event gap spectrum (arrival-rate model) -------------
  // The dwell-time / arrival-rate profile behind synthetic-event replay
  // and bot screening: for each event arrival, the gap in whole seconds
  // since the same user's previous event (any type), banded by decimal
  // decade and grouped by the ARRIVING event's type. Bots and replayed
  // logs pile mass into the 0-gap and 1-9 s decades; organic traffic
  // spreads over minutes-to-days. q168 alarms on aggregate rate; this is
  // the per-arrival distribution a generator samples from.
  //
  // Exactness: gap seconds = truncating div of the epoch-microsecond
  // difference (nonnegative under the (ts, event_id) stream order, so
  // Spark's truncation and DuckDB's floor coincide); decade = digit
  // count, band -1 reserved for gap 0 (simultaneous), so the 1-9 s
  // decade isn't polluted by same-timestamp bursts. Shares are exact
  // integer ppm on Decimal(38,0).
  //
  // Scale shape: the same single user_id shuffle as q170 for the lag
  // window, then a map-side-combining aggregate onto the
  // (|types| × ~12 decades) frame; the per-type share window runs on
  // that bounded frame only.
  def q172GapSpectrum(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val bands = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .filter(col("prev_ts").isNotNull)
      .withColumn("gap_s",
        expr("(unix_micros(ts) - unix_micros(prev_ts)) div 1000000"))
      .withColumn("band", when(col("gap_s") === 0L, lit(-1))
        .otherwise(length(col("gap_s").cast("string")) - 1).cast("int"))
      .groupBy(col("event_type"), col("band"))
      .agg(count(lit(1)).as("n_gaps"), min(col("gap_s")).as("min_gap_s"),
        max(col("gap_s")).as("max_gap_s"))
    val typeW = Window.partitionBy(col("event_type"))
    bands
      .withColumn("type_total", sum(col("n_gaps")).over(typeW))
      .withColumn("gap_ppm",
        expr("cast(n_gaps as decimal(38,0)) * 1000000 div type_total"))
      .withColumn("band_lo", when(col("band") === -1, lit(0L))
        .otherwise(expr("cast(concat('1', repeat('0', band)) as bigint)")))
      .select(col("event_type"), col("band"), col("band_lo"),
        col("n_gaps"), col("gap_ppm"), col("min_gap_s"), col("max_gap_s"))
      .orderBy(col("event_type"), col("band"))
  }

  val q172Sql: String = """
    WITH seq AS (
      SELECT event_type,
        (epoch_us(ts) - epoch_us(LAG(ts) OVER (PARTITION BY user_id
          ORDER BY ts, event_id))) // 1000000 AS gap_s
      FROM events),
    bands AS (
      SELECT event_type,
        CAST(CASE WHEN gap_s = 0 THEN -1
          ELSE length(CAST(gap_s AS VARCHAR)) - 1 END AS INTEGER) AS band,
        CAST(COUNT(*) AS BIGINT) AS n_gaps,
        MIN(gap_s) AS min_gap_s, MAX(gap_s) AS max_gap_s
      FROM seq WHERE gap_s IS NOT NULL GROUP BY 1, 2)
    SELECT event_type, band,
      CASE WHEN band = -1 THEN CAST(0 AS BIGINT)
        ELSE CAST('1' || repeat('0', band) AS BIGINT) END AS band_lo,
      n_gaps,
      CAST(CAST(n_gaps AS HUGEINT) * 1000000
        // SUM(n_gaps) OVER (PARTITION BY event_type) AS BIGINT)
        AS gap_ppm,
      min_gap_s, max_gap_s
    FROM bands ORDER BY event_type, band"""

  // ---- q173: per-user sustained-rate screen -----------------------------
  // The user-level companion to q172's per-arrival gaps: each user's MEAN
  // inter-event gap (active span ÷ (n−1), whole seconds), banded by
  // decimal decade into a bot-screen histogram. q172 sees a double-fire;
  // this sees an account that fires every 3 seconds for a month — the
  // sustained-rate signature per-arrival views dilute. Bands: −2 =
  // single-event users (no gap exists), −1 = zero mean gap (all events
  // in the same second — scripted bursts), 0.. = decades. Screen labels:
  // superhuman (mean gap < 10 s sustained), elevated (10–99 s), organic.
  //
  // Exactness: span and mean gap are truncating divs of nonnegative
  // epoch-microsecond integers (floor ≡ truncate there, both engines);
  // user shares are the Decimal(38,0) div convention.
  //
  // Scale shape: ONE map-side-combining aggregate keyed by user_id
  // (count/min/max — no window, no per-user sort), then a second
  // aggregate onto the ≤14-row band histogram; the 1-row total attaches
  // to that bounded frame only.
  def q173UserRates(s: SparkSession, d: String): DataFrame = {
    val users = Tables.events(s, d)
      .select(col("user_id"), expr("unix_micros(ts)").as("us"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("us")).as("t0"), max(col("us")).as("t1"))
      .withColumn("mean_gap_s",
        when(col("n_events") === 1L, lit(null))
          .otherwise(expr(
            "((t1 - t0) div 1000000) div (n_events - 1)")))
      .withColumn("band",
        when(col("n_events") === 1L, lit(-2))
          .when(col("mean_gap_s") === 0L, lit(-1))
          .otherwise(length(col("mean_gap_s").cast("string")) - 1)
          .cast("int"))
    val bands = users.groupBy(col("band"))
      .agg(count(lit(1)).as("n_users"), sum(col("n_events")).as("n_events"),
        min(col("mean_gap_s")).as("min_gap_s"),
        max(col("mean_gap_s")).as("max_gap_s"))
    val tot = bands.agg(sum(col("n_users")).as("n_total"))
    bands.crossJoin(broadcast(tot))
      .withColumn("user_ppm",
        expr("cast(n_users as decimal(38,0)) * 1000000 div n_total"))
      .withColumn("band_lo", when(col("band") < 0, lit(0L))
        .otherwise(expr("cast(concat('1', repeat('0', band)) as bigint)")))
      .withColumn("screen",
        when(col("band") === -2, "single_event")
          .when(col("band") <= 0, "superhuman")
          .when(col("band") === 1, "elevated").otherwise("organic"))
      .select(col("band"), col("band_lo"), col("n_users"), col("n_events"),
        col("min_gap_s"), col("max_gap_s"), col("user_ppm"), col("screen"))
      .orderBy(col("band"))
  }

  val q173Sql: String = """
    WITH u AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
        MIN(epoch_us(ts)) AS t0, MAX(epoch_us(ts)) AS t1
      FROM events GROUP BY 1),
    g AS (
      SELECT n_events,
        CASE WHEN n_events = 1 THEN NULL
          ELSE ((t1 - t0) // 1000000) // (n_events - 1) END AS mean_gap_s
      FROM u),
    b AS (
      SELECT CAST(CASE WHEN n_events = 1 THEN -2
          WHEN mean_gap_s = 0 THEN -1
          ELSE length(CAST(mean_gap_s AS VARCHAR)) - 1 END AS INTEGER)
          AS band,
        CAST(COUNT(*) AS BIGINT) AS n_users,
        CAST(SUM(n_events) AS BIGINT) AS n_events,
        MIN(mean_gap_s) AS min_gap_s, MAX(mean_gap_s) AS max_gap_s
      FROM g GROUP BY 1),
    tot AS (SELECT CAST(SUM(n_users) AS BIGINT) AS n_total FROM b)
    SELECT band,
      CASE WHEN band < 0 THEN CAST(0 AS BIGINT)
        ELSE CAST('1' || repeat('0', band) AS BIGINT) END AS band_lo,
      n_users, n_events, min_gap_s, max_gap_s,
      CAST(CAST(n_users AS HUGEINT) * 1000000 // n_total AS BIGINT)
        AS user_ppm,
      CASE WHEN band = -2 THEN 'single_event'
           WHEN band <= 0 THEN 'superhuman'
           WHEN band = 1 THEN 'elevated'
           ELSE 'organic' END AS screen
    FROM b CROSS JOIN tot ORDER BY band"""

  // ---- q176: diurnal activity heatmap -----------------------------------
  // The seasonality profile a synthetic-event generator replays and an
  // anomaly detector normalizes against: event mass per (event_type,
  // day-of-week, hour-of-day) cell in exact ppm of the type's total,
  // with the type's peak cell flagged. q168 alarms on absolute bursts;
  // this is the EXPECTED weekly shape those alarms should be read
  // against (a Monday-9am spike is organic, the same count at 4am
  // Sunday is not).
  //
  // Determinism: dow/hour extract under the session's UTC timezone on
  // both engines (Spark dayofweek is 1-based Sunday, DuckDB dow is
  // 0-based Sunday — normalized to 0..6 here); the peak tie breaks by
  // (dow, hour) via an exact min over the packed cell id.
  //
  // Scale shape: ONE map-side-combining aggregate onto the
  // (|types| × 168)-cell frame; the share/peak windows run on that
  // clock-bounded frame only, partitioned by event_type.
  def q176DiurnalProfile(s: SparkSession, d: String): DataFrame = {
    val cells = Tables.events(s, d)
      .select(col("event_type"),
        (dayofweek(col("ts")) - 1).cast("int").as("dow"),
        hour(col("ts")).cast("int").as("hod"))
      .groupBy(col("event_type"), col("dow"), col("hod"))
      .agg(count(lit(1)).as("n_events"))
    val w = Window.partitionBy(col("event_type"))
    cells
      .withColumn("type_total", sum(col("n_events")).over(w))
      .withColumn("share_ppm",
        expr("cast(n_events as decimal(38,0)) * 1000000 div type_total"))
      // peak cell: max count, ties to the earliest (dow, hour) — packed
      // so one exact max + one exact min resolve it without a rank
      .withColumn("peak_n", max(col("n_events")).over(w))
      .withColumn("cell_id", col("dow") * 24 + col("hod"))
      .withColumn("peak_cell",
        min(when(col("n_events") === col("peak_n"), col("cell_id")))
          .over(w))
      .withColumn("is_peak", col("cell_id") === col("peak_cell"))
      .select(col("event_type"), col("dow"), col("hod"), col("n_events"),
        col("share_ppm"), col("is_peak"))
      .orderBy(col("event_type"), col("dow"), col("hod"))
  }

  val q176Sql: String = """
    WITH cells AS (
      SELECT event_type, CAST(dayofweek(ts) AS INTEGER) AS dow,
        CAST(hour(ts) AS INTEGER) AS hod,
        CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1, 2, 3),
    m AS (
      SELECT *,
        SUM(n_events) OVER (PARTITION BY event_type) AS type_total,
        MAX(n_events) OVER (PARTITION BY event_type) AS peak_n,
        dow * 24 + hod AS cell_id
      FROM cells),
    p AS (
      SELECT *,
        MIN(CASE WHEN n_events = peak_n THEN cell_id END)
          OVER (PARTITION BY event_type) AS peak_cell
      FROM m)
    SELECT event_type, dow, hod, n_events,
      CAST(CAST(n_events AS HUGEINT) * 1000000 // type_total AS BIGINT)
        AS share_ppm,
      cell_id = peak_cell AS is_peak
    FROM p ORDER BY event_type, dow, hod"""

  // ---- q180: batch sessionization statistics -----------------------------
  // The batch twin of q24's session_window, produced the classic way: a
  // per-user lag window marks events >30 min after their predecessor as
  // session starts, a running sum of those flags numbers the sessions,
  // and one aggregate per (user, session) yields size/duration/entry
  // type. Reported as the (entry_type × size-decade) histogram with
  // exact ppm shares and observed duration support — the session-length
  // model, and the shape a capacity planner reads (how long do sessions
  // run, what opens them).
  //
  // Exactness: gaps and durations are truncating micro→second divs of
  // nonnegative integers; decade banding is digit count (band −1 would
  // be impossible here: a session has size ≥ 1, so bands start at 0).
  //
  // Scale shape: ONE user_id shuffle drives both windows (lag + running
  // sum share the (user_id; ts, event_id) sort), the per-session
  // aggregate is keyed by (user_id, session) — bounded by per-user
  // activity — and the histogram aggregate lands on the
  // (|types| × ~6 decades) frame; the share window runs there only.
  def q180SessionStats(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val sessions = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"), expr("unix_micros(ts)").as("us"))
      .withColumn("gap_s",
        expr("(us - lag(us, 1) over (partition by user_id" +
          " order by ts, event_id)) div 1000000"))
      .withColumn("is_start",
        when(col("gap_s").isNull || col("gap_s") >= 1800L, 1L)
          .otherwise(0L))
      .withColumn("session", sum(col("is_start")).over(w))
      .groupBy(col("user_id"), col("session"))
      .agg(count(lit(1)).as("n_events"),
        expr("(max(us) - min(us)) div 1000000").as("duration_s"),
        // each session has exactly ONE is_start row (its first event by
        // the numbering construction), so this max picks the entry type
        // without an argmin — identical semantics in both engines
        max(when(col("is_start") === 1L, col("event_type")))
          .as("entry_type"))
    val bands = sessions
      .withColumn("band",
        (length(col("n_events").cast("string")) - 1).cast("int"))
      .groupBy(col("entry_type"), col("band"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("n_events")).as("event_mass"),
        min(col("duration_s")).as("min_duration_s"),
        max(col("duration_s")).as("max_duration_s"))
    val typeW = Window.partitionBy(col("entry_type"))
    bands
      .withColumn("type_total", sum(col("n_sessions")).over(typeW))
      .withColumn("session_ppm",
        expr("cast(n_sessions as decimal(38,0)) * 1000000 div type_total"))
      .withColumn("band_lo",
        expr("cast(concat('1', repeat('0', band)) as bigint)"))
      .select(col("entry_type"), col("band"), col("band_lo"),
        col("n_sessions"), col("event_mass"), col("session_ppm"),
        col("min_duration_s"), col("max_duration_s"))
      .orderBy(col("entry_type"), col("band"))
  }

  val q180Sql: String = """
    WITH seq AS (
      SELECT user_id, ts, event_id, event_type, epoch_us(ts) AS us,
        (epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id
          ORDER BY ts, event_id)) // 1000000 AS gap_s
      FROM events),
    marked AS (
      SELECT *, CASE WHEN gap_s IS NULL OR gap_s >= 1800 THEN 1
        ELSE 0 END AS is_start
      FROM seq),
    numbered AS (
      SELECT *, SUM(is_start) OVER (PARTITION BY user_id
        ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND
        CURRENT ROW) AS session
      FROM marked),
    sessions AS (
      SELECT user_id, session, CAST(COUNT(*) AS BIGINT) AS n_events,
        (MAX(us) - MIN(us)) // 1000000 AS duration_s,
        MAX(CASE WHEN is_start = 1 THEN event_type END) AS entry_type
      FROM numbered GROUP BY 1, 2),
    bands AS (
      SELECT entry_type,
        CAST(length(CAST(n_events AS VARCHAR)) - 1 AS INTEGER) AS band,
        CAST(COUNT(*) AS BIGINT) AS n_sessions,
        CAST(SUM(n_events) AS BIGINT) AS event_mass,
        MIN(duration_s) AS min_duration_s,
        MAX(duration_s) AS max_duration_s
      FROM sessions GROUP BY 1, 2)
    SELECT entry_type, band,
      CAST('1' || repeat('0', band) AS BIGINT) AS band_lo,
      n_sessions, event_mass,
      CAST(CAST(n_sessions AS HUGEINT) * 1000000
        // SUM(n_sessions) OVER (PARTITION BY entry_type) AS BIGINT)
        AS session_ppm,
      min_duration_s, max_duration_s
    FROM bands ORDER BY entry_type, band"""

  // ---- q41: as-of join (J4) --------------------------------------------
  // For each purchase event, the user's most recent click at or before the
  // purchase time. Spark has no native ASOF JOIN; the scalable idiom is
  // union + last(ignoreNulls) over an ordered window — one shuffle on the
  // session key, no range self-join blowup (the BroadcastNestedLoopJoin
  // alternative is O(n·m) per key and is exactly what NOT to do at 100 TB).
  // Quote side is pre-deduped to one row per (user_id, ts) so the as-of
  // winner is unique (DuckDB's ASOF JOIN then agrees deterministically).
  def q41AsofJoin(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    // the quote rides as ONE struct so ts and value always come from the
    // SAME quote row — carrying them as two independent last(ignoreNulls)
    // columns would, for a latest quote with a NULL value, pair that
    // quote's ts with an older quote's value (and disagree with ASOF JOIN,
    // which returns the latest row even when its value is NULL)
    val quotes = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts"))
      .agg(max_by(col("value"), col("event_id")).as("qval"))
      .select(col("user_id"), col("ts"), lit(0).as("tag"),
        lit(null).cast("long").as("event_id"),
        struct(col("ts").as("qts"), col("qval")).as("qrec"))
    val trades = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), lit(1).as("tag"), col("event_id"),
        lit(null).cast("struct<qts:timestamp,qval:double>").as("qrec"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("tag").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    quotes.unionByName(trades)
      .withColumn("q", last(col("qrec"), ignoreNulls = true).over(w))
      .filter(col("tag") === 1)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("q.qts").as("quote_ts"), col("q.qval").as("quote_val"))
      .orderBy(col("user_id"), col("ts"), col("event_id"))
  }

  val q41Sql: String = """
    WITH quotes AS (
      SELECT user_id, ts, max_by(value, event_id) AS qval
      FROM events WHERE event_type = 'click' GROUP BY 1, 2),
    trades AS (
      SELECT user_id, ts, event_id
      FROM events WHERE event_type = 'purchase')
    SELECT t.user_id, t.ts, t.event_id,
      q.ts AS quote_ts, q.qval AS quote_val
    FROM trades t ASOF LEFT JOIN quotes q
      ON t.user_id = q.user_id AND q.ts <= t.ts
    ORDER BY t.user_id, t.ts, t.event_id"""

  // ---- q181: conversion-lag spectrum -------------------------------------
  // The time-to-convert model on top of q41's as-of join: for each
  // purchase, seconds since the same user's most recent click at or
  // before it, banded by decimal decade — the attribution-window
  // distribution (how long a click "works") and the latency model a
  // funnel simulator samples. Band −2 = purchases with NO prior click
  // (organic/dark conversions — the attribution gap itself), −1 =
  // same-second conversion.
  //
  // Exactness: the lag is a truncating micro→second div of nonnegative
  // integers (quote_ts ≤ ts by the as-of contract); shares are the
  // Decimal(38,0) div convention over the purchase total.
  //
  // Scale shape: q41's single user-shuffle union-window derivation,
  // then ONE map-side-combining aggregate onto ≤ ~14 decade rows; the
  // 1-row purchase total attaches to that frame only.
  def q181ConversionLag(s: SparkSession, d: String): DataFrame = {
    val bands = q41AsofJoin(s, d)
      .withColumn("lag_s",
        expr("(unix_micros(ts) - unix_micros(quote_ts)) div 1000000"))
      .withColumn("band",
        when(col("quote_ts").isNull, lit(-2))
          .when(col("lag_s") === 0L, lit(-1))
          .otherwise(length(col("lag_s").cast("string")) - 1).cast("int"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_purchases"),
        min(col("lag_s")).as("min_lag_s"), max(col("lag_s")).as("max_lag_s"))
    val tot = bands.agg(sum(col("n_purchases")).as("n_total"))
    bands.crossJoin(broadcast(tot))
      .withColumn("purchase_ppm",
        expr("cast(n_purchases as decimal(38,0)) * 1000000 div n_total"))
      .withColumn("band_lo", when(col("band") < 0, lit(0L))
        .otherwise(expr("cast(concat('1', repeat('0', band)) as bigint)")))
      .withColumn("attribution",
        when(col("band") === -2, "no_click")
          .when(col("band") <= 2, "prompt").otherwise("delayed"))
      .select(col("band"), col("band_lo"), col("n_purchases"),
        col("purchase_ppm"), col("min_lag_s"), col("max_lag_s"),
        col("attribution"))
      .orderBy(col("band"))
  }

  val q181Sql: String = """
    WITH quotes AS (
      SELECT user_id, ts FROM events
      WHERE event_type = 'click' GROUP BY 1, 2),
    trades AS (
      SELECT user_id, ts, event_id
      FROM events WHERE event_type = 'purchase'),
    lagged AS (
      SELECT CASE WHEN q.ts IS NULL THEN NULL
        ELSE (epoch_us(t.ts) - epoch_us(q.ts)) // 1000000 END AS lag_s
      FROM trades t ASOF LEFT JOIN quotes q
        ON t.user_id = q.user_id AND q.ts <= t.ts),
    bands AS (
      SELECT CAST(CASE WHEN lag_s IS NULL THEN -2
          WHEN lag_s = 0 THEN -1
          ELSE length(CAST(lag_s AS VARCHAR)) - 1 END AS INTEGER) AS band,
        CAST(COUNT(*) AS BIGINT) AS n_purchases,
        MIN(lag_s) AS min_lag_s, MAX(lag_s) AS max_lag_s
      FROM lagged GROUP BY 1),
    tot AS (SELECT CAST(SUM(n_purchases) AS BIGINT) AS n_total FROM bands)
    SELECT band,
      CASE WHEN band < 0 THEN CAST(0 AS BIGINT)
        ELSE CAST('1' || repeat('0', band) AS BIGINT) END AS band_lo,
      n_purchases,
      CAST(CAST(n_purchases AS HUGEINT) * 1000000 // n_total AS BIGINT)
        AS purchase_ppm,
      min_lag_s, max_lag_s,
      CASE WHEN band = -2 THEN 'no_click'
           WHEN band <= 2 THEN 'prompt' ELSE 'delayed' END AS attribution
    FROM bands CROSS JOIN tot ORDER BY band"""

  // ---- q42: approximate count-distinct (A2; HLL++) ---------------------
  // DuckDB's approx_count_distinct uses a different sketch, so the raw
  // HLL estimate itself can never hash-match an oracle. What IS
  // cross-engine checkable is the operator's CONTRACT: the estimate lands
  // within its error bound of the exact count. The query emits the exact
  // count plus that bound-check as a boolean (integer cross-multiply, no
  // float threshold); the oracle computes the exact count and asserts the
  // bound holds (TRUE literal) — so a sketch regression past ±5% flips
  // the column and fails the hash compare. The raw estimate's ±2% rsd is
  // additionally pinned in ExtOpsSpec.
  def q42ApproxDistinct(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(
        approx_count_distinct(col("user_id"), rsd = 0.02).as("approx_users"),
        countDistinct(col("user_id")).as("exact_users"))
      .select(col("event_type"), col("exact_users"),
        (abs(col("approx_users") - col("exact_users")) * 20 <=
          col("exact_users")).as("approx_within_5pct"))
      .orderBy(col("event_type"))

  val q42Sql: String = """
    SELECT event_type, COUNT(DISTINCT user_id) AS exact_users,
      TRUE AS approx_within_5pct
    FROM events GROUP BY event_type ORDER BY event_type"""

  // ---- q43: map explode (F10; JSON-in-string → map → rows) -------------
  // Values parse as strings then floor-cast through double on BOTH sides:
  // a typed map<string,bigint> parse would null the ENTIRE map when any
  // one value is non-integral (losing the good keys of that row), and
  // engines disagree on string→bigint coercion of "1.5" (DuckDB rounds,
  // Spark nulls) — floor(double) is the one semantics both share.
  // The parse lives in its own projection BELOW the generate: feeding
  // from_json directly to explode makes the generator's codegen carry the
  // whole Jackson parse (measured 2× first-run cost at sf0.1); parsed
  // map first, generator consumes a bound column.
  def q43MapExplode(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_type"),
        from_json(col("props"),
          org.apache.spark.sql.types.MapType(
            org.apache.spark.sql.types.StringType,
            org.apache.spark.sql.types.StringType)).as("m"))
      .select(col("event_type"), explode(col("m")).as(Seq("key", "raw")))
      .withColumn("value", floor(col("raw").cast("double")).cast("long"))
      .groupBy(col("event_type"), col("key"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_v"),
        min(col("value")).as("min_v"), max(col("value")).as("max_v"))
      .orderBy(col("event_type"), col("key"))

  val q43Sql: String = """
    SELECT event_type, key, COUNT(*) AS n,
      CAST(SUM(v) AS BIGINT) AS sum_v, MIN(v) AS min_v, MAX(v) AS max_v
    FROM (SELECT event_type, unnest(json_keys(props)) AS key,
            CAST(floor(TRY_CAST(json_extract_string(props, '$.' ||
              unnest(json_keys(props))) AS DOUBLE)) AS BIGINT) AS v
          FROM events)
    GROUP BY 1, 2 ORDER BY 1, 2"""

  // ---- q44: range-frame window (W3, date-correct trailing 30 days) -----
  // rowsBetween counts rows; rangeBetween over an epoch-day key makes the
  // frame calendar-correct regardless of how many orders share a day.
  def q44RangeWindow(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(datediff(col("o_orderdate"),
        lit("1970-01-01").cast("timestamp")))
      .rangeBetween(-29, 0)
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"),
        col("o_totalprice"))
      .withColumn("trailing30",
        sum(toUnits(col("o_totalprice"))).over(w) / 100.0)
      .orderBy(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
  }

  val q44Sql: String = s"""
    SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
      CAST(SUM(${sqlUnits("o_totalprice")}) OVER (PARTITION BY o_custkey
        ORDER BY date_diff('day', DATE '1970-01-01', o_orderdate)
        RANGE BETWEEN 29 PRECEDING AND CURRENT ROW) AS BIGINT) / 1e2
        AS trailing30
    FROM orders
    ORDER BY o_custkey, o_orderdate, o_orderkey"""

  // ---- q45: custom typed Aggregator as UDAF (§2.10) --------------------
  // Quantity-weighted average price per return flag; inputs pre-quantized
  // to integers so the custom aggregate stays merge-order-independent.
  def q45WeightedAvg(s: SparkSession, d: String): DataFrame = {
    s.udf.register("wavg_q", udaf(new WeightedAvgQ()))
    Tables.lineitem(s, d)
      .withColumn("qu", toUnits(col("l_quantity"), 0))
      .withColumn("pu", toUnits(col("l_extendedprice")))
      .groupBy(col("l_returnflag"))
      .agg(expr("wavg_q(qu, pu)").as("wavg_price_units"),
        count(lit(1)).as("n"))
      .withColumn("wavg_price", col("wavg_price_units") / 100.0)
      .select(col("l_returnflag"), col("wavg_price"), col("n"))
      .orderBy(col("l_returnflag"))
  }

  val q45Sql: String = s"""
    SELECT l_returnflag,
      (CAST(SUM(qu * pu) AS DOUBLE) / CAST(SUM(qu) AS DOUBLE)) / 1e2
        AS wavg_price,
      COUNT(*) AS n
    FROM (SELECT l_returnflag,
            ${sqlUnits("l_quantity", 0)} AS qu,
            ${sqlUnits("l_extendedprice")} AS pu
          FROM lineitem)
    GROUP BY l_returnflag ORDER BY l_returnflag"""

  // ---- q63: cohort retention (the time-series analytic the reference's
  // cumulative tables exist to feed). cohort = a user's first active day;
  // retention cell (cohort_day, day_offset) counts distinct users from
  // that cohort active offset days later. Shape at scale: one distinct
  // over (user, day) — a single shuffle, heavily combinable map-side —
  // one tiny per-user min, one broadcast-or-shuffle join back, one final
  // aggregate; no window over the full event stream.
  def q63Retention(s: SparkSession, d: String): DataFrame = {
    val activity = Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val cohorts = activity.groupBy(col("user_id"))
      .agg(min(col("day")).as("cohort_day"))
    activity.join(cohorts, "user_id")
      .withColumn("day_offset", datediff(col("day"), col("cohort_day")).cast("long"))
      .groupBy(col("cohort_day"), col("day_offset"))
      .agg(count_distinct(col("user_id")).as("n_users"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  val q63Sql: String = """
    WITH activity AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    cohorts AS (
      SELECT user_id, MIN(day) AS cohort_day FROM activity GROUP BY user_id)
    SELECT c.cohort_day, CAST(a.day - c.cohort_day AS BIGINT) AS day_offset,
      COUNT(DISTINCT a.user_id) AS n_users
    FROM activity a JOIN cohorts c USING (user_id)
    GROUP BY 1, 2 ORDER BY 1, 2"""

  // ---- q64: column profiling (the data-quality pass every ingest runs:
  // null fraction, cardinality, range per measure). One two-level pass
  // PER COLUMN, unioned: groupBy(value) partial-aggregates map-side (the
  // shuffle carries distinct values, not rows), then a global aggregate
  // folds the group table into count / distinct / min / max at once.
  // Multiple count_distincts in a single aggregate would instead compile
  // to an Expand that multiplies every row ×(distincts+1) before the
  // first partial aggregation — measured 30% slower at sf0.1 and pure
  // shuffle amplification at 100 TB. Each branch's parquet scan prunes
  // to its one column, so total I/O matches the single-scan plan.
  // Distincts are exact here; at 100 TB swap the value-groupBy for
  // approx_count_distinct (q42's pattern proves the contract).
  def q64Profile(s: SparkSession, d: String): DataFrame = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    cols.map { c =>
      Tables.lineitem(s, d)
        .groupBy(col(c).as("v"))
        .agg(count(lit(1)).as("cnt"))
        // coalesce to 0: SUM over an empty (0-row) source is NULL but
        // the oracle's COUNT(*) is 0 — degrade identically at SF=0
        .agg(coalesce(sum(col("cnt")), lit(0L)).as("n_rows"),
          coalesce(sum(when(col("v").isNotNull, col("cnt"))
            .otherwise(lit(0L))), lit(0L)).as("n_nonnull"),
          count(col("v")).as("n_distinct"),
          min(toUnits(col("v"))).as("min_units"),
          max(toUnits(col("v"))).as("max_units"))
        .select(lit(c).as("col_name"), col("n_rows"),
          (col("n_rows") - col("n_nonnull")).as("n_null"),
          col("n_distinct"),
          (col("min_units") / 100.0).as("min_v"),
          (col("max_units") / 100.0).as("max_v"))
    }.reduce(_ union _).orderBy(col("col_name"))
  }

  val q64Sql: String = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    cols.map { c =>
      s"""SELECT '$c' AS col_name, COUNT(*) AS n_rows,
            COUNT(*) - COUNT($c) AS n_null,
            COUNT(DISTINCT $c) AS n_distinct,
            MIN(${sqlUnits(c)}) / 100.0 AS min_v,
            MAX(${sqlUnits(c)}) / 100.0 AS max_v
          FROM lineitem"""
    }.mkString("\n    UNION ALL\n    ") + "\n    ORDER BY col_name"
  }

  // ---- q65: ordered funnel (view → click → purchase) -------------------
  // Each stage is reached only via the one before it IN ORDER: first view,
  // then first click at-or-after that view, then first purchase at-or-
  // after that click. Three per-user MIN aggregates chained by equi-joins
  // on user_id — no window over the whole stream, no per-user event
  // sorting; each stage shuffles only the users still in the funnel.
  def q65Funnel(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_type"), col("ts"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("v_ts"))
    val c = ev.filter(col("event_type") === "click")
      .join(v, "user_id").filter(col("ts") >= col("v_ts"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("c_ts"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, "user_id").filter(col("ts") >= col("c_ts"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("p_ts"))
    def stage(df: DataFrame, idx: Int, name: String): DataFrame =
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(idx.toLong).as("stage_idx"), lit(name).as("stage"),
          col("n_users"))
    stage(v, 1, "view").unionByName(stage(c, 2, "click"))
      .unionByName(stage(p, 3, "purchase"))
      .orderBy(col("stage_idx"))
  }

  val q65Sql: String = """
    WITH v AS (
      SELECT user_id, MIN(ts) AS v_ts FROM events
      WHERE event_type = 'view' GROUP BY user_id),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS c_ts
      FROM events e JOIN v USING (user_id)
      WHERE e.event_type = 'click' AND e.ts >= v.v_ts
      GROUP BY e.user_id),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS p_ts
      FROM events e JOIN c USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts >= c.c_ts
      GROUP BY e.user_id)
    SELECT CAST(1 AS BIGINT) AS stage_idx, 'view' AS stage,
      COUNT(*) AS n_users FROM v
    UNION ALL SELECT CAST(2 AS BIGINT), 'click', COUNT(*) FROM c
    UNION ALL SELECT CAST(3 AS BIGINT), 'purchase', COUNT(*) FROM p
    ORDER BY stage_idx"""

  // ---- q76: ranking-window zoo (W2 closure) ----------------------------
  // The remaining ANSI ranking/distribution window functions in one
  // query: lead, ntile, percent_rank, cume_dist, nth_value, last_value —
  // per customer over their order history. Parity notes: the window
  // ORDER BY is a total order (o_orderdate, o_orderkey — orderkey is
  // unique) so peer groups are single rows and RANGE vs ROWS frames
  // cannot diverge; percent_rank/cume_dist are single IEEE divisions of
  // identical integers; nth_value gets an explicit running frame and
  // last_value an explicit full frame (engines disagree on the DEFAULT
  // frame for neither under a total order, but explicit beats implied).
  def q76WindowZoo(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"),
        col("o_totalprice"))
      .withColumn("next_price", lead(col("o_totalprice"), 1).over(w))
      .withColumn("quartile", ntile(4).over(w).cast("long"))
      .withColumn("pct_rank", percent_rank().over(w))
      .withColumn("cume", cume_dist().over(w))
      .withColumn("second_price", nth_value(col("o_totalprice"), 2)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("final_price", last(col("o_totalprice"))
        .over(w.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
      .orderBy(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
  }

  val q76Sql: String = """
    SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
      LEAD(o_totalprice, 1) OVER w AS next_price,
      NTILE(4) OVER w AS quartile,
      PERCENT_RANK() OVER w AS pct_rank,
      CUME_DIST() OVER w AS cume,
      NTH_VALUE(o_totalprice, 2) OVER
        (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS second_price,
      LAST_VALUE(o_totalprice) OVER
        (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        AS final_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ORDER BY o_custkey, o_orderdate, o_orderkey"""

  // ---- q77: calendar gap-fill + forward fill (time-series densify) -----
  // The reference's tables are cumulative time series with missing days
  // (no report → no row); every downstream daily-delta/moving-average
  // query silently skips gaps unless the series is densified. This is
  // the standard resample: per-entity date spine (sequence + explode —
  // generated distributed, one spine row per entity-day, never a
  // calendar × entity cross join), left join of observed days, zero-fill
  // counts, forward-fill the last observation, and an exact running
  // total. Both window frames are per-user running frames over a
  // total-order key; sums run in quantized integer units end to end.
  def q77GapFill(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"),
        sum(toUnits(col("value"))).as("units"))
    val spine = daily.groupBy(col("user_id"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("user_id"),
        explode_outer(sequence(col("d0"), col("d1"),
          expr("interval 1 day"))).as("day"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(daily, Seq("user_id", "day"), "left")
      .select(col("user_id"), col("day"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        (coalesce(last(col("units"), ignoreNulls = true).over(w), lit(0L))
          / 100.0).as("ffill_value"),
        (sum(coalesce(col("units"), lit(0L))).over(w) / 100.0)
          .as("cum_value"))
      .orderBy(col("user_id"), col("day"))
  }

  val q77Sql: String = """
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
        CAST(COUNT(*) AS BIGINT) AS n_events,
        CAST(SUM(CAST(FLOOR(value * 1e2 + 0.5) AS BIGINT)) AS BIGINT)
          AS units
      FROM events GROUP BY 1, 2),
    span AS (
      SELECT user_id, MIN(day) AS d0, MAX(day) AS d1
      FROM daily GROUP BY user_id),
    spine AS (
      SELECT user_id,
        CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
      FROM span),
    joined AS (
      SELECT s.user_id, s.day,
        COALESCE(d.n_events, 0) AS n_events, d.units AS units
      FROM spine s LEFT JOIN daily d
        ON s.user_id = d.user_id AND s.day = d.day)
    SELECT user_id, day, n_events,
      COALESCE(last_value(units IGNORE NULLS) OVER
        (PARTITION BY user_id ORDER BY day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) / 1e2
        AS ffill_value,
      CAST(SUM(COALESCE(units, 0)) OVER
        (PARTITION BY user_id ORDER BY day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) / 1e2
        AS cum_value
    FROM joined ORDER BY user_id, day"""

  // ---- q88: interval join via bin blocking -----------------------------
  // Point-in-interval join (the time-travel/audit primitive: "which
  // shipments were in transit on day X"): lineitem carries an interval
  // [l_shipdate, l_receiptdate], audit days are the month starts the
  // corpus spans. The naive plan is a theta join (containment has no
  // equi-key) — a BroadcastNestedLoopJoin that evaluates n·m interval
  // tests. Bin blocking makes it an EQUI-JOIN: day numbers bucket into
  // width-32 bins, each interval explodes to the bins it covers (TPC-H
  // transit ≤ 30 days → ≤ 2 bins/row; fan-out is 1 + span/32, linear),
  // a point lives in exactly one bin, the join key is the bin, and the
  // exact containment test refines. The audit-day side is tiny and
  // broadcasts, so the corpus side never shuffles AT ALL — at 100 TB
  // this streams lineitem through a broadcast hash join once. The
  // oracle below is the UNBLOCKED theta join, so the exact compare
  // proves the binning drops no pair (same posture as q78's blocking).
  private val binDays = 32

  def q88RangeJoin(s: SparkSession, d: String): DataFrame = {
    val epoch = to_date(lit("1970-01-01"))
    // the corpus has no receipt date; derive a deterministic 1–28 day
    // transit interval from the line number (same arithmetic as the SQL)
    val li = Tables.lineitem(s, d)
      .select(col("l_quantity"),
        col("l_shipdate").cast("date").as("ship_day"),
        expr("date_add(CAST(l_shipdate AS DATE)," +
          " CAST(l_linenumber * 5 % 28 + 1 AS INT))").as("rcpt_day"))
      .withColumn("sd", datediff(col("ship_day"), epoch))
      .withColumn("rd", datediff(col("rcpt_day"), epoch))
    val pts = li
      .select(date_trunc("month", col("ship_day")).cast("date")
        .as("audit_day"))
      .distinct()
      .withColumn("pd", datediff(col("audit_day"), epoch))
      .withColumn("bin", expr(s"pd div $binDays"))
    li.withColumn("bin",
        explode_outer(sequence(expr(s"sd div $binDays"),
          expr(s"rd div $binDays"))))
      .join(broadcast(pts), "bin")
      .filter(col("sd") <= col("pd") && col("pd") <= col("rd"))
      .groupBy(col("audit_day"))
      .agg(count(lit(1)).as("n_in_transit"),
        sum(toUnits(col("l_quantity"))).as("qty_units"))
      .orderBy(col("audit_day"))
  }

  val q88Sql: String = s"""
    WITH li AS (
      SELECT l_quantity, CAST(l_shipdate AS DATE) AS ship_day,
        CAST(l_shipdate AS DATE)
          + CAST(l_linenumber * 5 % 28 + 1 AS INTEGER) AS rcpt_day
      FROM lineitem),
    pts AS (
      SELECT DISTINCT date_trunc('month', ship_day) AS audit_day
      FROM li)
    SELECT audit_day, CAST(COUNT(*) AS BIGINT) AS n_in_transit,
      CAST(SUM(${sqlUnits("l_quantity")}) AS BIGINT) AS qty_units
    FROM li JOIN pts
      ON ship_day <= audit_day AND audit_day <= rcpt_day
    GROUP BY 1 ORDER BY 1"""

  // ---- q89: z-order clustering keys (2-D locality audit) ---------------
  // The Morton key of zOrderKey as an auditable query: orders map to a
  // 12-bit (custkey, order-day) grid, the Morton key interleaves the two
  // coordinates, and per z-range bucket the query reports both
  // dimensions' min/max spans. The z-order locality guarantee is visible
  // in the output: the top 6 bits of z hold 3 bits of EACH coordinate,
  // so every one of the 64 buckets spans ≤ 512 in x AND ≤ 512 in y — a
  // single-column sort bounds only its own column and leaves the other's
  // span at the full 4096 domain. Pure integer shift/mask arithmetic on
  // both engines.

  /** Morton (z-order) key: interleave the low `bits` bits of two
    * non-negative long columns — bit i of x lands at position 2i, bit i
    * of y at 2i+1. Consecutive z values stay close in BOTH dimensions,
    * so sorting by z gives every parquet row group a bounded min/max
    * range on x AND y simultaneously: a two-column predicate prunes
    * groups where a single-column sort only bounds its own column (the
    * other's span per group stays the full domain). Pure shift/mask
    * arithmetic — codegen-friendly, and expressible identically in the
    * DuckDB oracle. */
  private def zOrderKey(x: Column, y: Column, bits: Int = 12): Column =
    (0 until bits).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)

  def q89ZOrderStats(s: SparkSession, d: String): DataFrame = {
    val epoch = to_date(lit("1970-01-01"))
    val grid = Tables.orders(s, d).select(
      (col("o_custkey") % 4096).as("x"),
      (datediff(col("o_orderdate").cast("date"), epoch) % 4096)
        .cast("long").as("y"))
    grid
      .withColumn("z", zOrderKey(col("x"), col("y"), 12))
      .withColumn("zbucket", expr(s"z div ${1 << 18}"))
      .groupBy(col("zbucket"))
      .agg(count(lit(1)).as("n"),
        min(col("x")).as("x_min"), max(col("x")).as("x_max"),
        min(col("y")).as("y_min"), max(col("y")).as("y_max"))
      .select(col("zbucket"), col("n"),
        col("x_min"), col("x_max"), col("y_min"), col("y_max"),
        (col("x_max") - col("x_min")).as("x_span"),
        (col("y_max") - col("y_min")).as("y_span"))
      .orderBy(col("zbucket"))
  }

  val q89Sql: String = s"""
    WITH b AS (
      SELECT CAST(o_custkey % 4096 AS BIGINT) AS x,
        CAST((CAST(o_orderdate AS DATE) - DATE '1970-01-01') % 4096
          AS BIGINT) AS y
      FROM orders),
    z AS (
      SELECT x, y, CAST(list_sum(list_transform(range(0, 12), i ->
        (((x >> i) & 1) << (2 * i)) + (((y >> i) & 1) << (2 * i + 1))))
        AS BIGINT) AS z
      FROM b)
    SELECT z // ${1 << 18} AS zbucket, CAST(COUNT(*) AS BIGINT) AS n,
      MIN(x) AS x_min, MAX(x) AS x_max, MIN(y) AS y_min, MAX(y) AS y_max,
      MAX(x) - MIN(x) AS x_span, MAX(y) - MIN(y) AS y_span
    FROM z GROUP BY 1 ORDER BY 1"""

  // ---- q225: Markov-chain mixing against the empirical mix -------------
  // The convergence check on q170's transition matrix: push the
  // SESSION-START distribution (first event per user) through the learned
  // chain for two steps and compare each step against the corpus's
  // overall event-type mix. A chain whose step-2 distribution is closer
  // to the empirical mix than its start distribution is "mixing" —
  // sessions forget their entry point — while a diverging type marks an
  // absorbing funnel stage. All distribution math is staged integer
  // floor-div ppm (each propagation term is pi(s)·n(s→t) div n(s), then
  // an exact BIGINT sum — the floor compounds identically in both
  // engines by construction). Scale shape: ONE user-keyed window pass
  // collapses the corpus to a narrow (type, next, rn) projection; every
  // later frame is |types|- or |types|²-bounded.
  def q225MarkovMixing(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val seq = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"))
      .withColumn("rn", row_number().over(w))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .select(col("event_type"), col("next_type"), col("rn"))
      .persist() // transitions, firsts, and the empirical mix all read
                 // this narrow projection (caller-unpersist contract)
    val steps = seq.filter(col("next_type").isNotNull)
      .select(col("event_type").as("s_type"), col("next_type").as("t_type"))
      .groupBy(col("s_type"), col("t_type"))
      .agg(count(lit(1)).as("n_st"))
      .persist() // two propagation steps + row totals
    val rowTot = steps.groupBy(col("s_type")).agg(sum(col("n_st")).as("n_s"))
    // One per-type pass serves firsts, n_users, the empirical mix AND its
    // total (r14, guide §2.4): the former shape re-grouped the persisted
    // seq four times (firsts twice — once inside nUsers — plus the global
    // count and the empirical groupBy). n_first = 0 rows now exist for
    // types never seen first; they contribute 0 to every downstream sum
    // and coalesce rendered the same 0 before, so values are unchanged.
    val byType = seq.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_t"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_first"))
      .persist() // |event types| rows; firsts/totals/mix all read it
    val tots = byType.agg(sum(col("n_t")).as("n_tot"),
      sum(col("n_first")).as("n_users"))
    val pi0 = byType.crossJoin(broadcast(tots))
      .select(col("event_type").as("t"),
        expr("n_first * 1000000 div n_users").as("pi"))
    def propagate(pi: DataFrame): DataFrame =
      pi.join(steps, pi("t") === steps("s_type"))
        .join(rowTot, Seq("s_type"))
        .groupBy(col("t_type"))
        .agg(sum(expr("pi * n_st div n_s")).as("pi"))
        .select(col("t_type").as("t"), col("pi"))
    val pi1 = propagate(pi0)
    val pi2 = propagate(pi1)
    val emp = byType.crossJoin(broadcast(tots))
      .select(col("event_type"), expr("n_t * 1000000 div n_tot").as("emp_ppm"))
    emp
      .join(pi0.withColumnRenamed("pi", "pi0_ppm"),
        col("event_type") === pi0("t"), "left").drop("t")
      .join(pi1.withColumnRenamed("pi", "pi1_ppm"),
        col("event_type") === pi1("t"), "left").drop("t")
      .join(pi2.withColumnRenamed("pi", "pi2_ppm"),
        col("event_type") === pi2("t"), "left").drop("t")
      .withColumn("pi0_ppm", coalesce(col("pi0_ppm"), lit(0L)))
      .withColumn("pi1_ppm", coalesce(col("pi1_ppm"), lit(0L)))
      .withColumn("pi2_ppm", coalesce(col("pi2_ppm"), lit(0L)))
      .withColumn("l1_start", abs(col("pi0_ppm") - col("emp_ppm")))
      .withColumn("l1_step2", abs(col("pi2_ppm") - col("emp_ppm")))
      .withColumn("mixing_band",
        when(col("l1_step2") <= col("l1_start"), "mixing")
          .otherwise("diverging"))
      .select(col("event_type"), col("emp_ppm"), col("pi0_ppm"),
        col("pi1_ppm"), col("pi2_ppm"), col("l1_start"), col("l1_step2"),
        col("mixing_band"))
      .orderBy(col("event_type"))
  }

  val q225Sql: String = """
    WITH ev AS (
      SELECT event_type,
        ROW_NUMBER() OVER (PARTITION BY user_id
          ORDER BY ts, event_id) AS rn,
        LEAD(event_type) OVER (PARTITION BY user_id
          ORDER BY ts, event_id) AS next_type
      FROM events),
    steps AS (
      SELECT event_type AS s_type, next_type AS t_type,
        CAST(COUNT(*) AS BIGINT) AS n_st
      FROM ev WHERE next_type IS NOT NULL GROUP BY 1, 2),
    rowtot AS (SELECT s_type, CAST(SUM(n_st) AS BIGINT) AS n_s
               FROM steps GROUP BY 1),
    firsts AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_first
               FROM ev WHERE rn = 1 GROUP BY 1),
    nu AS (SELECT CAST(SUM(n_first) AS BIGINT) AS n_users FROM firsts),
    pi0 AS (
      SELECT event_type AS t,
        CAST(n_first * 1000000 // n_users AS BIGINT) AS pi
      FROM firsts CROSS JOIN nu),
    pi1 AS (
      SELECT t_type AS t, CAST(SUM(pi * n_st // n_s) AS BIGINT) AS pi
      FROM pi0 JOIN steps ON s_type = t JOIN rowtot USING (s_type)
      GROUP BY 1),
    pi2 AS (
      SELECT t_type AS t, CAST(SUM(pi * n_st // n_s) AS BIGINT) AS pi
      FROM pi1 JOIN steps ON s_type = t JOIN rowtot USING (s_type)
      GROUP BY 1),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tot FROM ev),
    emp AS (
      SELECT event_type,
        CAST(COUNT(*) * 1000000 // (SELECT n_tot FROM tot) AS BIGINT)
          AS emp_ppm
      FROM ev GROUP BY 1)
    SELECT e.event_type, emp_ppm,
      COALESCE(p0.pi, 0) AS pi0_ppm, COALESCE(p1.pi, 0) AS pi1_ppm,
      COALESCE(p2.pi, 0) AS pi2_ppm,
      abs(COALESCE(p0.pi, 0) - emp_ppm) AS l1_start,
      abs(COALESCE(p2.pi, 0) - emp_ppm) AS l1_step2,
      CASE WHEN abs(COALESCE(p2.pi, 0) - emp_ppm)
             <= abs(COALESCE(p0.pi, 0) - emp_ppm) THEN 'mixing'
           ELSE 'diverging' END AS mixing_band
    FROM emp e
    LEFT JOIN pi0 p0 ON p0.t = e.event_type
    LEFT JOIN pi1 p1 ON p1.t = e.event_type
    LEFT JOIN pi2 p2 ON p2.t = e.event_type
    ORDER BY e.event_type"""

  // ---- q233: A/B experiment readout ------------------------------------
  // The experiment-analysis read a product pipeline runs nightly: users
  // hash-split into control/treatment (deterministic h60 arm — the q91
  // split convention, so assignment is reproducible and join-free),
  // conversion = reached a 'purchase' event; report per-arm rates, the
  // lift, the two-proportion z² in exact staged-integer ppm (zSqPpm —
  // the q260/q262 form; the raw-z IEEE tree this operator originally
  // emitted is the exact shape the q262 sf0.1 gate caught diverging by
  // one ulp across engines, so the round-12 sweep moved the LAST
  // remaining add-bearing z tree to the staged form) with the lift
  // direction read from an exact integer cross-multiplication, and the
  // sample-ratio-mismatch screen that must be read BEFORE the lift (a
  // biased split invalidates everything downstream — the SRM check is
  // the experiment world's referential integrity). The significance
  // threshold is 1.96² = 3 841 600 ppm; the bounded flooring error of
  // the staged form is absorbed by it (q260's argument). Scale shape:
  // one user-keyed aggregate, then a 2-row arm rollup into a 1-row
  // readout.
  def q233AbReadout(s: SparkSession, d: String): DataFrame = {
    graft.expressions.Hash60.register(s)
    val users = Tables.events(s, d)
      .select(col("user_id"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("p"))
      .groupBy(col("user_id"))
      .agg(max(col("p")).as("converted"))
      .withColumn("arm",
        expr("h60(concat('ab:', cast(user_id as string))) % 2"))
    users.agg(
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_c"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_t"),
        sum(when(col("arm") === 0, col("converted")).otherwise(0L))
          .as("conv_c"),
        sum(when(col("arm") === 1, col("converted")).otherwise(0L))
          .as("conv_t"))
      .withColumn("rate_c_ppm", expr("conv_c * 1000000 div nullif(n_c, 0)"))
      .withColumn("rate_t_ppm", expr("conv_t * 1000000 div nullif(n_t, 0)"))
      .withColumn("lift_ppm", col("rate_t_ppm") - col("rate_c_ppm"))
      .withColumn("z2_ppm", expr(zSqPpm))
      .withColumn("direction", expr(
        "case when z2_ppm is null then 'degenerate'" +
          " when cast(conv_t as decimal(38,0)) * n_c" +
          "   > cast(conv_c as decimal(38,0)) * n_t then 't_up'" +
          " when cast(conv_t as decimal(38,0)) * n_c" +
          "   < cast(conv_c as decimal(38,0)) * n_t then 't_down'" +
          " else 'flat' end"))
      .withColumn("srm_ppm", expr(
        "case when n_c + n_t = 0 then null" +
          " else abs(n_c - n_t) * 1000000 div (n_c + n_t) end"))
      .withColumn("verdict",
        when(col("srm_ppm").isNull, "no_data")
          .when(col("srm_ppm") > 20000L, "srm_invalid")
          .when(col("z2_ppm").isNull, "degenerate")
          .when(col("z2_ppm") >= 3841600L && col("direction") === "t_up",
            "significant_lift")
          .when(col("z2_ppm") >= 3841600L && col("direction") === "t_down",
            "significant_drop")
          .otherwise("inconclusive"))
      .select(col("n_c"), col("n_t"), col("conv_c"), col("conv_t"),
        col("rate_c_ppm"), col("rate_t_ppm"), col("lift_ppm"),
        col("z2_ppm"), col("direction"), col("srm_ppm"), col("verdict"))
  }

  val q233Sql: String = s"""
    WITH users AS (
      SELECT user_id,
        MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
          AS converted,
        CAST('0x' || substring(md5('ab:' || CAST(user_id AS VARCHAR)),
          1, 15) AS BIGINT) % 2 AS arm
      FROM events GROUP BY user_id),
    agg AS (
      SELECT
        CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
        CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
        CAST(SUM(CASE WHEN arm = 0 THEN converted ELSE 0 END) AS BIGINT)
          AS conv_c,
        CAST(SUM(CASE WHEN arm = 1 THEN converted ELSE 0 END) AS BIGINT)
          AS conv_t
      FROM users)
    SELECT n_c, n_t, conv_c, conv_t,
      CAST(conv_c * 1000000 // nullif(n_c, 0) AS BIGINT) AS rate_c_ppm,
      CAST(conv_t * 1000000 // nullif(n_t, 0) AS BIGINT) AS rate_t_ppm,
      CAST(conv_t * 1000000 // nullif(n_t, 0)
        - conv_c * 1000000 // nullif(n_c, 0) AS BIGINT) AS lift_ppm,
      z2_ppm, direction, srm_ppm,
      CASE WHEN srm_ppm IS NULL THEN 'no_data'
           WHEN srm_ppm > 20000 THEN 'srm_invalid'
           WHEN z2_ppm IS NULL THEN 'degenerate'
           WHEN z2_ppm >= 3841600 AND direction = 't_up'
             THEN 'significant_lift'
           WHEN z2_ppm >= 3841600 AND direction = 't_down'
             THEN 'significant_drop'
           ELSE 'inconclusive' END AS verdict
    FROM (
      SELECT *,
        CASE WHEN z2_ppm IS NULL THEN 'degenerate'
             WHEN CAST(conv_t AS HUGEINT) * n_c
               > CAST(conv_c AS HUGEINT) * n_t THEN 't_up'
             WHEN CAST(conv_t AS HUGEINT) * n_c
               < CAST(conv_c AS HUGEINT) * n_t THEN 't_down'
             ELSE 'flat' END AS direction,
        CASE WHEN n_c + n_t = 0 THEN NULL
             ELSE CAST(abs(n_c - n_t) * 1000000 // (n_c + n_t) AS BIGINT)
             END AS srm_ppm
      FROM (
        SELECT *, $zSqSql AS z2_ppm
        FROM agg) z0) z1"""

  // ---- q235: cohort retention matrix ------------------------------------
  // The classic retention triangle product analytics reads weekly: users
  // cohorted by first-activity week, each later week's actives as a ppm
  // share of the cohort — q63's daily retention generalized to the full
  // (cohort, offset) grid, and the raw input q234's survival curve
  // summarizes. Scale shape: ONE (user, week) distinct collapse, the
  // per-user cohort derived from that same frame (no second corpus
  // scan), then a |weeks|²-bounded matrix aggregate.
  def q235RetentionMatrix(s: SparkSession, d: String): DataFrame = {
    val uw = Tables.events(s, d)
      .select(col("user_id"),
        expr("datediff(to_date(ts), date '1970-01-01') div 7").as("wk"))
      .distinct()
      .persist() // cohorts and the matrix share this bounded frame
    val cohorts = uw.groupBy(col("user_id")).agg(min(col("wk")).as("c0"))
    val sizes = cohorts.groupBy(col("c0"))
      .agg(count(lit(1)).as("cohort_users"))
    uw.join(cohorts, Seq("user_id"))
      .groupBy(col("c0"), (col("wk") - col("c0")).as("offset_w"))
      .agg(count(lit(1)).as("n_active"))
      .join(broadcast(sizes), Seq("c0"))
      .withColumn("retention_ppm",
        expr("n_active * 1000000 div cohort_users"))
      .select(col("c0").as("cohort_week"), col("offset_w"),
        col("cohort_users"), col("n_active"), col("retention_ppm"))
      .orderBy(col("cohort_week"), col("offset_w"))
  }

  val q235Sql: String = """
    WITH uw AS (
      SELECT DISTINCT user_id,
        CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) // 7 AS wk
      FROM events),
    cohorts AS (SELECT user_id, MIN(wk) AS c0 FROM uw GROUP BY 1),
    sizes AS (SELECT c0, CAST(COUNT(*) AS BIGINT) AS cohort_users
              FROM cohorts GROUP BY 1),
    m AS (
      SELECT c0, wk - c0 AS offset_w, CAST(COUNT(*) AS BIGINT) AS n_active
      FROM uw JOIN cohorts USING (user_id)
      GROUP BY 1, 2)
    SELECT c0 AS cohort_week, offset_w, cohort_users, n_active,
      CAST(n_active * 1000000 // cohort_users AS BIGINT) AS retention_ppm
    FROM m JOIN sizes USING (c0)
    ORDER BY cohort_week, offset_w"""

  // ---- q236: DAU/MAU stickiness ------------------------------------------
  // The engagement ratio product dashboards lead with: per day, distinct
  // daily actives over distinct trailing-28-day actives — q121's rolling
  // 7-day machinery widened to the monthly window and read as a ratio.
  // Exact (no sketch): the (user, day) distinct frame explodes over the
  // 28 trailing-day offsets MAP-SIDE and re-distincts per target day —
  // bounded by 28·|user-days|, the documented exact-path trade q208's
  // sketch route exists to beat at extreme scale. Warmup days (without
  // a full 28-day history behind them) are flagged, not silently wrong.
  def q236Stickiness(s: SparkSession, d: String): DataFrame = {
    val ud = Tables.events(s, d)
      .select(col("user_id"),
        expr("datediff(to_date(ts), date '1970-01-01')").as("di"))
      .distinct()
      .persist() // dau, the exploded mau frame, and min-day share it
    val dau = ud.groupBy(col("di")).agg(count(lit(1)).as("dau"))
    val mau = ud
      .crossJoin(broadcast(
        s.range(0, 28).select(col("id").as("off"))))
      .select(col("user_id"), (col("di") + col("off")).as("di"))
      .distinct()
      .join(dau.select(col("di")), Seq("di"), "left_semi")
      .groupBy(col("di")).agg(count(lit(1)).as("mau"))
    val d0 = ud.agg(min(col("di")).as("min_di"))
    dau.join(mau, Seq("di"))
      .crossJoin(broadcast(d0))
      .withColumn("stickiness_ppm", expr("dau * 1000000 div mau"))
      .withColumn("band",
        when(col("di") < col("min_di") + 27, "warmup")
          .when(col("stickiness_ppm") >= 500000L, "daily_habit")
          .when(col("stickiness_ppm") >= 200000L, "weekly_habit")
          .otherwise("casual"))
      .select(expr("date_add(date '1970-01-01', cast(di as int))")
        .as("day"), col("dau"), col("mau"), col("stickiness_ppm"),
        col("band"))
      .orderBy(col("day"))
  }

  val q236Sql: String = """
    WITH ud AS (
      SELECT DISTINCT user_id,
        CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS di
      FROM events),
    dau AS (SELECT di, CAST(COUNT(*) AS BIGINT) AS dau FROM ud GROUP BY 1),
    mau AS (
      SELECT di, CAST(COUNT(*) AS BIGINT) AS mau FROM (
        SELECT DISTINCT user_id, ud.di + off.o AS di
        FROM ud CROSS JOIN (SELECT unnest(generate_series(0, 27)) AS o)
          off)
      WHERE di IN (SELECT di FROM dau)
      GROUP BY di),
    d0 AS (SELECT MIN(di) AS min_di FROM ud)
    SELECT DATE '1970-01-01' + CAST(di AS INTEGER) AS day, dau, mau,
      CAST(dau * 1000000 // mau AS BIGINT) AS stickiness_ppm,
      CASE WHEN di < min_di + 27 THEN 'warmup'
           WHEN dau * 1000000 // mau >= 500000 THEN 'daily_habit'
           WHEN dau * 1000000 // mau >= 200000 THEN 'weekly_habit'
           ELSE 'casual' END AS band
    FROM dau JOIN mau USING (di) CROSS JOIN d0
    ORDER BY day"""

  // ---- q237: experiment power / minimum detectable effect ---------------
  // The design-side companion q233's readout needs: given the split's
  // realized sample sizes and pooled conversion rate, the minimum
  // detectable absolute lift at 80% power / 5% two-sided significance —
  // MDE = (z_{α/2} + z_β)·sqrt(p̄(1−p̄)·(1/n_c + 1/n_t)) — and whether
  // the observed |lift| clears it. An "inconclusive" q233 readout whose
  // |lift| is far below the MDE is an underpowered EXPERIMENT, not a
  // null result; this is the operator that tells those apart.
  //
  // Exactness (round-12 sweep): the original one-IEEE-tree MDE was the
  // same add-bearing double shape as the raw z the q262 gate caught
  // diverging one ulp cross-engine — and here floor(·1e6 + 0.5)
  // AMPLIFIES an ulp into a full ppm unit. Staged-integer instead:
  // with K = z_{α/2}+z_β = 2.801585 exactly (ppm 2 801 585, squared
  // 7 848 878 512 225), mde_ppm = round(√(K²·C·(N−C)/(N·n_c·n_t)·1e12))
  // computes as (g + isqrt(4·K²ppm²·C·(N−C)·g² div (N·n_c·n_t)))
  // div (2g) — the q250 ±1-corrected integer sqrt with guard scale
  // g = 1000 below N = 1e9 (fits decimal(38,0): ≤ 7.9e36) and g = 1
  // beyond. The g = 1 numerator 7 848 878 512 225·C·(N−C)·4 peaks at
  // C = N/2 as ~7.85e12·N², which crosses Decimal(38,0)'s 1e38 ceiling
  // at N ≈ 3.57e12 while DuckDB HUGEINT (1.7e38) still carries it — so
  // the domain is GUARDED, not just documented: both engines return
  // NULL ('degenerate') above N = 3.5e12, keeping engine and oracle
  // bit-identical at the boundary instead of diverging via Spark's
  // silent overflow-to-NULL. Deterministic by construction in both
  // engines; the radicand flooring perturbs the result only within the
  // q250-style milli bound, and the power_band compare is integer ppm
  // vs integer ppm. Scale shape: the same one user-keyed aggregate as
  // q233 into a 1-row readout.
  def q237PowerMde(s: SparkSession, d: String): DataFrame = {
    graft.expressions.Hash60.register(s)
    Tables.events(s, d)
      .select(col("user_id"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("p"))
      .groupBy(col("user_id"))
      .agg(max(col("p")).as("converted"))
      .withColumn("arm",
        expr("h60(concat('ab:', cast(user_id as string))) % 2"))
      .agg(sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_c"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_t"),
        sum(col("converted")).as("conv_all"),
        sum(when(col("arm") === 1, col("converted")).otherwise(0L))
          .as("conv_t"),
        sum(when(col("arm") === 0, col("converted")).otherwise(0L))
          .as("conv_c"))
      .withColumn("pooled_ppm",
        expr("conv_all * 1000000 div nullif(n_c + n_t, 0)"))
      .withColumn("m_g", expr(
        "case when n_c + n_t <= 1000000000 then 1000 else 1 end"))
      .withColumn("m_x", expr(
        "case when n_c = 0 or n_t = 0 or conv_all = 0" +
          " or conv_all = n_c + n_t" +
          " or n_c + n_t > 3500000000000 then null else" +
          " cast(7848878512225 as decimal(38,0)) * conv_all" +
          " * (n_c + n_t - conv_all) * 4 * m_g * m_g" +
          " div (cast(n_c + n_t as decimal(38,0)) * n_c * n_t) end"))
      .withColumn("m_s0", expr(
        "cast(floor(sqrt(cast(m_x as double))) as decimal(38,0))"))
      .withColumn("m_s", expr(
        "case when (m_s0 + 1) * (m_s0 + 1) <= m_x then m_s0 + 1" +
          " when m_s0 * m_s0 > m_x then m_s0 - 1 else m_s0 end"))
      .withColumn("mde_ppm", expr(
        "cast((m_g + m_s) div (2 * m_g) as bigint)"))
      .withColumn("lift_abs_ppm", expr(
        "case when n_c = 0 or n_t = 0 then null else" +
          " abs(conv_t * 1000000 div n_t - conv_c * 1000000 div n_c)" +
          " end"))
      .withColumn("power_band",
        when(col("mde_ppm").isNull, "degenerate")
          .when(col("lift_abs_ppm") >= col("mde_ppm"), "detectable")
          .otherwise("underpowered"))
      .select(col("n_c"), col("n_t"), col("pooled_ppm"), col("mde_ppm"),
        col("lift_abs_ppm"), col("power_band"))
  }

  val q237Sql: String = """
    WITH users AS (
      SELECT user_id,
        MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
          AS converted,
        CAST('0x' || substring(md5('ab:' || CAST(user_id AS VARCHAR)),
          1, 15) AS BIGINT) % 2 AS arm
      FROM events GROUP BY user_id),
    agg AS (
      SELECT
        CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
        CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
        CAST(SUM(converted) AS BIGINT) AS conv_all,
        CAST(SUM(CASE WHEN arm = 1 THEN converted ELSE 0 END) AS BIGINT)
          AS conv_t,
        CAST(SUM(CASE WHEN arm = 0 THEN converted ELSE 0 END) AS BIGINT)
          AS conv_c
      FROM users),
    st AS (
      SELECT *, CASE WHEN n_c + n_t <= 1000000000 THEN 1000 ELSE 1 END
        AS m_g
      FROM agg),
    mx AS (
      SELECT *,
        CASE WHEN n_c = 0 OR n_t = 0 OR conv_all = 0
               OR conv_all = n_c + n_t
               OR n_c + n_t > 3500000000000 THEN NULL ELSE
          CAST(7848878512225 AS HUGEINT) * conv_all
            * (n_c + n_t - conv_all) * 4 * m_g * m_g
            // (CAST(n_c + n_t AS HUGEINT) * n_c * n_t) END AS m_x
      FROM st),
    s0 AS (
      SELECT *, CAST(FLOOR(SQRT(CAST(m_x AS DOUBLE))) AS HUGEINT) AS m_s0
      FROM mx),
    sq AS (
      SELECT *, CASE WHEN (m_s0 + 1) * (m_s0 + 1) <= m_x THEN m_s0 + 1
                     WHEN m_s0 * m_s0 > m_x THEN m_s0 - 1
                     ELSE m_s0 END AS m_s
      FROM s0)
    SELECT n_c, n_t,
      CAST(conv_all * 1000000 // nullif(n_c + n_t, 0) AS BIGINT)
        AS pooled_ppm,
      CAST((m_g + m_s) // (2 * m_g) AS BIGINT) AS mde_ppm,
      CASE WHEN n_c = 0 OR n_t = 0 THEN NULL ELSE
        abs(conv_t * 1000000 // n_t - conv_c * 1000000 // n_c) END
        AS lift_abs_ppm,
      CASE WHEN n_c IS NULL OR n_c = 0 OR n_t = 0 OR conv_all = 0
             OR conv_all = n_c + n_t
             OR n_c + n_t > 3500000000000 THEN 'degenerate'
           WHEN abs(conv_t * 1000000 // n_t - conv_c * 1000000 // n_c)
             >= CAST((m_g + m_s) // (2 * m_g) AS BIGINT)
             THEN 'detectable'
           ELSE 'underpowered' END AS power_band
    FROM sq"""

  // ---- q248: session-level event-type co-occurrence lift ----------------
  // Market-basket association, lifted from orders (q196) to BEHAVIOR:
  // within a session (q180's 30-min-gap convention), which event types
  // co-occur beyond what their individual prevalences predict? For each
  // unordered type pair: support (sessions containing both), lift
  // N·c_ab/(c_a·c_b) and Jaccard c_ab/(c_a + c_b − c_ab), both in exact
  // ppm. Lift ≫ 1e6 marks a behavioral bundle (error→purchase says the
  // checkout is throwing); lift ≪ 1e6 marks mutually exclusive modes —
  // the structure a funnel (q65/q210) assumes rather than measures.
  //
  // Exactness: N·c_ab and c_a·c_b accumulate on Decimal(38,0) <->
  // HUGEINT; both floor-divs have nonnegative operands.
  //
  // Scale shape: ONE user_id shuffle drives the q180 lag/running-sum
  // windows; distinct types collapse per (user, session) — ≤|types|
  // rows each; the pair generator is an equi self-join ON the session
  // key with per-session fan-out ≤|types|², never corpus². Marginals
  // ride the same distinct frame (persisted — three consumers); the
  // 1-row session total attaches via explicit broadcast.
  def q248EventLift(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val st = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"), expr("unix_micros(ts)").as("us"))
      .withColumn("gap_s",
        expr("(us - lag(us, 1) over (partition by user_id" +
          " order by ts, event_id)) div 1000000"))
      .withColumn("is_start",
        when(col("gap_s").isNull || col("gap_s") >= 1800L, 1L)
          .otherwise(0L))
      .withColumn("session", sum(col("is_start")).over(w))
      .select(col("user_id"), col("session"), col("event_type"))
      .distinct()
      .persist() // pair join (both sides) + marginals + total share it
    val total = st.select(col("user_id"), col("session")).distinct()
      .agg(count(lit(1)).as("n_sessions"))
    val marg = st.groupBy(col("event_type"))
      .agg(count(lit(1)).as("c")) // sessions containing the type
    val pairs = st.as("a")
      .join(st.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.session") === col("b.session") &&
          col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"),
        col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("c_ab"))
    pairs
      .join(broadcast(marg.select(col("event_type").as("type_a"),
        col("c").as("c_a"))), Seq("type_a"))
      .join(broadcast(marg.select(col("event_type").as("type_b"),
        col("c").as("c_b"))), Seq("type_b"))
      .crossJoin(broadcast(total))
      .withColumn("lift_ppm", expr(
        "cast(cast(n_sessions as decimal(38,0)) * c_ab * 1000000" +
          " div (cast(c_a as decimal(38,0)) * c_b) as bigint)"))
      .withColumn("jaccard_ppm", expr(
        "cast(cast(c_ab as decimal(38,0)) * 1000000" +
          " div (c_a + c_b - c_ab) as bigint)"))
      .select(col("type_a"), col("type_b"), col("c_ab"), col("c_a"),
        col("c_b"), col("lift_ppm"), col("jaccard_ppm"))
      .orderBy(col("type_a"), col("type_b"))
  }

  val q248Sql: String = """
    WITH seq AS (
      SELECT user_id, ts, event_id, event_type,
        (epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id
          ORDER BY ts, event_id)) // 1000000 AS gap_s
      FROM events),
    numbered AS (
      SELECT user_id, event_type,
        SUM(CASE WHEN gap_s IS NULL OR gap_s >= 1800 THEN 1 ELSE 0 END)
          OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session
      FROM seq),
    st AS (SELECT DISTINCT user_id, session, event_type FROM numbered),
    total AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions
      FROM (SELECT DISTINCT user_id, session FROM st)),
    marg AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS c
      FROM st GROUP BY 1),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
        CAST(COUNT(*) AS BIGINT) AS c_ab
      FROM st a JOIN st b ON a.user_id = b.user_id
        AND a.session = b.session AND a.event_type < b.event_type
      GROUP BY 1, 2)
    SELECT type_a, type_b, c_ab, ma.c AS c_a, mb.c AS c_b,
      CAST(CAST(n_sessions AS HUGEINT) * c_ab * 1000000
        // (CAST(ma.c AS HUGEINT) * mb.c) AS BIGINT) AS lift_ppm,
      CAST(CAST(c_ab AS HUGEINT) * 1000000
        // (ma.c + mb.c - c_ab) AS BIGINT) AS jaccard_ppm
    FROM pairs
    JOIN marg ma ON ma.event_type = type_a
    JOIN marg mb ON mb.event_type = type_b
    CROSS JOIN total
    ORDER BY type_a, type_b"""

  // ---- q251: CUPED-adjusted experiment readout --------------------------
  // The variance-reduction workhorse of every mature experiment
  // platform: q233 reads the A/B lift raw; CUPED (Controlled experiments
  // Using Pre-Experiment Data) regresses each user's in-experiment
  // metric y on their PRE-period covariate x and reads the lift on the
  // residual y − θ(x − x̄) instead — same expectation, variance shrunk
  // by ρ²(x,y). Here: per-user event value summed before/after the
  // series midpoint (cut = lo + (hi−lo)/2 in epoch micros — an exact
  // integer both engines derive identically), arms by the q233 'ab:'
  // h60 split so this IS the same experiment re-read. Reported: arm
  // sizes, θ in exact sign-split micro units, the raw and the
  // CUPED-adjusted lift (cents, fixed IEEE trees over exact integer
  // sums), and ρ² = the variance-reduction factor — the number that
  // says how much experiment runtime the covariate buys.
  //
  // Exactness: all sums/co-moments are exact Decimal(38,0) ↔ HUGEINT
  // on element-wise-quantized cents; θ_micro is the q231 sign-split
  // staged floor-div; every double is a fixed IEEE tree on identical
  // integers; every division NULL-guarded (degenerate covariate → NULL
  // adj, never NaN). Scale shape: one 1-row min/max attach, ONE
  // user-keyed aggregate, then a 1-row readout — q233's shape plus one
  // broadcast scalar.
  def q251CupedReadout(s: SparkSession, d: String): DataFrame = {
    graft.expressions.Hash60.register(s)
    val b = Tables.events(s, d).agg(
      min(expr("unix_micros(ts)")).as("lo"),
      max(expr("unix_micros(ts)")).as("hi"))
    val users = Tables.events(s, d)
      .crossJoin(broadcast(b))
      .withColumn("cut", expr("lo + (hi - lo) div 2"))
      .select(col("user_id"),
        when(expr("unix_micros(ts)") < col("cut"),
          toUnits(col("value"))).otherwise(0L).as("xv"),
        when(expr("unix_micros(ts)") >= col("cut"),
          toUnits(col("value"))).otherwise(0L).as("yv"))
      .groupBy(col("user_id"))
      .agg(sum(col("xv")).as("x"), sum(col("yv")).as("y"))
      .withColumn("arm",
        expr("h60(concat('ab:', cast(user_id as string))) % 2"))
    users.agg(
        count(lit(1)).as("n"),
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_c"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_t"),
        sum(when(col("arm") === 0, col("x")).otherwise(0L)).as("sxc"),
        sum(when(col("arm") === 1, col("x")).otherwise(0L)).as("sxt"),
        sum(when(col("arm") === 0, col("y")).otherwise(0L)).as("syc"),
        sum(when(col("arm") === 1, col("y")).otherwise(0L)).as("syt"),
        sum(expr("cast(x as decimal(38,0)) * y")).as("sxy"),
        sum(expr("cast(x as decimal(38,0)) * x")).as("sxx"),
        sum(expr("cast(y as decimal(38,0)) * y")).as("syy"))
      .withColumn("num", expr(
        "n * sxy - (cast(sxc as decimal(38,0)) + sxt)" +
          " * (cast(syc as decimal(38,0)) + syt)"))
      .withColumn("den", expr(
        "n * sxx - (cast(sxc as decimal(38,0)) + sxt)" +
          " * (cast(sxc as decimal(38,0)) + sxt)"))
      .withColumn("vy", expr(
        "n * syy - (cast(syc as decimal(38,0)) + syt)" +
          " * (cast(syc as decimal(38,0)) + syt)"))
      .withColumn("theta_micro", expr(
        "case when den is null or den <= 0 then null" +
          " when num >= 0 then cast(num * 1000000 div den as bigint)" +
          " else -cast((-num) * 1000000 div den as bigint) end"))
      .withColumn("raw_lift_cents", expr(
        "case when n_c = 0 or n_t = 0 then null" +
          " else cast(syt as double) / n_t - cast(syc as double) / n_c" +
          " end"))
      .withColumn("adj_lift_cents", expr(
        "case when n_c = 0 or n_t = 0 or den is null or den <= 0" +
          " then null else" +
          " (cast(syt as double) / n_t - cast(syc as double) / n_c)" +
          " - (cast(num as double) / cast(den as double))" +
          " * (cast(sxt as double) / n_t - cast(sxc as double) / n_c)" +
          " end"))
      .withColumn("var_reduction", expr(
        "case when den is null or den <= 0 or vy is null or vy <= 0" +
          " then null else" +
          " (cast(num as double) * cast(num as double))" +
          " / (cast(den as double) * cast(vy as double)) end"))
      .withColumn("covariate_band",
        when(col("var_reduction").isNull, "degenerate")
          .when(col("var_reduction") >= 0.5, "strong_covariate")
          .when(col("var_reduction") >= 0.1, "useful_covariate")
          .otherwise("weak_covariate"))
      .select(col("n_c"), col("n_t"), col("theta_micro"),
        col("raw_lift_cents"), col("adj_lift_cents"),
        col("var_reduction"), col("covariate_band"))
  }

  val q251Sql: String = s"""
    WITH b AS (
      SELECT MIN(epoch_us(ts)) AS lo, MAX(epoch_us(ts)) AS hi FROM events),
    ev AS (
      SELECT user_id,
        CASE WHEN epoch_us(ts) < lo + (hi - lo) // 2
          THEN ${Fx.sqlUnits("value")} ELSE 0 END AS xv,
        CASE WHEN epoch_us(ts) >= lo + (hi - lo) // 2
          THEN ${Fx.sqlUnits("value")} ELSE 0 END AS yv
      FROM events CROSS JOIN b),
    users AS (
      SELECT user_id, CAST(SUM(xv) AS BIGINT) AS x,
        CAST(SUM(yv) AS BIGINT) AS y,
        CAST('0x' || substring(md5('ab:' || CAST(user_id AS VARCHAR)),
          1, 15) AS BIGINT) % 2 AS arm
      FROM ev GROUP BY user_id),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
        CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
        CAST(SUM(CASE WHEN arm = 0 THEN x ELSE 0 END) AS BIGINT) AS sxc,
        CAST(SUM(CASE WHEN arm = 1 THEN x ELSE 0 END) AS BIGINT) AS sxt,
        CAST(SUM(CASE WHEN arm = 0 THEN y ELSE 0 END) AS BIGINT) AS syc,
        CAST(SUM(CASE WHEN arm = 1 THEN y ELSE 0 END) AS BIGINT) AS syt,
        SUM(CAST(x AS HUGEINT) * y) AS sxy,
        SUM(CAST(x AS HUGEINT) * x) AS sxx,
        SUM(CAST(y AS HUGEINT) * y) AS syy
      FROM users),
    m AS (
      SELECT *,
        n * sxy - (CAST(sxc AS HUGEINT) + sxt)
          * (CAST(syc AS HUGEINT) + syt) AS num,
        n * sxx - (CAST(sxc AS HUGEINT) + sxt)
          * (CAST(sxc AS HUGEINT) + sxt) AS den,
        n * syy - (CAST(syc AS HUGEINT) + syt)
          * (CAST(syc AS HUGEINT) + syt) AS vy
      FROM agg)
    SELECT n_c, n_t,
      CASE WHEN den IS NULL OR den <= 0 THEN NULL
           WHEN num >= 0 THEN CAST(num * 1000000 // den AS BIGINT)
           ELSE -CAST((-num) * 1000000 // den AS BIGINT) END AS theta_micro,
      CASE WHEN n_c = 0 OR n_t = 0 THEN NULL
           ELSE CAST(syt AS DOUBLE) / n_t - CAST(syc AS DOUBLE) / n_c
           END AS raw_lift_cents,
      CASE WHEN n_c = 0 OR n_t = 0 OR den IS NULL OR den <= 0 THEN NULL
           ELSE (CAST(syt AS DOUBLE) / n_t - CAST(syc AS DOUBLE) / n_c)
             - (CAST(num AS DOUBLE) / CAST(den AS DOUBLE))
             * (CAST(sxt AS DOUBLE) / n_t - CAST(sxc AS DOUBLE) / n_c)
           END AS adj_lift_cents,
      CASE WHEN den IS NULL OR den <= 0 OR vy IS NULL OR vy <= 0
           THEN NULL
           ELSE (CAST(num AS DOUBLE) * CAST(num AS DOUBLE))
             / (CAST(den AS DOUBLE) * CAST(vy AS DOUBLE))
           END AS var_reduction,
      CASE WHEN den IS NULL OR den <= 0 OR vy IS NULL OR vy <= 0
             THEN 'degenerate'
           WHEN (CAST(num AS DOUBLE) * CAST(num AS DOUBLE))
             / (CAST(den AS DOUBLE) * CAST(vy AS DOUBLE)) >= 0.5
             THEN 'strong_covariate'
           WHEN (CAST(num AS DOUBLE) * CAST(num AS DOUBLE))
             / (CAST(den AS DOUBLE) * CAST(vy AS DOUBLE)) >= 0.1
             THEN 'useful_covariate'
           ELSE 'weak_covariate' END AS covariate_band
    FROM m"""

  /** Exact-integer square of the two-proportion z statistic, in ppm —
    * z²·1e6 = floor(diff²·N·1e6 / (n_c·n_t·C·(N−C))) with
    * diff = conv_t·n_c − conv_c·n_t. The q262 gate run caught the raw-z
    * IEEE tree diverging by one ulp between engines (FMA contraction on
    * one side) — this staged integer form is deterministic BY
    * CONSTRUCTION in both engines, and since round 13 it is EXACT, not
    * merely bounded: with D1 = n_c·n_t, q = diff² div D1,
    * r = diff² mod D1 and M = N·1e6,
    *   floor(diff²·M / D1) = q·M + floor(r·M / D1)      (q·M integral)
    *   floor(X / (D1·D2))  = floor(floor(X / D1) / D2)  (nested-floor id)
    * so (q·M + r·M div D1) div D2 IS the exact floor, with every
    * intermediate ≤ ~6.3e34 — inside Decimal(38,0) ↔ HUGEINT for
    * N ≤ 6e9 users (diff² ≤ N⁴/16 < 1e38 bounds the domain, same as the
    * previous single-floor form; the advisor-flagged 1e6·N/(C·(N−C))-ppm
    * flooring amplification is gone entirely).
    * NULL on the degenerate inputs (empty arm, all-or-none conversion). */
  private def zSqPpm: String = {
    val diff = "(cast(conv_t as decimal(38,0)) * n_c" +
      " - cast(conv_c as decimal(38,0)) * n_t)"
    val d1 = "(cast(n_c as decimal(38,0)) * n_t)"
    val d2 = "(cast(conv_c + conv_t as decimal(38,0))" +
      " * (n_c + n_t - conv_c - conv_t))"
    "case when n_c = 0 or n_t = 0" +
      " or conv_c + conv_t = 0 or conv_c + conv_t = n_c + n_t" +
      " then null else" +
      s" cast((cast($diff * $diff div $d1 as decimal(38,0))" +
      "     * (n_c + n_t) * 1000000" +
      s"   + cast($diff * $diff % $d1 as decimal(38,0))" +
      s"     * (n_c + n_t) * 1000000 div $d1)" +
      s"   div $d2 as bigint) end"
  }

  /** DuckDB twin of [[zSqPpm]] — identical exact staging on HUGEINT. */
  private def zSqSql: String = {
    val diff = "(CAST(conv_t AS HUGEINT) * n_c" +
      " - CAST(conv_c AS HUGEINT) * n_t)"
    val d1 = "(CAST(n_c AS HUGEINT) * n_t)"
    val d2 = "(CAST(conv_c + conv_t AS HUGEINT)" +
      " * (n_c + n_t - conv_c - conv_t))"
    s"""CASE WHEN n_c = 0 OR n_t = 0
               OR conv_c + conv_t = 0 OR conv_c + conv_t = n_c + n_t
             THEN NULL ELSE
          CAST(($diff * $diff // $d1
              * (n_c + n_t) * 1000000
            + $diff * $diff % $d1
              * (n_c + n_t) * 1000000 // $d1)
            // $d2 AS BIGINT) END"""
  }

  // ---- q260: A/A calibration sweep (null-lift distribution) -------------
  // The sanity check an experiment platform runs BEFORE trusting q233:
  // 16 independent A/A splits (salted h60 hashes over the same users,
  // no treatment anywhere), each read out as the two-proportion z² in
  // exact staged-integer ppm (zSqPpm) — the false-positive count at
  // z² ≥ 1.96² calibrates the whole readout stack (expected ~5%; a hot
  // streak means the hash is correlated with the metric or the readout
  // is wrong). Deterministic by construction: salt k is part of the
  // hash input, so the sweep is reproducible run-over-run.
  //
  // Exactness: counts exact; z² is the staged integer form — zero IEEE
  // ops (the raw-z tree measurably differs by one ulp across engines).
  // Scale shape: ONE user-keyed aggregate, then the 16-salt spine
  // broadcasts onto the |users|-row frame and collapses map-side to 32
  // (salt, arm) rows.
  def q260AaCalibration(s: SparkSession, d: String): DataFrame = {
    graft.expressions.Hash60.register(s)
    val users = Tables.events(s, d)
      .select(col("user_id"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("p"))
      .groupBy(col("user_id"))
      .agg(max(col("p")).as("converted"))
    val salts = s.range(0, 16).select(col("id").as("salt"))
    users.crossJoin(broadcast(salts))
      .withColumn("arm", expr(
        "h60(concat('aa', cast(salt as string), ':'," +
          " cast(user_id as string))) % 2"))
      .groupBy(col("salt"))
      .agg(sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_c"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_t"),
        sum(when(col("arm") === 0, col("converted")).otherwise(0L))
          .as("conv_c"),
        sum(when(col("arm") === 1, col("converted")).otherwise(0L))
          .as("conv_t"))
      .withColumn("z2_ppm", expr(zSqPpm))
      .withColumn("false_positive",
        coalesce(col("z2_ppm") >= 3841600L, lit(false)))
      .select(col("salt"), col("n_c"), col("n_t"), col("conv_c"),
        col("conv_t"), col("z2_ppm"), col("false_positive"))
      .orderBy(col("salt"))
  }

  val q260Sql: String = s"""
    WITH users AS (
      SELECT user_id,
        MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
          AS converted
      FROM events GROUP BY user_id),
    salts AS (SELECT CAST(unnest(range(0, 16)) AS BIGINT) AS salt),
    armed AS (
      SELECT salt,
        CAST('0x' || substring(md5('aa' || CAST(salt AS VARCHAR) || ':'
          || CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) % 2 AS arm,
        converted
      FROM users CROSS JOIN salts),
    agg AS (
      SELECT salt,
        CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
        CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
        CAST(SUM(CASE WHEN arm = 0 THEN converted ELSE 0 END) AS BIGINT)
          AS conv_c,
        CAST(SUM(CASE WHEN arm = 1 THEN converted ELSE 0 END) AS BIGINT)
          AS conv_t
      FROM armed GROUP BY 1),
    z AS (
      SELECT *, $zSqSql AS z2_ppm
      FROM agg)
    SELECT salt, n_c, n_t, conv_c, conv_t, z2_ppm,
      COALESCE(z2_ppm >= 3841600, false) AS false_positive
    FROM z ORDER BY salt"""

  // ---- q262: sequential-peeking audit of the A/B readout ----------------
  // WHY experiment platforms gate on fixed horizons: replay q233's
  // experiment day by day (users enter at their first event, convert at
  // their first purchase) and compute the cumulative z after every day.
  // Every pre-final day with |z| ≥ 1.96 is a day a "peeking" analyst
  // would have shipped a result the final readout may not support —
  // the uncorrected sequential testing problem, made visible as a
  // per-day ledger with the early crossings flagged.
  //
  // Exactness: cumulative counts are exact integers; z² is the staged-
  // integer ppm form (zSqPpm) per day, shared with q233/q260 since the
  // round-12 sweep. Scale shape: ONE user-keyed aggregate
  // (entry day, conversion day, arm), two tagged delta ledgers summed
  // per (arm, day), and calendar-bounded cumulative windows over the
  // |days|×2 spine — the corpus is never re-scanned per day.
  def q262PeekingAudit(s: SparkSession, d: String): DataFrame = {
    graft.expressions.Hash60.register(s)
    val users = Tables.events(s, d)
      .select(col("user_id"),
        datediff(to_date(col("ts")), lit("1970-01-01")).cast("long")
          .as("di"),
        when(col("event_type") === "purchase", col("ts"))
          .otherwise(lit(null)).as("pts"))
      .groupBy(col("user_id"))
      .agg(min(col("di")).as("entry_day"),
        min(datediff(to_date(col("pts")), lit("1970-01-01")).cast("long"))
          .as("conv_day"))
      .withColumn("arm",
        expr("h60(concat('ab:', cast(user_id as string))) % 2"))
      .persist() // entry and conversion deltas both read it
    val entries = users.groupBy(col("arm"), col("entry_day").as("di"))
      .agg(count(lit(1)).as("d_n"))
      .withColumn("d_conv", lit(0L))
    val convs = users.filter(col("conv_day").isNotNull)
      .groupBy(col("arm"), col("conv_day").as("di"))
      .agg(count(lit(1)).as("d_conv"))
      .withColumn("d_n", lit(0L))
    val deltas = entries.unionByName(convs)
      .groupBy(col("arm"), col("di"))
      .agg(sum(col("d_n")).as("d_n"), sum(col("d_conv")).as("d_conv"))
    val days = deltas.select(col("di")).distinct()
    val arms = s.range(0, 2).select(col("id").as("arm"))
    val wCum = Window.partitionBy(col("arm")).orderBy(col("di"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = days.crossJoin(broadcast(arms))
      .join(deltas, Seq("arm", "di"), "left")
      .na.fill(0L, Seq("d_n", "d_conv"))
      .withColumn("n", sum(col("d_n")).over(wCum))
      .withColumn("conv", sum(col("d_conv")).over(wCum))
    val daily = cum.groupBy(col("di"))
      .agg(max(when(col("arm") === 0, col("n"))).as("n_c"),
        max(when(col("arm") === 1, col("n"))).as("n_t"),
        max(when(col("arm") === 0, col("conv"))).as("conv_c"),
        max(when(col("arm") === 1, col("conv"))).as("conv_t"))
      .withColumn("z2_ppm", expr(zSqPpm))
      .withColumn("direction", expr(
        "case when z2_ppm is null then 'degenerate'" +
          " when cast(conv_t as decimal(38,0)) * n_c" +
          "   > cast(conv_c as decimal(38,0)) * n_t then 't_up'" +
          " when cast(conv_t as decimal(38,0)) * n_c" +
          "   < cast(conv_c as decimal(38,0)) * n_t then 't_down'" +
          " else 'flat' end"))
    daily
      .withColumn("is_final",
        col("di") === max(col("di")).over(Window.partitionBy()))
      .withColumn("crossed_early",
        coalesce(col("z2_ppm") >= 3841600L, lit(false)) && !col("is_final"))
      .select(col("di"), col("n_c"), col("n_t"), col("conv_c"),
        col("conv_t"), col("z2_ppm"), col("direction"),
        col("crossed_early"), col("is_final"))
      .orderBy(col("di"))
  }

  val q262Sql: String = s"""
    WITH users AS (
      SELECT user_id,
        MIN(CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT))
          AS entry_day,
        MIN(CASE WHEN event_type = 'purchase'
          THEN CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT)
          END) AS conv_day,
        CAST('0x' || substring(md5('ab:' || CAST(user_id AS VARCHAR)),
          1, 15) AS BIGINT) % 2 AS arm
      FROM events GROUP BY user_id),
    entries AS (
      SELECT arm, entry_day AS di, CAST(COUNT(*) AS BIGINT) AS d_n,
        CAST(0 AS BIGINT) AS d_conv
      FROM users GROUP BY 1, 2),
    convs AS (
      SELECT arm, conv_day AS di, CAST(0 AS BIGINT) AS d_n,
        CAST(COUNT(*) AS BIGINT) AS d_conv
      FROM users WHERE conv_day IS NOT NULL GROUP BY 1, 2),
    deltas AS (
      SELECT arm, di, CAST(SUM(d_n) AS BIGINT) AS d_n,
        CAST(SUM(d_conv) AS BIGINT) AS d_conv
      FROM (SELECT * FROM entries UNION ALL SELECT * FROM convs)
      GROUP BY 1, 2),
    spine AS (
      SELECT di, arm FROM (SELECT DISTINCT di FROM deltas)
      CROSS JOIN (SELECT unnest([0, 1]) AS arm)),
    cum AS (
      SELECT spine.di, spine.arm,
        CAST(SUM(COALESCE(d_n, 0)) OVER (PARTITION BY spine.arm
          ORDER BY spine.di ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n,
        CAST(SUM(COALESCE(d_conv, 0)) OVER (PARTITION BY spine.arm
          ORDER BY spine.di ROWS UNBOUNDED PRECEDING) AS BIGINT) AS conv
      FROM spine LEFT JOIN deltas
        ON deltas.arm = spine.arm AND deltas.di = spine.di),
    daily AS (
      SELECT di,
        MAX(CASE WHEN arm = 0 THEN n END) AS n_c,
        MAX(CASE WHEN arm = 1 THEN n END) AS n_t,
        MAX(CASE WHEN arm = 0 THEN conv END) AS conv_c,
        MAX(CASE WHEN arm = 1 THEN conv END) AS conv_t
      FROM cum GROUP BY 1),
    z AS (
      SELECT *, $zSqSql AS z2_ppm,
        di = MAX(di) OVER () AS is_final
      FROM daily)
    SELECT di, n_c, n_t, conv_c, conv_t, z2_ppm,
      CASE WHEN z2_ppm IS NULL THEN 'degenerate'
           WHEN CAST(conv_t AS HUGEINT) * n_c
             > CAST(conv_c AS HUGEINT) * n_t THEN 't_up'
           WHEN CAST(conv_t AS HUGEINT) * n_c
             < CAST(conv_c AS HUGEINT) * n_t THEN 't_down'
           ELSE 'flat' END AS direction,
      COALESCE(z2_ppm >= 3841600, false) AND NOT is_final
        AS crossed_early,
      is_final
    FROM z ORDER BY di"""

  // ---- q264: per-user event-count overdispersion ledger ------------------
  // Capacity planning and bot structure in one number per event type:
  // the variance-to-mean ratio of per-USER event counts over the FULL
  // user population (zero-count users included via the N-user identity
  // — the q245 formula lifted from tokens to behavior). Poisson-like
  // arrivals read VMR ≈ 1e6 (independent users, safe to model with
  // averages); heavy overdispersion says a few users carry the type
  // (bot farms, retry loops — q173's screen tells you WHO, this tells
  // you HOW MUCH structure there is); underdispersion says quota-like
  // regularity. zero_user_ppm alongside: the share of users who never
  // fire the type at all.
  //
  // Exactness: U·Σc² − (Σc)² is nonnegative (U ≥ active users), so the
  // single floor-div has nonnegative operands on Decimal(38,0) ↔
  // HUGEINT. Scale shape: one (type, user) count → |types|-row rollup;
  // the 1-row user total attaches via explicit broadcast.
  def q264Overdispersion(s: SparkSession, d: String): DataFrame = {
    val pu = Tables.events(s, d)
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("c"))
    val u = Tables.events(s, d)
      .agg(countDistinct(col("user_id")).as("n_users"))
    pu.groupBy(col("event_type"))
      .agg(count(lit(1)).as("active_users"),
        sum(col("c")).as("n_events"),
        sum(expr("cast(c as decimal(38,0)) * c")).as("q2"))
      .crossJoin(broadcast(u))
      .withColumn("mean_milli", expr(
        "cast(cast(n_events as decimal(38,0)) * 1000" +
          " div nullif(n_users, 0) as bigint)"))
      .withColumn("vmr_ppm", expr(
        "cast((cast(n_users as decimal(38,0)) * q2" +
          " - cast(n_events as decimal(38,0)) * n_events) * 1000000" +
          " div nullif(cast(n_users as decimal(38,0)) * n_events, 0)" +
          " as bigint)"))
      .withColumn("zero_user_ppm", expr(
        "cast(cast(n_users - active_users as decimal(38,0)) * 1000000" +
          " div nullif(n_users, 0) as bigint)"))
      .withColumn("band",
        when(col("vmr_ppm").isNull, "degenerate")
          .when(col("vmr_ppm") >= 2000000L, "overdispersed")
          .when(col("vmr_ppm") <= 500000L, "underdispersed")
          .otherwise("poisson_like"))
      .select(col("event_type"), col("active_users"), col("n_events"),
        col("mean_milli"), col("vmr_ppm"), col("zero_user_ppm"),
        col("band"))
      .orderBy(col("event_type"))
  }

  val q264Sql: String = """
    WITH pu AS (
      SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2),
    u AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
      FROM events),
    g AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS active_users,
        CAST(SUM(c) AS BIGINT) AS n_events,
        SUM(CAST(c AS HUGEINT) * c) AS q2
      FROM pu GROUP BY 1)
    SELECT event_type, active_users, n_events,
      CAST(CAST(n_events AS HUGEINT) * 1000 // nullif(n_users, 0)
        AS BIGINT) AS mean_milli,
      CAST((CAST(n_users AS HUGEINT) * q2
        - CAST(n_events AS HUGEINT) * n_events) * 1000000
        // nullif(CAST(n_users AS HUGEINT) * n_events, 0) AS BIGINT)
        AS vmr_ppm,
      CAST(CAST(n_users - active_users AS HUGEINT) * 1000000
        // nullif(n_users, 0) AS BIGINT) AS zero_user_ppm,
      CASE WHEN n_events = 0 OR n_users = 0 THEN 'degenerate'
           WHEN (CAST(n_users AS HUGEINT) * q2
             - CAST(n_events AS HUGEINT) * n_events) * 1000000
             // (CAST(n_users AS HUGEINT) * n_events) >= 2000000
             THEN 'overdispersed'
           WHEN (CAST(n_users AS HUGEINT) * q2
             - CAST(n_events AS HUGEINT) * n_events) * 1000000
             // (CAST(n_users AS HUGEINT) * n_events) <= 500000
             THEN 'underdispersed'
           ELSE 'poisson_like' END AS band
    FROM g CROSS JOIN u ORDER BY event_type"""

  // ---- q266: functional-dependency audit (does A determine B?) ---------
  // The schema-inference pass a data platform runs before trusting a
  // column as a join/partition key or a dimension attribute: for each
  // declared (determinant → dependent) pair, how close the table comes to
  // the functional dependency A → B. The g3 measure (Kivinen/Mannila):
  // the minimum fraction of rows to DELETE for the FD to hold exactly —
  // rows outside each determinant group's majority dependent value.
  // The declared pairs include one true FD (n_nationkey → n_regionkey:
  // a key determines every attribute) among natural non-FDs (a customer
  // orders under many priorities; a region holds several nations), so
  // the audit must both CONFIRM and REFUTE on the same fixtures.
  //
  // Exactness: counts + one nonnegative floor-div per pair; fd_holds
  // compares exact counts (n_rows = kept), never the rounded ppm — at
  // web scale a few violations under 1 ppm must still refute. Scale
  // shape, per pair: groupBy(det, dep) with map-side partials (shuffle
  // carries DISTINCT value pairs, not rows), a det-keyed re-aggregate,
  // then a 1-row collapse; the union is |pairs|-bounded (5 rows out).
  def q266FdAudit(s: SparkSession, d: String): DataFrame = {
    def fd(tbl: DataFrame, a: String, b: String, label: String)
        : DataFrame =
      tbl.select(col(a).as("det"), col(b).as("dep"))
        .groupBy(col("det"), col("dep")).agg(count(lit(1)).as("c"))
        .groupBy(col("det"))
        .agg(sum(col("c")).as("rows_det"), max(col("c")).as("max_c"),
          count(lit(1)).as("n_dep"))
        .agg(coalesce(sum(col("rows_det")), lit(0L)).as("n_rows"),
          count(lit(1)).as("n_det"),
          coalesce(sum(col("n_dep")), lit(0L)).as("n_pairs"),
          coalesce(sum(col("max_c")), lit(0L)).as("kept"))
        .withColumn("violation_ppm", expr(
          "case when n_rows = 0 then cast(0 as bigint)" +
            " else (n_rows - kept) * 1000000 div n_rows end"))
        .withColumn("fd_holds",
          col("n_rows") > 0L && col("n_rows") === col("kept"))
        .select(lit(label).as("fd"), col("n_rows"), col("n_det"),
          col("n_pairs"), col("violation_ppm"), col("fd_holds"))
    Seq(
      fd(Tables.nation(s, d), "n_nationkey", "n_regionkey",
        "nation.n_nationkey->n_regionkey"),
      fd(Tables.nation(s, d), "n_regionkey", "n_name",
        "nation.n_regionkey->n_name"),
      fd(Tables.customer(s, d), "c_nationkey", "c_mktsegment",
        "customer.c_nationkey->c_mktsegment"),
      fd(Tables.orders(s, d), "o_custkey", "o_orderpriority",
        "orders.o_custkey->o_orderpriority"),
      fd(Tables.part(s, d), "p_brand", "p_type", "part.p_brand->p_type"))
      .reduce(_ union _)
      .orderBy(col("fd"))
  }

  val q266Sql: String = {
    val pairs = Seq(
      ("nation", "n_nationkey", "n_regionkey"),
      ("nation", "n_regionkey", "n_name"),
      ("customer", "c_nationkey", "c_mktsegment"),
      ("orders", "o_custkey", "o_orderpriority"),
      ("part", "p_brand", "p_type"))
    pairs.map { case (t, a, b) =>
      s"""SELECT '$t.$a->$b' AS fd, n_rows, n_det, n_pairs,
          CASE WHEN n_rows = 0 THEN CAST(0 AS BIGINT)
               ELSE CAST((n_rows - kept) * 1000000 // n_rows AS BIGINT)
          END AS violation_ppm,
          (n_rows > 0 AND n_rows = kept) AS fd_holds
        FROM (SELECT CAST(COALESCE(SUM(rows_det), 0) AS BIGINT) AS n_rows,
                CAST(COUNT(*) AS BIGINT) AS n_det,
                CAST(COALESCE(SUM(n_dep), 0) AS BIGINT) AS n_pairs,
                CAST(COALESCE(SUM(max_c), 0) AS BIGINT) AS kept
              FROM (SELECT det, SUM(c) AS rows_det, MAX(c) AS max_c,
                      COUNT(*) AS n_dep
                    FROM (SELECT $a AS det, $b AS dep, COUNT(*) AS c
                          FROM $t GROUP BY 1, 2)
                    GROUP BY det))"""
    }.mkString("\n    UNION ALL\n    ") + "\n    ORDER BY fd"
  }

  // ---- q267: peak session concurrency (sweep-line max overlap) ---------
  // The capacity read every serving platform sizes against: the maximum
  // number of SIMULTANEOUSLY open user sessions, per day, at minute
  // resolution — the interval-overlap counting problem (sweep line: +1
  // at each session start, −1 after its end, running sum, max). Sessions
  // are the standard 30-minute-gap kind (the q180 rule); a session
  // spanning midnight contributes a clipped segment to EACH day it
  // touches, so a day's peak counts continuations from the previous day.
  //
  // Scale shape — the reason for MINUTE resolution: the naive sweep
  // orders every boundary in one global window (a corpus-scale
  // unpartitioned sort, the forbidden shape). Instead deltas collapse
  // map-side onto the (day × 1440)-bounded minute grid, and both the
  // running sum and the per-day max run on that calendar-bounded frame.
  // Determinism: session order is the (ts, event_id) total order;
  // peak_minute ties resolve to the EARLIEST minute.
  def q267PeakConcurrency(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val sess = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("prev", lag(col("ts"), 1).over(w))
      .withColumn("new_s", when(col("prev").isNull ||
        expr("unix_micros(ts) - unix_micros(prev) > 1800000000"), 1L)
        .otherwise(0L))
      .withColumn("sid", sum(col("new_s")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sid"))
      .agg(min(col("ts")).as("s"), max(col("ts")).as("e"))
    val deltas = sess
      .select(explode(expr("sequence(to_date(s), to_date(e))")).as("day"),
        col("s"), col("e"))
      .withColumn("m0", expr(
        "case when to_date(s) = day then hour(s) * 60 + minute(s)" +
          " else 0 end"))
      .withColumn("m1", expr(
        "case when to_date(e) = day then hour(e) * 60 + minute(e)" +
          " else 1439 end"))
      .select(col("day"), explode(expr(
        "array(struct(m0 as m, cast(1 as bigint) as delta)," +
          " struct(m1 + 1 as m, cast(-1 as bigint) as delta))")).as("x"))
      .select(col("day"), col("x.m").as("m"), col("x.delta").as("delta"))
      .groupBy(col("day"), col("m"))
      .agg(sum(col("delta")).as("net"),
        sum(when(col("delta") === 1L, 1L).otherwise(0L)).as("starts"))
      .filter(col("m") <= 1439)
    val wd = Window.partitionBy(col("day")).orderBy(col("m"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    deltas
      .withColumn("cum", sum(col("net")).over(wd))
      .withColumn("daymax",
        max(col("cum")).over(Window.partitionBy(col("day"))))
      .groupBy(col("day"))
      .agg(sum(col("starts")).as("n_segments"),
        max(col("cum")).as("peak_concurrent"),
        min(when(col("cum") === col("daymax"), col("m")))
          .cast("long").as("peak_minute"))
      .orderBy(col("day"))
  }

  val q267Sql: String = """
    WITH ev AS (
      SELECT user_id, ts, event_id,
        LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events),
    se AS (
      SELECT user_id, ts,
        SUM(CASE WHEN prev IS NULL
              OR epoch_us(ts) - epoch_us(prev) > 1800000000
            THEN 1 ELSE 0 END)
          OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS UNBOUNDED PRECEDING) AS sid
      FROM ev),
    sess AS (
      SELECT user_id, sid, MIN(ts) AS s, MAX(ts) AS e FROM se GROUP BY 1, 2),
    seg AS (
      SELECT CAST(unnest(generate_series(CAST(s AS DATE), CAST(e AS DATE),
          INTERVAL 1 DAY)) AS DATE) AS day, s, e
      FROM sess),
    dl AS (
      SELECT day,
        CASE WHEN CAST(s AS DATE) = day
          THEN hour(s) * 60 + minute(s) ELSE 0 END AS m0,
        CASE WHEN CAST(e AS DATE) = day
          THEN hour(e) * 60 + minute(e) ELSE 1439 END AS m1
      FROM seg),
    deltas AS (
      SELECT day, m0 AS m, 1 AS delta FROM dl
      UNION ALL
      SELECT day, m1 + 1 AS m, -1 AS delta FROM dl),
    mg AS (
      SELECT day, m, SUM(delta) AS net,
        SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS starts
      FROM deltas GROUP BY 1, 2),
    cm AS (
      SELECT day, m, starts,
        SUM(net) OVER (PARTITION BY day ORDER BY m
          ROWS UNBOUNDED PRECEDING) AS cum
      FROM mg WHERE m <= 1439),
    mx AS (
      SELECT day, m, starts, cum,
        MAX(cum) OVER (PARTITION BY day) AS daymax
      FROM cm)
    SELECT day, CAST(SUM(starts) AS BIGINT) AS n_segments,
      CAST(MAX(cum) AS BIGINT) AS peak_concurrent,
      CAST(MIN(CASE WHEN cum = daymax THEN m END) AS BIGINT)
        AS peak_minute
    FROM mx GROUP BY day ORDER BY day"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q266_fd_audit" -> q266FdAudit _,
    "q267_peak_concurrency" -> q267PeakConcurrency _,
    "q264_overdispersion" -> q264Overdispersion _,
    "q260_aa_calibration" -> q260AaCalibration _,
    "q262_peeking_audit" -> q262PeekingAudit _,
    "q251_cuped_readout" -> q251CupedReadout _,
    "q248_event_lift" -> q248EventLift _,
    "q235_retention_matrix" -> q235RetentionMatrix _,
    "q236_stickiness"     -> q236Stickiness _,
    "q237_power_mde"      -> q237PowerMde _,
    "q233_ab_readout"     -> q233AbReadout _,
    "q225_markov_mixing"  -> q225MarkovMixing _,
    "q208_sketch_wau"     -> q208SketchWau _,
    "q210_windowed_funnel" -> q210WindowedFunnel _,
    "q168_burst_detect"   -> q168BurstDetect _,
    "q170_event_transitions" -> q170EventTransitions _,
    "q172_gap_spectrum"   -> q172GapSpectrum _,
    "q173_user_rates"     -> q173UserRates _,
    "q176_diurnal_profile" -> q176DiurnalProfile _,
    "q180_session_stats"  -> q180SessionStats _,
    "q181_conversion_lag" -> q181ConversionLag _,
    "q41_asof_join"       -> q41AsofJoin _,
    "q42_approx_distinct" -> q42ApproxDistinct _,
    "q43_map_explode"     -> q43MapExplode _,
    "q44_range_window"    -> q44RangeWindow _,
    "q45_weighted_avg"    -> q45WeightedAvg _,
    "q63_retention"       -> q63Retention _,
    "q64_profile"         -> q64Profile _,
    "q65_funnel"          -> q65Funnel _,
    "q76_window_zoo"      -> q76WindowZoo _,
    "q77_gap_fill"        -> q77GapFill _,
    "q88_range_join"      -> q88RangeJoin _,
    "q89_zorder_stats"    -> q89ZOrderStats _,
    "q106_topk_heap"      -> q106TopkHeap _,
    "q119_reservoir_sample" -> q119ReservoirSample _,
    "q121_rolling_wau"    -> q121RollingWau _)

  val oracles: Map[String, String] = Map(
    "q266_fd_audit" -> q266Sql,
    "q267_peak_concurrency" -> q267Sql,
    "q264_overdispersion" -> q264Sql,
    "q260_aa_calibration" -> q260Sql,
    "q262_peeking_audit" -> q262Sql,
    "q251_cuped_readout" -> q251Sql,
    "q248_event_lift" -> q248Sql,
    "q235_retention_matrix" -> q235Sql,
    "q236_stickiness"     -> q236Sql,
    "q237_power_mde"      -> q237Sql,
    "q233_ab_readout"     -> q233Sql,
    "q225_markov_mixing"  -> q225Sql,
    "q208_sketch_wau"     -> q208Sql,
    "q210_windowed_funnel" -> q210Sql,
    "q168_burst_detect"   -> q168Sql,
    "q170_event_transitions" -> q170Sql,
    "q172_gap_spectrum"   -> q172Sql,
    "q173_user_rates"     -> q173Sql,
    "q176_diurnal_profile" -> q176Sql,
    "q180_session_stats"  -> q180Sql,
    "q181_conversion_lag" -> q181Sql,
    "q41_asof_join"       -> q41Sql,
    "q42_approx_distinct" -> q42Sql,
    "q43_map_explode"     -> q43Sql,
    "q44_range_window"    -> q44Sql,
    "q45_weighted_avg"    -> q45Sql,
    "q63_retention"       -> q63Sql,
    "q64_profile"         -> q64Sql,
    "q65_funnel"          -> q65Sql,
    "q76_window_zoo"      -> q76Sql,
    "q77_gap_fill"        -> q77Sql,
    "q88_range_join"      -> q88Sql,
    "q89_zorder_stats"    -> q89Sql,
    "q106_topk_heap"      -> q106Sql,
    "q119_reservoir_sample" -> q119Sql,
    "q121_rolling_wau"    -> q121Sql)
}
