package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.Tables
import Fx._

/** Event-time windowing surface (SURVEY.md §2.9).
  *
  * The reference has no streaming engine — it approximates incremental
  * processing with an external 15-minute cron re-run plus idempotent upsert
  * (every-15-min cron at /root/reference/deploy/deploy.sh:29;
  * ON CONFLICT DO NOTHING at NytimesBatchProcessorApplication.kt:140,177).
  * The Spark-native upgrade is first-class event-time windowing: the SAME
  * declarative transforms below run in batch (oracle-checkable against
  * DuckDB) and under Structured Streaming (`readStream` → transform →
  * `writeStream` with watermark — Spark's unified batch/stream API).
  *
  * Scale: windowed aggregation is a single hash shuffle on
  * (window, key); session windows shuffle on the session key then merge
  * locally — both spill-capable, both fine at 1000 executors. Watermarks
  * bound streaming state so it does not grow with input size.
  */
object Streaming {

  // ---- shared batch/stream transforms ---------------------------------

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

  /** Streaming entry: the batch transform lifted onto an unbounded source
    * with a 1-hour watermark (late events beyond it are dropped; state for
    * closed windows is reclaimed — the bounded-state requirement at scale).
    * Works for any of the transforms above. */
  def withWatermark(stream: DataFrame)(transform: DataFrame => DataFrame)
      : DataFrame =
    transform(stream.withWatermark("ts", "1 hour"))

  /** First-class upgrade of the reference's "incremental by rerun + dedup"
    * loop (§2.9: cron at deploy.sh:29 + ON CONFLICT at .kt:140,177): one
    * plain batch per cron firing over a CSV drop directory. No streaming
    * query runs. The firing lists `srcDir`'s top-level files (skipping
    * `_`- and `.`-prefixed names and `._COPYING_` uploads, the file
    * source's hidden-file rule), subtracts the names in the feed's file
    * ledger under `checkpoint`, reads exactly the unseen files in one CSV
    * scan and applies the same idempotent key-merge as the batch path, so
    * overlapping rows across files dedup exactly like ON CONFLICT. A
    * firing with no unseen files runs no Spark job.
    *
    * Scale contract — O(batch), not O(history): the sink is laid out as
    * `sinkPath/<partitionCol>=<value>/` and each firing merges ONLY the
    * partitions whose values appear in its batch. The existing side is
    * read with the feed's `schema` (no schema-inference job) through a
    * partition-pruned filter, the merge shuffles O(batch + affected
    * partitions) rows, and publication is a per-partition-directory
    * rename swap ([[PartitionSwap]]) — untouched partitions are never
    * read or rewritten, so their files stay byte-identical across firings.
    * The batch is parsed once: it is persisted for the touched-values
    * `collect` and the merge.
    *
    * Crash safety: `afterPublish` (e.g. [[graft.NytJob]]'s JDBC mirror)
    * runs with the touched values after the publish, and only then is the
    * ledger committed — a new numbered snapshot written aside and renamed
    * into place, so a reader never sees a partial ledger. A crash or an
    * `afterPublish` failure anywhere before the commit leaves the files
    * out of the ledger; the next firing merges them again (the merge keeps
    * stored rows, so no row changes) and reruns `afterPublish`. A crash
    * inside a swap is healed by [[PartitionSwap.recover]] on the next
    * firing. A checkpoint written by the earlier streaming-query version
    * of this function is not read: the first firing on it merges every
    * file of the drop dir once, which changes no row.
    *
    * `partitionCol` must be non-null in the source (true for the NYT
    * feeds' `date`; the reference's schema marks it NOT NULL,
    * /root/reference/src/main/resources/schema.sql).
    *
    * Returns the distinct partition values this firing merged, so
    * downstream mirrors can stay O(batch) too by touching only those
    * partitions.
    */
  def ingestAvailableNow(spark: SparkSession, srcDir: String,
                         schema: StructType, keys: Seq[String], tiebreak: Seq[Column],
                         checkpoint: String, sinkPath: String,
                         partitionCol: String = "date",
                         afterPublish: Seq[Any] => Unit = _ => ()): Seq[Any] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val ledger = new Path(checkpoint, "ledger")
    val ledgerFs = ledger.getFileSystem(conf)
    val (version, seen) = FileLedger.read(ledgerFs, ledger)
    val src = new Path(srcDir)
    val unseen = src.getFileSystem(conf).listStatus(src).filter(_.isFile).map(_.getPath)
      .filter(p => visible(p.getName) && !seen(p.getName))
    val sink = new Path(sinkPath)
    val fs = sink.getFileSystem(conf) // sinkPath's OWN filesystem
    // heal any half-done swap a previous crash left behind
    PartitionSwap.recover(fs, sink)
    if (unseen.isEmpty) return Nil
    val batch = Ingest.readCsv(spark, schema, unseen.map(_.toString).toSeq: _*).persist()
    val touched = try {
      // the partitions this batch touches — O(#distinct values in batch),
      // a handful of values, NOT a scan of the sink
      val touched = batch.select(col(partitionCol)).distinct().collect()
        .map(_.get(0)).filter(_ != null).toSeq
      if (touched.nonEmpty) {
        // read ONLY the affected partitions: the isin filter on the
        // partition column prunes the scan to the affected `date=` dirs.
        // Absent sink (first run) → empty frame; any OTHER read failure
        // propagates rather than masquerading as empty and truncating a
        // partition.
        val existing =
          if (fs.exists(sink))
            spark.read.schema(schema).parquet(sinkPath)
              .filter(col(partitionCol).isin(touched: _*))
          else spark.createDataFrame(new java.util.ArrayList[Row](), batch.schema)
        val merged = Ingest.appendIdempotent(existing, batch, keys, tiebreak)
        // write-then-swap (parquet can't overwrite its own input): the
        // merged slice lands in a staging dir partitioned identically,
        // then each produced partition dir is swapped into the sink
        val staging = new Path(sinkPath + "__staging")
        fs.delete(staging, true)
        merged.write.mode("overwrite")
          .partitionBy(partitionCol).parquet(staging.toString)
        PartitionSwap.publish(fs, staging, sink, partitionCol)
        afterPublish(touched)
      }
      touched
    } finally batch.unpersist()
    FileLedger.commit(ledgerFs, ledger, version + 1, seen ++ unseen.map(_.getName))
    touched
  }

  /** The file source's hidden-file rule: committer/temp names (`_x`,
    * `.x`) and in-flight `hadoop fs -put` copies are not feed files. */
  private def visible(name: String): Boolean =
    !name.startsWith("_") && !name.startsWith(".") && !name.endsWith("._COPYING_")

  /** A feed's ingested file names, as numbered snapshots under one dir:
    * the highest number is the ledger. [[commit]] writes the next number
    * aside under a hidden name and renames it into place (a rename never
    * overwrites), then drops older snapshots, so a reader sees the old or
    * the new snapshot whole. */
  private object FileLedger {
    private def versions(fs: FileSystem, dir: Path): Seq[Long] =
      if (!fs.exists(dir)) Nil
      else fs.listStatus(dir).map(_.getPath.getName)
        .filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong).sorted.toSeq

    def read(fs: FileSystem, dir: Path): (Long, Set[String]) =
      versions(fs, dir).lastOption.fold((0L, Set.empty[String])) { v =>
        val in = fs.open(new Path(dir, v.toString))
        try (v, scala.io.Source.fromInputStream(in, "UTF-8").getLines()
          .filter(_.nonEmpty).toSet)
        finally in.close()
      }

    def commit(fs: FileSystem, dir: Path, version: Long, names: Set[String]): Unit = {
      val tmp = new Path(dir, s".$version.tmp")
      val out = fs.create(tmp, true)
      try out.write(names.toSeq.sorted.map(_ + "\n").mkString
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      if (!fs.rename(tmp, new Path(dir, version.toString)))
        sys.error(s"cannot commit ledger $tmp as version $version")
      versions(fs, dir).filter(_ < version)
        .foreach(v => fs.delete(new Path(dir, v.toString), false))
    }
  }

  /** Stream-stream inner join (§2.9): views joined to the clicks that
    * follow them within 30 minutes, per user. Both sides carry watermarks
    * and the join condition bounds event-time distance, so Spark can
    * reclaim join state for rows past the watermark — the REQUIREMENT for
    * an unbounded two-stream join to run with bounded memory. The same
    * function works on batch DataFrames (the unified API); the spec
    * cross-checks streaming output against the batch result. */
  def viewClickJoin(views: DataFrame, clicks: DataFrame): DataFrame = {
    val v = views
      .withWatermark("ts", "1 hour")
      .select(col("user_id"), col("ts").as("view_ts"),
        col("event_id").as("view_id"))
    val c = clicks
      .withWatermark("ts", "1 hour")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
    v.join(c, col("user_id") === col("c_user")
        && col("click_ts") >= col("view_ts")
        && col("click_ts") <= col("view_ts") + expr("interval 30 minutes"))
      .select(col("user_id"), col("view_id"), col("click_id"),
        col("view_ts"), col("click_ts"))
  }

  /** Stream-static enrichment join (§2.9): an unbounded event stream
    * joined to a bounded dimension table — the lookup-enrichment every
    * streaming pipeline needs (user → segment, doc → license). Unlike a
    * stream-stream join this keeps NO join state at all: the static side
    * is re-planned per micro-batch (so a refreshed dim parquet is picked
    * up on the next batch) and joined like any batch join — broadcast
    * when small. No watermark is required on either side. The same
    * function works on batch frames; the spec cross-checks. */
  def enrichWithDim(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(broadcast(dim), Seq("user_id"), "left")
      .select(col("user_id"), col("event_id"), col("ts"),
        col("event_type"), col("segment"))

  /** Custom stateful processing (§2.9 "stateful ops"): per-user running
    * aggregates via Spark 4.x `transformWithState` — the arbitrary-state
    * operator that replaced `mapGroupsWithState` (deprecated; its
    * processing-time timeouts were wall-clock-nondeterministic, breaking
    * the engine's own SURVEY §7.3.6 determinism rule). State is per-key
    * and partitioned by the grouping key, so it scales horizontally.
    *
    * Timeout semantics (EVENT-time, deterministic): after a user sits
    * idle for `idleTimeout` of event time past the watermark, a FINAL row
    * tagged `is_final = true` flushes their totals and their state is
    * reclaimed — without that, state grows linearly with distinct keys
    * forever on an unbounded stream. Totals are therefore per idle-
    * delimited session, not lifetime: a user returning after the timeout
    * restarts from zero (and the tag lets downstream tell the flush row
    * from ordinary update-mode emissions, which it otherwise duplicates).
    * `idleTimeout = None` disables timers (TimeMode.None) for
    * deterministic batch-style tests.
    *
    * State holds (count, sum in integer cents) — the same element-wise
    * quantization as Fx.toUnits, so the running sum is independent of
    * arrival order. Requires the RocksDB state store provider (the only
    * provider transformWithState supports). */
  def statefulUserTotals(spark: SparkSession,
                         events: org.apache.spark.sql.Dataset[
                           org.apache.spark.sql.Row],
                         idleTimeout: Option[String] = Some("1 hour"))
      : DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val timeoutMs = idleTimeout.map(parseDurationMs)
    // event-time timers need a watermark; 1h late tolerance as elsewhere
    val src = if (timeoutMs.isDefined) events.withWatermark("ts", "1 hour")
              else events
    src
      .selectExpr("user_id", "value")
      .as[(Long, Double)]
      .groupByKey(_._1)
      .transformWithState(new UserTotalsProcessor(timeoutMs),
        if (timeoutMs.isDefined) TimeMode.EventTime() else TimeMode.None(),
        OutputMode.Update())
      .toDF("user_id", "n_events", "sum_value", "is_final")
  }

  /** Streaming rate-limit THROTTLE — the semantics q112 documents as
    * inexpressible in a shuffle-parallel batch plan: keep an event iff
    * it arrives more than `gapMs` after the last KEPT event of its
    * (user_id, event_type) key. Not the same as q112's previous-ROW
    * debounce: under a sustained burst the throttle emits one event per
    * gap window while the debounce suppresses everything after the
    * burst's first row. The sequential per-key fold batch plans cannot
    * express is exactly what keyed streaming state provides: ValueState
    * holds the last-kept microsecond; each micro-batch sorts its slice
    * by (ts, event_id) — per key per batch, bounded — and folds. State
    * size: ONE long per active key, RocksDB-backed at scale. */
  def streamingThrottle(spark: SparkSession,
                        events: org.apache.spark.sql.Dataset[
                          org.apache.spark.sql.Row],
                        gapMs: Long = 60000L): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    events
      .selectExpr("user_id", "event_type", "event_id",
        "unix_micros(ts) as ts_us")
      .as[(Long, String, Long, Long)]
      .groupByKey(r => (r._1, r._2))
      .transformWithState(new ThrottleProcessor(gapMs * 1000L),
        TimeMode.None(), OutputMode.Append())
      .toDF("user_id", "event_type", "event_id", "ts_us")
  }

  /** The [[streamingThrottle]] state machine: last-kept event-time
    * micros per key. */
  private class ThrottleProcessor(gapUs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        (Long, String), (Long, String, Long, Long),
        (Long, String, Long, Long)] {
    import org.apache.spark.sql.streaming.{OutputMode, TTLConfig, TimeMode,
      TimerValues, ValueState}
    @transient private var lastKept: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      lastKept = getHandle.getValueState[Long]("lastKept",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: (Long, String),
        rows: Iterator[(Long, String, Long, Long)], tv: TimerValues)
        : Iterator[(Long, String, Long, Long)] = {
      val ordered = rows.toSeq.sortBy(r => (r._4, r._3))
      val out = Seq.newBuilder[(Long, String, Long, Long)]
      var last = if (lastKept.exists()) Some(lastKept.get()) else None
      ordered.foreach { r =>
        if (last.forall(l => r._4 - l > gapUs)) {
          out += r
          last = Some(r._4)
        }
      }
      last.foreach(lastKept.update)
      out.result().iterator
    }
  }

  /** "N unit" → millis for the idle timer (no java.time parsing so the
    * accepted grammar matches the watermark-delay strings used above). */
  private[ops] def parseDurationMs(s: String): Long = {
    val Re = """(\d+)\s*(second|minute|hour|day)s?""".r
    s.trim.toLowerCase match {
      case Re(n, "second") => n.toLong * 1000L
      case Re(n, "minute") => n.toLong * 60000L
      case Re(n, "hour")   => n.toLong * 3600000L
      case Re(n, "day")    => n.toLong * 86400000L
      case other => sys.error(s"cannot parse duration '$other'")
    }
  }

  /** The [[statefulUserTotals]] state machine. Each input batch refreshes
    * a single per-key event-time timer at watermark + idleTimeout (the
    * deterministic replacement for the old processing-time timeout); on
    * expiry the totals flush once with `is_final = true` and the state is
    * deleted. */
  private class UserTotalsProcessor(idleTimeoutMs: Option[Long])
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Double), (Long, Long, Double, Boolean)] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode,
      TTLConfig, TimeMode, TimerValues, ValueState}
    @transient private var totals: ValueState[(Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      totals = getHandle.getValueState[(Long, Long)]("totals",
        org.apache.spark.sql.Encoders.product[(Long, Long)], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[(Long, Double)],
                                 tv: TimerValues)
        : Iterator[(Long, Long, Double, Boolean)] = {
      val (prevN, prevU) = if (totals.exists()) totals.get() else (0L, 0L)
      var n = prevN
      var u = prevU
      rows.foreach { r =>
        n += 1
        u += math.floor(r._2 * 100 + 0.5).toLong
      }
      totals.update((n, u))
      idleTimeoutMs.foreach { t =>
        // one live timer per key: new activity pushes the deadline out
        getHandle.listTimers().foreach(old =>
          getHandle.deleteTimer(old.asInstanceOf[Long]))
        getHandle.registerTimer(tv.getCurrentWatermarkInMs() + t)
      }
      Iterator.single((key, n, u / 100.0, false))
    }

    override def handleExpiredTimer(key: Long, tv: TimerValues,
                                    info: ExpiredTimerInfo)
        : Iterator[(Long, Long, Double, Boolean)] = {
      val out =
        if (totals.exists()) {
          val (n, u) = totals.get()
          Iterator.single((key, n, u / 100.0, true))
        } else Iterator.empty
      totals.clear()
      out
    }
  }

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

  /** Streaming exact dedup across micro-batches — the streaming form of
    * DedupOps.incrementalDedup (content identity instead of a key
    * column): the FIRST batch containing a content hash emits exactly
    * one row for it (the batch's min doc_id — deterministic, unlike
    * dropDuplicates' arrival-order winner), every later occurrence is
    * dropped. State per key is one boolean in the RocksDB store; at
    * ingest-pipeline scale the key space is the distinct-content count,
    * and the store scales out with shuffle partitions. Append mode:
    * emitted rows are immutable by construction. */
  def streamingDedup(spark: SparkSession,
                     docs: org.apache.spark.sql.Dataset[
                       org.apache.spark.sql.Row]): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    docs.selectExpr("doc_id", "md5(text) AS content_md5")
      .as[(Long, String)]
      .groupByKey(_._2)
      .transformWithState(new FirstSeenProcessor, TimeMode.None(),
        OutputMode.Append())
      .toDF("doc_id", "content_md5")
  }

  /** Emits the min doc_id the first time a content hash appears; drops
    * the key forever after (seen flag in the value state). */
  private class FirstSeenProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, (Long, String), (Long, String)] {
    import org.apache.spark.sql.streaming.{OutputMode, TTLConfig, TimeMode,
      TimerValues, ValueState}
    @transient private var seen: ValueState[Boolean] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      seen = getHandle.getValueState[Boolean]("seen",
        org.apache.spark.sql.Encoders.scalaBoolean, TTLConfig.NONE)

    override def handleInputRows(key: String,
                                 rows: Iterator[(Long, String)],
                                 tv: TimerValues)
        : Iterator[(Long, String)] =
      if (seen.exists()) Iterator.empty
      else {
        seen.update(true)
        Iterator.single((rows.map(_._1).min, key))
      }
  }

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
