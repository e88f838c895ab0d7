package bench

import java.nio.file.{Files, Path}
import java.time.LocalDate

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.NytJob
import graft.ops.JdbcSink

/** nyt_mirror: the NYT cron job (`NytJob.runOnce`) of a regional
  * deployment — one state's ~250 counties plus the national states feed —
  * with its JDBC mirror on embedded Derby.
  *
  * Set-up (twice) lands the feed's history, backfills the sink with one
  * firing, applies a revision of the history's last week and bulk-loads
  * the mirror; the first, throw-away deployment then takes the warm-up. The timed phase runs simulated days, each one data
  * firing (which also upserts its partitions into the mirror through
  * `JdbcSink.upsertJdbc`), `IdlePerDay` idle firings (a 15-minute cron over
  * a daily feed finds nothing new most of the time) and the 4-query
  * dashboard read set over the sink, its panels loaded at once.
  */
object NytWorkload {
  val IdlePerDay = 2
  val SetupReps = 2

  def shape(ctx: Ctx): NytFeed.Shape =
    if (ctx.tiny) NytFeed.Shape(states = 4, minCounties = 6, spreadCounties = 0, history = 9,
      countyStates = Set(0))
    else NytFeed.Shape(states = 55, minCounties = 250, spreadCounties = 0, history = 10,
      countyStates = Set(0))

  /** One deployment: feed drop directory, sink, checkpoints, mirror. */
  final class Deployment(val root: Path, val feed: NytFeed) {
    val jdbc: String = s"jdbc:derby:${root.resolve("mirror")};create=true"
    val src: Path = root.resolve("src")
    val sink: Path = root.resolve("sink")
    val ckpt: Path = root.resolve("checkpoint")
    val revised = mutable.Set.empty[Int]
    var inputBytes = 0L
    def fire(spark: SparkSession): Unit =
      NytJob.runOnce(spark, src.toString, sink.toString, ckpt.toString, Some(jdbc))
    def drop(d: Int): Unit = inputBytes += feed.dropDay(src, d)
  }

  /** Set-up of one deployment: land the feed's history and backfill the
    * sink with it (one firing), land the revision of the history's last week
    * and fire again, then bulk-load the mirror from the sink. Returns the
    * deployment and the backfill's seconds.
    *
    * The revision firing runs before the mirror exists: with the mirror
    * attached, a multi-day revision makes `JdbcSink.upsertJdbc`'s concurrent
    * partition tasks deadlock in Derby, a failing operation the timed phase
    * must not contain. */
  private def setUp(spark: SparkSession, root: Path, seed: Long,
                    shape: NytFeed.Shape): (Deployment, Double) = {
    val dep = new Deployment(root, new NytFeed(seed, shape))
    val (src, sink, ckpt) = (dep.src.toString, dep.sink.toString, dep.ckpt.toString)
    dep.inputBytes += dep.feed.dropHistory(dep.src)
    val t0 = System.nanoTime()
    NytJob.runOnce(spark, src, sink, ckpt, None)
    val backfillS = (System.nanoTime() - t0) / 1e9
    dep.inputBytes += dep.feed.dropRevision(dep.src, shape.history)
    dep.revised ++= dep.feed.revisedDays(shape.history)
    NytJob.runOnce(spark, src, sink, ckpt, None)
    NytJob.feeds.foreach { f =>
      JdbcSink.initSchema(dep.jdbc, Seq(f.ddl))
      JdbcSink.writeJdbc(spark.read.parquet(s"$sink/${f.name}")
        .select(f.schema.fieldNames.map(col).toSeq: _*), dep.jdbc, f.jdbcTable)
    }
    (dep, backfillS)
  }

  // ---- the dashboard read set -----------------------------------------

  val DashboardQueries: Seq[(String, String)] = Seq(
    "latest_totals" ->
      """SELECT state, SUM(cases) AS cases, SUM(deaths) AS deaths FROM counties
        |WHERE date = (SELECT MAX(date) FROM counties)
        |GROUP BY state ORDER BY state""".stripMargin,
    "state_trend" ->
      """WITH d AS (
        |  SELECT state, date,
        |         cases - LAG(cases) OVER (PARTITION BY state ORDER BY date) AS new_cases
        |  FROM states WHERE date > date_sub((SELECT MAX(date) FROM states), 90))
        |SELECT state, date, new_cases,
        |       AVG(new_cases) OVER (PARTITION BY state ORDER BY date
        |                            ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS avg7
        |FROM d ORDER BY state, date""".stripMargin,
    "top_counties" ->
      """WITH m AS (SELECT MAX(date) AS d FROM counties)
        |SELECT a.state, a.county, a.cases - COALESCE(b.cases, 0) AS new14
        |FROM counties a JOIN m ON a.date = m.d
        |LEFT JOIN counties b ON b.state = a.state AND b.county = a.county
        |  AND b.fips <=> a.fips AND b.date = date_sub(m.d, 14)
        |ORDER BY new14 DESC, a.state, a.county LIMIT 10""".stripMargin,
    "state_peak" ->
      """SELECT state, MAX(new_cases) AS peak FROM (
        |  SELECT state, cases - LAG(cases) OVER (PARTITION BY state ORDER BY date) AS new_cases
        |  FROM states) GROUP BY state ORDER BY state""".stripMargin)

  /** Runs one dashboard query the way a dashboard opens it: list the sink,
    * plan, execute, fetch. Returns (rows, files read, rows scanned). */
  def dashboard(spark: SparkSession, sink: Path, sql: String): (Array[Row], Long, Long) = {
    spark.read.parquet(s"$sink/counties").createOrReplaceTempView("counties")
    spark.read.parquet(s"$sink/states").createOrReplaceTempView("states")
    val df = spark.sql(sql)
    val rows = df.collect()
    val (files, scanned) = PlanStats.scans(df)
    (rows, files, scanned)
  }

  // ---- the run ---------------------------------------------------------

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val rec = ctx.record
    val tr = ctx.tracer
    val shp = shape(ctx)

    val panels = DashboardQueries.map(_ => spark.newSession())
    val pool = java.util.concurrent.Executors.newFixedThreadPool(DashboardQueries.size)
    def dashboardSet(sink: Path, timed: Boolean): Seq[(String, Either[Throwable, ((Array[Row], Long, Long), Double)])] = {
      val futures = DashboardQueries.zip(panels).map { case ((name, sql), session) =>
        name -> pool.submit(new java.util.concurrent.Callable[((Array[Row], Long, Long), Double)] {
          def call() = tr.span(if (timed) "dashboard" else "warmup", name)(dashboard(session, sink, sql))
        })
      }
      futures.map { case (n, f) =>
        n -> (try Right(f.get()) catch { case e: java.util.concurrent.ExecutionException => Left(e.getCause) })
      }
    }

    // set-up, repeated: the first repetition builds a throw-away deployment
    // from a derived seed, which then takes the warm-up (every timed path
    // once); the last repetition builds the measured deployment
    val setupS = new Samples("setup_s")
    val backfillRowsPerS = new Samples("backfill_rows_per_s")
    val deps = (0 until SetupReps).map { r =>
      val seed = if (r == SetupReps - 1) ctx.seed else ctx.seed * 1000003L + r + 1
      val (d, backfillS) = ctx.phase(s"setup-$r") {
        val t0 = System.nanoTime()
        val (d, backfillS) = setUp(spark, ctx.dir(s"deploy-$r"), seed, shp)
        setupS += (System.nanoTime() - t0) / 1e9
        (d, backfillS)
      }
      backfillRowsPerS += d.feed.counties.size * shp.history / backfillS
      if (r == 0) ctx.phase("warmup") {
        d.drop(shp.history)
        d.fire(spark); d.fire(spark)
        dashboardSet(d.sink, timed = false)
      }
      d
    }
    val dep = deps.last

    val firingS = new Samples("firing_s")
    val idleMs = new Samples("idle_firing_ms")
    val requestMs = new Samples("dashboard_ms")
    val perQuery = DashboardQueries.map { case (n, _) => n -> new Samples(n) }.toMap
    val scanFiles = new Samples("dashboard_files")
    val scanRows = new Samples("dashboard_rows_ratio")
    val sinkStats = mutable.ArrayBuffer.empty[(Int, Int)] // (files created, renames) per data firing
    var lastDashboard = Map.empty[String, Array[Row]]
    var lastDay = shp.history - 1
    var ops = 0L

    def attempt[T](what: String)(f: => T): Option[T] = {
      rec.attempted()
      try Some(f) catch {
        case e: Exception => rec.failed(s"$what: $e"); None
      }
    }

    val deadline = ctx.deadline
    val loop0 = System.nanoTime()
    var d = shp.history
    var broken = false
    while (!broken && (System.nanoTime() < deadline || d < shp.history + 2)) {
      dep.drop(d)
      val before = if (tr.enabled) Some(SinkSnapshot(dep.sink)) else None
      attempt(s"firing day $d")(tr.span("firing", s"day-$d")(dep.fire(spark))) match {
        case Some((_, ms)) => firingS += ms / 1e3; ops += 1
        case None => broken = true
      }
      before.foreach(b => sinkStats += b.diff(SinkSnapshot(dep.sink)))
      (1 to IdlePerDay).foreach { _ =>
        if (!broken) attempt("idle firing")(tr.span("idle", s"day-$d")(dep.fire(spark))) match {
          case Some((_, ms)) => idleMs += ms; ops += 1
          case None => broken = true
        }
      }
      if (!broken) {
        var files, scanned, returned = 0L
        dashboardSet(dep.sink, timed = true).foreach {
          case (name, Right(((rows, f, sc), ms))) =>
            rec.attempted()
            requestMs += ms; perQuery(name) += ms; ops += 1
            files += f; scanned += sc; returned += rows.length
            lastDashboard += name -> rows
          case (name, Left(e)) =>
            rec.attempted(); rec.failed(s"dashboard $name: $e"); broken = true
        }
        scanFiles += files.toDouble
        scanRows += scanned.toDouble / math.max(1L, returned)
      }
      lastDay = d
      d += 1
    }
    val loopS = (System.nanoTime() - loop0) / 1e9
    rec.phases("timed") = loopS
    pool.shutdown()

    rec.e2e("setup_s", setupS.median, "s")
    rec.e2e("request_ms.p50", requestMs.median, "ms")
    rec.e2e("refresh_s.p50", firingS.median, "s")
    rec.e2e("ops_per_s", ops / loopS, "1/s")
    Seq(firingS, idleMs, requestMs).foreach(rec.steady)
    rec.detail("samples") = Map("days" -> (lastDay - shp.history + 1), "firings" -> firingS.size,
      "idle_firings" -> idleMs.size, "dashboard_queries" -> requestMs.size)
    rec.detail("setup_reps_s") = setupS.values
    rec.detail("idle_firing_ms.p50") = idleMs.median
    rec.detail("backfill_rows_per_s") = backfillRowsPerS.median

    // ---- output checks (outside the timed phase) ----
    ctx.phase("checks") {
      checkSink(ctx, dep, lastDay)
      checkDashboard(ctx, dep, lastDay, lastDashboard)
      checkMirror(ctx, dep)
    }

    if (tr.enabled) {
      tr.drain()
      val data = tr.spans("firing")
      val idle = tr.spans("idle")
      val all = data ++ idle
      def perFiring(ss: Seq[Span])(f: Span => Double) =
        if (ss.isEmpty) 0.0 else Samples.pct(ss.map(f), 0.5)
      val batches = all.map(s => s -> tr.batches(s)).toMap
      def dur(b: BatchRec, k: String) = b.durations.getOrElse(k, 0L).toDouble
      val allBatches = batches.values.flatten.toSeq
      def meanDur(k: String) =
        if (allBatches.isEmpty) 0.0 else allBatches.map(dur(_, k)).sum / allBatches.size
      rec.layer("streaming.latest_offset_ms", meanDur("latestOffset"), "ms")
      rec.layer("streaming.wal_commit_ms", meanDur("walCommit"), "ms")
      rec.layer("streaming.start_ms", perFiring(all)(s =>
        s.durMs - batches(s).map(dur(_, "triggerExecution")).sum), "ms")
      rec.layer("streaming.batches", perFiring(data)(s => batches(s).size.toDouble), "count")
      rec.layer("ingest.merge_ms", perFiring(data)(s => batches(s).map(dur(_, "addBatch")).sum), "ms")
      val nonJdbc = (s: Span) => tr.jobs(s).filterNot(_.module == "JdbcSink")
      rec.layer("ingest.shuffle_bytes", perFiring(data)(s =>
        nonJdbc(s).map(_.shuffleWriteBytes).sum.toDouble), "B")
      rec.layer("ingest.rows_read_per_row_written", perFiring(data) { s =>
        val js = nonJdbc(s)
        js.map(_.inputRecords).sum.toDouble / math.max(1L, js.map(_.outputRecords).sum)
      }, "ratio")
      rec.layer("nyt.backfill_rows_per_s", backfillRowsPerS.median, "1/s")
      rec.layer("nyt.idle_firing_ms", idleMs.median, "ms")
      rec.layer("sink.files_created", Samples.pct(sinkStats.map(_._1.toDouble).toSeq, 0.5), "count")
      rec.layer("sink.renames", Samples.pct(sinkStats.map(_._2.toDouble).toSeq, 0.5), "count")
      val end = SinkSnapshot(dep.sink)
      rec.layer("sink.files", end.files.size.toDouble, "count")
      rec.layer("sink.bytes_per_input_byte", end.bytes.toDouble / math.max(1L, dep.inputBytes), "ratio")
      perQuery.foreach { case (n, s) => rec.layer(s"dashboard.${n}_ms", s.median, "ms") }
      rec.layer("dashboard.files_read", scanFiles.median, "count")
      rec.layer("dashboard.rows_read_per_row_returned", scanRows.median, "ratio")
      val jdbcJobs = (s: Span) => tr.jobs(s).filter(_.module == "JdbcSink")
      val upsertMs = perFiring(data)(s => jdbcJobs(s).map(_.durMs).sum.toDouble)
      val upsertRows = perFiring(data)(s => jdbcJobs(s).map(_.inputRecords).sum.toDouble)
      rec.layer("jdbc.upsert_ms", upsertMs, "ms")
      rec.layer("jdbc.rows", upsertRows, "count")
      rec.layer("jdbc.ms_per_row", if (upsertRows > 0) upsertMs / upsertRows else 0.0, "ms")
      rec.layer("jdbc.tasks", perFiring(data)(s => jdbcJobs(s).map(_.tasks).sum.toDouble), "count")
      // where a data firing's time goes, by the program file that ran each job
      val total = data.map(_.durMs).sum
      val byModule = tr.jobs(data).groupBy(_.module).map { case (m, js) =>
        m -> Tracer.union(js.map(j => (j.submitMs, j.endMs))) / total }
      rec.layer("firing.jdbc_share", byModule.getOrElse("JdbcSink", 0.0), "ratio")
      rec.detail("firing_time_share_by_module") = byModule ++
        Map("self (outside Spark jobs)" -> (total - data.map(tr.coveredMs).sum) / total)
    }
  }

  // ---- checks ----------------------------------------------------------

  private def perDate(df: DataFrame): Map[LocalDate, (Long, Long, Long, Long)] =
    df.groupBy(col("date")).agg(count(lit(1)), sum(col("cases")), sum(col("deaths")),
      sum(when(col("fips").isNull, 1).otherwise(0)))
      .collect().map(r => r.getDate(0).toLocalDate ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap

  private def checkSink(ctx: Ctx, dep: Deployment, lastDay: Int): Unit = {
    val f = dep.feed
    val counties = perDate(ctx.spark.read.parquet(s"${dep.sink}/counties"))
    val states = perDate(ctx.spark.read.parquet(s"${dep.sink}/states"))
    val rec = ctx.record
    rec.check(counties.size == lastDay + 1, s"counties sink has ${counties.size} dates, want ${lastDay + 1}")
    rec.check(states.size == lastDay + 1, s"states sink has ${states.size} dates, want ${lastDay + 1}")
    (0 to lastDay).foreach { t =>
      val want = f.expectedCounties(t, dep.revised(t))
      rec.check(counties.get(f.date(t)).contains(want),
        s"counties ${f.date(t)}: got ${counties.get(f.date(t))}, want $want")
      val ws = f.expectedStates(t)
      rec.check(states.get(f.date(t)).contains(ws),
        s"states ${f.date(t)}: got ${states.get(f.date(t))}, want $ws")
    }
  }

  private def checkDashboard(ctx: Ctx, dep: Deployment, lastDay: Int,
                             got: Map[String, Array[Row]]): Unit = {
    val rec = ctx.record
    val f = dep.feed
    val want = f.expectedStateTotals(lastDay, dep.revised(lastDay))
    val latest = got.getOrElse("latest_totals", Array.empty[Row])
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    rec.check(latest == want, s"latest_totals: got ${latest.take(3)}..., want ${want.take(3)}...")
    val top = got.getOrElse("top_counties", Array.empty[Row]).map(_.getLong(2)).toSeq
    rec.check(top.size == math.min(10, f.counties.size) && top == top.sortBy(-_),
      s"top_counties: $top")
    val days = math.min(90, lastDay + 1)
    rec.check(got.get("state_trend").exists(_.length == f.states.size * days),
      s"state_trend rows ${got.get("state_trend").map(_.length)}, want ${f.states.size * days}")
    rec.check(got.get("state_peak").exists(_.length == f.states.size),
      s"state_peak rows ${got.get("state_peak").map(_.length)}")
  }

  private def checkMirror(ctx: Ctx, dep: Deployment): Unit =
    NytJob.feeds.foreach { feed =>
      val sink = perDate(ctx.spark.read.parquet(s"${dep.sink}/${feed.name}"))
      val mirror = perDate(ctx.spark.read.jdbc(dep.jdbc, feed.jdbcTable, new java.util.Properties))
      ctx.record.check(sink == mirror,
        s"mirror ${feed.name} differs from sink on ${(sink.keySet ++ mirror.keySet)
          .filter(k => sink.get(k) != mirror.get(k)).take(3)}")
    }
}

/** Data files under a sink, by partition directory; `diff` gives (files
  * created, renames) between two snapshots, counting the partition swap
  * protocol's renames: two for a replaced partition, one for a new one. */
final case class SinkSnapshot(files: Map[String, Long]) {
  def bytes: Long = files.values.sum
  private def parts = files.keys.map(k => k.substring(0, k.lastIndexOf('/'))).toSet
  def diff(after: SinkSnapshot): (Int, Int) = {
    val created = after.files.keySet -- files.keySet
    val touched = created.map(k => k.substring(0, k.lastIndexOf('/')))
    (created.size, touched.toSeq.map(p => if (parts(p)) 2 else 1).sum)
  }
}

object SinkSnapshot {
  def apply(sink: Path): SinkSnapshot =
    if (!Files.exists(sink)) SinkSnapshot(Map.empty[String, Long])
    else {
      val s = Files.walk(sink)
      try SinkSnapshot(s.iterator().asScala.filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet"))
        .map(p => sink.relativize(p).toString -> Files.size(p)).toMap)
      finally s.close()
    }
}
