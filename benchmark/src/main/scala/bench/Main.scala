package bench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Everything a workload needs: the session, the span recorder, the record
  * it fills, its seed, the length of its timed phase and a private scratch
  * directory (deleted by the launcher after the run). `tiny` shrinks every
  * input for the self-test smoke runs. */
final case class Ctx(spark: SparkSession, tracer: Tracer, record: Record,
                     seed: Long, seconds: Double, tmp: Path, tiny: Boolean) {
  def dir(name: String): Path = { val p = tmp.resolve(name); Files.createDirectories(p); p }
  def deadline: Long = System.nanoTime() + (seconds * 1e9).toLong
  /** Runs `f` as a named phase of the run; its seconds go into the detail. */
  def phase[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally record.phases(name) = (System.nanoTime() - t0) / 1e9
  }
}

/** Benchmark entry point, launched by run.py in a JVM of its own:
  *
  * {{{
  * bench.Main --workload <nyt_mirror|rag_serve>
  *            --seed <n> --seconds <s> --trace <0|1> --tmp <dir> [--tiny]
  * bench.Main --gen <nyt|corpus> --seed <n> --tmp <dir> [--tiny]
  * }}}
  *
  * The last line of standard output is the run's JSON record. The line
  * before it, prefixed `detail:`, holds the diagnostics that are not gated
  * metrics (weather stamp, steady-state verdicts, traced timings). */
object Main {
  val Workloads: Seq[String] = Seq("nyt_mirror", "rag_serve")

  /** Every per-layer metric (name, unit) a traced run reports, whatever its
    * workload: a layer the workload does not exercise reads 0. */
  lazy val PerLayer: Seq[(String, String)] = {
    val units = ServeWorkload.units()
    Seq("streaming.latest_offset_ms" -> "ms", "streaming.wal_commit_ms" -> "ms",
      "streaming.start_ms" -> "ms", "streaming.batches" -> "count",
      "ingest.merge_ms" -> "ms", "ingest.shuffle_bytes" -> "B",
      "ingest.rows_read_per_row_written" -> "ratio",
      "nyt.backfill_rows_per_s" -> "1/s", "nyt.idle_firing_ms" -> "ms",
      "sink.files_created" -> "count", "sink.renames" -> "count", "sink.files" -> "count",
      "sink.bytes_per_input_byte" -> "ratio") ++
      NytWorkload.DashboardQueries.map { case (n, _) => s"dashboard.${n}_ms" -> "ms" } ++
      Seq("dashboard.files_read" -> "count", "dashboard.rows_read_per_row_returned" -> "ratio",
        "jdbc.upsert_ms" -> "ms", "jdbc.rows" -> "count", "jdbc.ms_per_row" -> "ms",
        "jdbc.tasks" -> "count", "firing.jdbc_share" -> "ratio", "registry.batch_s" -> "s") ++
      units.map(_.module).distinct.sorted.map(m => s"family.${m}_s" -> "s") ++
      units.filter(_.name.startsWith("stage_"))
        .map(u => s"stage.${u.name.stripPrefix("stage_")}_s" -> "s") ++
      Seq("registry.scan_bytes" -> "B", "registry.shuffle_bytes" -> "B",
        "registry.spill_bytes" -> "B", "registry.gc_s" -> "s", "registry.tasks" -> "count",
        "lookup.recall_at_10" -> "ratio", "lookup.jobs" -> "count", "lookup.driver_ms" -> "ms",
        "lookup.scan_ms" -> "ms", "lookup.rows_scanned" -> "count",
        "lookup.files_scanned" -> "count", "lookup.sched_wait_ms" -> "ms",
        "update.probe_ms" -> "ms", "update.write_ms" -> "ms", "update.novel_frac" -> "ratio",
        "index.files" -> "count", "maintain_ms" -> "ms")
  }

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    val tiny = args.contains("--tiny")
    val seed = opts("--seed").toLong
    val tmp = Paths.get(opts("--tmp")).toAbsolutePath
    Files.createDirectories(tmp)
    opts.get("--gen") match {
      case Some(kind) => Gen.main(kind, seed, tmp, tiny); return
      case None =>
    }
    val workload = opts("--workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val trace = opts.getOrElse("--trace", "0") == "1"
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"bench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", tmp.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", tmp.resolve("warehouse").toString)
      // the program's own mains set this for corpus scans (graft.Bench)
      .config("spark.graft.scan.autoParallelize", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val record = run(spark, workload, seed, opts("--seconds").toDouble, tmp, tiny, trace)
    record.detail("cpus") = cpus
    record.detail("heap_max_gb") = Runtime.getRuntime.maxMemory / 1e9
    spark.stop()
    println("detail: " + Json.any(record.detail))
    if (trace) Main.PerLayer.foreach { case (n, u) =>
      if (!record.perLayer.contains(n)) record.layer(n, 0.0, u) }
    println(record.json(trace))
    // a workload that aborted may leave its client threads behind
    System.out.flush()
    sys.exit(0)
  }

  def run(spark: SparkSession, workload: String, seed: Long, seconds: Double, tmp: Path,
          tiny: Boolean, trace: Boolean): Record = {
    val record = new Record
    val ctx = Ctx(spark, new Tracer(spark, trace), record, seed, seconds, tmp, tiny)
    try workload match {
      case "nyt_mirror" => NytWorkload.run(ctx)
      case "rag_serve" => ServeWorkload.run(ctx)
    } catch {
      case e: Throwable =>
        record.failed(s"workload aborted: $e")
        e.printStackTrace()
    }
    record.detail("mem.retained_gb") = retainedGb()
    record.detail("weather") = Weather.stamp(spark)
    if (record.checkFailures.nonEmpty) record.detail("check_failures") = record.checkFailures.toSeq
    if (trace) record.detail("traced_end_to_end") =
      record.endToEnd.map { case (k, (v, _)) => k -> v }
    record.detail("phase_s") = record.phases
    record
  }

  /** Driver heap still live after a full collection, in GB: the least of
    * three readings, each after its own collection, so garbage made by
    * threads still winding down between readings does not count. */
  def retainedGb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(100)
      mem.getHeapMemoryUsage.getUsed / 1e9
    }.min
  }
}
