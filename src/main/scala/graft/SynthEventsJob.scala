package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import ops.ExtOps

/** End-to-end synthetic-event generator — the GENERATION-side surface
  * beside [[CorpusHealthJob]] (monitoring) and [[RagIndexJob]]
  * (serving): it turns the event behavior-model family (q170 Markov
  * transitions, q172 gap spectrum, q176 diurnal heatmap) into a
  * load-test / privacy-safe-replay corpus generator, then closes the
  * loop by validating that the synthetic stream reproduces the model it
  * was drawn from.
  *
  * `model <sfDir> <modelDir>` fits and writes the three model tables
  * (the exact q170/q172/q176 outputs) as parquet — bounded frames:
  * (|types|+1)·|types| transitions, |types|·decades gap cells,
  * |types|·168 diurnal cells.
  *
  * `generate <modelDir> <outDir> <nUsers> [seed] [maxLen]` synthesizes
  * one event stream per user, events-schema-compatible
  * (event_id, ts, user_id, event_type, value, props):
  *   - stream length     ~ uniform 1..maxLen (default 20)
  *   - first event type  ~ the model's '<start>' transition row
  *   - next type         ~ the transition row of the current type
  *   - session start     ~ the first type's diurnal (dow, hour) cell,
  *                         minute/second uniform within the hour
  *   - inter-event gap   ~ the arriving type's gap-decade cell, uniform
  *                         seconds within the cell's OBSERVED
  *                         [min_gap_s, max_gap_s] support
  * All sampling is counter-based splitmix64 on (seed, user, step) — no
  * RNG state, so generation is embarrassingly parallel (one `flatMap`
  * over `spark.range(nUsers)` against broadcast model CDFs) and
  * bit-reproducible: same seed → byte-identical corpus on any
  * partitioning. At 100 TB-scale user counts nothing changes: models
  * stay bounded broadcasts, each task generates its own user range.
  *
  * `validate <modelDir> <eventsDir>` refits q170 on the given stream
  * and reports, per transition-matrix row, the L1 distance (ppm)
  * between model and refit next-type distributions — the fidelity
  * number a replay consumer reads before trusting the corpus. Reads
  * only the two bounded matrices; never joins event-sized data.
  */
object SynthEventsJob {

  // ---- deterministic counter-based PRNG ---------------------------------
  private def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** Uniform in [0, n) from (seed, user, step, salt) — stateless. */
  private def draw(seed: Long, user: Long, step: Long, salt: Long,
      n: Long): Long = {
    val h = splitmix64(splitmix64(splitmix64(seed ^ user) ^ step) ^ salt)
    java.lang.Long.remainderUnsigned(h, math.max(n, 1L))
  }

  /** Weighted pick: CDF over exact model counts. */
  private def pick[T](cdf: Array[(T, Long)], r: Long): T = {
    var acc = 0L
    var i = 0
    while (i < cdf.length - 1 && acc + cdf(i)._2 <= r) {
      acc += cdf(i)._2; i += 1
    }
    cdf(i)._1
  }

  def model(s: SparkSession, sfDir: String, modelDir: String): Unit = {
    ExtOps.q170EventTransitions(s, sfDir).coalesce(1)
      .write.mode("overwrite").parquet(s"$modelDir/transitions.parquet")
    ExtOps.q172GapSpectrum(s, sfDir).coalesce(1)
      .write.mode("overwrite").parquet(s"$modelDir/gaps.parquet")
    ExtOps.q176DiurnalProfile(s, sfDir).coalesce(1)
      .write.mode("overwrite").parquet(s"$modelDir/diurnal.parquet")
    println(s"[synth-events] model written to $modelDir")
  }

  def generate(s: SparkSession, modelDir: String, outDir: String,
      nUsers: Long, seed: Long, maxLen: Int): Unit = {
    import s.implicits._
    // bounded model tables → driver maps → one broadcast each
    val trans = s.read.parquet(s"$modelDir/transitions.parquet")
      .select("prev_type", "event_type", "n_trans").collect()
      .map(r => (r.getString(0), (r.getString(1), r.getLong(2))))
      .groupBy(_._1).map { case (k, v) =>
        k -> v.map(_._2).sortBy(_._1) }
    val gaps = s.read.parquet(s"$modelDir/gaps.parquet")
      .select("event_type", "band", "n_gaps", "min_gap_s", "max_gap_s")
      .collect()
      .map(r => (r.getString(0),
        ((r.getLong(3), r.getLong(4)), r.getLong(2))))
      .groupBy(_._1).map { case (k, v) =>
        k -> v.map(_._2).sortBy(_._1) }
    val diurnal = s.read.parquet(s"$modelDir/diurnal.parquet")
      .select("event_type", "dow", "hod", "n_events").collect()
      .map(r => (r.getString(0),
        ((r.getInt(1), r.getInt(2)), r.getLong(3))))
      .groupBy(_._1).map { case (k, v) =>
        k -> v.map(_._2).sortBy(_._1) }
    val bTrans = s.sparkContext.broadcast(
      trans.map { case (k, v) => k -> (v, v.map(_._2).sum) })
    val bGaps = s.sparkContext.broadcast(
      gaps.map { case (k, v) => k -> (v, v.map(_._2).sum) })
    val bDiurnal = s.sparkContext.broadcast(
      diurnal.map { case (k, v) => k -> (v, v.map(_._2).sum) })
    // week-aligned epoch anchor: 2024-01-07 00:00:00 UTC is a Sunday
    // (dow 0 in the q176 convention)
    val anchorUs = 1704585600L * 1000000L

    val events = s.range(nUsers).as[Long].flatMap { u =>
      val tm = bTrans.value
      val gm = bGaps.value
      val dm = bDiurnal.value
      val len = 1 + draw(seed, u, 0L, 1L, maxLen.toLong).toInt
      val out = new scala.collection.mutable.ArrayBuffer[
        (Long, java.sql.Timestamp, Long, String, Double, String)](len)
      var cur = "<start>"
      var tsUs = 0L
      var i = 1L
      var alive = true
      while (i <= len && alive) {
        tm.get(cur) match {
          case None => alive = false // absorbing type: no observed follows
          case Some((cdf, tot)) =>
            val next = pick(cdf, draw(seed, u, i, 2L, tot))
            if (i == 1L) {
              // session start from the first type's diurnal cell
              val (dcdf, dtot) =
                dm.getOrElse(next, (Array(((0, 0), 1L)), 1L))
              val (dow, hod) = pick(dcdf, draw(seed, u, i, 3L, dtot))
              val sec = draw(seed, u, i, 4L, 3600L)
              tsUs = anchorUs + ((dow * 24L + hod) * 3600L + sec) * 1000000L
            } else {
              // arrival gap from the arriving type's decade cell; a type
              // the corpus only ever saw opening sessions has no gap
              // model — fall back to gap 0
              val (gcdf, gtot) =
                gm.getOrElse(next, (Array(((0L, 0L), 1L)), 1L))
              val (lo, hi) = pick(gcdf, draw(seed, u, i, 5L, gtot))
              val gap = lo + draw(seed, u, i, 6L, hi - lo + 1L)
              tsUs += gap * 1000000L
            }
            val ts = new java.sql.Timestamp(tsUs / 1000L)
            ts.setNanos(((tsUs % 1000000L) * 1000L).toInt)
            out += ((u * maxLen + i, ts, u, next, 1.0, "{}"))
            cur = next
        }
        i += 1
      }
      out
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    events.write.mode("overwrite").parquet(s"$outDir/events.parquet")
    val n = s.read.parquet(s"$outDir/events.parquet").count()
    println(s"[synth-events] generated $n events for $nUsers users" +
      s" (seed $seed, maxLen $maxLen) at $outDir")
  }

  /** Per-transition-row model-vs-refit L1 (ppm) — bounded frames only. */
  private[graft] def fidelity(s: SparkSession, modelDir: String,
      eventsDir: String): DataFrame = {
    val model = s.read.parquet(s"$modelDir/transitions.parquet")
      .select(col("prev_type"), col("event_type"),
        col("p_next_ppm").as("p_model"))
    val refit = ExtOps.q170EventTransitions(s, eventsDir)
      .select(col("prev_type"), col("event_type"),
        col("p_next_ppm").as("p_refit"))
    model.join(refit, Seq("prev_type", "event_type"), "full")
      .withColumn("p_model", coalesce(col("p_model"), lit(0L)))
      .withColumn("p_refit", coalesce(col("p_refit"), lit(0L)))
      .groupBy(col("prev_type"))
      .agg(sum(abs(col("p_model") - col("p_refit"))).as("l1_ppm"),
        max(abs(col("p_model") - col("p_refit"))).as("max_dev_ppm"),
        count(lit(1)).as("n_cells"))
      .orderBy(col("prev_type"))
  }

  def validate(s: SparkSession, modelDir: String, eventsDir: String): Unit = {
    val f = fidelity(s, modelDir, eventsDir).collect()
    f.foreach(r => println(s"[synth-events] ${r.getAs[String]("prev_type")}" +
      s" l1=${r.getAs[Long]("l1_ppm")}ppm" +
      s" max=${r.getAs[Long]("max_dev_ppm")}ppm" +
      s" cells=${r.getAs[Long]("n_cells")}"))
    val worst = f.map(_.getAs[Long]("l1_ppm")).max
    println(s"[synth-events] worst-row l1 $worst ppm over ${f.length} rows")
  }

  def main(args: Array[String]): Unit = {
    val cmd = args(0)
    val spark = Session("graft-synth-events-job")
    cmd match {
      case "model"    => model(spark, args(1), args(2))
      case "generate" => generate(spark, args(1), args(2), args(3).toLong,
        if (args.length > 4) args(4).toLong else 42L,
        if (args.length > 5) args(5).toInt else 20)
      case "validate" => validate(spark, args(1), args(2))
      case other => sys.error(s"unknown subcommand: $other " +
        "(expected model|generate|validate)")
    }
    spark.stop()
  }
}
