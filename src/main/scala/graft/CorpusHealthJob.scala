package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import ops.{CurationOps, SimOps, StatsOps, TextOps}

/** End-to-end corpus-health job — the MONITORING-side surface beside
  * [[CurationJob]] (training-side) and [[RagIndexJob]] (serving-side):
  * it turns the monitor-query family into a durable run ledger a
  * data-ops team watches across corpus versions, instead of ad-hoc
  * one-shot queries.
  *
  * `record <sfDir> <reportRoot> <runId>` computes one health SNAPSHOT —
  * the seven structural monitors, all bounded-output and all reading
  * the pinned attribute/histogram shapes, flattened into one long-format
  * frame `(run_id, monitor, entity, value, band)`:
  *
  *   - `ks_drift`        per source   — q158 KS shape drift (ks_ppm)
  *   - `ranking_auc`     per source   — q161 model ranking AUC (auc_ppm)
  *   - `rater_kappa`     corpus       — q160 heuristic/model κ (ppm)
  *   - `calibration`     per band     — q159 observed-rate bands (en_ppm)
  *   - `composition`     source×lang  — q152 independence ratio (ppm)
  *   - `mixing`          per epoch    — q153 shuffle adjacency (ppm)
  *   - `embedding_hygiene` per label  — q151 bad-vector count
  *
  * and appends it to `reportRoot/history.parquet` as ONE single-file
  * write commit. Idempotent per run_id: a rerun of an already-recorded
  * run appends nothing (the ledger itself is the dedup store — the
  * [[RagIndexJob.update]] contract). Each snapshot is O(monitor
  * entities) ≈ hundreds of rows regardless of corpus size, so the
  * ledger stays driver-readable forever; the expensive inputs are the
  * same pinned attribute tables the standalone queries charge.
  *
  * `trend <reportRoot>` reads ONLY the ledger (never the corpus) and
  * computes run-over-run movement per (monitor, entity): value delta
  * and band flips, via a lag window partitioned by (monitor, entity) —
  * bounded frames (one row per recorded run). `alerts` filters trend to
  * the LATEST run's band flips: the page-a-human subset.
  *
  * At 100 TB nothing here changes: `record` cost is the monitor suite
  * itself (attribute-table derivations amortized across monitors via
  * [[ops.StageCache]]), the appended snapshot is still hundreds of
  * rows, and `trend`/`alerts` never touch the corpus at all.
  */
object CorpusHealthJob {

  private def longRow(df: DataFrame, monitor: String, entity: org.apache.spark.sql.Column,
      value: org.apache.spark.sql.Column, band: org.apache.spark.sql.Column): DataFrame =
    df.select(lit(monitor).as("monitor"), entity.cast("string").as("entity"),
      value.cast("long").as("value"), band.cast("string").as("band"))

  /** One corpus-health snapshot in long format — bounded output. */
  private[graft] def snapshot(s: SparkSession, sfDir: String): DataFrame = {
    val ks = longRow(StatsOps.q158KsDrift(s, sfDir), "ks_drift",
      col("source"), col("ks_ppm"), col("drift_band"))
    val auc = longRow(TextOps.q161SourceAuc(s, sfDir), "ranking_auc",
      col("source"), col("auc_ppm"), col("rank_band"))
    val kappa = longRow(TextOps.q160RaterAgreement(s, sfDir), "rater_kappa",
      lit("corpus"), col("kappa_ppm"), col("agreement_band"))
    val cal = longRow(TextOps.q159Calibration(s, sfDir), "calibration",
      concat(lit("band:"), col("band")), col("en_ppm"),
      when(col("mono_ok"), "mono").otherwise("break"))
    val comp = longRow(StatsOps.q152CompositionSkew(s, sfDir), "composition",
      concat_ws(":", col("source"), col("lang")), col("ratio_ppm"),
      col("skew_band"))
    val mix = longRow(CurationOps.q153ShuffleMixing(s, sfDir), "mixing",
      concat(lit("epoch:"), col("epoch")), col("same_ppm"),
      col("mixing_band"))
    // A text-only corpus version has no embeddings table: the six
    // document-side monitors still record (degrade, don't die — the
    // q122/q148 self-policing posture); the hygiene rows simply don't
    // appear for that run, which trend/alerts already treat as "entity
    // absent", not as a flip.
    val hyg =
      try Some(longRow(SimOps.q151EmbeddingHygiene(s, sfDir),
        "embedding_hygiene", concat(lit("label:"), col("label")),
        col("n_zero") + col("n_hi_outlier") + col("n_lo_outlier"),
        when(col("n_zero") + col("n_hi_outlier") + col("n_lo_outlier")
          === 0L, "clean").otherwise("dirty")))
      catch { case _: org.apache.spark.sql.AnalysisException => None }
    val docSide = ks.unionByName(auc).unionByName(kappa).unionByName(cal)
      .unionByName(comp).unionByName(mix)
    hyg.fold(docSide)(docSide.unionByName(_))
  }

  private def historyPath(reportRoot: String) = s"$reportRoot/history.parquet"

  private def readHistory(s: SparkSession, reportRoot: String): Option[DataFrame] =
    try Some(s.read.parquet(historyPath(reportRoot))
      // run_id is a discovered partition column; pin it to LONG so a
      // small id isn't inferred as int and breaking trend's getLong.
      .withColumn("run_id", col("run_id").cast("long")))
    catch { case _: org.apache.spark.sql.AnalysisException => None }

  /** Publish run `runId`'s snapshot as ledger partition `run_id=<id>`;
    * returns rows written (0 when the run is already in the ledger —
    * idempotent rerun). The run-id-named PARTITION is the idempotency
    * mechanism, not the read-check (which is only a fast path): a
    * duplicate publish overwrites its own directory rather than
    * appending, so two racing record() calls for the same run converge
    * on one snapshot (the content is deterministic), never a
    * double-appended ledger. */
  def record(s: SparkSession, sfDir: String, reportRoot: String,
      runId: Long): Long = {
    val seen = readHistory(s, reportRoot)
      .exists(h => !h.filter(col("run_id") === runId).isEmpty)
    if (seen) 0L
    else {
      val snap = snapshot(s, sfDir)
        .select(col("monitor"), col("entity"), col("value"), col("band"))
        .orderBy(col("monitor"), col("entity"))
        .coalesce(1) // O(hundreds) rows: one file per firing, ever
      snap.write.mode("overwrite")
        .parquet(s"${historyPath(reportRoot)}/run_id=$runId")
      s.read.parquet(historyPath(reportRoot))
        .filter(col("run_id") === runId).count()
    }
  }

  /** Run-over-run movement per (monitor, entity): value delta + band
    * flip, from the ledger only. */
  def trend(s: SparkSession, reportRoot: String): DataFrame = {
    val w = Window.partitionBy(col("monitor"), col("entity"))
      .orderBy(col("run_id"))
    val hist = readHistory(s, reportRoot).getOrElse {
      import org.apache.spark.sql.types._
      s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("run_id", LongType),
          StructField("monitor", StringType),
          StructField("entity", StringType),
          StructField("value", LongType),
          StructField("band", StringType))))
    }
    hist
      .withColumn("prev_value", lag(col("value"), 1).over(w))
      .withColumn("prev_band", lag(col("band"), 1).over(w))
      .withColumn("delta", col("value") - col("prev_value"))
      .withColumn("flipped",
        coalesce(col("band") =!= col("prev_band"), lit(false)))
      .orderBy(col("monitor"), col("entity"), col("run_id"))
  }

  /** The page-a-human subset: band flips at the LATEST recorded run. */
  def alerts(s: SparkSession, reportRoot: String): DataFrame = {
    val t = trend(s, reportRoot)
    if (t.isEmpty) t
    else {
      val last = t.agg(max(col("run_id"))).head().getLong(0)
      t.filter(col("run_id") === last && col("flipped"))
    }
  }

  private val Usage =
    """usage: CorpusHealthJob record <sfDir> <reportRoot> <runId>
      |       CorpusHealthJob trend <reportRoot>
      |       CorpusHealthJob alerts <reportRoot>""".stripMargin

  def main(args: Array[String]): Unit = {
    val spark = Session("graft-corpus-health-job", "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft-health-wh").toString)
    args.toList match {
      case "record" :: sfDir :: root :: runId :: Nil =>
        val n = record(spark, sfDir, root, runId.toLong)
        println(s"[corpus-health] run $runId: appended $n monitor rows")
      case "trend" :: root :: Nil =>
        trend(spark, root).collect().foreach { r =>
          println(s"[corpus-health] ${r.getAs[String]("monitor")}/" +
            s"${r.getAs[String]("entity")} run=${r.getAs[Long]("run_id")}" +
            s" value=${r.getAs[Any]("value")} band=${r.getAs[String]("band")}" +
            s" flipped=${r.getAs[Boolean]("flipped")}")
        }
      case "alerts" :: root :: Nil =>
        val a = alerts(spark, root).collect()
        if (a.isEmpty) println("[corpus-health] no alerts")
        else a.foreach { r =>
          println(s"[corpus-health] ALERT ${r.getAs[String]("monitor")}/" +
            s"${r.getAs[String]("entity")}: ${r.getAs[String]("prev_band")}" +
            s" -> ${r.getAs[String]("band")}")
        }
      case _ => System.err.println(Usage); sys.exit(2)
    }
    spark.stop()
  }
}
