package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import ops.{SinkMaintenance, Skew}

/** End-to-end warehouse-layout job — the PHYSICAL-side surface beside
  * [[CurationJob]] (training data), [[RagIndexJob]] (serving) and
  * [[CorpusHealthJob]] (monitoring): the layouts the query families rely
  * on are owned by a maintenance job, not rebuilt as query side effects.
  * At 100 TB "layout" IS the service: partition pruning (q190/q191),
  * bucketed co-located joins (q185), and row-group clustering (q89)
  * only pay off if something maintains them between ingest firings.
  *
  * `land <sfDir> <root>` builds the three layouts:
  *   - `root/events_bydate/` — dt-partitioned events (`event_date=...`
  *     directories; the q190/q191 pruning substrate)
  *   - `root/docs_sorted/` — documents range-partitioned + sorted by
  *     (source, doc_id) so every parquet row group carries tight
  *     min/max stats on the dominant filter columns (q89's discipline)
  *   - bucketed doc/token catalog tables (16 buckets on doc_id — the
  *     q185 zero-exchange join pair; session-catalog + versioned names)
  *
  * `audit <root>` is METADATA-ONLY (one FS walk, zero data read): per
  * layout and partition it reports file count, byte mass, and a
  * small-file band — `healthy` / `fragmented` (> maxFiles data files) /
  * `tiny_files` (mean file < 1 MiB). The report is O(partitions) rows.
  *
  * `compact <root> [maxFiles]` rewrites only the fragmented partitions
  * of `events_bydate` (ceil(bytes/target) files each) and republishes
  * them through the crash-safe [[ops.PartitionSwap]] two-phase rename —
  * a torn compaction recovers, never serves half a partition. Returns
  * the audit after the rewrite.
  *
  * All of it composes the existing primitives ([[SinkMaintenance]],
  * [[ops.PartitionSwap]], [[Skew.bucketedDocTables]]); the job adds the
  * operational wrapper: idempotent land, driveable audit, bounded
  * compaction — the nightly-maintenance shape.
  */
object LayoutJob {

  private def fsFor(s: SparkSession, p: String) =
    new org.apache.hadoop.fs.Path(p)
      .getFileSystem(s.sparkContext.hadoopConfiguration)

  def land(s: SparkSession, sfDir: String, root: String): Unit = {
    Tables.events(s, sfDir)
      .withColumn("event_date", to_date(col("ts")))
      .write.mode("overwrite").partitionBy("event_date")
      .parquet(s"$root/events_bydate")
    SinkMaintenance.writeSorted(
      Tables.documents(s, sfDir), Seq("source", "doc_id"),
      s"$root/docs_sorted")
    Skew.bucketedDocTables(s, sfDir): Unit
  }

  /** Metadata-only layout health report: (layout, partition, n_files,
    * bytes, band). Bounded by partition count; reads no data. Covers
    * all THREE landed layouts — the bucketed join tables live in the
    * session's warehouse dir (saveAsTable), not under `root`, and are
    * audited there. The file filter and fragmentation criterion are
    * [[ops.SinkMaintenance]]'s own, so the `fragmented` verdict is
    * exactly what [[compact]] will rewrite. */
  def audit(s: SparkSession, root: String,
            maxFiles: Int = 4): DataFrame = {
    val fs = fsFor(s, root)
    def band(n: Int, bytes: Long): String =
      if (SinkMaintenance.isFragmented(n, maxFiles)) "fragmented"
      else if (n > 0 && bytes / n < (1L << 20)) "tiny_files"
      else "healthy"
    def rowsUnder(layout: String,
        base: org.apache.hadoop.fs.Path,
        bfs: org.apache.hadoop.fs.FileSystem)
        : Seq[(String, String, Int, Long, String)] =
      if (!bfs.exists(base)) Nil
      else {
        val parts = bfs.listStatus(base)
          .filter(d => d.isDirectory && d.getPath.getName.contains("="))
        if (parts.isEmpty) {
          val f = SinkMaintenance.dataFiles(bfs, base)
          Seq((layout, "(unpartitioned)", f.length,
            f.map(_.getLen).sum, band(f.length, f.map(_.getLen).sum)))
        } else parts.toSeq.map { d =>
          val f = SinkMaintenance.dataFiles(bfs, d.getPath)
          (layout, d.getPath.getName, f.length,
            f.map(_.getLen).sum, band(f.length, f.map(_.getLen).sum))
        }
      }
    val underRoot = Seq("events_bydate", "docs_sorted").flatMap(l =>
      rowsUnder(l, new org.apache.hadoop.fs.Path(s"$root/$l"), fs))
    val wh = new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir"))
    val wfs = wh.getFileSystem(s.sparkContext.hadoopConfiguration)
    // bucketed tables are exempt from the fragmentation band: their file
    // count IS the bucket layout (compaction must never rewrite bucket
    // files — it would break the hash co-location). Reported for
    // visibility with their own band.
    val bucketed =
      if (!wfs.exists(wh)) Nil
      else wfs.listStatus(wh).toSeq
        .filter(st => st.isDirectory &&
          (st.getPath.getName.startsWith("graft_docs_b_") ||
            st.getPath.getName.startsWith("graft_toks_b_")))
        .map { st =>
          val f = SinkMaintenance.dataFiles(wfs, st.getPath)
          ("bucketed_tables/" + st.getPath.getName, "(unpartitioned)",
            f.length, f.map(_.getLen).sum, "bucketed")
        }
    import s.implicits._
    (underRoot ++ bucketed)
      .toDF("layout", "partition", "n_files", "bytes", "band")
      .orderBy(col("layout"), col("partition"))
  }

  /** Compact fragmented `events_bydate` partitions; returns the names
    * of the rewritten partition dirs (the [[SinkMaintenance]] contract,
    * published via the crash-safe swap). */
  def compact(s: SparkSession, root: String, maxFiles: Int = 4,
              targetBytes: Long = 128L * 1024 * 1024): Seq[String] =
    SinkMaintenance.compactPartitions(s, s"$root/events_bydate",
      partitionCol = "event_date", maxFiles = maxFiles,
      targetBytes = targetBytes)

  def main(args: Array[String]): Unit = {
    val cmd = args(0)
    val spark = Session("graft-layout-job")
    cmd match {
      case "land" =>
        land(spark, args(1), args(2))
        println(s"[layout-job] landed events_bydate + docs_sorted under " +
          s"${args(2)}; bucketed tables in warehouse " +
          spark.conf.get("spark.sql.warehouse.dir"))
      case "audit" =>
        val rep = audit(spark, args(1)).collect()
        rep.foreach(r => println(s"[layout-job] ${r.mkString(" | ")}"))
        println(s"[layout-job] ${rep.length} partitions audited, " +
          s"${rep.count(_.getAs[String]("band") != "healthy")} unhealthy")
      case "compact" =>
        val maxFiles = if (args.length > 2) args(2).toInt else 4
        val done = compact(spark, args(1), maxFiles)
        println(s"[layout-job] compacted ${done.length} partitions" +
          (if (done.isEmpty) "" else ": " + done.mkString(", ")))
      case other =>
        sys.error(s"unknown subcommand $other (land|audit|compact)")
    }
    spark.stop()
  }
}
