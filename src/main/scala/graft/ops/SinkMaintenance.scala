package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Sink maintenance for the incremental pipeline (SURVEY.md §4.4).
  *
  * Every [[Ingest.ingestNewFiles]] firing rewrites its affected
  * partitions with one file per shuffle task, so a partition touched by
  * many firings (or merged at high parallelism) fragments into many small
  * files — and at 100 TB, small files are a scan-planning and NameNode/
  * object-store-listing tax that compounds every 15 minutes. Compaction
  * is the standard companion job: periodically rewrite fragmented
  * partitions into target-sized files, using the SAME crash-safe
  * per-partition swap as the ingest ([[PartitionSwap]]), so a compaction
  * crash is healed by the next writer exactly like an ingest crash.
  *
  * Untouched partitions are never listed beyond a file count, never read,
  * never rewritten.
  */
object SinkMaintenance {

  /** The data files of one directory: skips `_`- and `.`-prefixed
    * committer and checksum files. */
  private def dataFiles(fs: org.apache.hadoop.fs.FileSystem,
      dir: Path): Array[org.apache.hadoop.fs.FileStatus] =
    fs.listStatus(dir).filter(f => f.isFile
      && !f.getPath.getName.startsWith("_")
      && !f.getPath.getName.startsWith("."))

  /** The fragmentation criterion: more data files than `maxFiles`. */
  private def isFragmented(nFiles: Int, maxFiles: Int): Boolean =
    nFiles > maxFiles

  /** Rewrite every partition of `sinkPath` whose data-file count exceeds
    * `maxFiles` into ceil(bytes / targetBytes) files. Returns the names
    * of the compacted partition dirs. Safe to run between (not during)
    * ingest firings — both sides publish through [[PartitionSwap]]. */
  def compactPartitions(spark: SparkSession, sinkPath: String,
                        partitionCol: String = "date",
                        maxFiles: Int = 4,
                        targetBytes: Long = 128L * 1024 * 1024): Seq[String] = {
    val sink = new Path(sinkPath)
    val fs = sink.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(sink)) return Nil
    PartitionSwap.recover(fs, sink)
    val fragmented = fs.listStatus(sink)
      .filter(_.getPath.getName.startsWith(partitionCol + "="))
      .flatMap { dir =>
        val files = dataFiles(fs, dir.getPath)
        if (isFragmented(files.length, maxFiles))
          Some((dir.getPath, files.map(_.getLen).sum))
        else None
      }
    if (fragmented.isEmpty) return Nil
    val staging = new Path(sinkPath + "__staging")
    fs.delete(staging, true)
    // one coalesced rewrite per fragmented partition: reading the dir
    // directly (not through partition discovery) keeps the job's listing
    // O(fragmented), and the rewrite is a narrow coalesce — no shuffle
    fragmented.foreach { case (dir, bytes) =>
      val nOut = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
      spark.read.parquet(dir.toString)
        .coalesce(nOut)
        .write.mode("overwrite")
        .parquet(new Path(staging, dir.getName).toString)
    }
    PartitionSwap.publish(fs, staging, sink, partitionCol)
  }

  /** Morton (z-order) key: interleave the low `bits` bits of two
    * non-negative long columns — bit i of x lands at position 2i, bit i
    * of y at 2i+1. Consecutive z values stay close in BOTH dimensions,
    * so sorting by z gives every parquet row group a bounded min/max
    * range on x AND y simultaneously: a two-column predicate prunes
    * groups where a single-column sort only bounds its own column (the
    * other's span per group stays the full domain). Pure shift/mask
    * arithmetic — codegen-friendly, and expressible identically in the
    * DuckDB oracle. */
  def zOrderKey(x: org.apache.spark.sql.Column,
                y: org.apache.spark.sql.Column, bits: Int = 12)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    (0 until bits).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)
  }
}
