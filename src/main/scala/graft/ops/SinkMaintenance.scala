package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Sink maintenance for the incremental pipeline (SURVEY.md §4.4).
  *
  * Every [[Streaming.ingestAvailableNow]] firing rewrites its affected
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

  /** Sort-on-write for scan locality (§4.4): range-partition + sort by
    * the dominant filter columns so each parquet row group covers a
    * narrow key range. Parquet stores per-row-group min/max; a filtered
    * scan then DECODES only the groups whose range intersects the
    * predicate instead of every row — the poor man's clustering index,
    * and at 100 TB the difference between scanning a day and scanning
    * the decade. `rowGroupBytes` bounds group size so statistics stay
    * fine-grained (production default 128 MB is right for HDFS-sized
    * files; tests shrink it to get multiple groups from small data). */
  def writeSorted(df: org.apache.spark.sql.DataFrame, sortCols: Seq[String],
                  dest: String,
                  rowGroupBytes: Long = 128L * 1024 * 1024): Unit = {
    import org.apache.spark.sql.functions.col
    df.repartitionByRange(sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
      .write
      .option("parquet.block.size", rowGroupBytes)
      .mode("overwrite").parquet(dest)
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

  /** Keyed deletion from a partitioned parquet sink — the takedown /
    * right-to-be-forgotten primitive a training-data pipeline must
    * support (removal lists, licensing revocations, opt-outs).
    *
    * Shape: one column-pruned scan of (key, partition) finds which
    * partitions actually contain victims (a key-based delete cannot
    * partition-prune a priori — without a key index every partition's
    * key column must be READ, but only the key column, and only
    * affected partitions are REWRITTEN); those partitions re-read in
    * full, anti-join the key list, and publish through the same
    * crash-safe rename swap as compaction/ingest ([[PartitionSwap]]) —
    * untouched partitions stay byte-identical, a rerun with the same
    * keys is a no-op, and a crash mid-publish heals on the next call.
    * The key list rides a broadcast (takedown lists are small); cost is
    * O(one narrow scan + affected partitions), not O(history rewrite).
    *
    * Returns the partition values that were rewritten. */
  def deleteKeyed(spark: org.apache.spark.sql.SparkSession,
                  sinkPath: String, keyCol: String,
                  keys: org.apache.spark.sql.DataFrame,
                  partitionCol: String): Seq[Any] = {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.functions.{broadcast, col}
    val sink = new Path(sinkPath)
    val fs = sink.getFileSystem(spark.sparkContext.hadoopConfiguration)
    PartitionSwap.recover(fs, sink)
    val k = keys.select(col(keyCol)).distinct()
    val affected = spark.read.parquet(sinkPath)
      .select(col(keyCol), col(partitionCol))
      .join(broadcast(k), keyCol)
      .select(col(partitionCol)).distinct()
      .collect().map(_.get(0)).filter(_ != null).toSeq
    if (affected.nonEmpty) {
      val kept = spark.read.parquet(sinkPath)
        .filter(col(partitionCol).isin(affected: _*))
        .join(broadcast(k), Seq(keyCol), "left_anti")
      val staging = new Path(sinkPath + "__staging")
      fs.delete(staging, true)
      kept.write.mode("overwrite")
        .partitionBy(partitionCol).parquet(staging.toString)
      // a partition whose every row was deleted produces no staging dir;
      // its live dir must still go away or victims survive
      val published = PartitionSwap
        .publish(fs, staging, sink, partitionCol).toSet
      affected.foreach { v =>
        val name = s"$partitionCol=$v"
        if (!published.contains(name))
          fs.delete(new Path(sink, name), true)
      }
    }
    affected
  }

  /** Sort-on-write clustered by the z-order of two filter columns —
    * the multi-column locality upgrade of [[writeSorted]] (the same
    * posture as a lakehouse OPTIMIZE ZORDER BY (x, y)). */
  def writeZOrdered(df: org.apache.spark.sql.DataFrame,
                    xCol: String, yCol: String, dest: String,
                    bits: Int = 12,
                    rowGroupBytes: Long = 128L * 1024 * 1024): Unit = {
    import org.apache.spark.sql.functions.col
    df.withColumn("__z", zOrderKey(col(xCol), col(yCol), bits))
      .repartitionByRange(col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write
      .option("parquet.block.size", rowGroupBytes)
      .mode("overwrite").parquet(dest)
  }
}
