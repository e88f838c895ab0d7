package graft

import java.nio.file.{Files, Path => JPath}

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Compaction: fragmented partitions collapse to target-sized files with
  * identical data; untouched partitions stay byte-identical.
  */
class SinkMaintenanceSpec extends AnyFunSuite {
  import SparkTestSession._

  private def dataFiles(dir: JPath): List[String] =
    Files.list(dir).iterator().asScala.map(_.getFileName.toString)
      .filter(n => !n.startsWith("_") && !n.startsWith(".")).toList

  private def snapshot(dir: JPath): Map[String, Seq[Byte]] =
    Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => dir.relativize(p).toString ->
        Files.readAllBytes(p).toSeq).toMap

  test("compactPartitions collapses fragmented partitions, preserves data, skips healthy ones") {
    import spark.implicits._
    val sink = Files.createTempDirectory("graft-compact").resolve("t").toString
    // day 1: fragmented (8 files via repartition); day 2: healthy (1 file)
    val day1 = (1 to 200)
      .map(i => (java.sql.Date.valueOf("2020-03-15"), i.toLong))
      .toDF("date", "v")
    day1.repartition(8).write.partitionBy("date").parquet(sink)
    val day2 = Seq((java.sql.Date.valueOf("2020-03-16"), 999L))
      .toDF("date", "v")
    day2.coalesce(1).write.mode("append").partitionBy("date").parquet(sink)

    val d1 = JPath.of(sink, "date=2020-03-15")
    val d2 = JPath.of(sink, "date=2020-03-16")
    assert(dataFiles(d1).size == 8)
    val before = spark.read.parquet(sink).orderBy("v").collect()
    val d2Before = snapshot(d2)

    val compacted = ops.SinkMaintenance.compactPartitions(spark, sink,
      maxFiles = 4)
    assert(compacted == Seq("date=2020-03-15"))
    assert(dataFiles(d1).size == 1, "fragmented partition not collapsed")
    assert(snapshot(d2) == d2Before, "healthy partition was rewritten")
    val after = spark.read.parquet(sink).orderBy("v").collect()
    assert(after.sameElements(before), "compaction changed the data")

    // second run: nothing fragmented → no-op
    assert(ops.SinkMaintenance.compactPartitions(spark, sink, maxFiles = 4)
      .isEmpty)
  }

  test("compaction composes with incremental ingest on the same sink") {
    val src = Files.createTempDirectory("graft-compact-src")
    val checkpoint = Files.createTempDirectory("graft-compact-ckpt").toString
    val sink = Files.createTempDirectory("graft-compact-sink")
      .resolve("states").toString
    def drop(name: String, lines: String*): Unit =
      Files.writeString(src.resolve(name), lines.mkString("\n") + "\n")
    def run(): Unit = ops.Ingest.ingestNewFiles(spark, src.toString,
      ops.Ingest.statesSchema, ops.Ingest.statesKey,
      Seq(col("cases").asc), checkpoint, sink)

    drop("b1.csv", "date,state,fips,cases,deaths",
      "2020-03-15,Washington,53,904,48")
    run()
    drop("b2.csv", "date,state,fips,cases,deaths",
      "2020-03-15,Oregon,41,30,1")
    run() // same partition merged twice → likely multi-file
    ops.SinkMaintenance.compactPartitions(spark, sink, maxFiles = 0)
    assert(dataFiles(JPath.of(sink, "date=2020-03-15")).size == 1)
    assert(spark.read.parquet(sink).count() == 2)
    // ingest still works after compaction
    drop("b3.csv", "date,state,fips,cases,deaths",
      "2020-03-15,Idaho,16,5,0")
    run()
    assert(spark.read.parquet(sink).count() == 3)
  }
}
