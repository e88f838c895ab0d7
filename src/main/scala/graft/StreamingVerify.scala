package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.nio.file.{Files, Paths}

/** Streaming digest dump (VERDICT r12 Next #6).
  *
  * Streaming is the one evidence class the DuckDB oracle can't see, so
  * its correctness record was suite-internal only. This main replays the
  * DETERMINISTIC full-fixture streaming drives (the StreamingSpec
  * hash-grade shapes) and writes the canonical digests of their FINAL
  * frames — [[Verify.canonicalDigest]]: columns sorted, rows sorted,
  * md5 — next to the digests of their batch twins, into one JSON file.
  * The sf0.01 snapshot is committed each round close as
  * `digests_streaming_sf001.json`, making streaming end-state
  * correctness diffable round-over-round from artifacts: a drive digest
  * must stay stable across rounds unless the operator changed, and each
  * `*_twin` entry must equal its drive entry in EVERY snapshot.
  *
  * Drives:
  *  - `ingest_availablenow` — the events fixture split into 3 "cron
  *    firings" (firing 3 re-sends 50 firing-1 keys under a marker type
  *    with perturbed values) through the file-ledger batch ingest
  *    ([[ops.Streaming.ingestAvailableNow]]); twin = batch
  *    [[ops.Ingest.dedupKeepFirst]] on the union.
  *  - `streaming_dedup` — the documents fixture + 60 re-sent exact dups
  *    in 4 micro-batches through the RocksDB `transformWithState` dedup;
  *    twin = batch min-doc_id-per-content-hash.
  *  - `throttle` — the events fixture in 4 event-time slices through the
  *    per-(user,type) debounce; twin = the same drive in ONE slice
  *    (kept set must be micro-batch-slicing-invariant).
  *
  * Usage: StreamingVerify <sfDir> <outFile>
  */
case class VDoc(doc_id: Long, text: String)

object StreamingVerify {

  def main(args: Array[String]): Unit = {
    val (sfDir, outFile) = (args(0), args(1))
    val spark: SparkSession = Session("graft-streaming-verify",
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val digests = scala.collection.mutable.LinkedHashMap
      .empty[String, (String, Long)]
    def record(name: String, df: DataFrame): Unit =
      digests(name) = Verify.canonicalDigest(df)

    // ---- drive 1: events through the file-ledger batch ingest
    val evSchema = StructType(Seq(
      StructField("date", DateType), StructField("event_id", LongType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType)))
    val evRows = Tables.events(spark, sfDir)
      .select(date_format(to_date(col("ts")), "yyyy-MM-dd").as("d"),
        col("event_id"), col("user_id"), col("event_type"), col("value"))
      .orderBy(col("event_id")).collect()
    def lineOf(r: org.apache.spark.sql.Row): String =
      s"${r.getString(0)},${r.getLong(1)},${r.getLong(2)}," +
        s"${r.getString(3)},${r.getDouble(4)}"
    val chunks = evRows.grouped((evRows.length + 2) / 3).toSeq
    val dupLines = chunks.head.take(50).map(r =>
      s"${r.getString(0)},${r.getLong(1)},${r.getLong(2)},dup," +
        s"${r.getDouble(4) + 1000.0}")
    val src = Files.createTempDirectory("graft-sv-src")
    val ckpt = Files.createTempDirectory("graft-sv-ckpt").toString
    val sink = Files.createTempDirectory("graft-sv-sink")
      .resolve("events").toString
    val firings = Seq(chunks(0).map(lineOf), chunks(1).map(lineOf),
      chunks(2).map(lineOf) ++ dupLines)
    firings.zipWithIndex.foreach { case (ls, i) =>
      Files.writeString(src.resolve(s"firing$i.csv"),
        ("date,event_id,user_id,event_type,value" +: ls)
          .mkString("\n") + "\n")
      ops.Streaming.ingestAvailableNow(spark, src.toString, evSchema,
        Seq("event_id"), Seq(col("value").asc), ckpt, sink)
    }
    record("ingest_availablenow", spark.read.parquet(sink))
    record("ingest_availablenow_twin", ops.Ingest.dedupKeepFirst(
      spark.read.schema(evSchema).option("header", "true")
        .option("dateFormat", "yyyy-MM-dd").csv(src.toString),
      Seq("event_id"), Seq(col("value").asc)))

    // ---- drive 2: documents through the RocksDB streaming dedup ------
    val orig = Tables.documents(spark, sfDir).select("doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => VDoc(r.getLong(0), r.getString(1)))
    val corpus = orig ++ orig.take(60)
      .map(d => VDoc(d.doc_id + 10000000L, d.text))
    val input = MemoryStream[VDoc]
    val q = ops.Streaming.streamingDedup(spark, input.toDF())
      .writeStream.format("memory").queryName("svdedup")
      .outputMode("append").start()
    try {
      corpus.grouped((corpus.length + 3) / 4)
        .foreach { b => input.addData(b.toSeq); q.processAllAvailable() }
      record("streaming_dedup", spark.table("svdedup"))
    } finally q.stop()
    record("streaming_dedup_twin", spark.createDataset(corpus.toSeq).toDF()
      .groupBy(md5(col("text")).as("content_md5"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id", "content_md5"))

    // ---- drive 3: events through the stateful throttle ---------------
    val tRows = Tables.events(spark, sfDir)
      .selectExpr("event_id", "ts", "user_id", "event_type")
      .withColumn("value", lit(0.0)).withColumn("props", lit("{}"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .orderBy(col("ts"), col("event_id")).collect()
    def throttleDrive(slices: Int): DataFrame = {
      val in = MemoryStream[(Long, Long, String, Long)]
      val df = in.toDF()
        .toDF("user_id", "event_id", "event_type", "ts_us")
        .selectExpr("user_id", "event_id", "event_type",
          "timestamp_micros(ts_us) as ts")
      val tq = ops.Streaming.streamingThrottle(spark, df)
        .writeStream.format("memory").queryName(s"svthr$slices")
        .outputMode("append").start()
      try {
        val tuples = tRows.map(r => (r.getLong(2),
          r.getLong(0), r.getString(3),
          r.getAs[java.sql.Timestamp]("ts").toInstant.toEpochMilli * 1000L
            + r.getAs[java.sql.Timestamp]("ts").getNanos / 1000 % 1000))
        tuples.grouped((tuples.length + slices - 1) / slices)
          .foreach { b => in.addData(b.toSeq); tq.processAllAvailable() }
        spark.table(s"svthr$slices")
      } finally tq.stop()
    }
    record("throttle", throttleDrive(4))
    record("throttle_twin", throttleDrive(1))

    def jq(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = digests.toSeq.map { case (k, (h, n)) =>
      s"${jq(k)}: {\"digest\": ${jq(h)}, \"rows\": $n}"
    }.mkString("{", ",\n ", "}")
    Files.writeString(Paths.get(outFile), json)
    println(s"[streaming-verify] ${digests.size} digests -> $outFile")
    digests.foreach { case (k, (h, n)) =>
      println(f"[streaming-verify] $k%-28s $h rows=$n")
    }
    spark.stop()
  }
}
