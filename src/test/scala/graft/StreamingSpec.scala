package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import ops.Streaming

case class SDoc(doc_id: Long, text: String)
case class SEvt(user_id: Long, event_type: String, event_id: Long,
                ts: java.sql.Timestamp)

case class IDoc(doc_id: Long, source: String, n_chars: Long)

case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
              event_type: String, value: Double)

/** Structured Streaming suite (SURVEY.md §2.9): the same transforms that
  * pass the batch DuckDB oracle (q22–q24) run under readStream/writeStream,
  * with watermark-driven window emission across triggers.
  */
class StreamingSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._
  implicit private val sqlCtx: org.apache.spark.sql.SQLContext =
    spark.sqlContext

  private def ts(min: Int): Timestamp =
    Timestamp.valueOf(s"2024-01-01 ${"%02d".format(min / 60)}:${"%02d".format(min % 60)}:00")

  private val batch1 = Seq(
    Ev(1, ts(1), 10, "click", 1.0),
    Ev(2, ts(4), 10, "click", 2.0),
    Ev(3, ts(12), 11, "view", 3.0),
    Ev(4, ts(14), 10, "click", 4.0))
  // 3+ hours later — advances the 1h watermark past batch1's windows
  private val batch2 = Seq(
    Ev(5, ts(200), 10, "click", 5.0),
    Ev(6, ts(204), 11, "view", 6.0))

  test("streaming tumbling agg (complete mode) matches the batch transform") {
    val input = MemoryStream[Ev]
    input.addData(batch1 ++ batch2)
    val q = Streaming.tumblingAgg(input.toDF())
      .writeStream.format("memory").queryName("t_complete")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val streamed = spark.table("t_complete")
      .orderBy("w_start", "event_type").collect()
    val batch = Streaming.tumblingAgg((batch1 ++ batch2).toDF())
      .orderBy("w_start", "event_type").collect()
    assert(streamed.sameElements(batch))
  }

  test("watermark append mode emits closed windows after late trigger") {
    val input = MemoryStream[Ev]
    val q = Streaming.withWatermark(input.toDF())(Streaming.tumblingAgg)
      .writeStream.format("memory").queryName("t_append")
      .outputMode("append").start()
    try {
      input.addData(batch1)
      q.processAllAvailable() // watermark now max(batch1.ts) - 1h → nothing emitted
      assert(spark.table("t_append").count() == 0)
      input.addData(batch2)
      q.processAllAvailable() // watermark passes batch1's windows → they emit
      q.processAllAvailable() // one more cycle so the new watermark applies
      val emitted = spark.table("t_append")
        .orderBy("w_start", "event_type").collect()
      val expectedClosed = Streaming.tumblingAgg(batch1.toDF())
        .orderBy("w_start", "event_type").collect()
      assert(emitted.sameElements(expectedClosed))
    } finally q.stop()
  }

  test("streaming session windows with watermark match batch session agg") {
    val input = MemoryStream[Ev]
    val q = Streaming.withWatermark(input.toDF())(Streaming.sessionAgg)
      .writeStream.format("memory").queryName("s_append")
      .outputMode("append").start()
    try {
      input.addData(batch1)
      q.processAllAvailable()
      input.addData(batch2)
      q.processAllAvailable()
      q.processAllAvailable()
      val emitted = spark.table("s_append")
        .orderBy("user_id", "session_start").collect()
      // batch1's sessions are closed (>1h idle before batch2):
      val expected = Streaming.sessionAgg(batch1.toDF())
        .orderBy("user_id", "session_start").collect()
      assert(emitted.sameElements(expected))
    } finally q.stop()
  }

  test("streaming dedup within watermark drops late duplicates (§2.9)") {
    val input = MemoryStream[Ev]
    val deduped = input.toDF()
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
    val q = deduped.writeStream.format("memory").queryName("dedup_wm")
      .outputMode("append").start()
    try {
      input.addData(batch1)
      q.processAllAvailable()
      input.addData(batch1.take(2)) // duplicate event_ids, still in state
      q.processAllAvailable()
      input.addData(batch2)
      q.processAllAvailable()
      val ids = spark.table("dedup_wm").select("event_id")
        .collect().map(_.getLong(0)).sorted
      assert(ids.sameElements((batch1 ++ batch2).map(_.event_id).sorted),
        s"duplicates leaked or rows lost: ${ids.mkString(",")}")
    } finally q.stop()
  }

  test("checkpointed AvailableNow ingest is incremental and idempotent across reruns") {
    import java.nio.file.Files
    val src = Files.createTempDirectory("graft-stream-src")
    val checkpoint = Files.createTempDirectory("graft-stream-ckpt").toString
    val sink = Files.createTempDirectory("graft-stream-sink")
      .resolve("states").toString
    def drop(name: String, lines: String*): Unit =
      Files.writeString(src.resolve(name), lines.mkString("\n") + "\n")
    def run(): Unit = ops.Streaming.ingestAvailableNow(spark, src.toString,
      ops.Ingest.statesSchema, ops.Ingest.statesKey,
      Seq(org.apache.spark.sql.functions.col("cases").asc),
      checkpoint, sink)

    drop("batch1.csv",
      "date,state,fips,cases,deaths",
      "2020-03-15,Washington,53,904,48",
      "2020-03-15,Guam,,3,0")
    run() // cron firing 1
    assert(spark.read.parquet(sink).count() == 2)

    // firing 2: one overlapping key (conflict → existing row wins), one new
    drop("batch2.csv",
      "date,state,fips,cases,deaths",
      "2020-03-15,Washington,53,999,50",
      "2020-03-16,Washington,53,1000,52")
    run()
    val after = spark.read.parquet(sink)
    assert(after.count() == 3)
    assert(after.filter(org.apache.spark.sql.functions.col("cases") === 904)
      .count() == 1) // existing row won the conflict
    // firing 3 with nothing new: checkpoint skips seen files, sink unchanged
    run()
    assert(spark.read.parquet(sink).count() == 3)
  }

  test("incremental merge touches only the batch's partitions (O(batch), not O(history))") {
    import java.nio.file.{Files, Path => JPath}
    import scala.jdk.CollectionConverters._
    val src = Files.createTempDirectory("graft-part-src")
    val checkpoint = Files.createTempDirectory("graft-part-ckpt").toString
    val sinkRoot = Files.createTempDirectory("graft-part-sink")
    val sink = sinkRoot.resolve("states").toString
    def drop(name: String, lines: String*): Unit =
      Files.writeString(src.resolve(name), lines.mkString("\n") + "\n")
    def run(): Unit = ops.Streaming.ingestAvailableNow(spark, src.toString,
      ops.Ingest.statesSchema, ops.Ingest.statesKey,
      Seq(org.apache.spark.sql.functions.col("cases").asc),
      checkpoint, sink)
    // full byte-level snapshot of one partition directory: name → content
    def snapshot(dir: JPath): Map[String, Seq[Byte]] =
      Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => dir.relativize(p).toString ->
          Files.readAllBytes(p).toSeq).toMap

    drop("day1.csv",
      "date,state,fips,cases,deaths",
      "2020-03-15,Washington,53,904,48",
      "2020-03-15,Oregon,41,30,1")
    run()
    val day1Dir = JPath.of(sink, "date=2020-03-15")
    assert(Files.isDirectory(day1Dir), "sink must be date-partitioned")
    val before = snapshot(day1Dir)
    assert(before.nonEmpty)

    // second firing touches ONLY 2020-03-16: the 03-15 partition must not
    // be re-listed/rewritten — its files stay byte-identical
    drop("day2.csv",
      "date,state,fips,cases,deaths",
      "2020-03-16,Washington,53,1000,52")
    run()
    assert(snapshot(day1Dir) == before,
      "untouched partition was rewritten — merge is not partition-pruned")
    val all = spark.read.parquet(sink)
    assert(all.count() == 3)

    // third firing conflicts inside 03-16 only: 03-15 still byte-identical,
    // 03-16 existing row wins (ON CONFLICT DO NOTHING semantics)
    drop("day2b.csv",
      "date,state,fips,cases,deaths",
      "2020-03-16,Washington,53,9999,99",
      "2020-03-16,Idaho,16,5,0")
    run()
    assert(snapshot(day1Dir) == before)
    val day2 = spark.read.parquet(sink)
      .filter(org.apache.spark.sql.functions.col("date") === "2020-03-16")
    assert(day2.count() == 2)
    assert(day2.filter(org.apache.spark.sql.functions.col("cases") === 1000)
      .count() == 1) // existing row won
  }

  test("ingest skips _- and .-prefixed drop files until they are renamed visible") {
    import java.nio.file.Files
    import org.apache.spark.sql.functions.col
    val src = Files.createTempDirectory("graft-hidden-src")
    val checkpoint = Files.createTempDirectory("graft-hidden-ckpt").toString
    val sink = Files.createTempDirectory("graft-hidden-sink")
      .resolve("states").toString
    def drop(name: String, line: String): Unit =
      Files.writeString(src.resolve(name),
        s"date,state,fips,cases,deaths\n$line\n")
    def run(): Seq[Any] = ops.Streaming.ingestAvailableNow(spark, src.toString,
      ops.Ingest.statesSchema, ops.Ingest.statesKey, Seq(col("cases").asc),
      checkpoint, sink)
    def states(): Set[String] = spark.read.parquet(sink).select("state")
      .collect().map(_.getString(0)).toSet

    drop("day1.csv", "2020-03-15,Washington,53,904,48")
    drop("_partial.csv", "2020-03-16,Oregon,41,30,1")
    drop(".x.csv", "2020-03-17,Idaho,16,5,0")
    assert(run().map(_.toString) == Seq("2020-03-15"))
    assert(states() == Set("Washington"))
    assert(run().isEmpty) // hidden files stay out on a rerun too

    Files.move(src.resolve("_partial.csv"), src.resolve("partial.csv"))
    assert(run().map(_.toString) == Seq("2020-03-16"))
    assert(states() == Set("Washington", "Oregon"))
    assert(run().isEmpty)
  }

  test("stream-stream view/click join matches the batch join") {
    val views = MemoryStream[Ev]
    val clicks = MemoryStream[Ev]
    val q = ops.Streaming.viewClickJoin(views.toDF(), clicks.toDF())
      .writeStream.format("memory").queryName("ss_join")
      .outputMode("append").start()
    try {
      val vRows = Seq(Ev(100, ts(10), 1, "view", 0), Ev(101, ts(50), 1, "view", 0),
        Ev(102, ts(10), 2, "view", 0))
      val cRows = Seq(
        Ev(200, ts(25), 1, "click", 0),  // 15min after view 100 → joins
        Ev(201, ts(55), 1, "click", 0),  // joins view 101 (5m) NOT 100 (45m)
        Ev(202, ts(45), 2, "click", 0))  // 35min after view 102 → no join
      views.addData(vRows); clicks.addData(cRows)
      q.processAllAvailable()
      val streamed = spark.table("ss_join")
        .orderBy("user_id", "view_id", "click_id").collect()
      val batch = ops.Streaming.viewClickJoin(vRows.toDF(), cRows.toDF())
        .orderBy("user_id", "view_id", "click_id").collect()
      assert(streamed.sameElements(batch))
      val pairs = streamed.map(r => (r.getLong(1), r.getLong(2))).toSet
      assert(pairs == Set((100L, 200L), (101L, 201L)))
    } finally q.stop()
  }

  test("stream-static enrichment join matches the batch join, keeps no state") {
    val input = MemoryStream[Ev]
    val dim = Seq((10L, "gold"), (11L, "silver"))
      .toDF("user_id", "segment")
    val q = ops.Streaming.enrichWithDim(input.toDF(), dim)
      .writeStream.format("memory").queryName("enriched")
      .outputMode("append").start()
    try {
      input.addData(batch1 :+ Ev(9, ts(20), 99, "view", 0.0)) // 99: no dim row
      q.processAllAvailable()
      val streamed = spark.table("enriched")
        .orderBy("event_id").collect()
      val batch = ops.Streaming
        .enrichWithDim((batch1 :+ Ev(9, ts(20), 99, "view", 0.0)).toDF(), dim)
        .orderBy("event_id").collect()
      assert(streamed.sameElements(batch))
      // left join: the unknown user survives with a null segment
      assert(streamed.exists(r => r.getLong(0) == 99L && r.isNullAt(4)))
      // stateless: the progress report carries no stateful operators
      assert(q.lastProgress == null ||
        q.lastProgress.stateOperators.isEmpty)
    } finally q.stop()
  }

  // transformWithState supports only the RocksDB state store provider
  private def withRocksDb[A](body: => A): A = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("transformWithState accumulates per-user state across triggers") {
    withRocksDb {
      val input = MemoryStream[Ev]
      // idleTimeout=None → TimeMode.None: no timers, pure accumulation
      val q = ops.Streaming.statefulUserTotals(spark, input.toDF(), None)
        .writeStream.format("memory").queryName("stateful")
        .outputMode("update").start()
      try {
        input.addData(batch1)
        q.processAllAvailable()
        input.addData(batch2)
        q.processAllAvailable()
        // latest emitted state per user equals the batch aggregate
        val latest = spark.table("stateful")
          .groupBy("user_id")
          .agg(org.apache.spark.sql.functions.max("n_events").as("n"),
            org.apache.spark.sql.functions.max("sum_value").as("s"))
          .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2))))
          .toMap
        val expected = (batch1 ++ batch2).groupBy(_.user_id)
          .map { case (u, evs) => (u, (evs.size.toLong, evs.map(_.value).sum)) }
        assert(latest == expected)
        // no timers → nothing is ever tagged final
        assert(spark.table("stateful")
          .filter(org.apache.spark.sql.functions.col("is_final")).count() == 0)
      } finally q.stop()
    }
  }

  test("transformWithState recovers its state store across a query restart") {
    withRocksDb {
      // The operational property checkpointing exists for: stop the query
      // after batch1, restart FROM THE SAME CHECKPOINT, and the per-user
      // totals must CONTINUE from the recovered RocksDB state — not
      // restart from zero. The memory sink refuses checkpoint recovery
      // (not fault-tolerant), so the sink is foreachBatch → parquet
      // append, the restartable production shape.
      val cp = java.nio.file.Files
        .createTempDirectory("graft-tws-restart").toString
      val outDir = java.nio.file.Files
        .createTempDirectory("graft-tws-out").resolve("rows").toString
      val input = MemoryStream[Ev]
      def start() = ops.Streaming.statefulUserTotals(spark, input.toDF(), None)
        .writeStream.option("checkpointLocation", cp)
        .outputMode("update")
        .foreachBatch { (df: org.apache.spark.sql.Dataset
            [org.apache.spark.sql.Row], _: Long) =>
          df.write.mode("append").parquet(outDir): Unit
        }
        .start()
      val q1 = start()
      try {
        input.addData(batch1)
        q1.processAllAvailable()
      } finally q1.stop()
      input.addData(batch2)
      val q2 = start()
      try {
        q2.processAllAvailable()
        // max emission per user across both lives of the query must equal
        // the all-data batch aggregate: user 10 = 3 (recovered) + 1 = 4
        // events — a state loss would cap at 3
        val latest = spark.read.parquet(outDir)
          .groupBy("user_id")
          .agg(org.apache.spark.sql.functions.max("n_events").as("n"),
            org.apache.spark.sql.functions.max("sum_value").as("s"))
          .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2))))
          .toMap
        val expected = (batch1 ++ batch2).groupBy(_.user_id)
          .map { case (u, evs) => (u, (evs.size.toLong, evs.map(_.value).sum)) }
        assert(latest == expected, s"state not recovered: $latest")
      } finally q2.stop()
    }
  }

  test("event-time idle timeout flushes a tagged final row and resets state") {
    withRocksDb {
      val input = MemoryStream[Ev]
      // 10-minute idle timeout; watermark delay is 1h (set inside
      // statefulUserTotals), so batch2 at +3h20m drives the watermark far
      // past every batch1 timer deadline
      val q = ops.Streaming.statefulUserTotals(spark, input.toDF(),
          Some("10 minutes"))
        .writeStream.format("memory").queryName("stateful_et")
        .outputMode("update").start()
      try {
        input.addData(batch1)
        q.processAllAvailable()
        input.addData(batch2)
        q.processAllAvailable()
        q.processAllAvailable() // no-data batch fires the expired timers
        // timers are registered against the watermark as seen while the
        // batch processes (one advance behind), so batch1's deadline has
        // lapsed before batch2's rows merge: each batch flushes as its own
        // idle-delimited session — totals are per session, not lifetime
        val finals = spark.table("stateful_et")
          .filter(org.apache.spark.sql.functions.col("is_final"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
          .toSet
        val expected = (Seq(batch1, batch2) flatMap { b =>
          b.groupBy(_.user_id).map { case (u, evs) =>
            (u, evs.size.toLong, evs.map(_.value).sum) }
        }).toSet
        assert(finals == expected)
        // state was deleted on flush: a late-arriving user restarts at 1
        input.addData(Seq(Ev(7, ts(400), 10, "click", 9.0)))
        q.processAllAvailable()
        val restart = spark.table("stateful_et")
          .filter(org.apache.spark.sql.functions.col("user_id") === 10 &&
            !org.apache.spark.sql.functions.col("is_final"))
          .orderBy(org.apache.spark.sql.functions.col("n_events").desc)
          .collect()
        assert(restart.exists(r => r.getLong(1) == 1L && r.getDouble(2) == 9.0),
          "state not reset after timeout flush")
      } finally q.stop()
    }
  }

  test("row-local curation gate admits identical rows in batch and stream") {
    // q101's importance gate is a pure row property (salted hash vs a
    // row-derived weight) — the SAME Column must admit the same rows
    // whether the docs arrive as a scan or as a stream, across any
    // micro-batch slicing. This is the property that lets one curation
    // code path serve both backfill and live ingest.
    graft.expressions.Hash60.register(spark)
    val docs = (0L until 200L).map(i => IDoc(i, s"src${i % 4}", 30 + i * 7))
    val input = MemoryStream[IDoc]
    val q = input.toDF().filter(ops.CurationOps.importanceGate)
      .writeStream.format("memory").queryName("gate_stream")
      .outputMode("append").start()
    try {
      // deliberately uneven micro-batches
      input.addData(docs.take(13))
      q.processAllAvailable()
      input.addData(docs.slice(13, 140))
      q.processAllAvailable()
      input.addData(docs.drop(140))
      q.processAllAvailable()
      val streamed = spark.table("gate_stream")
        .select("doc_id").collect().map(_.getLong(0)).sorted
      val batch = docs.toDF().filter(ops.CurationOps.importanceGate)
        .select("doc_id").collect().map(_.getLong(0)).sorted
      assert(streamed.sameElements(batch))
      assert(batch.nonEmpty && batch.length < docs.length) // gate is real
    } finally q.stop()
  }

  test("batch session windows merge within gap inclusive, split beyond") {
    // exactly-30:00 gap still merges (inclusive); 30:01 splits
    val rows = Seq(
      Ev(1, Timestamp.valueOf("2024-01-01 00:00:00"), 1, "a", 1.0),
      Ev(2, Timestamp.valueOf("2024-01-01 00:30:00"), 1, "a", 1.0),
      Ev(3, Timestamp.valueOf("2024-01-01 01:00:00"), 2, "a", 1.0),
      Ev(4, Timestamp.valueOf("2024-01-01 01:30:01"), 2, "a", 1.0))
    val sess = Streaming.sessionAgg(rows.toDF())
      .orderBy("user_id", "session_start").collect()
    assert(sess.count(_.getLong(0) == 1L) == 1) // merged at exactly-gap
    assert(sess.count(_.getLong(0) == 2L) == 2) // split beyond gap
  }

  test("streaming dedup emits each content hash once with the min-id winner") {
    withRocksDb {
      val input = MemoryStream[SDoc]
      val q = ops.Streaming.streamingDedup(spark, input.toDF())
        .writeStream.format("memory").queryName("sdedup")
        .outputMode("append").start()
      try {
        // batch 1: duplicate pair (2,1 same text) + a unique doc —
        // within-batch winner is the MIN id even when it arrives later
        input.addData(Seq(SDoc(2, "alpha beta"), SDoc(1, "alpha beta"),
          SDoc(3, "gamma")))
        q.processAllAvailable()
        val b1 = spark.table("sdedup").collect()
          .map(r => (r.getLong(0), r.getString(1)))
        assert(b1.map(_._1).sorted.toSeq == Seq(1L, 3L))
        // batch 2: one seen text under a new id, one novel
        input.addData(Seq(SDoc(10, "alpha beta"), SDoc(11, "delta")))
        q.processAllAvailable()
        val all = spark.table("sdedup").collect().map(_.getLong(0)).sorted
        assert(all.toSeq == Seq(1L, 3L, 11L))
        // agrees with the batch-side incremental semantics: distinct
        // content count equals emitted row count
        assert(spark.table("sdedup").select("content_md5")
          .distinct().count() == 3)
      } finally q.stop()
    }
  }

  test("incremental near-dup runs as a foreachBatch sink across triggers") {
    // the standing-ingest near-dup gate is store-backed, so the SAME
    // function serves a batch backfill and a live stream: each
    // micro-batch fires incrementalNearDup against the shared signature
    // store — no separate streaming implementation to drift
    import org.apache.spark.sql.functions._
    val store = java.nio.file.Files
      .createTempDirectory("snd-store").toString + "/nd"
    val out = new scala.collection.mutable.ArrayBuffer[Long]
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india" +
      " juliet kilo lima mike november oscar papa quebec romeo sierra tango"
    val fresh = "red orange yellow green blue indigo violet crimson amber" +
      " teal navy maroon olive silver gold bronze copper pearl jade onyx"
    val input = MemoryStream[SDoc]
    val q = input.toDF().writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val novel = ops.DedupOps.incrementalNearDup(batch, store)
        out.synchronized {
          out ++= novel.select(col("doc_id")).collect().map(_.getLong(0))
        }
        novel.unpersist(); ()
      }
      .start()
    try {
      input.addData(Seq(SDoc(1, base)))
      q.processAllAvailable()
      // trigger 2: a paraphrase of trigger 1's doc plus a new doc —
      // cross-TRIGGER memory comes from the store, not streaming state
      input.addData(Seq(SDoc(10, base.replace("kilo", "KILO9")),
        SDoc(11, fresh)))
      q.processAllAvailable()
      assert(out.sorted.toSeq == Seq(1L, 11L), out.toString)
    } finally q.stop()
  }

  test("streaming throttle keeps one event per gap window across triggers") {
    // the semantics the q112 batch plan CANNOT express (keep-vs-last-
    // KEPT needs a sequential per-key fold): under a sustained burst the
    // throttle re-emits once per gap window while the debounce keeps
    // only the burst's first row — both behaviors pinned here
    import org.apache.spark.sql.functions._
    withRocksDb {
      def at(sec: Long) = new java.sql.Timestamp(1700000000000L + sec * 1000)
      val input = MemoryStream[SEvt]
      val q = ops.Streaming.streamingThrottle(spark, input.toDF())
        .writeStream.format("memory").queryName("throttle")
        .outputMode("append").start()
      try {
        // trigger 1: t=0 and a 10 s follow-up (inside the 60 s gap)
        input.addData(Seq(SEvt(1, "click", 100, at(0)),
          SEvt(1, "click", 101, at(10))))
        q.processAllAvailable()
        // trigger 2: 70 s (beyond gap vs last KEPT t=0 → keep),
        // 100 s (30 s after the 70 s keep → drop), 140 s (70 s → keep)
        input.addData(Seq(SEvt(1, "click", 102, at(70)),
          SEvt(1, "click", 103, at(100)), SEvt(1, "click", 104, at(140))))
        q.processAllAvailable()
        val kept = spark.table("throttle")
          .select("event_id").collect().map(_.getLong(0)).sorted.toSeq
        assert(kept == Seq(100L, 102L, 104L), kept.toString)
      } finally q.stop()
      // contrast: the q112 debounce rule over the same five events keeps
      // ONLY the first (every inter-event gap is <= 60 s)
      import spark.implicits._
      val batch = Seq((1L, "click", 100L, 0L), (1L, "click", 101L, 10L),
        (1L, "click", 102L, 70L), (1L, "click", 103L, 100L),
        (1L, "click", 104L, 140L))
        .toDF("user_id", "event_type", "event_id", "s")
        .withColumn("ts_us", col("s") * 1000000L)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts_us"), col("event_id"))
      val debounceKept = batch
        .withColumn("prev", lag(col("ts_us"), 1).over(w))
        .filter(col("prev").isNull || col("ts_us") - col("prev") > 60000000L)
        .select("event_id").collect().map(_.getLong(0)).toSeq
      assert(debounceKept == Seq(100L), debounceKept.toString)
    }
  }

  test("fixture drive: N-batch slicing matches 1-batch end state for both stateful ops") {
    // The strongest local substitute for a streaming oracle (VERDICT r8
    // #7): the events FIXTURE — not synthetic rows — sliced into
    // deterministic micro-batches and driven through foreachBatch →
    // parquet (the production restartable sink shape). The end state of
    // an N-slice run must hash-equal the 1-slice run for both stateful
    // operators: micro-batch boundaries are an execution detail, never a
    // semantics input.
    import org.apache.spark.sql.functions._
    withRocksDb {
      val rows = Tables.events(spark, sf)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
        .orderBy(col("ts"), col("event_id"))
        .as[Ev].collect().toSeq
      assert(rows.nonEmpty, "events fixture is empty")
      // deterministic slicing: 7 contiguous event-time ranges
      val nSlices = 7
      val per = (rows.size + nSlices - 1) / nSlices
      val slicesN = rows.grouped(per).toSeq
      def drive(slices: Seq[Seq[Ev]],
          op: org.apache.spark.sql.DataFrame =>
            org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
        val outDir = java.nio.file.Files
          .createTempDirectory("graft-slice-drive").resolve("rows").toString
        val cp = java.nio.file.Files
          .createTempDirectory("graft-slice-cp").toString
        val input = MemoryStream[Ev]
        val q = op(input.toDF())
          .writeStream.option("checkpointLocation", cp)
          .outputMode("update")
          .foreachBatch { (df: org.apache.spark.sql.Dataset
              [org.apache.spark.sql.Row], _: Long) =>
            df.write.mode("append").parquet(outDir): Unit
          }
          .start()
        try slices.foreach { s => input.addData(s); q.processAllAvailable() }
        finally q.stop()
        spark.read.parquet(outDir)
      }
      def stateHash(df: org.apache.spark.sql.DataFrame): String =
        df.agg(md5(concat_ws(",", sort_array(collect_list(
          concat_ws(":", df.columns.map(col): _*))))))
          .collect().head.getString(0)
      // statefulUserTotals (TimeMode.None — pure accumulation): the
      // LATEST emission per user is the end state; update mode re-emits
      // per batch, so reduce to max(n_events) per user first
      def totalsEnd(df: org.apache.spark.sql.DataFrame) = stateHash(
        df.groupBy(col("user_id"))
          .agg(max(col("n_events")).as("n"), max(col("sum_value")).as("s")))
      val t1 = totalsEnd(drive(Seq(rows),
        ops.Streaming.statefulUserTotals(spark, _, None)))
      val tN = totalsEnd(drive(slicesN,
        ops.Streaming.statefulUserTotals(spark, _, None)))
      assert(t1 == tN, "stateful totals diverge under micro-batch slicing")
      // streamingThrottle (append mode): the KEPT EVENT SET is the end
      // state — every kept event_id must survive identically
      def keptEnd(df: org.apache.spark.sql.DataFrame) = stateHash(
        df.select(col("user_id"), col("event_type"), col("event_id"),
          col("ts_us")))
      val k1 = keptEnd(drive(Seq(rows),
        ops.Streaming.streamingThrottle(spark, _)))
      val kN = keptEnd(drive(slicesN,
        ops.Streaming.streamingThrottle(spark, _)))
      assert(k1 == kN, "throttle kept-set diverges under micro-batch slicing")
    }
  }

  test("fixture drive: streamed ingest + dedup sinks hash-match their batch twins") {
    // The DuckDB oracle can't see a streaming sink; this is the
    // hash-grade substitute: replay the FULL events fixture through the
    // checkpointed AvailableNow ingest (3 "cron firings" + injected key
    // conflicts) and the FULL documents fixture through streamingDedup
    // (4 micro-batches + injected exact dups), and require the final
    // sinks to hash-match the batch pipeline over the same inputs —
    // columns sorted by name, rows sorted, md5: the gate's comparison.
    import java.nio.file.Files
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    def canonHash(df: org.apache.spark.sql.DataFrame): String = {
      val cols = df.columns.sorted
        .map(c => coalesce(col(c).cast("string"), lit("␀")))
      df.select(concat_ws("|", cols: _*).as("r"))
        .agg(md5(concat_ws(",", sort_array(collect_list(col("r"))))))
        .head().getString(0)
    }

    // ---- events through ingestAvailableNow --------------------------
    val evSchema = StructType(Seq(
      StructField("date", DateType), StructField("event_id", LongType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType)))
    val evRows = Tables.events(spark, sf)
      .select(date_format(to_date(col("ts")), "yyyy-MM-dd").as("d"),
        col("event_id"), col("user_id"), col("event_type"), col("value"))
      .orderBy(col("event_id")).collect()
    def lineOf(r: org.apache.spark.sql.Row): String =
      s"${r.getString(0)},${r.getLong(1)},${r.getLong(2)}," +
        s"${r.getString(3)},${r.getDouble(4)}"
    val chunks = evRows.grouped((evRows.length + 2) / 3).toSeq
    // firing 3 re-sends 50 firing-1 keys with value+1000 under a marker
    // type: the STORED row must win (ON CONFLICT DO NOTHING), which is
    // also the batch tiebreak's (value asc) winner
    val dupLines = chunks.head.take(50).map(r =>
      s"${r.getString(0)},${r.getLong(1)},${r.getLong(2)},dup," +
        s"${r.getDouble(4) + 1000.0}")
    val src = Files.createTempDirectory("graft-fd-src")
    val ckpt = Files.createTempDirectory("graft-fd-ckpt").toString
    val sink = Files.createTempDirectory("graft-fd-sink")
      .resolve("events").toString
    val firings = Seq(chunks(0).map(lineOf), chunks(1).map(lineOf),
      chunks(2).map(lineOf) ++ dupLines)
    firings.zipWithIndex.foreach { case (ls, i) =>
      Files.writeString(src.resolve(s"firing$i.csv"),
        ("date,event_id,user_id,event_type,value" +: ls).mkString("\n") + "\n")
      ops.Streaming.ingestAvailableNow(spark, src.toString, evSchema,
        Seq("event_id"), Seq(col("value").asc), ckpt, sink)
    }
    val streamed = spark.read.parquet(sink)
    val batchTwin = ops.Ingest.dedupKeepFirst(
      spark.read.schema(evSchema).option("header", "true")
        .option("dateFormat", "yyyy-MM-dd").csv(src.toString),
      Seq("event_id"), Seq(col("value").asc))
    assert(streamed.count() == evRows.length.toLong)
    assert(streamed.filter(col("event_type") === "dup").count() == 0,
      "a replayed conflict row displaced its stored winner")
    assert(canonHash(streamed) == canonHash(batchTwin),
      "streamed ingest sink diverges from the batch pipeline")

    // ---- documents through streamingDedup ----------------------------
    withRocksDb {
      val orig = Tables.documents(spark, sf).select("doc_id", "text")
        .orderBy("doc_id").collect()
        .map(r => SDoc(r.getLong(0), r.getString(1)))
      // exact-dup copies under higher ids: later batches re-see content
      val corpus = orig ++ orig.take(60)
        .map(d => SDoc(d.doc_id + 10000, d.text))
      val input = MemoryStream[SDoc]
      val q = ops.Streaming.streamingDedup(spark, input.toDF())
        .writeStream.format("memory").queryName("fixdedup")
        .outputMode("append").start()
      try {
        corpus.grouped((corpus.length + 3) / 4)
          .foreach { b => input.addData(b.toSeq); q.processAllAvailable() }
        val streamedD = spark.table("fixdedup")
        val batchD = spark.createDataset(corpus.toSeq).toDF()
          .groupBy(md5(col("text")).as("content_md5"))
          .agg(min(col("doc_id")).as("doc_id"))
          .select("doc_id", "content_md5")
        assert(streamedD.count() == orig.length.toLong) // dups all dropped
        assert(canonHash(streamedD) == canonHash(batchD),
          "streamingDedup end state diverges from the batch dedup")
      } finally q.stop()
    }
  }

  test("q112 debounce matches a join-route predecessor recount") {
    import org.apache.spark.sql.functions._
    val r = Streaming.q112EventDedup(spark, sf)
    // every key keeps its first event; kept never exceeds total
    assert(r.filter(col("n_kept") < 1 || col("n_kept") > col("n_events"))
      .count() == 0)
    // recount through a different mechanism: each event's predecessor by
    // max_by over a self-join (not a window), then the same 60 s rule
    val e = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"))
    val a = e.select(col("user_id"), col("event_type"),
      col("event_id"), col("ts_us"))
    val b = e.select(col("user_id").as("b_uid"),
      col("event_type").as("b_type"),
      col("event_id").as("p_id"), col("ts_us").as("p_ts"))
    // predecessor condition INSIDE the left join: a first event keeps a
    // single all-null match row instead of vanishing from the recount
    val withPrev = a.join(b,
      col("user_id") === col("b_uid") && col("event_type") === col("b_type")
        && (col("p_ts") < col("ts_us") ||
          (col("p_ts") === col("ts_us") && col("p_id") < col("event_id"))),
      "left")
      .groupBy(col("user_id"), col("event_type"), col("event_id"),
        col("ts_us"))
      .agg(max(col("p_ts")).as("pred_ts"))
      .withColumn("kept", col("pred_ts").isNull ||
        col("ts_us") - col("pred_ts") > 60000000L)
    val expect = withPrev.groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("e_n"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("e_kept"),
        sum(when(col("kept"), col("event_id")).otherwise(0L))
          .as("e_id_sum"))
    val bad = r.join(expect, Seq("user_id", "event_type"))
      .filter(col("n_events") =!= col("e_n") ||
        col("n_kept") =!= col("e_kept") ||
        col("kept_id_sum") =!= col("e_id_sum"))
    assert(bad.count() == 0)
  }
}
