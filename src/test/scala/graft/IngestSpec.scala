package graft

import java.nio.file.{Files, Path, Paths}
import java.sql.Date

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}
import org.scalatest.funsuite.AnyFunSuite

import ops.Ingest

/** Ingest-fidelity suite (SURVEY.md §5.2.5): NYT-shaped CSV fixtures per
  * FIXTURES.md §A, asserting the CORRECTED semantics of SURVEY.md §1.6 —
  * proper dates (no month off-by-one), preserved nulls (no -1 sentinel),
  * key-dedup, and idempotent re-ingest (ON CONFLICT rerun behavior).
  */
class IngestSpec extends AnyFunSuite {
  import SparkTestSession._

  private def writeFixture(name: String, lines: String*): String = {
    val dir: Path = Files.createTempDirectory("graft-ingest")
    val f = dir.resolve(name)
    Files.writeString(f, lines.mkString("\n") + "\n")
    f.toString
  }

  private def readCounties(path: String) =
    Ingest.readCsv(spark, Ingest.countiesSchema, path)

  /** One firing of the states feed over the drop dir holding `csv`. */
  private def fireStates(csv: String, sink: String): Seq[Any] =
    Ingest.ingestNewFiles(spark, Paths.get(csv).getParent.toString,
      Ingest.statesSchema, Ingest.statesKey, Seq(col("cases").asc),
      Files.createTempDirectory("graft-ckpt").toString, sink)

  // FIXTURES.md §A us-counties.csv: dup keys, blank fips, month-boundary
  // dates, out-of-order dates.
  private lazy val countiesCsv = writeFixture("us-counties.csv",
    "date,county,state,fips,cases,deaths",
    "2020-03-15,Snohomish,Washington,53061,175,4",
    "2020-12-31,Snohomish,Washington,53061,9999,120",   // month/year boundary
    "2020-03-15,New York City,New York,,1871,12",       // blank fips → NULL
    "2020-03-15,New York City,New York,,1875,13",       // dup key (null fips)
    "2020-03-15,Snohomish,Washington,53061,200,5",      // dup key
    "2020-01-01,Snohomish,Washington,53061,1,0")        // out-of-order date

  test("CSV scan: correct dates, blank fips becomes true null") {
    val df = readCounties(countiesCsv)
    assert(df.count() == 6)
    // month-boundary regression vs reference Calendar.MONTH bug (§1.6.1):
    val dec = df.filter(col("cases") === 9999).select("date").head().getDate(0)
    assert(dec.toString == "2020-12-31")
    val jan = df.filter(col("cases") === 1).select("date").head().getDate(0)
    assert(jan.toString == "2020-01-01")
    // blank fips preserved as null, not -1 (§1.6.3):
    assert(df.filter(col("fips").isNull).count() == 2)
    assert(df.filter(col("fips") === -1).count() == 0)
  }

  test("key-dedup is deterministic first-writer-wins incl. null keys") {
    val df = readCounties(countiesCsv)
    val deduped = Ingest.dedupKeepFirst(df, Ingest.countiesKey,
      Seq(col("cases").asc))
    assert(deduped.count() == 4) // 6 rows, 2 conflict losers dropped
    // deterministic winner: lowest cases per key
    val snoh = deduped.filter(col("date") === Date.valueOf("2020-03-15")
      && col("county") === "Snohomish").head()
    assert(snoh.getAs[Long]("cases") == 175L)
    // null fips rows collide with each other (reference's engineered
    // collision via -1, §1.6.3 — here without corrupting the value):
    val nyc = deduped.filter(col("county") === "New York City").collect()
    assert(nyc.length == 1 && nyc.head.getAs[Long]("cases") == 1871L)
  }

  test("re-ingest is idempotent; new keys append (§3.3 rerun semantics)") {
    val base = Ingest.dedupKeepFirst(
      readCounties(countiesCsv),
      Ingest.countiesKey, Seq(col("cases").asc))
    // rerun with the same batch → no change
    val rerun = Ingest.appendIdempotent(base,
      readCounties(countiesCsv),
      Ingest.countiesKey, Seq(col("cases").asc))
    assert(rerun.count() == base.count())
    // existing row wins over a conflicting new value (DO NOTHING)
    val conflicting = readCounties(writeFixture("delta.csv",
      "date,county,state,fips,cases,deaths",
      "2020-03-15,Snohomish,Washington,53061,777777,9",  // existing key
      "2021-06-01,King,Washington,53033,42,1"))          // new key
    val merged = Ingest.appendIdempotent(base, conflicting,
      Ingest.countiesKey, Seq(col("cases").asc))
    assert(merged.count() == base.count() + 1)
    assert(merged.filter(col("county") === "Snohomish"
      && col("date") === Date.valueOf("2020-03-15"))
      .head().getAs[Long]("cases") == 175L)
    assert(merged.filter(col("county") === "King").count() == 1)
  }

  test("date-partitioned sink layout enables partition pruning") {
    val csv = writeFixture("part.csv",
      "date,state,fips,cases,deaths",
      "2020-03-15,Washington,53,904,48",
      "2020-03-16,Washington,53,950,49",
      "2020-03-16,Oregon,41,100,2")
    val sink = Files.createTempDirectory("graft-part").resolve("states").toString
    fireStates(csv, sink)
    // physical layout is .../date=yyyy-MM-dd/
    val dirs = new java.io.File(sink).listFiles().map(_.getName)
      .filter(_.startsWith("date=")).sorted
    assert(dirs.sameElements(Array("date=2020-03-15", "date=2020-03-16")))
    // NytJob's mirror slice read (the feed's schema, filtered to the
    // touched dates) prunes to those partition directories
    val pruned = spark.read.schema(Ingest.statesSchema).parquet(sink)
      .filter(col("date").isin(Date.valueOf("2020-03-16")))
    assert(pruned.count() == 2)
    val pf = pruned.queryExecution.executedPlan.toString.linesIterator
      .filter(_.contains("PartitionFilters:")).mkString("\n")
    assert(pf.contains("date") && !pf.contains("PartitionFilters: []"), pf)
  }

  test("malformed rows degrade to nulls, not crashes (vs reference parseInt)") {
    // the reference's Integer.parseInt (.kt:50,56) throws on garbage;
    // PERMISSIVE mode nulls the bad field and keeps the row
    val csv = writeFixture("dirty.csv",
      "date,county,state,fips,cases,deaths",
      "2020-03-15,Snohomish,Washington,53061,175,4",
      "not-a-date,King,Washington,53033,NaNN,xx",
      "2020-03-16,Pierce,Washington,53053,,")
    val df = readCounties(csv)
    assert(df.count() == 3)
    assert(df.filter(col("county") === "King")
      .head().isNullAt(df.schema.fieldIndex("cases")))
    assert(df.filter(col("county") === "Pierce")
      .head().isNullAt(df.schema.fieldIndex("deaths")))
  }

  test("spark.sql over registered views matches the DataFrame API") {
    Tables.registerAll(spark, SparkTestSession.sf)
    val viaSql = spark.sql(
      """SELECT l_returnflag, COUNT(*) AS n FROM lineitem
         GROUP BY l_returnflag ORDER BY l_returnflag""").collect()
    val viaDf = Tables.lineitem(spark, SparkTestSession.sf)
      .groupBy(col("l_returnflag"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
      .orderBy(col("l_returnflag")).collect()
    assert(viaSql.sameElements(viaDf))
    assert(spark.sql("SELECT count(*) FROM events").head().getLong(0) > 0)
  }

  test("JSON source/sink round-trip with explicit schema (S8)") {
    val ev = Tables.events(spark, SparkTestSession.sf)
    val dir = Files.createTempDirectory("graft-json").resolve("events").toString
    ev.write.mode("overwrite").json(dir)
    // schema'd read — no inference pass (SURVEY.md §1.5)
    val back = spark.read.schema(ev.schema).json(dir)
    assert(back.count() == ev.count())
    val a = ev.agg(sum(col("value"))).head().getDouble(0)
    val b = back.agg(sum(col("value"))).head().getDouble(0)
    assert(math.abs(a - b) < 1e-6)
  }

  test("widening schema evolution: mergeSchema and explicit-schema reads agree") {
    // a feed that gains a column: firing 1 lands 03-15 under the states
    // schema, firing 2 lands 03-16 under the widened one
    val wide = Ingest.statesSchema.add("hospitalized", LongType)
    val src = Files.createTempDirectory("graft-evolve-src")
    val ckpt = Files.createTempDirectory("graft-evolve-ckpt").toString
    val sink = Files.createTempDirectory("graft-evolve").resolve("states").toString
    def fire(schema: StructType, name: String, lines: String*): Unit = {
      Files.writeString(src.resolve(name), lines.mkString("\n") + "\n")
      Ingest.ingestNewFiles(spark, src.toString, schema, Ingest.statesKey,
        Seq(col("cases").asc), ckpt, sink)
    }
    fire(Ingest.statesSchema, "v1.csv", "date,state,fips,cases,deaths",
      "2020-03-15,Washington,53,904,48", "2020-03-15,Oregon,41,30,1")
    fire(wide, "v2.csv", "date,state,fips,cases,deaths,hospitalized",
      "2020-03-16,Washington,53,950,49,7", "2020-03-16,Oregon,41,35,1,2")
    val merged = spark.read.option("mergeSchema", "true").parquet(sink)
    assert(merged.schema.fieldNames.toSet == wide.fieldNames.toSet)
    assert(merged.count() == 4)
    // v1 rows null-backfill the added column; v2 rows keep their values
    assert(merged.filter(col("hospitalized").isNull).count() == 2)
    assert(merged.filter(col("date") === Date.valueOf("2020-03-15")
      && col("hospitalized").isNotNull).count() == 0)
    // the 100 TB path — the declared schema, no footer union, as the
    // firing reads its sink — returns the same rows
    val declared = spark.read.schema(wide).parquet(sink)
      .select(wide.fieldNames.map(col).toSeq: _*)
    val m = merged.select(wide.fieldNames.map(col).toSeq: _*)
    assert(m.exceptAll(declared).count() == 0 &&
      declared.exceptAll(m).count() == 0)
  }

  test("states feed round-trips through the generic ingest pipeline") {
    val statesCsv = writeFixture("us-states.csv",
      "date,state,fips,cases,deaths",
      "2020-03-15,Washington,53,904,48",
      "2020-03-15,Guam,,3,0",
      "2020-03-15,Washington,53,999,50")
    val sink = Files.createTempDirectory("graft-sink").resolve("states").toString
    fireStates(statesCsv, sink)
    val back = spark.read.parquet(sink)
    assert(back.count() == 2)
    assert(back.schema("fips").nullable)
    assert(back.filter(col("state") === "Washington")
      .head().getAs[Long]("cases") == 904L)
  }

  test("q117 JSONL round trip preserves every byte of every document") {
    val viaJsonl = Ingest.q117JsonlRoundtrip(spark, sf).collect()
    // the same aggregate straight off the parquet source: identical
    // per-source counts, id/char sums, and content digests
    val direct = Tables.documents(spark, sf)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"),
        sum(col("doc_id")).as("id_sum"),
        sum(col("n_chars")).as("char_sum"),
        md5(concat_ws("", sort_array(collect_list(md5(col("text"))))))
          .as("content_md5"))
      .orderBy(col("source")).collect()
    assert(viaJsonl.map(_.toString).toSeq == direct.map(_.toString).toSeq)
    // the scratch export is session-salted and CLEANED UP after the
    // eager checkpoint (the no-leaked-gzip-corpus contract) — asserting
    // shard files exist post-hoc is impossible by design; the byte
    // parity above already proves the JSONL round trip happened
    val dir = new java.io.File(sys.props("java.io.tmpdir"),
      "graft-docs-jsonl-" + java.lang.Long.toHexString(
        ops.DedupOps.h60(
          "jsonl:" + sf + ":" + spark.sparkContext.applicationId)))
    assert(!dir.exists, s"q117 leaked its scratch export at $dir")
  }

  test("q120's fused flag semantics match naive NOT-EXISTS on dirty data") {
    import spark.implicits._
    // orphan child keys, NULL child keys (an orphan by the documented
    // NULL-key contract), and duplicate parent keys (the membership set
    // must dedupe or the flag join would multiply child rows)
    val child = Seq(Some(1L), Some(1L), Some(2L), Some(99L), None, None)
      .toDF("k")
    val parent = Seq(1L, 1L, 2L, 3L).toDF("pk") // dup parent on purpose
    val flagged = child
      .join(parent.select(col("pk")).distinct()
        .withColumn("has", lit(true)), col("k") === col("pk"), "left")
      .agg(count(lit(1)).as("n_checked"),
        sum(when(col("has").isNull, 1L).otherwise(0L)).as("n_violations"),
        coalesce(sum(when(col("has").isNull, col("k"))), lit(0L))
          .as("violation_key_sum"))
      .head()
    // naive recount: NOT EXISTS via left_anti (the pre-fusion shape)
    val anti = child.join(parent.select(col("pk").as("k")).distinct(),
      Seq("k"), "left_anti")
    assert(flagged.getAs[Long]("n_checked") == 6L)     // rows never multiply
    assert(flagged.getAs[Long]("n_violations") == anti.count()) // 3: 99 + 2 nulls
    assert(flagged.getAs[Long]("n_violations") == 3L)
    assert(flagged.getAs[Long]("violation_key_sum") ==
      anti.agg(coalesce(sum(col("k")), lit(0L))).head().getLong(0)) // 99
    assert(flagged.getAs[Long]("violation_key_sum") == 99L)
  }

  test("q120 integrity sweep: FKs hold, the planted uniqueness break is found") {
    val rows = Ingest.q120ReferentialIntegrity(spark, sf).collect()
      .map(r => r.getAs[String]("check_name") -> r).toMap
    assert(rows.size == 9)
    // all true foreign keys hold on this corpus
    rows.filter(_._1.startsWith("fk_")).values.foreach { r =>
      assert(r.getAs[Long]("n_violations") == 0L &&
        r.getAs[Long]("violation_key_sum") == 0L, r.toString)
    }
    // the generator reuses lineitem line numbers: the uniqueness check
    // must CATCH that (a validator that can only say zero proves nothing)
    val u = rows("uniq_lineitem_order_line")
    val expectDupRows = Tables.lineitem(spark, sf)
      .groupBy(col("l_orderkey"), col("l_linenumber"))
      .agg(count(lit(1)).as("n")).filter(col("n") > 1)
      .agg(coalesce(sum(col("n")), lit(0L))).head().getLong(0)
    assert(u.getAs[Long]("n_violations") == expectDupRows)
    assert(expectDupRows > 0, "corpus no longer plants the dup — update test")
    // n_checked matches table sizes
    assert(rows("fk_orders_custkey").getAs[Long]("n_checked") ==
      Tables.orders(spark, sf).count())
    assert(u.getAs[Long]("n_checked") == Tables.lineitem(spark, sf).count())
  }

  test("q189 CSV round trip survives newlines, quotes, commas, and empty text") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("csv-rt").toString
    val nasty = Seq(
      (1L, "multi\nline\r\nwith CR", "en", "srcA"),
      (2L, "quote \" and \"\"doubled\"\", comma, end", "en", "srcA"),
      (3L, "", "en", "srcA"), // empty text: CSV's null/empty trap
      (4L, "unicode é中文 and tab\there", "en", "srcB"),
      (5L, "trailing newline\n", "en", "srcB"))
    nasty.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(s"$dir/documents.parquet")
    val rt = Ingest.q189CsvRoundtrip(spark, dir).collect()
    // expected digests straight off the original frame (no CSV hop)
    val direct = Tables.documents(spark, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("id_sum"),
        sum(col("n_chars")).as("char_sum"),
        md5(concat_ws("", sort_array(collect_list(md5(col("text"))))))
          .as("content_md5"))
      .orderBy(col("source")).collect()
    assert(rt.sameElements(direct), rt.mkString("; "))
  }

  test("q190 window is exactly the trailing 7 days, boundary day included") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("evpart").toString
    def ts(day: Int): java.sql.Timestamp =
      java.sql.Timestamp.valueOf(f"2024-03-$day%02d 12:00:00")
    // days 1..10; max=10, window = days 4..10 inclusive
    val rows = (1 to 10).map(day =>
      (day.toLong, ts(day), day.toLong % 3, "view", 1.5, "{}"))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val r = Ingest.q190PartitionPruning(spark, dir).collect()
    val days = r.map(_.getDate(0).toString).sorted
    assert(days.length == 7, days.mkString(","))
    assert(days.head == "2024-03-04" && days.last == "2024-03-10")
    r.foreach(row => assert(row.getAs[Long]("n") == 1L))
  }

  test("q271 profile matches a hand-counted orders fixture") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("colprof").toString
    val ts0 = java.sql.Timestamp.valueOf("2024-06-01 00:00:00")
    val rows = Seq(
      (1L, 10L, Option("O"), 1.50, ts0, "1-URGENT"),
      (2L, 10L, Option("O"), 2.50, ts0, "1-URGENT"),
      (3L, 20L, Option("F"), 1.50, ts0, "2-HIGH"),
      (4L, 20L, None, 9.00, ts0, "2-HIGH"),
      (5L, 30L, Option("O"), 1.50, ts0, "3-MEDIUM"))
    rows.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.parquet(s"$dir/orders.parquet")
    val r = Ingest.q271ColProfile(spark, dir).collect()
      .map(x => x.getAs[String]("col_name") -> x).toMap
    assert(r.keySet == Set("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice_cents", "o_orderdate", "o_orderpriority"))
    val st = r("o_orderstatus")
    assert(st.getAs[Long]("n") == 5L && st.getAs[Long]("n_null") == 1L)
    assert(st.getAs[Long]("n_distinct") == 2L)
    assert(st.getAs[String]("min_v") == "F" &&
      st.getAs[String]("max_v") == "O")
    assert(st.getAs[String]("top_v") == "O")
    assert(st.getAs[Long]("top_share_ppm") == 750000L)
    // gini over non-null: 1e6 − (3² + 1²)·1e6 / 4² = 375000
    assert(st.getAs[Long]("gini_ppm") == 375000L)
    val k = r("o_orderkey")
    assert(k.getAs[Long]("n_distinct") == 5L)
    // all counts tie at 1 → modal value is the MIN value string
    assert(k.getAs[String]("top_v") == "1")
    assert(k.getAs[Long]("gini_ppm") == 800000L)
    // typed min/max, not lexicographic: cents 150 < 900 even though
    // the strings would sort "150" < "900" here; the custkey column
    // pins the convention with 10 vs 30 (string min would be "10" ✓
    // but string MAX would be "30" ✓ too — the money column carries
    // the real check via exact cents)
    val tp = r("o_totalprice_cents")
    assert(tp.getAs[String]("min_v") == "150" &&
      tp.getAs[String]("max_v") == "900")
    assert(tp.getAs[String]("top_v") == "150")
    assert(tp.getAs[Long]("top_share_ppm") == 600000L)
    assert(r("o_orderdate").getAs[String]("min_v") == "2024-06-01")
    spark.catalog.clearCache()
  }

  test("checkpointed AvailableNow ingest is incremental and idempotent across reruns") {
    val src = Files.createTempDirectory("graft-stream-src")
    val checkpoint = Files.createTempDirectory("graft-stream-ckpt").toString
    val sink = Files.createTempDirectory("graft-stream-sink")
      .resolve("states").toString
    def drop(name: String, lines: String*): Unit =
      Files.writeString(src.resolve(name), lines.mkString("\n") + "\n")
    def run(): Unit = Ingest.ingestNewFiles(spark, src.toString,
      Ingest.statesSchema, Ingest.statesKey,
      Seq(col("cases").asc),
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
    assert(after.filter(col("cases") === 904)
      .count() == 1) // existing row won the conflict
    // firing 3 with nothing new: checkpoint skips seen files, sink unchanged
    run()
    assert(spark.read.parquet(sink).count() == 3)
  }

  test("incremental merge touches only the batch's partitions (O(batch), not O(history))") {
    import java.nio.file.{Path => JPath}
    import scala.jdk.CollectionConverters._
    val src = Files.createTempDirectory("graft-part-src")
    val checkpoint = Files.createTempDirectory("graft-part-ckpt").toString
    val sinkRoot = Files.createTempDirectory("graft-part-sink")
    val sink = sinkRoot.resolve("states").toString
    def drop(name: String, lines: String*): Unit =
      Files.writeString(src.resolve(name), lines.mkString("\n") + "\n")
    def run(): Unit = Ingest.ingestNewFiles(spark, src.toString,
      Ingest.statesSchema, Ingest.statesKey,
      Seq(col("cases").asc),
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
      .filter(col("date") === "2020-03-16")
    assert(day2.count() == 2)
    assert(day2.filter(col("cases") === 1000)
      .count() == 1) // existing row won
  }

  test("ingest skips _- and .-prefixed drop files until they are renamed visible") {
    val src = Files.createTempDirectory("graft-hidden-src")
    val checkpoint = Files.createTempDirectory("graft-hidden-ckpt").toString
    val sink = Files.createTempDirectory("graft-hidden-sink")
      .resolve("states").toString
    def drop(name: String, line: String): Unit =
      Files.writeString(src.resolve(name),
        s"date,state,fips,cases,deaths\n$line\n")
    def run(): Seq[Any] = Ingest.ingestNewFiles(spark, src.toString,
      Ingest.statesSchema, Ingest.statesKey, Seq(col("cases").asc),
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

  test("a drop file rewritten in place after its ingest fails every firing until it is restored") {
    import java.nio.file.attribute.FileTime
    import scala.jdk.CollectionConverters._
    val src = Files.createTempDirectory("graft-rewrite-src")
    val ckpt = Files.createTempDirectory("graft-rewrite-ckpt")
    val sink = Files.createTempDirectory("graft-rewrite-sink").resolve("states")
    def drop(name: String, line: String): Unit =
      Files.writeString(src.resolve(name), s"date,state,fips,cases,deaths\n$line\n")
    def run(): Seq[Any] = Ingest.ingestNewFiles(spark, src.toString,
      Ingest.statesSchema, Ingest.statesKey, Seq(col("cases").asc),
      ckpt.toString, sink.toString)
    def snapshot(dir: Path): Map[String, Seq[Byte]] =
      Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => dir.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    // the firing throws naming a.csv, and neither the sink nor the ledger
    // changes
    def rejected(): Unit = {
      val (sinkBefore, ckptBefore) = (snapshot(sink), snapshot(ckpt))
      val e = intercept[RuntimeException](run())
      assert(e.getMessage.contains("a.csv"), e.getMessage)
      assert(snapshot(sink) == sinkBefore && snapshot(ckpt) == ckptBefore)
    }
    val a = src.resolve("a.csv")

    drop("a.csv", "2020-03-15,Washington,53,904,48")
    assert(run().map(_.toString) == Seq("2020-03-15"))
    val ingestedAt = Files.getLastModifiedTime(a)
    // a correction rewritten under the same name: the idle firing and a
    // firing with a new file both throw before they read anything
    drop("a.csv", "2020-03-15,Washington,53,1000,50")
    rejected()
    drop("b.csv", "2020-03-16,Oregon,41,30,1")
    rejected()
    // the recorded bytes and time back in place: b.csv ingests
    drop("a.csv", "2020-03-15,Washington,53,904,48")
    Files.setLastModifiedTime(a, ingestedAt)
    assert(run().map(_.toString) == Seq("2020-03-16"))
    // a same-length rewrite is caught by its moved modification time
    drop("a.csv", "2020-03-15,Washington,53,905,48")
    Files.setLastModifiedTime(a,
      FileTime.fromMillis(ingestedAt.toMillis + 60000L))
    rejected()
    assert(spark.read.parquet(sink.toString).select("cases").collect()
      .map(_.getLong(0)).toSet == Set(904L, 30L))
    // a ledger line holding a bare name (the format before stamps)
    // records nothing to compare: a next ledger version of bare names
    val versions = Files.list(ckpt.resolve("ledger")).iterator().asScala
      .map(_.getFileName.toString).filter(_.forall(_.isDigit)).toSeq
    assert(versions.size == 1)
    Files.writeString(ckpt.resolve(s"ledger/${versions.head.toLong + 1}"),
      "a.csv\nb.csv\n")
    assert(run().isEmpty)
  }

  test("fixture drive: the ingest sink hash-matches its batch twin") {
    // The DuckDB oracle can't see the firing's sink; this is the
    // hash-grade substitute: replay the FULL events fixture through the
    // file-ledger ingest (3 "cron firings" + injected key conflicts) and
    // require the final sink to hash-match the batch pipeline over the
    // same inputs — columns sorted by name, rows sorted, md5: the gate's
    // comparison.
    import org.apache.spark.sql.types._
    def canonHash(df: org.apache.spark.sql.DataFrame): String = {
      val cols = df.columns.sorted
        .map(c => coalesce(col(c).cast("string"), lit("␀")))
      df.select(concat_ws("|", cols: _*).as("r"))
        .agg(md5(concat_ws(",", sort_array(collect_list(col("r"))))))
        .head().getString(0)
    }

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
      Ingest.ingestNewFiles(spark, src.toString, evSchema,
        Seq("event_id"), Seq(col("value").asc), ckpt, sink)
    }
    val ingested = spark.read.parquet(sink)
    val batchTwin = Ingest.dedupKeepFirst(
      spark.read.schema(evSchema).option("header", "true")
        .option("dateFormat", "yyyy-MM-dd").csv(src.toString),
      Seq("event_id"), Seq(col("value").asc))
    assert(ingested.count() == evRows.length.toLong)
    assert(ingested.filter(col("event_type") === "dup").count() == 0,
      "a replayed conflict row displaced its stored winner")
    assert(canonHash(ingested) == canonHash(batchTwin),
      "ingest sink diverges from the batch pipeline")
  }

  test("a null or unparseable date fails the firing before it publishes or records a file") {
    // PERMISSIVE reads a malformed date as NULL, which has no partition:
    // each firing must throw, naming the unseen files, with no publish,
    // no afterPublish and no ledger commit, until the files are fixed
    val src = Files.createTempDirectory("graft-nulldate-src")
    val ckpt = Files.createTempDirectory("graft-nulldate-ckpt").toString
    val sink = Files.createTempDirectory("graft-nulldate-sink")
      .resolve("states").toString
    def drop(name: String, lines: String*): Unit =
      Files.writeString(src.resolve(name),
        ("date,state,fips,cases,deaths" +: lines).mkString("\n") + "\n")
    var mirrored = Seq.empty[Any]
    def run(): Seq[Any] = Ingest.ingestNewFiles(spark, src.toString,
      Ingest.statesSchema, Ingest.statesKey, Seq(col("cases").asc),
      ckpt, sink, afterPublish = touched => mirrored ++= touched)
    def failing(files: String*): Unit = {
      val e = intercept[RuntimeException](run())
      files.foreach(f => assert(e.getMessage.contains(f), e.getMessage))
      assert(!Files.exists(Paths.get(sink)), "a firing with a null date published")
      assert(mirrored.isEmpty)
    }

    drop("a.csv", "2020-03-15,Washington,53,904,48", "bad-date,Oregon,41,30,1")
    failing("a.csv")
    drop("b.csv", "bad-date,Idaho,16,5,0")
    failing("a.csv", "b.csv")
    drop("c.csv", "nodate,Utah,49,7,0") // a file with no valid date at all
    failing("a.csv", "b.csv", "c.csv")

    // fixed in place: the next firing ingests every row of all three
    drop("a.csv", "2020-03-15,Washington,53,904,48", "2020-03-15,Oregon,41,30,1")
    drop("b.csv", "2020-03-16,Idaho,16,5,0")
    drop("c.csv", "2020-03-16,Utah,49,7,0")
    assert(run().map(_.toString).sorted == Seq("2020-03-15", "2020-03-16"))
    assert(mirrored.map(_.toString).sorted == Seq("2020-03-15", "2020-03-16"))
    assert(spark.read.parquet(sink).select("state").collect()
      .map(_.getString(0)).toSet == Set("Washington", "Oregon", "Idaho", "Utah"))
    assert(!Files.exists(Paths.get(sink, "date=__HIVE_DEFAULT_PARTITION__")))
    assert(run().isEmpty)
  }
}
