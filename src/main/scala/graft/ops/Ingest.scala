package graft.ops

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** Ingest surface — the reference's actually-implemented [R] operators
  * (SURVEY.md §2.1 S1–S6, §2.2 P1–P3), re-expressed Spark-first.
  *
  * Reference shape (all citations into /root/reference/): a Spring Batch
  * chunked pipeline `FlatFileItemReader → FieldSetMapper → JdbcBatchItemWriter`
  * (NytimesBatchProcessorApplication.kt:70-96) that loads two NYT CSV feeds
  * into Postgres with `INSERT … ON CONFLICT DO NOTHING` against a UNIQUE key
  * (schema.sql:8,20; .kt:138-141,175-178).
  *
  * Spark mapping: one declarative read (schema'd CSV scan — predicate
  * pushdown + column pruning reach `FileSourceScanExec` for free), one
  * deterministic key-dedup (the ON CONFLICT analog), one columnar write.
  * The chunk/transaction machinery (chunk(1000), .kt:88) disappears into
  * Spark tasks; at 100 TB the same code runs wide because nothing here
  * collects to the driver and the dedup is a single hash shuffle on the key.
  *
  * Deliberate fixes vs the reference (SURVEY.md §1.6 — do NOT replicate):
  *   1. month off-by-one in parseDateString (.kt:52-61) → `DateType` via the
  *      CSV reader's `dateFormat` (correct, deterministic);
  *   2. wall-clock time-of-day smear (.kt:54) → pure dates;
  *   3. `fips ?: -1` null sentinel (.kt:133,171) → true nulls preserved.
  */
object Ingest {

  /** Explicit schemas (never inferSchema — SURVEY.md §1.5): an inference
    * pass over 100 TB is a full extra scan. Field order matches the NYT
    * feeds (FieldSetMapper positional reads, .kt:126-128,164-166). */
  val statesSchema: StructType = StructType(Seq(
    StructField("date", DateType, nullable = false),
    StructField("state", StringType, nullable = false),
    StructField("fips", IntegerType, nullable = true), // blank → null (P3)
    StructField("cases", LongType, nullable = true),   // cumulative counters
    StructField("deaths", LongType, nullable = true))) // (widened Int→Long)

  val countiesSchema: StructType = StructType(Seq(
    StructField("date", DateType, nullable = false),
    StructField("county", StringType, nullable = false),
    StructField("state", StringType, nullable = false),
    StructField("fips", IntegerType, nullable = true),
    StructField("cases", LongType, nullable = true),
    StructField("deaths", LongType, nullable = true)))

  /** UNIQUE keys from schema.sql:8,20. */
  val statesKey: Seq[String]   = Seq("date", "state", "fips")
  val countiesKey: Seq[String] = Seq("date", "county", "state", "fips")

  /** S1+S3: schema'd CSV scan with header (replaces FlatFileItemReader +
    * DelimitedLineTokenizer + setLinesToSkip(1), .kt:98-117). Blank numeric
    * fields become true nulls (replaces intOrNull, .kt:49-50); dates parse
    * as yyyy-MM-dd (replaces parseDateString, .kt:52-61, bug-free). */
  def readCsv(spark: SparkSession, schema: StructType, paths: String*): DataFrame =
    spark.read
      .schema(schema)
      .option("header", "true")
      .option("dateFormat", "yyyy-MM-dd")
      .option("mode", "PERMISSIVE")
      .csv(paths: _*)

  /** A5: deterministic keep-first-per-key — the engine-side equivalent of
    * `INSERT … ON CONFLICT DO NOTHING` (.kt:138-141). Postgres DO NOTHING is
    * first-writer-wins in arrival order; we make the winner explicit with a
    * total-order tiebreak so reruns (and the DuckDB oracle) agree.
    *
    * Scale: one hash shuffle on the key; window per tiny key-group, no skew
    * risk (keys are (date, geo)); strictly better than `dropDuplicates`
    * for testability at identical cost.
    *
    * Null semantics: window partitioning groups nulls together — same
    * collision the reference engineered via its `-1` sentinel (.kt:133,171),
    * without corrupting the stored value. */
  def dedupKeepFirst(df: DataFrame, keys: Seq[String], tiebreak: Seq[Column])
      : DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(tiebreak: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** §3.3 rerun semantics: re-ingesting a batch over existing data is a
    * no-op for already-present keys, append for new ones — the reference's
    * "incremental by rerun + dedup" (deploy.sh:29 cron + ON CONFLICT).
    * Existing rows win ties (DO NOTHING keeps the stored row). */
  def appendIdempotent(existing: DataFrame, incoming: DataFrame,
                       keys: Seq[String], tiebreak: Seq[Column]): DataFrame = {
    val tagged = existing.withColumn("__prio", lit(0))
      .unionByName(incoming.withColumn("__prio", lit(1)))
    dedupKeepFirst(tagged, keys, col("__prio") +: tiebreak)
      .drop("__prio")
  }

  /** First-class upgrade of the reference's "incremental by rerun + dedup"
    * loop (§2.9: cron at deploy.sh:29 + ON CONFLICT at .kt:140,177): one
    * plain batch per cron firing over a CSV drop directory. The firing
    * lists `srcDir`'s top-level files (skipping `_`- and `.`-prefixed
    * names and `._COPYING_` uploads, the file source's hidden-file rule),
    * subtracts the names in the feed's file ledger under `checkpoint`,
    * reads exactly the unseen files in one CSV scan and merges it with
    * [[appendIdempotent]], so overlapping rows across files dedup exactly
    * like ON CONFLICT. A firing with no unseen files runs no Spark job.
    *
    * A visible drop file is immutable: a correction lands under a new
    * name. The ledger records each ingested file's length and
    * modification time, and every firing, idle ones included, compares
    * them with its listing; if a recorded file changed, the firing throws
    * before it reads anything, naming the files, and publishes and
    * records nothing. Ledger lines written before lengths and times were
    * recorded hold a bare name and are not checked.
    *
    * Scale contract — O(batch), not O(history): the sink is laid out as
    * `sinkPath/date=<value>/` and each firing merges ONLY the
    * partitions whose dates appear in its batch. The existing side is
    * read with the feed's `schema` (no schema-inference job) through a
    * partition-pruned filter, the merge shuffles O(batch + affected
    * partitions) rows, and publication is a per-partition-directory
    * rename swap ([[PartitionSwap]]) — untouched partitions are never
    * read or rewritten, so their files stay byte-identical across firings.
    * The batch is parsed once: it is persisted for the touched-values
    * `collect` and the merge.
    *
    * Crash safety: `afterPublish` (e.g. [[graft.NytJob]]'s JDBC mirror)
    * runs with the touched values after the publish, and only then is the
    * ledger committed — a new numbered snapshot written aside and renamed
    * into place, so a reader never sees a partial ledger. A crash or an
    * `afterPublish` failure anywhere before the commit leaves the files
    * out of the ledger; the next firing merges them again (the merge keeps
    * stored rows, so no row changes) and reruns `afterPublish`. A crash
    * inside a swap is healed by [[PartitionSwap.recover]] on the next
    * firing. A checkpoint written by the earlier streaming-query version
    * of this function is not read: the first firing on it merges every
    * file of the drop dir once, which changes no row.
    *
    * `date` must be non-null in the source (the reference's schema marks
    * the NYT feeds' `date` NOT NULL, schema.sql). A row whose value is
    * blank or unparseable fails the firing before its publish, naming the
    * unseen files; the reference also fails its job on an unparseable
    * date (.kt:52-61).
    *
    * Returns the distinct dates this firing merged, so downstream mirrors
    * can stay O(batch) too by touching only those partitions.
    */
  def ingestNewFiles(spark: SparkSession, srcDir: String,
                     schema: StructType, keys: Seq[String], tiebreak: Seq[Column],
                     checkpoint: String, sinkPath: String,
                     afterPublish: Seq[Any] => Unit = _ => ()): Seq[Any] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val ledger = new Path(checkpoint, "ledger")
    val ledgerFs = ledger.getFileSystem(conf)
    val (version, seen) = FileLedger.read(ledgerFs, ledger)
    val src = new Path(srcDir)
    val listed = src.getFileSystem(conf).listStatus(src)
      .filter(f => f.isFile && visible(f.getPath.getName))
    val rewritten = listed.filter(f => seen.get(f.getPath.getName).flatten
      .exists(_ != FileLedger.stamp(f)))
    if (rewritten.nonEmpty)
      sys.error("ingested drop files changed in place (a correction needs a " +
        s"new name): ${rewritten.map(_.getPath).mkString(", ")}")
    val unseen = listed.filter(f => !seen.contains(f.getPath.getName))
    val sink = new Path(sinkPath)
    val fs = sink.getFileSystem(conf) // sinkPath's OWN filesystem
    // heal any half-done swap a previous crash left behind
    PartitionSwap.recover(fs, sink)
    if (unseen.isEmpty) return Nil
    val batch = readCsv(spark, schema, unseen.map(_.getPath.toString).toSeq: _*).persist()
    val touched = try {
      // the partitions this batch touches — O(#distinct values in batch),
      // a handful of values, NOT a scan of the sink
      val touched = batch.select(col(PartitionCol)).distinct().collect()
        .map(_.get(0)).toSeq
      // a blank or malformed value reads as NULL (PERMISSIVE): it has no
      // partition to merge into, so fail before anything is published and
      // leave the files unrecorded until they are fixed
      if (touched.contains(null))
        sys.error(s"null or unparseable $PartitionCol in " +
          s"${unseen.map(_.getPath).mkString(", ")}: nothing published")
      if (touched.nonEmpty) {
        // read ONLY the affected partitions: the isin filter on the
        // partition column prunes the scan to the affected `date=` dirs.
        // Absent sink (first run) → empty frame; any OTHER read failure
        // propagates rather than masquerading as empty and truncating a
        // partition.
        val existing =
          if (fs.exists(sink))
            spark.read.schema(schema).parquet(sinkPath)
              .filter(col(PartitionCol).isin(touched: _*))
          else spark.createDataFrame(new java.util.ArrayList[Row](), batch.schema)
        val merged = appendIdempotent(existing, batch, keys, tiebreak)
        // write-then-swap (parquet can't overwrite its own input): the
        // merged slice lands in a staging dir partitioned identically,
        // then each produced partition dir is swapped into the sink
        val staging = new Path(sinkPath + "__staging")
        fs.delete(staging, true)
        merged.write.mode("overwrite")
          .partitionBy(PartitionCol).parquet(staging.toString)
        PartitionSwap.publish(fs, staging, sink, PartitionCol)
        afterPublish(touched)
      }
      touched
    } finally batch.unpersist()
    FileLedger.commit(ledgerFs, ledger, version + 1,
      seen ++ unseen.map(f => f.getPath.getName -> Some(FileLedger.stamp(f))))
    touched
  }

  /** The sink's partition column: every NYT feed is partitioned by date. */
  private val PartitionCol = "date"

  /** The file source's hidden-file rule: committer/temp names (`_x`,
    * `.x`) and in-flight `hadoop fs -put` copies are not feed files. */
  private def visible(name: String): Boolean =
    !name.startsWith("_") && !name.startsWith(".") && !name.endsWith("._COPYING_")

  /** A feed's ingested files, as numbered snapshots under one dir: the
    * highest number is the ledger, one `name<TAB>length<TAB>mtime` line
    * per file (a bare name, from a ledger written before lengths and times
    * were recorded, reads with no stamp). [[commit]] writes the next
    * number aside under a hidden name and renames it into place (a rename
    * never overwrites), then drops older snapshots, so a reader sees the
    * old or the new snapshot whole. */
  private object FileLedger {
    type Stamp = (Long, Long)

    def stamp(f: FileStatus): Stamp = (f.getLen, f.getModificationTime)

    private def versions(fs: FileSystem, dir: Path): Seq[Long] =
      if (!fs.exists(dir)) Nil
      else fs.listStatus(dir).map(_.getPath.getName)
        .filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong).sorted.toSeq

    def read(fs: FileSystem, dir: Path): (Long, Map[String, Option[Stamp]]) =
      versions(fs, dir).lastOption.fold((0L, Map.empty[String, Option[Stamp]])) { v =>
        val in = fs.open(new Path(dir, v.toString))
        try (v, scala.io.Source.fromInputStream(in, "UTF-8").getLines()
          .filter(_.nonEmpty).map(line => line.split('\t') match {
            case Array(name, len, mtime) => name -> Some((len.toLong, mtime.toLong))
            case _ => line -> None
          }).toMap)
        finally in.close()
      }

    def commit(fs: FileSystem, dir: Path, version: Long,
               files: Map[String, Option[Stamp]]): Unit = {
      val tmp = new Path(dir, s".$version.tmp")
      val out = fs.create(tmp, true)
      try out.write(files.toSeq.sortBy(_._1).map {
          case (name, Some((len, mtime))) => s"$name\t$len\t$mtime\n"
          case (name, None) => s"$name\n"
        }.mkString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      if (!fs.rename(tmp, new Path(dir, version.toString)))
        sys.error(s"cannot commit ledger $tmp as version $version")
      versions(fs, dir).filter(_ < version)
        .foreach(v => fs.delete(new Path(dir, v.toString), false))
    }
  }

  // ---- q21: A5 as an oracle-checked query over the corpus --------------
  // Keep-first line per order: the ON CONFLICT dedup pattern on a table
  // with genuinely repeating keys (lineitem has ~4 lines/order).
  def q21DedupFirst(s: SparkSession, d: String): DataFrame =
    dedupKeepFirst(
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_quantity"), col("l_shipdate")),
      Seq("l_orderkey"),
      // total-order tiebreak (SURVEY.md §7.3.1): l_linenumber alone is not
      // unique per order in this corpus, so extend to a full key
      Seq(col("l_linenumber").asc, col("l_partkey").asc,
        col("l_quantity").asc, col("l_shipdate").asc))
      .orderBy(col("l_orderkey"))

  val q21Sql: String = """
    SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, l_shipdate
    FROM (SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, l_shipdate,
            ROW_NUMBER() OVER (PARTITION BY l_orderkey
                               ORDER BY l_linenumber, l_partkey,
                                        l_quantity, l_shipdate) AS rn
          FROM lineitem)
    WHERE rn = 1 ORDER BY l_orderkey"""

  // ---- q59: file-level JSON scan (S8) + overflow-safe wide sum ---------
  // The reference's BASELINE claims "DataFrame ops over CSV/JSON"; this
  // exercises the actual file-level JSON source path end-to-end: export
  // events as JSONL (the JSON SINK), then read it back with an explicit
  // schema (never schema inference — at 100 TB an inference pass is a
  // full extra scan) and aggregate. The JSON round trip is lossless by
  // construction: day is pre-formatted to a string before export, and
  // doubles serialize via shortest-round-trip representation.
  // The aggregate uses Fx.moneySumWide — the DECIMAL(38,0) accumulator —
  // so the overflow-safe sum path is oracle-verified, not just documented
  // (its DuckDB twin is HUGEINT accumulation, wide on both sides).
  def q59JsonScan(s: SparkSession, d: String): DataFrame = {
    import graft.ops.Fx._
    val jsonDir = new java.io.File(sys.props("java.io.tmpdir"),
      "graft-events-jsonl-" +
        java.lang.Long.toHexString(DedupOps.h60(d))).getPath
    Tables.events(s, d)
      .select(date_format(col("ts"), "yyyy-MM-dd").as("day"),
        col("event_type"), col("user_id"), col("value"))
      .write.mode("overwrite").json(jsonDir)
    val jsonSchema = StructType(Seq(
      StructField("day", StringType, nullable = true),
      StructField("event_type", StringType, nullable = true),
      StructField("user_id", LongType, nullable = true),
      StructField("value", DoubleType, nullable = true)))
    s.read.schema(jsonSchema).json(jsonDir)
      .groupBy(col("day"), col("event_type"))
      .agg(count(lit(1)).as("n"), moneySumWide(col("value")).as("sum_value"))
      .orderBy(col("day"), col("event_type"))
  }

  val q59Sql: String = s"""
    SELECT strftime(ts, '%Y-%m-%d') AS day, event_type, COUNT(*) AS n,
      ${Fx.sqlMoneySumWide("value")} AS sum_value
    FROM events GROUP BY 1, 2 ORDER BY 1, 2"""

  // ---- q95: ingest expectations (data-quality validation pass) ---------
  // The contract check every ingest runs before publishing a batch
  // (range bounds, enum membership, date sanity): ALL rules evaluate in
  // ONE scan-aggregate per table — a conditional-sum per rule, no
  // shuffle beyond the two final rows per table unioned and unpivoted
  // into a per-rule report. A violating-row id checksum rides along so
  // the report pins WHICH rows fail, not just how many. Thresholds are
  // chosen to exercise both zero- and nonzero-violation paths — a
  // validator that can only report zero proves nothing.
  def q95Expectations(s: SparkSession, d: String): DataFrame = {
    def rule(name: String, bad: Column, id: Column) = struct(
      lit(name).as("rule"),
      sum(when(bad, 1L).otherwise(0L)).as("n_violations"),
      sum(when(bad, id).otherwise(0L)).as("violation_id_sum"))
    val li = Tables.lineitem(s, d)
      .agg(count(lit(1)).as("n_checked"), array(
        rule("li_quantity_in_1_50",
          col("l_quantity") < 1.0 || col("l_quantity") > 50.0,
          col("l_orderkey")),
        rule("li_quantity_le_45", col("l_quantity") > 45.0,
          col("l_orderkey")),
        rule("li_discount_in_0_0.1",
          col("l_discount") < 0.0 || col("l_discount") > 0.1,
          col("l_orderkey")),
        rule("li_price_positive", col("l_extendedprice") <= 0.0,
          col("l_orderkey")),
        rule("li_shipdate_in_range",
          col("l_shipdate").cast("date") < to_date(lit("1992-01-01")) ||
            col("l_shipdate").cast("date") > to_date(lit("1998-12-31")),
          col("l_orderkey"))).as("rules"))
      .select(lit("lineitem").as("tbl"), col("n_checked"),
        explode(col("rules")).as("r"))
    val o = Tables.orders(s, d)
      .agg(count(lit(1)).as("n_checked"), array(
        rule("o_status_enum",
          !col("o_orderstatus").isin("F", "O", "P"), col("o_orderkey")),
        rule("o_price_le_500k", col("o_totalprice") > 500000.0,
          col("o_orderkey"))).as("rules"))
      .select(lit("orders").as("tbl"), col("n_checked"),
        explode(col("rules")).as("r"))
    li.union(o)
      .select(col("tbl"), col("r.rule").as("rule"), col("n_checked"),
        col("r.n_violations").as("n_violations"),
        col("r.violation_id_sum").as("violation_id_sum"))
      .orderBy(col("tbl"), col("rule"))
  }

  val q95Sql: String = """
    WITH li AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_checked,
        CAST(SUM(CASE WHEN l_quantity < 1.0 OR l_quantity > 50.0
          THEN 1 ELSE 0 END) AS BIGINT) AS v1,
        CAST(SUM(CASE WHEN l_quantity < 1.0 OR l_quantity > 50.0
          THEN l_orderkey ELSE 0 END) AS BIGINT) AS s1,
        CAST(SUM(CASE WHEN l_quantity > 45.0 THEN 1 ELSE 0 END)
          AS BIGINT) AS v2,
        CAST(SUM(CASE WHEN l_quantity > 45.0 THEN l_orderkey ELSE 0 END)
          AS BIGINT) AS s2,
        CAST(SUM(CASE WHEN l_discount < 0.0 OR l_discount > 0.1
          THEN 1 ELSE 0 END) AS BIGINT) AS v3,
        CAST(SUM(CASE WHEN l_discount < 0.0 OR l_discount > 0.1
          THEN l_orderkey ELSE 0 END) AS BIGINT) AS s3,
        CAST(SUM(CASE WHEN l_extendedprice <= 0.0 THEN 1 ELSE 0 END)
          AS BIGINT) AS v4,
        CAST(SUM(CASE WHEN l_extendedprice <= 0.0 THEN l_orderkey
          ELSE 0 END) AS BIGINT) AS s4,
        CAST(SUM(CASE WHEN CAST(l_shipdate AS DATE) < DATE '1992-01-01'
          OR CAST(l_shipdate AS DATE) > DATE '1998-12-31'
          THEN 1 ELSE 0 END) AS BIGINT) AS v5,
        CAST(SUM(CASE WHEN CAST(l_shipdate AS DATE) < DATE '1992-01-01'
          OR CAST(l_shipdate AS DATE) > DATE '1998-12-31'
          THEN l_orderkey ELSE 0 END) AS BIGINT) AS s5
      FROM lineitem),
    o AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_checked,
        CAST(SUM(CASE WHEN o_orderstatus NOT IN ('F', 'O', 'P')
          THEN 1 ELSE 0 END) AS BIGINT) AS v1,
        CAST(SUM(CASE WHEN o_orderstatus NOT IN ('F', 'O', 'P')
          THEN o_orderkey ELSE 0 END) AS BIGINT) AS s1,
        CAST(SUM(CASE WHEN o_totalprice > 500000.0 THEN 1 ELSE 0 END)
          AS BIGINT) AS v2,
        CAST(SUM(CASE WHEN o_totalprice > 500000.0 THEN o_orderkey
          ELSE 0 END) AS BIGINT) AS s2
      FROM orders)
    SELECT * FROM (
      SELECT 'lineitem' AS tbl, 'li_quantity_in_1_50' AS rule,
        n_checked, v1 AS n_violations, s1 AS violation_id_sum FROM li
      UNION ALL
      SELECT 'lineitem', 'li_quantity_le_45', n_checked, v2, s2 FROM li
      UNION ALL
      SELECT 'lineitem', 'li_discount_in_0_0.1', n_checked, v3, s3 FROM li
      UNION ALL
      SELECT 'lineitem', 'li_price_positive', n_checked, v4, s4 FROM li
      UNION ALL
      SELECT 'lineitem', 'li_shipdate_in_range', n_checked, v5, s5 FROM li
      UNION ALL
      SELECT 'orders', 'o_status_enum', n_checked, v1, s1 FROM o
      UNION ALL
      SELECT 'orders', 'o_price_le_500k', n_checked, v2, s2 FROM o)
    ORDER BY tbl, rule"""

  // ---- q96: ORC round trip (columnar sink/source beyond parquet) -------
  // The S7 surface generalized: the engine can land and re-read its
  // results in ORC (Spark's second native columnar format — same
  // predicate pushdown / column pruning / vectorized reader path as
  // parquet). DuckDB cannot read ORC, so the oracle proves the round
  // trip LOSSLESS instead: the query aggregates the re-read ORC data
  // and must hash-match the same aggregate DuckDB computes from the
  // original parquet — any drift through the ORC writer/reader
  // (type mapping, nulls, ordering) breaks the compare.
  def q96OrcRoundtrip(s: SparkSession, d: String): DataFrame = {
    val orcDir = new java.io.File(sys.props("java.io.tmpdir"),
      "graft-orders-orc-" +
        java.lang.Long.toHexString(DedupOps.h60("orc:" + d))).getPath
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      .write.mode("overwrite").orc(orcDir)
    s.read.orc(orcDir)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        Fx.moneySum(col("o_totalprice")).as("sum_price"),
        sum(col("o_orderkey")).as("key_sum"))
      .orderBy(col("o_orderpriority"))
  }

  val q96Sql: String = s"""
    SELECT o_orderpriority, COUNT(*) AS n,
      ${Fx.sqlMoneySum("o_totalprice")} AS sum_price,
      CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
    FROM orders GROUP BY 1 ORDER BY 1"""

  // ---- q117: JSONL round trip (the corpus-interchange format) ----------
  // Training corpora ship between organizations as JSON Lines — one
  // document object per line, splittable, schema-on-read. The engine
  // must export and re-ingest it losslessly: write documents as
  // compressed JSONL partitioned-free (each output file a shard), read
  // back THROUGH AN EXPLICIT SCHEMA (the q59 rule — no inference pass
  // over 100 TB), and aggregate; the oracle computes the same aggregate
  // from the original parquet, so any drift through the JSON
  // writer/reader (escaping, unicode, null handling, long precision)
  // breaks the hash compare. text goes through md5 per row so the
  // compare covers every byte of every document, not just counts.
  def q117JsonlRoundtrip(s: SparkSession, d: String): DataFrame = {
    // scratch path carries the Spark applicationId: two concurrent
    // harness runs over the same dataset would otherwise race on one
    // fixed directory (one run's overwrite-delete mid-read of the other)
    val dir = new java.io.File(sys.props("java.io.tmpdir"),
      "graft-docs-jsonl-" +
        java.lang.Long.toHexString(
          DedupOps.h60("jsonl:" + d + ":" + s.sparkContext.applicationId)))
      .getPath
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("text"), col("n_chars"))
      .write.mode("overwrite").option("compression", "gzip").json(dir)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("source",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n_chars",
        org.apache.spark.sql.types.LongType)))
    val agg = s.read.schema(schema).json(dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"),
        sum(col("doc_id")).as("id_sum"),
        sum(col("n_chars")).as("char_sum"),
        md5(concat_ws("", sort_array(collect_list(md5(col("text"))))))
          .as("content_md5"))
      // eager checkpoint forces the round trip NOW (|sources| rows of
      // state), so the scratch dir can be deleted before returning
      // instead of leaking a gzip copy of the corpus per run
      .localCheckpoint(true)
    Io.deleteRecursively(new java.io.File(dir))
    agg.orderBy(col("source"))
  }

  val q117Sql: String = """
    SELECT source, COUNT(*) AS n,
      CAST(SUM(doc_id) AS BIGINT) AS id_sum,
      CAST(SUM(n_chars) AS BIGINT) AS char_sum,
      md5(string_agg(md5(text), '' ORDER BY md5(text))) AS content_md5
    FROM documents GROUP BY source ORDER BY source"""

  // ---- q120: referential-integrity sweep (cross-table contracts) -------
  // q95 validates ROW-LOCAL rules in one scan; the other half of a data
  // contract is CROSS-TABLE: foreign-key coverage, key uniqueness, and
  // reverse coverage (dimension members nothing references — not an
  // error, but the drift signal warehouses monitor). Each check is one
  // keyed anti-join (AQE broadcasts the dim side while it fits) or one
  // groupBy-count — the shapes that stay shuffle-bounded at 100 TB; the
  // per-check outputs are 1-row aggregates unioned into a report. A
  // violator key checksum pins WHICH rows fail. One check is
  // legitimately nonzero on this corpus — the generator reuses
  // lineitem line numbers, so (l_orderkey, l_linenumber) uniqueness
  // FAILS by design here — proving the validator can report
  // violations, not just zeros.
  def q120ReferentialIntegrity(s: SparkSession, d: String): DataFrame = {
    // NULL-key semantics, chosen on purpose for a validator of DIRTY
    // data: a NULL-keyed child row IS an orphan (no parent key can equal
    // NULL), so a missed membership flag counts it as a violation. The
    // oracle phrases every check as NOT EXISTS with an explicit
    // key-equality predicate — the construct with exactly these
    // semantics — never NOT IN, which inverts on NULLs (any NULL in the
    // inner side zeroes ALL violations, and a NULL-keyed outer row is
    // never flagged).
    //
    // Fusion (the q95 single-scan posture extended across tables): all
    // FK checks over one CHILD table collapse into ONE pass — each
    // referenced key set left-joins in as a membership flag (deduped
    // first, so the join can never duplicate child rows; AQE broadcasts
    // each side while it fits), and one conditional aggregate emits
    // every check's (n_checked, violations, key checksum) together,
    // exploded into report rows from the single 1-row result. The naive
    // shape scanned each child TWICE per check (count + anti-join) — 14
    // child passes; fused it is 4 flag-passes + the 2 uniqueness
    // shuffles, and n_checked rides the same aggregate for free.
    def keySet(df: DataFrame, k: String, tag: String): DataFrame =
      df.select(col(k).cast("long").as(s"k_$tag")).distinct()
        .withColumn(s"has_$tag", lit(true))
    // (per-check columns over the flagged child) -> one fused aggregate
    def viol(tag: String, key: String): Seq[(String, Column)] = Seq(
      // coalesce: SUM over an empty child is NULL, the oracle's COUNT
      // of the violating set is 0 — agree at SF=0 (degrade, don't die)
      s"v_$tag" -> coalesce(
        sum(when(col(s"has_$tag").isNull, 1L).otherwise(0L)), lit(0L)),
      s"s_$tag" -> coalesce(
        sum(when(col(s"has_$tag").isNull, col(key))), lit(0L)))
    def reportRows(agg1: DataFrame, checks: Seq[(String, String)])
        : DataFrame =
      agg1.select(explode(array(checks.map { case (name, tag) =>
          struct(lit(name).as("check_name"), col("n_checked"),
            col(s"v_$tag").as("n_violations"),
            col(s"s_$tag").as("violation_key_sum"))
        }: _*)).as("r"))
        .select(col("r.check_name"), col("r.n_checked"),
          col("r.n_violations"), col("r.violation_key_sum"))
    // child key columns project once as c_<tag>; each ref's key set
    // left-joins on its matching c_<tag> = k_<tag>
    def fused(child: DataFrame, keys: Seq[(String, String)],
        refs: Seq[(DataFrame, String, String)],
        checks: Seq[(String, String)]): DataFrame = {
      val flagged = refs.foldLeft(
        child.select(keys.map { case (k, tag) =>
          col(k).cast("long").as(s"c_$tag") }: _*)) {
        case (acc, (ref, rkey, tag)) =>
          acc.join(keySet(ref, rkey, tag),
            col(s"c_$tag") === col(s"k_$tag"), "left")
      }
      val aggCols = checks.flatMap { case (_, tag) =>
        viol(tag, s"c_$tag") }
      val agg1 = flagged.agg(count(lit(1)).as("n_checked"),
        aggCols.map { case (n, c) => c.as(n) }: _*)
      reportRows(agg1, checks)
    }
    // one scan: n_checked is the sum of group counts off the same
    // key-grouped aggregate the duplicate hunt runs on
    def unique(name: String, df: DataFrame, keys: Seq[String]): DataFrame =
      df.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("n"))
        .agg(coalesce(sum(col("n")), lit(0L)).as("n_checked"),
          coalesce(sum(when(col("n") > 1, col("n"))), lit(0L))
            .as("n_violations"),
          coalesce(sum(when(col("n") > 1, col(keys.head).cast("long"))),
            lit(0L)).as("violation_key_sum"))
        .select(lit(name).as("check_name"), col("n_checked"),
          col("n_violations"), col("violation_key_sum"))
    val o = Tables.orders(s, d); val c = Tables.customer(s, d)
    val li = Tables.lineitem(s, d); val p = Tables.part(s, d)
    val sup = Tables.supplier(s, d); val n = Tables.nation(s, d)
    // lineitem: its three FK checks share one flag-pass
    val liChecks = fused(li,
      Seq("l_orderkey" -> "o", "l_partkey" -> "p", "l_suppkey" -> "s"),
      Seq((o, "o_orderkey", "o"), (p, "p_partkey", "p"),
        (sup, "s_suppkey", "s")),
      Seq("fk_lineitem_orderkey" -> "o", "fk_lineitem_partkey" -> "p",
        "fk_lineitem_suppkey" -> "s"))
    // customer: FK to nation + reverse coverage vs orders, one pass
    val cChecks = fused(c,
      Seq("c_nationkey" -> "n", "c_custkey" -> "rc"),
      Seq((n, "n_nationkey", "n"), (o, "o_custkey", "rc")),
      Seq("fk_customer_nationkey" -> "n",
        "rev_customers_inactive" -> "rc"))
    val oChecks = fused(o, Seq("o_custkey" -> "c"),
      Seq((c, "c_custkey", "c")), Seq("fk_orders_custkey" -> "c"))
    val pChecks = fused(p, Seq("p_partkey" -> "rp"),
      Seq((li, "l_partkey", "rp")), Seq("rev_parts_unordered" -> "rp"))
    liChecks
      .unionByName(oChecks)
      .unionByName(cChecks)
      .unionByName(pChecks)
      .unionByName(unique("uniq_orders_orderkey", o, Seq("o_orderkey")))
      .unionByName(unique("uniq_lineitem_order_line", li,
        Seq("l_orderkey", "l_linenumber")))
      .orderBy(col("check_name"))
  }

  val q120Sql: String = """
    WITH checks AS (
      SELECT 'fk_orders_custkey' AS check_name,
        (SELECT COUNT(*) FROM orders) AS n_checked,
        COUNT(*) AS n_violations,
        COALESCE(SUM(o_custkey), 0) AS violation_key_sum
      FROM orders o WHERE NOT EXISTS
        (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
      UNION ALL
      SELECT 'fk_lineitem_orderkey', (SELECT COUNT(*) FROM lineitem),
        COUNT(*), COALESCE(SUM(l_orderkey), 0)
      FROM lineitem l WHERE NOT EXISTS
        (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
      UNION ALL
      SELECT 'fk_lineitem_partkey', (SELECT COUNT(*) FROM lineitem),
        COUNT(*), COALESCE(SUM(l_partkey), 0)
      FROM lineitem l WHERE NOT EXISTS
        (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)
      UNION ALL
      SELECT 'fk_lineitem_suppkey', (SELECT COUNT(*) FROM lineitem),
        COUNT(*), COALESCE(SUM(l_suppkey), 0)
      FROM lineitem l WHERE NOT EXISTS
        (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey)
      UNION ALL
      SELECT 'fk_customer_nationkey', (SELECT COUNT(*) FROM customer),
        COUNT(*), COALESCE(SUM(c_nationkey), 0)
      FROM customer c WHERE NOT EXISTS
        (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)
      UNION ALL
      SELECT 'rev_parts_unordered', (SELECT COUNT(*) FROM part),
        COUNT(*), COALESCE(SUM(p_partkey), 0)
      FROM part p WHERE NOT EXISTS
        (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey)
      UNION ALL
      SELECT 'rev_customers_inactive', (SELECT COUNT(*) FROM customer),
        COUNT(*), COALESCE(SUM(c_custkey), 0)
      FROM customer c WHERE NOT EXISTS
        (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
      UNION ALL
      SELECT 'uniq_orders_orderkey', (SELECT COUNT(*) FROM orders),
        COALESCE(SUM(n), 0), COALESCE(SUM(o_orderkey), 0)
      FROM (SELECT o_orderkey, COUNT(*) AS n FROM orders
            GROUP BY o_orderkey HAVING COUNT(*) > 1)
      UNION ALL
      SELECT 'uniq_lineitem_order_line', (SELECT COUNT(*) FROM lineitem),
        COALESCE(SUM(n), 0), COALESCE(SUM(l_orderkey), 0)
      FROM (SELECT l_orderkey, l_linenumber, COUNT(*) AS n FROM lineitem
            GROUP BY l_orderkey, l_linenumber HAVING COUNT(*) > 1))
    SELECT check_name, CAST(n_checked AS BIGINT) AS n_checked,
      CAST(n_violations AS BIGINT) AS n_violations,
      CAST(violation_key_sum AS BIGINT) AS violation_key_sum
    FROM checks ORDER BY check_name"""

  // ---- q189: CSV round trip (the adversarial interchange format) -------
  // q96 proves ORC, q117 proves JSONL; CSV is the format where round
  // trips actually BREAK — embedded newlines, quotes, commas, and the
  // null-vs-empty-string ambiguity all live in the documents.text
  // column. Written RFC-4180 style (quote-doubling escape, not
  // backslash) and re-read through an explicit schema with multiLine
  // quoted-newline handling; empty text lands as CSV's indistinguishable
  // empty field and is coalesced back to '' (the fixture carries no
  // nulls, so the oracle's md5 over the original bytes still must
  // match). Per-row md5 folded into a per-source order-insensitive
  // digest covers every byte of every document.
  def q189CsvRoundtrip(s: SparkSession, d: String): DataFrame = {
    val dir = new java.io.File(sys.props("java.io.tmpdir"),
      "graft-docs-csv-" +
        java.lang.Long.toHexString(
          DedupOps.h60("csv:" + d + ":" + s.sparkContext.applicationId)))
      .getPath
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("text"), col("n_chars"))
      .write.mode("overwrite")
      .option("header", "true").option("escape", "\"")
      // the WRITER trims field whitespace by default (its read twin
      // doesn't) — a doc ending in '\n' would come back short
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .csv(dir)
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("source", StringType),
      StructField("text", StringType),
      StructField("n_chars", LongType)))
    val agg = s.read.schema(schema)
      .option("header", "true").option("multiLine", "true")
      .option("escape", "\"").csv(dir)
      .withColumn("text", coalesce(col("text"), lit("")))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"),
        sum(col("doc_id")).as("id_sum"),
        sum(col("n_chars")).as("char_sum"),
        md5(concat_ws("", sort_array(collect_list(md5(col("text"))))))
          .as("content_md5"))
      // eager checkpoint forces the round trip NOW (the q117 discipline)
      .localCheckpoint(true)
    Io.deleteRecursively(new java.io.File(dir))
    agg.orderBy(col("source"))
  }

  val q189Sql: String = """
    SELECT source, COUNT(*) AS n,
      CAST(SUM(doc_id) AS BIGINT) AS id_sum,
      CAST(SUM(n_chars) AS BIGINT) AS char_sum,
      md5(string_agg(md5(text), '' ORDER BY md5(text))) AS content_md5
    FROM documents GROUP BY source ORDER BY source"""

  // ---- q190: date-partitioned sink + static partition pruning ----------
  // THE 100 TB read lever the parquet-stat guards don't cover: a
  // time-series sink laid out as dt=YYYY-MM-DD directories, where a
  // bounded date predicate prunes whole partitions at PLANNING time —
  // the scan never lists, opens, or stat-checks files outside the
  // window. The events table lands partitioned by event date (built
  // once per dataset version — the q185/StageCache discipline), then a
  // trailing-7-day aggregate reads it back through a LITERAL bound:
  // the max date is resolved first (1-row collect, the documented
  // bounded-scalar class) precisely BECAUSE a literal is what static
  // partition pruning keys on — a scalar subquery would defer the bound
  // past the pruner. PlanSpec asserts PartitionFilters carry the bound.
  // The oracle computes the same window from the raw parquet, so the
  // partitioned copy is proven byte-faithful, not just fast.
  /** The dt-partitioned events landing zone, built once per dataset
    * version (q190 and q191 share it — at 100 TB this IS the table's
    * layout, not a per-query copy). Publication is staged + atomic
    * rename (the PartitionSwap posture): a concurrent builder loses the
    * rename and discards its staging, and a torn directory (no
    * _SUCCESS) is rebuilt, never served. Stale versions of the layout
    * are GC'd on rebuild — a deleted live copy is only a rebuild on the
    * next call, never a wrong answer, because every call re-checks the
    * marker. */
  private def partitionedEventsDir(s: SparkSession, d: String): String = {
    val prefix = "graft-events-bydate-"
    val dir = new java.io.File(sys.props("java.io.tmpdir"),
      prefix + java.lang.Long.toHexString(DedupOps.h60(
        "evpart:" + d + ":" + StageCache.version(d)))).getPath
    val live = new org.apache.hadoop.fs.Path(dir)
    val fs = live.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(dir, "_SUCCESS"))) {
      if (fs.exists(live)) fs.delete(live, true) // torn copy: rebuild
      Option(fs.globStatus(
        new org.apache.hadoop.fs.Path(live.getParent, prefix + "*")))
        .getOrElse(Array.empty)
        .filter(st => st.getPath.getName != live.getName
          && !st.getPath.getName.contains(".staging-"))
        .foreach(st => fs.delete(st.getPath, true)) // stale versions
      val staging = new org.apache.hadoop.fs.Path(
        dir + ".staging-" + s.sparkContext.applicationId)
      fs.delete(staging, true)
      Tables.events(s, d)
        .withColumn("event_date", to_date(col("ts")))
        .write.mode("overwrite").partitionBy("event_date")
        .parquet(staging.toString)
      // Publish must FAIL when live already exists (a concurrent builder
      // won the race) — FileSystem.rename into an existing directory
      // does not: local FS and HDFS both move staging INSIDE live and
      // return true, nesting a second file set into the published
      // layout. FileContext.rename with Options.Rename.NONE is the
      // atomic fail-if-exists variant; the loser discards its staging
      // and serves the winner's copy.
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        s.sparkContext.hadoopConfiguration)
      try fc.rename(staging, live,
        org.apache.hadoop.fs.Options.Rename.NONE)
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException |
             _: java.nio.file.FileAlreadyExistsException =>
          fs.delete(staging, true) // lost race: winner is published
      }
    }
    dir
  }

  /** Read the dt-partitioned landing zone through the EXPLICIT schema
    * (source columns + the event_date partition column): an empty
    * source version publishes a layout with no partition directories,
    * and a schema-inference read would die on it (UNABLE_TO_INFER_SCHEMA)
    * instead of degrading to the 0-row frame every consumer handles. */
  private def readPartitionedEvents(s: SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    val sch = Tables.events(s, d)
      .withColumn("event_date", to_date(col("ts"))).schema
    s.read.schema(sch).parquet(partitionedEventsDir(s, d))
  }

  def q190PartitionPruning(s: SparkSession, d: String): DataFrame = {
    val part = readPartitionedEvents(s, d)
    val maxDate = part.agg(max(col("event_date"))).collect()(0).getDate(0)
    part.filter(col("event_date") >= date_sub(lit(maxDate), 6))
      .groupBy(col("event_date"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        Fx.moneySum(col("value")).as("sum_value"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("event_date"), col("event_type"))
  }

  val q190Sql: String = s"""
    WITH mx AS (SELECT MAX(CAST(ts AS DATE)) AS md FROM events)
    SELECT CAST(ts AS DATE) AS event_date, event_type,
      COUNT(*) AS n, ${Fx.sqlMoneySum("value")} AS sum_value,
      CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events, mx WHERE CAST(ts AS DATE) >= md - 6
    GROUP BY 1, 2 ORDER BY 1, 2"""

  // ---- q191: dynamic partition pruning (runtime complement to q190) ----
  // q190's bound is knowable at planning time; the equally common shape
  // is "fact partitions selected by a JOIN against a filtered dimension"
  // — here, Mondays: a date dimension derived from the corpus, filtered
  // on an attribute, equi-joined to the partitioned fact on its
  // partition column. No literal bound exists until the dim side runs,
  // so static pruning can't fire — Spark's dynamic partition pruning
  // injects the dim's date set into the fact scan's PartitionFilters at
  // runtime (reusing the broadcast), and the fact side still never
  // reads a pruned directory. PlanSpec asserts the
  // dynamicpruningexpression landed. Day-of-week is computed as
  // epoch-days % 7 (1970-01-01 = Thursday = 0, so Monday = 4) — the
  // integer discipline both engines share, immune to locale/week-start
  // conventions.
  def q191DynamicPruning(s: SparkSession, d: String): DataFrame = {
    val part = readPartitionedEvents(s, d)
    val dim = Tables.events(s, d)
      .select(to_date(col("ts")).as("dim_date")).distinct()
      .withColumn("daynum",
        pmod(datediff(col("dim_date"), to_date(lit("1970-01-01"))), lit(7)))
      .filter(col("daynum") === 4) // Mondays
    part.join(broadcast(dim), col("event_date") === col("dim_date"))
      .groupBy(col("event_date"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        Fx.moneySum(col("value")).as("sum_value"))
      .orderBy(col("event_date"), col("event_type"))
  }

  val q191Sql: String = s"""
    SELECT d AS event_date, event_type, COUNT(*) AS n,
      ${Fx.sqlMoneySum("value")} AS sum_value
    FROM (SELECT CAST(ts AS DATE) AS d, event_type, value FROM events)
    WHERE ((d - DATE '1970-01-01') % 7 + 7) % 7 = 4
    GROUP BY 1, 2 ORDER BY 1, 2"""

  // ---- q193: VARIANT round trip (Spark 4 semi-structured storage) ------
  // q18 extracts from JSON TEXT — reparsing every string on every read.
  // Spark 4's VARIANT is the storage answer: parse once at ingest, land
  // the binary variant IN PARQUET, and every later reader does typed
  // path extraction (`variant_get`) on the decoded binary — no reparse,
  // shreddable, the open-lakehouse semi-structured column type. The
  // query proves the full loop: parse → write variant column to parquet
  // → read back → typed extraction → aggregate; the oracle computes the
  // same aggregate from the original JSON text, so the variant encode/
  // decode round trip must be value-faithful, null-for-null (TRY-cast
  // semantics on both sides).
  def q193VariantRoundtrip(s: SparkSession, d: String): DataFrame = {
    val dir = new java.io.File(sys.props("java.io.tmpdir"),
      "graft-events-variant-" +
        java.lang.Long.toHexString(
          DedupOps.h60("var:" + d + ":" + s.sparkContext.applicationId)))
      .getPath
    Tables.events(s, d)
      .select(col("event_id"), col("event_type"),
        expr("parse_json(props)").as("vprops"))
      .write.mode("overwrite").parquet(dir)
    val agg = s.read.parquet(dir)
      .withColumn("k",
        expr("try_variant_get(vprops, '$.k', 'bigint')"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"),
        sum(when(col("k").isNull, 1L).otherwise(0L)).as("n_null"),
        sum(col("event_id")).as("id_sum"))
      .localCheckpoint(true) // force the round trip before cleanup
    Io.deleteRecursively(new java.io.File(dir))
    agg.orderBy(col("event_type"))
  }

  val q193Sql: String = """
    SELECT event_type, COUNT(*) AS n,
      CAST(SUM(k) AS BIGINT) AS sum_k, MIN(k) AS min_k, MAX(k) AS max_k,
      CAST(SUM(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        AS n_null,
      CAST(SUM(event_id) AS BIGINT) AS id_sum
    FROM (SELECT event_type, event_id,
            TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
          FROM events)
    GROUP BY event_type ORDER BY event_type"""

  // ---- q271: column profile (discovery-side data quality) ---------------
  // q95 validates the rules you already know; the profiler DISCOVERS
  // them — the first pass every ingest team runs on an unfamiliar feed:
  // per column, row/null/distinct counts, typed min/max, the modal
  // value with its share, and a concentration score. Emitted per orders
  // column (the mixed-type table: keys, enums, money, dates).
  //
  // Design: value-distribution stats ride ONE scan unpivoted by
  // `stack` into (col_name, value-as-string) and collapsed to the
  // per-(column, value) count frame g1 — all downstream stats are
  // aggregates of g1. The modal value avoids a window over g1 (for a
  // key column g1 is corpus-sized, and a per-column window would drag
  // a whole column's values through one task — the q122 hazard): a
  // max-count aggregate joins back and ties break to the MIN value.
  // Typed min/max come from a second 1-row aggregate pass — string
  // min/max would order "10" < "9"; money profiles as exact cents
  // (Fx.toUnits), dates as ISO strings, so every emitted value is
  // format-stable across engines. Concentration = Gini impurity
  // 1 − Σp² in exact ppm (Σc² stays Decimal(38,0) ↔ HUGEINT; no ln,
  // unlike entropy — the q73 lesson). A 6-row static column spine
  // left-joins the stats, so an EMPTY table still profiles: n = 0
  // rows per column, null min/max/top — never a vanished report.
  // n_distinct is exact by design (the g1 collapse is the same
  // shuffle an exact COUNT DISTINCT pays); at approximate-profile
  // scale swap in q81's HLL contract.
  private val ProfileCols = Seq("o_custkey", "o_orderdate", "o_orderkey",
    "o_orderpriority", "o_orderstatus", "o_totalprice_cents")

  def q271ColProfile(s: SparkSession, d: String): DataFrame = {
    val base = Tables.orders(s, d)
      .withColumn("cents", Fx.toUnits(col("o_totalprice")))
    val lf = base.select(expr("stack(6, " +
      "'o_orderkey', cast(o_orderkey as string), " +
      "'o_custkey', cast(o_custkey as string), " +
      "'o_orderstatus', o_orderstatus, " +
      "'o_totalprice_cents', cast(cents as string), " +
      "'o_orderdate', cast(cast(o_orderdate as date) as string), " +
      "'o_orderpriority', o_orderpriority) as (col_name, v)"))
    val g1 = lf.groupBy(col("col_name"), col("v"))
      .agg(count(lit(1)).as("c"))
      .persist() // stats, modal max and modal tie-break all read it
    val stats = g1.groupBy(col("col_name"))
      .agg(sum(col("c")).as("n"),
        sum(when(col("v").isNull, col("c")).otherwise(0L)).as("n_null"),
        sum(when(col("v").isNotNull, 1L).otherwise(0L)).as("n_distinct"),
        sum(when(col("v").isNotNull,
          expr("cast(c as decimal(38,0)) * c"))).as("s2"),
        max(when(col("v").isNotNull, col("c"))).as("top_c"))
    val top = g1.join(
        stats.select(col("col_name"), col("top_c").as("tc")), "col_name")
      .filter(col("v").isNotNull && col("c") === col("tc"))
      .groupBy(col("col_name")).agg(min(col("v")).as("top_v"))
    val mm = base.agg(
        min(col("o_orderkey")).cast("string").as("k1"),
        max(col("o_orderkey")).cast("string").as("k2"),
        min(col("o_custkey")).cast("string").as("c1"),
        max(col("o_custkey")).cast("string").as("c2"),
        min(col("o_orderstatus")).as("s1"),
        max(col("o_orderstatus")).as("s2x"),
        min(col("cents")).cast("string").as("t1"),
        max(col("cents")).cast("string").as("t2"),
        min(to_date(col("o_orderdate"))).cast("string").as("d1"),
        max(to_date(col("o_orderdate"))).cast("string").as("d2"),
        min(col("o_orderpriority")).as("p1"),
        max(col("o_orderpriority")).as("p2"))
      .select(expr("stack(6, " +
        "'o_orderkey', k1, k2, 'o_custkey', c1, c2, " +
        "'o_orderstatus', s1, s2x, 'o_totalprice_cents', t1, t2, " +
        "'o_orderdate', d1, d2, 'o_orderpriority', p1, p2)" +
        " as (col_name, min_v, max_v)"))
    val spine = s.range(1).select(expr(
      ProfileCols.map(c => s"'$c'").mkString("stack(6, ", ", ", ")")
    ).as("col_name"))
    spine
      .join(stats, Seq("col_name"), "left")
      .join(top, Seq("col_name"), "left")
      .join(mm, Seq("col_name"), "left")
      .na.fill(0L, Seq("n", "n_null", "n_distinct"))
      .withColumn("top_share_ppm", expr(
        "cast(cast(top_c as decimal(38,0)) * 1000000" +
          " div nullif(n - n_null, 0) as bigint)"))
      .withColumn("gini_ppm", expr(
        "cast(1000000 - s2 * 1000000" +
          " div nullif(cast(n - n_null as decimal(38,0))" +
          " * (n - n_null), 0) as bigint)"))
      .select(col("col_name"), col("n"), col("n_null"), col("n_distinct"),
        col("min_v"), col("max_v"), col("top_v"), col("top_share_ppm"),
        col("gini_ppm"))
      .orderBy(col("col_name"))
  }

  val q271Sql: String = {
    // one CTE block per column; every emitted value is VARCHAR with the
    // same canonical formats as the engine (cents BIGINT, ISO dates)
    val cols: Seq[(String, String, String)] = Seq(
      ("o_orderkey", "CAST(o_orderkey AS VARCHAR)", "o_orderkey"),
      ("o_custkey", "CAST(o_custkey AS VARCHAR)", "o_custkey"),
      ("o_orderstatus", "o_orderstatus", "o_orderstatus"),
      ("o_totalprice_cents",
        s"CAST(${Fx.sqlUnits("o_totalprice")} AS VARCHAR)",
        Fx.sqlUnits("o_totalprice")),
      ("o_orderdate", "CAST(CAST(o_orderdate AS DATE) AS VARCHAR)",
        "CAST(o_orderdate AS DATE)"),
      ("o_orderpriority", "o_orderpriority", "o_orderpriority"))
    val ctes = cols.map { case (name, vExpr, typed) => s"""
    b_$name AS (SELECT $vExpr AS v FROM orders),
    g_$name AS (
      SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM b_$name
      WHERE v IS NOT NULL GROUP BY 1),
    p_$name AS (
      SELECT '$name' AS col_name,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM b_$name) AS n,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM b_$name WHERE v IS NULL)
          AS n_null,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM g_$name) AS n_distinct,
        (SELECT CAST(MIN($typed) AS VARCHAR) FROM orders) AS min_v,
        (SELECT CAST(MAX($typed) AS VARCHAR) FROM orders) AS max_v,
        (SELECT MIN(v) FROM g_$name
           WHERE c = (SELECT MAX(c) FROM g_$name)) AS top_v,
        CAST((SELECT MAX(c) FROM g_$name) * 1000000
          // nullif((SELECT SUM(c) FROM g_$name), 0) AS BIGINT)
          AS top_share_ppm,
        (SELECT CAST(1000000 - SUM(CAST(c AS HUGEINT) * c) * 1000000
            // nullif(CAST(SUM(c) AS HUGEINT) * SUM(c), 0) AS BIGINT)
         FROM g_$name) AS gini_ppm)""" }.mkString(",")
    val un = cols.map { case (name, _, _) =>
      s"SELECT * FROM p_$name" }.mkString("\n    UNION ALL ")
    s"""
    WITH ${ctes.stripPrefix("\n")}
    $un ORDER BY col_name"""
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q271_col_profile" -> q271ColProfile _,
    "q189_csv_roundtrip" -> q189CsvRoundtrip _,
    "q190_partition_pruning" -> q190PartitionPruning _,
    "q191_dynamic_pruning" -> q191DynamicPruning _,
    "q193_variant_roundtrip" -> q193VariantRoundtrip _,
    "q21_dedup_first" -> q21DedupFirst _,
    "q59_json_scan"   -> q59JsonScan _,
    "q95_expectations" -> q95Expectations _,
    "q96_orc_roundtrip" -> q96OrcRoundtrip _,
    "q117_jsonl_roundtrip" -> q117JsonlRoundtrip _,
    "q120_referential_integrity" -> q120ReferentialIntegrity _)

  val oracles: Map[String, String] = Map(
    "q271_col_profile" -> q271Sql,
    "q189_csv_roundtrip" -> q189Sql,
    "q190_partition_pruning" -> q190Sql,
    "q191_dynamic_pruning" -> q191Sql,
    "q193_variant_roundtrip" -> q193Sql,
    "q21_dedup_first" -> q21Sql,
    "q59_json_scan"   -> q59Sql,
    "q95_expectations" -> q95Sql,
    "q96_orc_roundtrip" -> q96Sql,
    "q117_jsonl_roundtrip" -> q117Sql,
    "q120_referential_integrity" -> q120Sql)
}
