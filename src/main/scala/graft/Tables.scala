package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the synthetic corpus (TESTDATA.md / FIXTURES.md §B).
  *
  * All tables are Parquet with schema-on-read from the footer; we never
  * `inferSchema` over data (SURVEY.md §1.5 — at 100 TB an inference pass is
  * a full extra scan). Column pruning + predicate pushdown reach the
  * vectorized Parquet reader automatically because every query below stays
  * declarative (no RDDs in the read path).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    maybeSpread(spark, spark.read.parquet(path), path, name)
  }

  /** Scan-parallelism floor (optimization guide §2.5 "input skew: one huge
    * unsplittable file ... repartition immediately after the read", §6).
    *
    * A parquet row group is the split atom: a scan can never run more
    * concurrent row-producing tasks than the table has row groups, no
    * matter how `maxPartitionBytes` slices the byte ranges. The bench
    * fixtures ship every table as a SINGLE file with a SINGLE row group,
    * so without this every narrow operator chained on a base scan —
    * tokenize/md5 gram builders, vector arithmetic, explodes — ran in one
    * task on one core of `local[N]`. Spreading the scan with one
    * deterministic hash repartition on the table's leading id column puts
    * that per-row work on all cores for the price of shuffling the base
    * rows once (a few MB here; measured net win, see OPTIMIZATION_r13.md).
    *
    * The guard is layout-adaptive, not a local[32] constant: it reads the
    * parquet FOOTERS (metadata only, never a data scan, memoized like
    * `rowCount`) and fires only when the row-group count is below the
    * session's `defaultParallelism`-derived target. Any production-shaped
    * layout — many files, many row groups, or simply a large table — keeps
    * its untouched scan-local plan, because there a blanket repartition
    * would shuffle the whole corpus for nothing (guide §8's anti-pattern).
    * Opt-in via spark.graft.scan.autoParallelize: set by the
    * registry-sweep main (Verify), off for library
    * embedders and the plan-shape suite, which asserts on the scan-local
    * shapes that hold at scale. */
  // below: dimension-table-sized. Conf-overridable (see maybeSpread) so a
  // correctness gate can lower it and exercise the spread path over the
  // small-SF documents/embeddings tables too (ADVICE r13: with the fixed
  // 512 floor, the sf0.01 gate never covered the spread on the two tables
  // feeding most text/vector/dedup queries, while the sf0.1 bench spread
  // them — an equivalence-evidence gap).
  private val SpreadRowFloor = 512L
  private val SpreadMaxFiles = 64          // at/above: already parallel
  private val SpreadMaxBytes = 8L << 30    // above: never worth a reshuffle
  // Which tables the spread applies to (r14 measurement, full per-table
  // A/B in OPTIMIZATION_r14.md): the repartition only pays off when the
  // pipeline does substantial PER-ROW compute before its first key
  // shuffle — tokenizers, gram/vector math, per-row hashing over the
  // text/vector/fact tables. Pipelines whose first operation is a keyed
  // shuffle anyway (the event-log family: window-by-user, group-by-user)
  // pay the spread exchange as pure overhead — every exchanged byte is
  // exchanged AGAIN one operator later (guide §2.4: two operations keyed
  // the same way should share one exchange; a spread keyed differently
  // shares nothing). Measured at sf0.1: spreading `events` cost a flat
  // ~0.6 s × 50 queries with zero >1.2× winners; spreading
  // documents/embeddings/lineitem/orders carries every 2–8× win
  // (q175/q194/q48/q68/q232). Conf-overridable for other corpora.
  private val SpreadTablesDefault = "documents,embeddings,lineitem,orders"
  private def maybeSpread(s: SparkSession, df: DataFrame,
                          path: String, name: String): DataFrame = {
    // lenient parse (ADVICE r13): the value is any user-given Spark
    // property, so "0"/"off"/"no" must read as disabled, not throw
    // IllegalArgumentException at query time
    if (!s.conf.getOption("spark.graft.scan.autoParallelize")
      .exists(_.equalsIgnoreCase("true"))) return df
    val allow = s.conf.getOption("spark.graft.scan.spreadTables")
      .getOrElse(SpreadTablesDefault)
    if (!allow.split(",").map(_.trim).contains(name)) return df
    val (groups, rows) = footerStats(s, path)
    val floor = s.conf.getOption("spark.graft.scan.spreadRowFloor")
      .flatMap(v => scala.util.Try(v.toLong).toOption)
      .getOrElse(SpreadRowFloor)
    val target = math.min(s.sparkContext.defaultParallelism.toLong,
      rows / 64L).toInt
    if (rows < floor || target < 2 || groups >= target) df
    else df.repartition(target, df(df.columns.head))
  }

  /** (row groups, rows) summed over the path's parquet footers; memoized —
    * fixtures are immutable for a session's lifetime, and this is the same
    * metadata the scan planner itself reads. Layouts that are plainly
    * parallel-enough (many files) or too big to ever re-shuffle report a
    * no-spread sentinel without opening any footer. */
  private val footerMemo =
    new java.util.concurrent.ConcurrentHashMap[String, (Int, Long)]()
  private def footerStats(s: SparkSession, path: String): (Int, Long) =
    footerMemo.computeIfAbsent(path, { _ =>
      // Any metadata-IO failure (corrupt footer, permissions, a
      // partitioned layout whose files sit in subdirectories) falls back
      // to the no-spread sentinel instead of failing the DataFrame
      // construction — load() was lazy before this floor existed and a
      // spread miss only costs parallelism, never correctness (ADVICE
      // r13). Partitioned dt=.../part-*.parquet layouts list zero
      // top-level files and land here via the rows==0 sentinel too.
      try {
        val conf = s.sessionState.newHadoopConf()
        val p = new org.apache.hadoop.fs.Path(path)
        val fs = p.getFileSystem(conf)
        val root = fs.getFileStatus(p)
        val files =
          if (root.isDirectory)
            fs.listStatus(p).toSeq.filter(st => st.isFile &&
              st.getPath.getName.endsWith(".parquet"))
          else Seq(root)
        if (files.size >= SpreadMaxFiles ||
          files.map(_.getLen).sum > SpreadMaxBytes) (Int.MaxValue, 0L)
        else {
          var groups = 0
          var rows = 0L
          files.foreach { st =>
            val r = org.apache.parquet.hadoop.ParquetFileReader.open(
              org.apache.parquet.hadoop.util.HadoopInputFile
                .fromStatus(st, conf))
            try {
              groups += r.getRowGroups.size()
              rows += r.getRecordCount
            } finally r.close()
          }
          (groups, rows)
        }
      } catch { case scala.util.control.NonFatal(_) => (Int.MaxValue, 0L) }
    })

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** `events.ts` has shipped as two different parquet physical types across
    * fixture generations: TIMESTAMP(NANOS) (which Spark's reader surfaces
    * only as a raw long under `nanosAsLong`) and TIMESTAMP(MICROS)
    * (surfaced as TIMESTAMP_NTZ or TIMESTAMP depending on isAdjustedToUTC).
    * Branch on the *read* schema — one loader, both generations, identical
    * micro-precision semantics to DuckDB's oracle timestamp. */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>      // old fixtures: NANOS read as long → truncate to micros
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _: TimestampNTZType => // current fixtures: timestamp[us], no UTC flag
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw       // already session TIMESTAMP
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Memoized per-(dir, table) row count — the table-stats stand-in.
    * Several queries derive blocking parameters from the corpus size
    * (SimOps.planesFor/cellsFor, DedupOps.chunksFor); at 100 TB that
    * number comes from catalog statistics, never a scan — here it is a
    * parquet metadata-only count job, computed ONCE per session and
    * shared across every query that needs it (previously q36/q37/q47
    * each ran their own count action). Safe to memoize because the
    * corpus fixtures are immutable for a session's lifetime. */
  private val countMemo =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  def rowCount(s: SparkSession, d: String, name: String): Long =
    countMemo.computeIfAbsent(s"$d/$name",
      // raw read, not load(): the scan-spread repartition would turn this
      // metadata-only count into a real shuffle job
      _ => s.read.parquet(s"$d/$name.parquet").count())

  /** SQL-API surface: register every corpus table as a temp view so users
    * can run raw `spark.sql(...)` — the direct analog of the SQL workload
    * the reference's Postgres tables serve (SURVEY.md §0). Views are
    * lazy: no scan happens until a query runs. */
  def registerAll(s: SparkSession, d: String): Unit =
    names.foreach { n =>
      val df = if (n == "events") events(s, d) else load(s, d, n)
      df.createOrReplaceTempView(n)
    }
}
