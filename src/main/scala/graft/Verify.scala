package graft
import org.apache.spark.sql.{DataFrame, Row}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Also emits `digests.json`: per query, an md5 over a CANONICAL rendering
  * of the parquet dump just written (columns sorted by name, rows sorted
  * by their rendered tuple — the same normalization scripts/check.py
  * applies before comparing). The sf0.01 snapshot is committed at every
  * round close as `digests_sf001.json`, so a driver-gate hash red is
  * adjudicable from artifacts: if the driver run's digest equals the
  * committed one, the engine dump is byte-stable and the divergence is in
  * the compare; if it differs, the digest pins an engine-side repro.
  */
object Verify {
  /** Canonical value rendering — deterministic for every type a query
    * emits (null marker, plain-string decimals, epoch-instant
    * timestamps, hex binary, recursive arrays/structs/maps). */
  def render(v: Any): String = v match {
    case null => "\\N"
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
    case d: BigDecimal => d.underlying.stripTrailingZeros.toPlainString
    case t: java.sql.Timestamp => t.toInstant.toString
    case t: java.time.Instant => t.toString
    case d: java.sql.Date => d.toString
    case s: scala.collection.Seq[_] =>
      s.map(render).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => render(k) + ":" + render(x) }
        .toSeq.sorted.mkString("{", ",", "}")
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case x => x.toString
  }

  /** md5 over the column-sorted, row-sorted canonical rendering. Verify
    * outputs are report-sized (the gate's largest is a few thousand
    * rows), so the driver-side collect is bounded by construction. */
  def canonicalDigest(df: DataFrame): (String, Long) = {
    import org.apache.spark.sql.functions.col
    val proj = df.select(df.columns.sorted.map(col).toIndexedSeq: _*)
    val lines = proj.collect().map(_.toSeq.map(render).mkString("\u0001"))
    val text = lines.sorted.mkString("\n")
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(text.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    (hex, lines.length.toLong)
  }
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name filter (local dev loop)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    // layout-adaptive scan-parallelism floor (Tables.maybeSpread);
    // -Dspark.graft.scan.spreadRowFloor=1 spreads documents/embeddings at
    // sf0.01 too (equivalence gate)
    val spark = Session("graft-verify",
      "spark.graft.scan.autoParallelize" -> "true")
    // start from a clean stage registry — pinned stages from any prior
    // session state must never leak into a correctness run (the cache is
    // also mtime-keyed, so this is belt-and-braces)
    ops.StageCache.clearAll()
    new java.io.File(outDir).mkdirs()
    // name -> (digest, rows); digest is computed from the parquet files
    // just WRITTEN (re-read from disk), so it covers exactly the bytes
    // the driver's compare will load
    val digests = scala.collection.mutable.LinkedHashMap
      .empty[String, Option[(String, Long)]]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        digests(name) = Some(canonicalDigest(
          spark.read.parquet(s"$outDir/$name")))
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        digests(name) = None
      }
      // queries that persist() feature tables (q31/q33/q34) would
      // otherwise accumulate caches across the whole sweep
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val digJson = digests.toSeq.sortBy(_._1).map {
      case (k, Some((h, n))) => s"${q(k)}: {\"digest\": ${q(h)}, \"rows\": $n}"
      case (k, None)         => s"${q(k)}: {\"digest\": null, \"rows\": null}"
    }.mkString("{", ",\n ", "}")
    Files.writeString(Paths.get(s"$outDir/digests.json"), digJson)
    spark.stop()
  }
}
