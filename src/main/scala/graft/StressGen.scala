package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Self-built stress-corpus generator (VERDICT r8 "Next round" #1).
  *
  * Builds a ~sf(0.1 × N) corpus under a scratch dir by unioning the
  * read-only sf0.1 fixtures N times with per-replica key offsets, so the
  * full query registry can be driven at ~10× bench scale without
  * touching the driver-owned fixtures (TESTDATA.md forbids regeneration).
  * This is a robustness/scaling drive, not a correctness gate — the
  * DuckDB oracle stays pinned at sf0.01.
  *
  * Replica construction keeps join cardinalities scaling linearly:
  * every foreign key is offset by the same `replica × KEY_OFFSET` as its
  * primary key, so each replica joins only within itself and the join
  * graph (FIXTURES.md) fans out 10× — never 100×. Dimension tables
  * nation/region stay fixed (as TPC-H scaling does).
  *
  * Two columns are perturbed rather than copied verbatim:
  *  - `documents.text` gets a 3-char replica suffix: exact-hash dedup
  *    sees distinct rows, while MinHash/SimHash see 10-clone near-dup
  *    clusters — deliberately adversarial for the candidate generators
  *    (pair volume grows super-linearly with clone depth, the shape a
  *    real web corpus has; BASELINE.md adjudicates those ratios).
  *  - `embeddings.embedding` is rotated by 7·replica positions —
  *    norm-preserving but direction-changing, so ANN index builds see
  *    10× genuinely distinct vectors instead of degenerate 10-ties.
  *
  * `events.ts` ships as TIMESTAMP(NANOS) in the current fixtures, which
  * Spark reads only as a raw long under `nanosAsLong` (Tables.events).
  * The replica write keeps that raw long, so the copied table round-trips
  * through the exact same LongType branch of the adaptive loader.
  */
object StressGen {
  /** Larger than any sf0.1 key (max observed ~600k); replica i's keys
    * live in [i·OFFSET, i·OFFSET + maxKey] — disjoint by construction. */
  val KEY_OFFSET: Long = 10 * 1000 * 1000L

  private def replicate(
      base: DataFrame, replicas: Int, keyCols: Seq[String],
      perturb: (DataFrame, Int) => DataFrame = (df, _) => df): DataFrame =
    (0 until replicas).map { i =>
      val shifted = keyCols.foldLeft(base) { (df, k) =>
        df.withColumn(k, col(k) + lit(i * KEY_OFFSET))
      }
      perturb(shifted, i)
    }.reduce(_.unionByName(_))

  /** Writes all ten tables; returns (table → rows written). */
  def generate(spark: SparkSession, srcDir: String, outDir: String,
               replicas: Int): Map[String, Long] = {
    // read ts as raw nanos-long so the copy round-trips losslessly
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    def src(name: String): DataFrame =
      spark.read.parquet(s"$srcDir/$name.parquet")

    val embDim = src("embeddings").selectExpr("size(embedding) d")
      .head().getInt(0)

    val tables: Seq[(String, DataFrame)] = Seq(
      "region" -> src("region"),
      "nation" -> src("nation"),
      "customer" -> replicate(src("customer"), replicas, Seq("c_custkey")),
      "supplier" -> replicate(src("supplier"), replicas, Seq("s_suppkey")),
      "part" -> replicate(src("part"), replicas, Seq("p_partkey")),
      "orders" -> replicate(src("orders"), replicas,
        Seq("o_orderkey", "o_custkey")),
      "lineitem" -> replicate(src("lineitem"), replicas,
        Seq("l_orderkey", "l_partkey", "l_suppkey")),
      "events" -> replicate(src("events"), replicas,
        Seq("event_id", "user_id")),
      "documents" -> replicate(src("documents"), replicas, Seq("doc_id"),
        (df, i) =>
          if (i == 0) df
          else df
            .withColumn("text", concat(col("text"), lit(s" r$i")))
            .withColumn("n_chars", col("n_chars") + lit(3L))),
      "embeddings" -> replicate(src("embeddings"), replicas, Seq("vec_id"),
        (df, i) => {
          val r = (7 * i) % embDim
          if (r == 0) df
          else df.withColumn("embedding",
            concat(slice(col("embedding"), r + 1, embDim - r),
                   slice(col("embedding"), 1, r)))
        }))

    tables.map { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      name -> spark.read.parquet(s"$outDir/$name.parquet").count()
    }.toMap
  }

  /** Usage: StressGen [srcDir] [outDir] [replicas] */
  def main(args: Array[String]): Unit = {
    val srcDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("/tmp/sf1ish")
    val replicas = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = Session("graft-stress-gen")
    val counts = generate(spark, srcDir, outDir, replicas)
    counts.toSeq.sortBy(_._1).foreach { case (n, c) =>
      println(f"[stressgen] $n%-12s $c%,12d rows")
    }
    spark.stop()
  }
}
