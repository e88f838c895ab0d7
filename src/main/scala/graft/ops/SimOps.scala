package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.expressions.QuantizedDot

/** Similarity-search surface over embeddings (SURVEY.md §2.12 [N]):
  * brute-force cosine top-k as the exact baseline, random-hyperplane LSH
  * bucketing as the scale path (ANN + near-dup pair mining), and per-label
  * centroid analytics as the vector-column aggregate.
  *
  * Scale design: brute force is reserved for a SMALL query set against the
  * corpus (broadcast the queries — no shuffle of the big side; at 100 TB
  * this is the re-ranking stage, never the candidate stage). Everything
  * corpus×corpus goes through the LSH bucket equi-join, so candidate count
  * is bounded by bucket occupancy, not n².
  *
  * Oracle parity (SURVEY.md §7.3.1): every dot product / norm quantizes
  * each TERM to an integer — floor(x*y*1e9 + 0.5) — then sums as BIGINT.
  * Integer addition is order-independent, so Spark's and DuckDB's differing
  * evaluation orders cannot diverge; the final cosine is a fixed IEEE
  * expression (one multiply, one sqrt, one divide) over identical
  * integers. Hyperplanes are md5-derived integer weight vectors —
  * deterministic, seedable, engine-portable.
  */
object SimOps {

  private[graft] val D = 64 // embedding dimensionality (FIXTURES.md §B)

  /** Quantized embedding coords: qa[i] = floor(a[i] * 1e6 + 0.5). Used for
    * LSH sign tests and centroid sums (never for cosine — cosine quantizes
    * the raw per-term PRODUCT instead, below). */
  private val qaExpr: Column = expr(
    "transform(embedding, x -> cast(floor(cast(x as double) * 1e6 + 0.5) as bigint))")

  /** Per-term-quantized squared norm: sum_i floor(x_i^2 * 1e9 + 0.5). */
  private[graft] val normQ: Column = expr(
    "aggregate(embedding, 0L, (acc, x) -> acc +" +
      " cast(floor(cast(x as double) * cast(x as double) * 1e9 + 0.5) as bigint))")

  /** Per-term-quantized dot of two raw embedding columns (by name) —
    * backed by the codegen'd Catalyst expression
    * [[graft.expressions.QuantizedDot]] (one fused Java loop per row
    * instead of three interpreted lambdas per element). Callers must
    * invoke [[graft.expressions.QuantizedDot.register]] first. */
  private[graft] def dotQ(a: String, b: String): Column =
    expr(s"quantized_dot($a, $b)")

  /** cosine = dotq / sqrt(na * nb) — all inputs integers. The norm
    * product is computed EXACTLY on Decimal(38,0) before the single
    * cast to double: nq ≈ ||x||²·1e9, so two norm outliers (||x|| ≥
    * ~1.75) put na·nb past Long.MaxValue — a silent wrap → sqrt(neg) =
    * NaN in Spark while the HUGEINT oracle stays exact. In the
    * non-overflow range the value is bit-identical to the old long
    * product (exact integer → nearest double either way). */
  private[graft] def cosine(dq: Column, na: Column, nb: Column): Column =
    dq.cast("double") / sqrt((na.cast("decimal(38,0)") * nb).cast("double"))

  private val sqlQa =
    "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1e6 + 0.5) AS BIGINT))"
  private[graft] val sqlNormQ =
    """CAST(list_sum(list_transform(embedding, x ->
       CAST(floor(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e9 + 0.5) AS BIGINT))) AS BIGINT)"""
  /** Dot over two raw float-list columns, term-quantized. */
  private[graft] def sqlDotQ(a: String, b: String) =
    s"""CAST(list_sum(list_transform(range(1, $D + 1), i ->
        CAST(floor(CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE) * 1e9 + 0.5)
          AS BIGINT))) AS BIGINT)"""

  /** Corpus-size-derived hyperplane count: the smallest P such that
    * 2^P buckets hold the corpus at mean occupancy <= [[TargetBucketRows]],
    * clamped to [4, 24]. This is THE 100-TB knob: with a fixed P the
    * in-bucket self-join is O(n²/2^P) — quadratic in corpus size — while
    * P = ceil(log2(n/32)) keeps expected bucket size constant, so
    * candidate count grows ~linearly (c·n) with the corpus.
    *
    * Integer-exact on purpose (no float log2, whose 1-ulp wobble at exact
    * powers of two could flip a ceil between engines): the oracle twin is
    * LEAST(24, GREATEST(4, length(bin((count(*) + 31) // 32 - 1)))) —
    * bit-length of ceil(n/32) - 1, computed by [[sqlPlanes]] inside the
    * oracle query itself, so both engines derive P from the same count. */
  private[graft] val TargetBucketRows = 32L
  private[graft] def planesFor(n: Long): Int = {
    val m = (n + TargetBucketRows - 1) / TargetBucketRows // ceil(n/32)
    val p = if (m <= 1L) 0
            else 64 - java.lang.Long.numberOfLeadingZeros(m - 1)
    math.min(24, math.max(4, p))
  }
  private[graft] val sqlPlanes: String =
    s"LEAST(24, GREATEST(4, length(bin((count(*) + ${TargetBucketRows - 1})" +
      s" // $TargetBucketRows - 1))))"

  /** Corpus-size-derived IVF cell count: ceil(sqrt(n)), clamped to
    * [16, [[MaxIvfCells]]]. sqrt(n) cells balances assign cost (scan C
    * centroids per row) against search cost (expected n/C ≈ sqrt(n) rows
    * per cell). The ceiling decouples C from the corpus: the centroid
    * table is collected to the driver and broadcast into the fused
    * O(C·D) argmax, so an uncapped sqrt(1e11) ≈ 316k centroids would
    * mean a ~160 MB driver collect AND 20M multiplies per scanned row.
    * At the 2^16 cap both stay fixed (64k×64 doubles ≈ 33 MB broadcast —
    * the C every billion-scale IVF deployment actually trains), and past
    * it the design degrades the way a trained quantizer does: occupancy
    * grows as n/C, which multi-probe (q68) and PQ re-rank (q80) are the
    * documented answers to, not more cells. IEEE sqrt is correctly
    * rounded in both engines, so the clamp is bit-identical Spark↔DuckDB;
    * oracle twin: [[sqlCells]]. */
  private[graft] val MaxIvfCells = 1L << 16
  private[graft] def cellsFor(n: Long): Long =
    math.min(MaxIvfCells,
      math.max(16L, math.ceil(math.sqrt(n.toDouble)).toLong))
  private[graft] val sqlCells: String =
    s"LEAST($MaxIvfCells, GREATEST(16, CAST(ceil(sqrt(count(*))) AS BIGINT)))"

  /** Random-hyperplane LSH bucket (P planes): plane p has integer weights
    * w[p][i] = H("h:p:i") % 2001 - 1000 (H = 60-bit md5 prefix); bit p =
    * [sum_i w[p][i] * qa[i] > 0]. Sign-stable: all-integer arithmetic.
    * Weights are precomputed driver-side (DedupOps.h60 — the same md5
    * formula the SQL oracle evaluates inline) and embedded as array
    * literals: the md5 calls never reach the per-row hot path. */
  private[graft] def planeWeights(p: Int): Array[Long] =
    Array.tabulate(D)(i => DedupOps.h60(s"h:$p:$i") % 2001 - 1000)

  private[graft] def bucketExpr(planes: Int): Column =
    (0 until planes).map { p =>
      val dot = aggregate(
        zip_with(col("qa"), lit(planeWeights(p)), (x, w) => x * w),
        lit(0L), (acc, t) => acc + t)
      when(dot > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Integer dot over the common prefix of `a` and `b`, in exact long
    * arithmetic: an overflow throws, as it does under Spark's ANSI mode. */
  private[graft] def dotExact(a: Array[Long], b: Array[Long]): Long = {
    var dot = 0L
    var i = 0
    while (i < math.min(a.length, b.length)) {
      dot = Math.addExact(dot, Math.multiplyExact(a(i), b(i))); i += 1
    }
    dot
  }

  /** [[bucketExpr]] evaluated in-process for one vector, given the planes'
    * weights ([[planeWeights]] of 0 until P): the same integer math. A
    * length mismatch makes Spark's `zip_with` pad with NULL, so that
    * plane's dot is NULL and its bit is 0; the same holds here. */
  private[graft] def bucketOf(qa: Array[Long], planes: Seq[Array[Long]]): Long =
    planes.indices.foldLeft(0L) { (b, p) =>
      val dot = dotExact(qa, planes(p))
      if (qa.length == planes(p).length && dot > 0) b + (1L << p) else b
    }

  /** Oracle bucket over a dynamic plane count: `np` is a column (from the
    * `params` CTE in [[sqlEmb]]) so the oracle scales its bucket count
    * from the same corpus count the Spark side uses. */
  private val sqlBucketDyn: String =
    s"""list_reduce(list_concat([CAST(0 AS BIGINT)],
        list_transform(range(0, np), p ->
          CASE WHEN list_reduce(list_transform(range(1, $D + 1), i ->
            (CAST('0x' || substring(md5('h:' || CAST(p AS VARCHAR) || ':' ||
               CAST(i - 1 AS VARCHAR)), 1, 15) AS BIGINT) % 2001 - 1000)
            * qa[i]), (a, c) -> a + c) > 0
          THEN (CAST(1 AS BIGINT) << p) ELSE 0 END)), (a, c) -> a + c)"""

  /** Shared SQL prelude: embeddings + quantized coords, norm, LSH bucket
    * with corpus-derived plane count. */
  private val sqlEmb: String = s"""
    WITH params AS (SELECT $sqlPlanes AS np FROM embeddings),
    e0 AS (
      SELECT vec_id, label, embedding, $sqlQa AS qa, $sqlNormQ AS nq
      FROM embeddings),
    e AS (
      SELECT vec_id, label, embedding, qa, nq, $sqlBucketDyn AS bucket
      FROM e0 CROSS JOIN params)"""

  // ---- ANN index artifacts (pinned StageCache stages) ------------------
  // A production ANN deployment builds its index ONCE and serves it; the
  // per-query cost is scoring, not index construction. These stages model
  // that: each family's index artifact — the LSH bucket assignment, the
  // IVF cell assignment, the PQ / IVF-PQ code tables — is derived once
  // per (session, dataset version) and pinned, and every consumer
  // (q36/q37/q47/q68/q79/q80, the q104 recall monitor, the q130/q132 kNN
  // graph family) re-joins it to the vector payload. All four artifacts
  // are NARROW integer frames (2-4 longs per row — the StageCache
  // posture: pin compact integers, never corpus payloads); at cluster
  // scale they are the stored index tables, co-partitioned with the
  // vectors on vec_id. Oracles stay standalone (full CTE derivation), so
  // the correctness gate still verifies the whole chain per query.

  /** Pinned (vec_id, bucket): the hyperplane-LSH index artifact. */
  private[graft] def lshAssignment(s: SparkSession, d: String): DataFrame =
    StageCache.getOrCompute(s, d, "ann_lsh_assign") {
      buildLshAssignment(s, d).localCheckpoint(true)
    }

  private def buildLshAssignment(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .withColumn("qa", qaExpr)
      .withColumn("bucket",
        bucketExpr(planesFor(Tables.rowCount(s, d, "embeddings"))))
      .select(col("vec_id"), col("bucket"))

  /** The corpus with payload + pinned bucket — the shape every LSH
    * consumer starts from. */
  private def lshCorpus(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .withColumn("nq", normQ)
      .join(lshAssignment(s, d), "vec_id")

  // ---- q35: brute-force cosine top-k (exact baseline / re-ranker) ------
  // 10 query vectors broadcast against the corpus; top-3 neighbors each.
  def q35KnnBrute(s: SparkSession, d: String): DataFrame = {
    QuantizedDot.register(s)
    val emb = Tables.embeddings(s, d).withColumn("nq", normQ)
    val q = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nq").as("q_nq"))
    val c = emb.select(col("vec_id").as("c_id"),
      col("embedding").as("c_emb"), col("nq").as("c_nq"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("c_id").asc)
    c.crossJoin(broadcast(q))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("cosine",
        cosine(dotQ("q_emb", "c_emb"), col("q_nq"), col("c_nq")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("rank"), col("c_id").as("neighbor_id"),
        col("cosine"))
      .orderBy(col("q_id"), col("rank"))
  }

  val q35Sql: String = s"""
    WITH e AS (
      SELECT vec_id, embedding, $sqlNormQ AS nq FROM embeddings),
    q AS (SELECT vec_id AS q_id, embedding AS q_emb, nq AS q_nq
          FROM e WHERE vec_id < 10),
    scored AS (
      SELECT q_id, e.vec_id AS neighbor_id,
        CAST(${sqlDotQ("q_emb", "e.embedding")} AS DOUBLE)
          / sqrt(CAST(CAST(q_nq AS HUGEINT) * e.nq AS DOUBLE)) AS cosine
      FROM q JOIN e ON e.vec_id <> q_id),
    ranked AS (
      SELECT q_id, neighbor_id, cosine,
        ROW_NUMBER() OVER (PARTITION BY q_id
          ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored)
    SELECT q_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cosine
    FROM ranked WHERE rank <= 3 ORDER BY q_id, rank"""

  // ---- q187: nearest-neighbor margin audit -----------------------------
  // Per eval query, the cosine GAP between its rank-1 and rank-2
  // neighbors — the separability signal that predicts where every ANN
  // family will err: a query whose top two neighbors are nearly tied
  // flips rank under any quantization/bucketing noise (PQ distortion,
  // LSH probe miss), so a corpus whose margins concentrate near zero
  // needs more probes/finer codebooks REGARDLESS of measured recall on
  // one index build. The complement to q104 (which measures realized
  // recall per family) and q171 (hubness: how often a vector is someone
  // ELSE's neighbor): margin is the query-side difficulty distribution.
  //
  // Scale shape: the q35 eval-set discipline — a FIXED bounded query set
  // (vec_id < 100) broadcast against one corpus scan; rank via a
  // per-query top-2 window over the broadcast-joined frame. Doubles are
  // never aggregated (float-sum order nondeterminism): the output is
  // per-query rows, and every double is a fixed per-row IEEE expression
  // over exact integers, so both engines produce bit-identical values
  // (the q35 precedent the gate already proves).
  def q187MarginAudit(s: SparkSession, d: String): DataFrame = {
    QuantizedDot.register(s)
    val emb = Tables.embeddings(s, d).withColumn("nq", normQ)
    val q = emb.filter(col("vec_id") < 100)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("embedding").as("q_emb"), col("nq").as("q_nq"))
    val c = emb.select(col("vec_id").as("c_id"),
      col("embedding").as("c_emb"), col("nq").as("c_nq"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("c_id").asc)
    c.crossJoin(broadcast(q))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("cosine",
        cosine(dotQ("q_emb", "c_emb"), col("q_nq"), col("c_nq")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 2)
      .groupBy(col("q_id"), col("q_label"))
      .agg(
        max(when(col("rank") === 1, col("c_id"))).as("nn1_id"),
        max(when(col("rank") === 1, col("cosine"))).as("cos1"),
        max(when(col("rank") === 2, col("c_id"))).as("nn2_id"),
        max(when(col("rank") === 2, col("cosine"))).as("cos2"))
      .withColumn("margin", col("cos1") - col("cos2"))
      .withColumn("margin_band",
        when(col("margin") >= 0.05, "separable")
          .when(col("margin") >= 0.01, "close")
          .otherwise("ambiguous"))
      .orderBy(col("q_id"))
  }

  val q187Sql: String = s"""
    WITH e AS (
      SELECT vec_id, label, embedding, $sqlNormQ AS nq FROM embeddings),
    q AS (SELECT vec_id AS q_id, label AS q_label,
            embedding AS q_emb, nq AS q_nq
          FROM e WHERE vec_id < 100),
    scored AS (
      SELECT q_id, q_label, e.vec_id AS c_id,
        CAST(${sqlDotQ("q_emb", "e.embedding")} AS DOUBLE)
          / sqrt(CAST(CAST(q_nq AS HUGEINT) * e.nq AS DOUBLE)) AS cosine
      FROM q JOIN e ON e.vec_id <> q_id),
    ranked AS (
      SELECT q_id, q_label, c_id, cosine,
        ROW_NUMBER() OVER (PARTITION BY q_id
          ORDER BY cosine DESC, c_id) AS rank
      FROM scored),
    piv AS (
      SELECT q_id, q_label,
        MAX(CASE WHEN rank = 1 THEN c_id END) AS nn1_id,
        MAX(CASE WHEN rank = 1 THEN cosine END) AS cos1,
        MAX(CASE WHEN rank = 2 THEN c_id END) AS nn2_id,
        MAX(CASE WHEN rank = 2 THEN cosine END) AS cos2
      FROM ranked WHERE rank <= 2 GROUP BY 1, 2)
    SELECT q_id, q_label, nn1_id, cos1, nn2_id, cos2,
      cos1 - cos2 AS margin,
      CASE WHEN cos1 - cos2 >= 0.05 THEN 'separable'
           WHEN cos1 - cos2 >= 0.01 THEN 'close'
           ELSE 'ambiguous' END AS margin_band
    FROM piv ORDER BY q_id"""

  // ---- q36: ANN top-1 via random-hyperplane LSH ------------------------
  // The scale path: candidates come from a bucket equi-join, never a cross
  // join, and the plane count grows with the corpus (planesFor) so bucket
  // occupancy — and with it candidate count per row — stays bounded as n
  // grows. Vectors alone in their bucket have no neighbor and drop out.
  def q36AnnLsh(s: SparkSession, d: String): DataFrame = {
    QuantizedDot.register(s)
    // bucket comes from the pinned index artifact (lshAssignment) — the
    // P×64-weight plane dots run once per dataset version, not per query
    val emb = lshCorpus(s, d)
    val a = emb.select(col("vec_id").as("a_id"), col("embedding").as("a_emb"),
      col("nq").as("a_nq"), col("bucket"))
    val b = emb.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"),
      col("nq").as("b_nq"), col("bucket"))
    val w = Window.partitionBy(col("a_id"))
      .orderBy(col("cosine").desc, col("b_id").asc)
    a.join(b, Seq("bucket"))
      .filter(col("a_id") =!= col("b_id"))
      .withColumn("cosine",
        cosine(dotQ("a_emb", "b_emb"), col("a_nq"), col("b_nq")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") === 1)
      .select(col("a_id").as("vec_id"), col("bucket"),
        col("b_id").as("neighbor_id"), col("cosine"))
      .orderBy(col("vec_id"))
  }

  val q36Sql: String = sqlEmb + s""",
    scored AS (
      SELECT a.vec_id AS vec_id, a.bucket AS bucket, b.vec_id AS neighbor_id,
        CAST(${sqlDotQ("a.embedding", "b.embedding")} AS DOUBLE)
          / sqrt(CAST(CAST(a.nq AS HUGEINT) * b.nq AS DOUBLE)) AS cosine
      FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
    ranked AS (
      SELECT vec_id, bucket, neighbor_id, cosine,
        ROW_NUMBER() OVER (PARTITION BY vec_id
          ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored)
    SELECT vec_id, bucket, neighbor_id, cosine
    FROM ranked WHERE rank = 1 ORDER BY vec_id"""

  // ---- q68: multi-probe LSH ANN --------------------------------------
  // q36's recall upgrade: each vector probes its OWN bucket plus the P
  // buckets at hamming distance 1 (one plane bit flipped) — the standard
  // multi-probe trick: neighbors split by a single near-zero hyperplane
  // margin land one bit away, so probing those buckets recovers most of
  // the recall a single probe loses, for (P+1)× candidate volume instead
  // of 2^P more buckets. Vectors isolated in their own bucket (no
  // neighbor under q36) can now find one. Probe expansion is an
  // explode_OUTER (the probe list is a never-empty literal-sized array —
  // plain explode would re-inline the P×64-weight bucket tree into an
  // inferred filter, the q30 lesson); candidates still come from an
  // equi-join on (probe = bucket), never a cross join.
  def q68MultiprobeAnn(s: SparkSession, d: String): DataFrame = {
    QuantizedDot.register(s)
    val p = planesFor(Tables.rowCount(s, d, "embeddings"))
    val emb = lshCorpus(s, d)
    val probeList = array(col("bucket") +:
      (0 until p).map(i => col("bucket").bitwiseXOR(lit(1L << i))): _*)
    val a = emb.select(col("vec_id").as("a_id"), col("embedding").as("a_emb"),
        col("nq").as("a_nq"), explode_outer(probeList).as("probe"))
    val b = emb.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"),
      col("nq").as("b_nq"), col("bucket"))
    val w = Window.partitionBy(col("a_id"))
      .orderBy(col("cosine").desc, col("b_id").asc)
    a.join(b, col("probe") === col("bucket") && col("a_id") =!= col("b_id"))
      .withColumn("cosine",
        cosine(dotQ("a_emb", "b_emb"), col("a_nq"), col("b_nq")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") === 1)
      .select(col("a_id").as("vec_id"), col("b_id").as("neighbor_id"),
        col("cosine"))
      .orderBy(col("vec_id"))
  }

  val q68Sql: String = sqlEmb + s""",
    probes AS (
      SELECT vec_id AS a_id, embedding AS a_emb, nq AS a_nq,
        unnest(list_concat([bucket],
          list_transform(range(0, np), p ->
            xor(bucket, CAST(1 AS BIGINT) << p)))) AS probe
      FROM e CROSS JOIN params),
    scored AS (
      SELECT a.a_id AS vec_id, b.vec_id AS neighbor_id,
        CAST(${sqlDotQ("a.a_emb", "b.embedding")} AS DOUBLE)
          / sqrt(CAST(CAST(a.a_nq AS HUGEINT) * b.nq AS DOUBLE)) AS cosine
      FROM probes a JOIN e b ON a.probe = b.bucket AND a.a_id <> b.vec_id),
    ranked AS (
      SELECT vec_id, neighbor_id, cosine,
        ROW_NUMBER() OVER (PARTITION BY vec_id
          ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored)
    SELECT vec_id, neighbor_id, cosine
    FROM ranked WHERE rank = 1 ORDER BY vec_id"""

  // ---- q37: cosine near-dup pairs (bucket-blocked, cos >= 0.3) ---------
  // Threshold chosen against the corpus: background pairwise cosine tops
  // out near 0.51 with p99 at 0.29, so 0.3 keeps the output small without
  // being boundary-sensitive (no pair sits AT the threshold).
  def q37CosineNeardup(s: SparkSession, d: String): DataFrame = {
    QuantizedDot.register(s)
    val emb = lshCorpus(s, d)
    val a = emb.select(col("vec_id").as("id1"), col("embedding").as("a_emb"),
      col("nq").as("a_nq"), col("bucket"))
    val b = emb.select(col("vec_id").as("id2"), col("embedding").as("b_emb"),
      col("nq").as("b_nq"), col("bucket"))
    a.join(b, Seq("bucket"))
      .filter(col("id1") < col("id2"))
      .withColumn("cosine",
        cosine(dotQ("a_emb", "b_emb"), col("a_nq"), col("b_nq")))
      .filter(col("cosine") >= 0.3)
      .select(col("id1"), col("id2"), col("bucket"), col("cosine"))
      .orderBy(col("id1"), col("id2"))
  }

  val q37Sql: String = sqlEmb + s""",
    scored AS (
      SELECT a.vec_id AS id1, b.vec_id AS id2, a.bucket AS bucket,
        CAST(${sqlDotQ("a.embedding", "b.embedding")} AS DOUBLE)
          / sqrt(CAST(CAST(a.nq AS HUGEINT) * b.nq AS DOUBLE)) AS cosine
      FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
    SELECT id1, id2, bucket, cosine
    FROM scored WHERE cosine >= 0.3
    ORDER BY id1, id2"""

  // ---- q47: IVF-bucketed ANN (coarse quantizer + in-cell search) -------
  // The inverted-file-index alternative to q36's hyperplane LSH: a coarse
  // quantizer of cellsFor(n) ≈ sqrt(n) seed vectors (the first C by
  // vec_id — a deterministic seeding in place of k-means, which would
  // need iterative training) maps each vector to its nearest centroid by
  // cosine; search then only probes the vector's own cell. The sqrt(n)
  // cell count is the classic IVF balance point: ~sqrt(n) centroids to
  // scan per row at assign time, ~sqrt(n) expected cell occupancy at
  // search time — both stay sublinear as the corpus grows (a FIXED cell
  // count degenerates to O(n²/C)). At scale: the centroid table
  // broadcasts (sqrt(n) rows), cell assignment is a per-row argmax (no
  // shuffle), and the in-cell search is a bucket equi-join exactly like
  // LSH — candidates bounded by cell size, never n².
  /** Pinned (vec_id, cell): the IVF coarse-quantizer index artifact —
    * the NearestCellCos argmax over the seeded centroid table, run once
    * per dataset version. Consumed by q47, the q104 monitor, and the
    * q130/q132 kNN-graph family (identical assignment contract). */
  private[graft] def ivfAssignment(s: SparkSession, d: String): DataFrame =
    StageCache.getOrCompute(s, d, "ann_ivf_assign") {
      buildIvfAssignment(s, d).localCheckpoint(true)
    }

  private def buildIvfAssignment(s: SparkSession, d: String): DataFrame = {
    // cell = argmax centroid cosine (ties → lowest centroid id), as the
    // NearestCellCos codegen expression over the collected seed table:
    // no candidate expansion, no shuffle — the scan emits each vector's
    // winner directly (float seeds widen to double losslessly, so the
    // quantized products match the oracle's cross join bit-for-bit)
    val emb = Tables.embeddings(s, d).withColumn("nq", normQ)
    val cents = emb.filter(col("vec_id") <
        cellsFor(Tables.rowCount(s, d, "embeddings")))
      .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
        col("nq").as("c_nq"))
    val seedRows = cents.collect()
    emb
      .withColumn("m", graft.expressions.NearestCellCos.column(
        col("embedding"), col("nq"),
        seedRows.map(_.getLong(0)),
        seedRows.map(_.getSeq[Float](1).toArray.map(_.toDouble)),
        seedRows.map(_.getLong(2))))
      .select(col("vec_id"), col("m.cell").as("cell"))
  }

  /** Un-pinned twin for plan guards (the bandCandidatesPlan pattern). */
  private[graft] def ivfAssignmentPlan(s: SparkSession, d: String): DataFrame =
    buildIvfAssignment(s, d)

  def q47IvfAnn(s: SparkSession, d: String): DataFrame = {
    QuantizedDot.register(s)
    val assigned = Tables.embeddings(s, d).withColumn("nq", normQ)
      .join(ivfAssignment(s, d), "vec_id")
    val a = assigned.select(col("vec_id").as("a_id"),
      col("embedding").as("a_emb"), col("nq").as("a_nq"), col("cell"))
    val b = assigned.select(col("vec_id").as("b_id"),
      col("embedding").as("b_emb"), col("nq").as("b_nq"), col("cell"))
    val wTop = Window.partitionBy(col("a_id"))
      .orderBy(col("cosine").desc, col("b_id").asc)
    a.join(b, Seq("cell"))
      .filter(col("a_id") =!= col("b_id"))
      .withColumn("cosine",
        cosine(dotQ("a_emb", "b_emb"), col("a_nq"), col("b_nq")))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") === 1)
      .select(col("a_id").as("vec_id"), col("cell"),
        col("b_id").as("neighbor_id"), col("cosine"))
      .orderBy(col("vec_id"))
  }

  val q47Sql: String = s"""
    WITH e AS (
      SELECT vec_id, embedding, $sqlNormQ AS nq FROM embeddings),
    cents AS (
      SELECT vec_id AS c_id, embedding AS c_emb, nq AS c_nq
      FROM e WHERE vec_id < (SELECT $sqlCells FROM embeddings)),
    scored AS (
      SELECT e.vec_id, e.embedding, e.nq, c_id,
        ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
          CAST(${sqlDotQ("e.embedding", "c_emb")} AS DOUBLE)
            / sqrt(CAST(CAST(e.nq AS HUGEINT) * c_nq AS DOUBLE)) DESC, c_id) AS rn
      FROM e CROSS JOIN cents),
    assigned AS (
      SELECT vec_id, embedding, nq, c_id AS cell
      FROM scored WHERE rn = 1),
    pairs AS (
      SELECT a.vec_id AS vec_id, a.cell AS cell, b.vec_id AS neighbor_id,
        CAST(${sqlDotQ("a.embedding", "b.embedding")} AS DOUBLE)
          / sqrt(CAST(CAST(a.nq AS HUGEINT) * b.nq AS DOUBLE)) AS cosine,
        ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
          CAST(${sqlDotQ("a.embedding", "b.embedding")} AS DOUBLE)
            / sqrt(CAST(CAST(a.nq AS HUGEINT) * b.nq AS DOUBLE)) DESC, b.vec_id) AS rank
      FROM assigned a JOIN assigned b
        ON a.cell = b.cell AND a.vec_id <> b.vec_id)
    SELECT vec_id, cell, neighbor_id, cosine
    FROM pairs WHERE rank = 1 ORDER BY vec_id"""

  // ---- q61: trained IVF — deterministic Lloyd k-means refinement -------
  // Closes q47's honest caveat ("centroids are the first sqrt(n) vectors,
  // not trained"): the same deterministic seed, then KmeansIters Lloyd
  // rounds of assign(argmax cosine) → recompute(per-dim mean), then the
  // final cell assignment. Everything stays oracle-exact because every
  // round's arithmetic flows from the SAME integers on both engines:
  // centroids are rebuilt as CAST(sum(qa_i) AS DOUBLE)/1e6/count (exact
  // BIGINT sums, two IEEE divisions), dots re-quantize per term, and ties
  // break on cell id — so Spark and DuckDB walk identical trajectories,
  // iteration by iteration.
  //
  // Scale: per round, one broadcast of k = cellsFor(n) ≈ sqrt(n) centroid
  // rows (3e4 × 64 doubles at n = 1e9 — tiny), one n×k scored cross join
  // (the IVF assign cost), one groupBy(cell) with 64 codegen'd SUMs. The
  // round count is FIXED (not until-convergence), so the plan is static
  // and the cost is KmeansIters × assign — the standard coarse-quantizer
  // training budget. Empty cells drop out (standard Lloyd).
  private[graft] val KmeansIters = 2

  /** Argmax-cosine cell assignment against a (cell, centroid[], cnq)
    * table — as ONE codegen'd expression over the driver-collected
    * centroid matrix ([[graft.expressions.NearestCellCos]]): no join, no
    * aggregate, no shuffle; each scan row runs the fused C×D loop and
    * emits its (cell, ccos) winner directly. Collecting the centroids is
    * O(C) = O(√n) driver memory — the same footprint the broadcast join
    * shipped — and the standard k-means posture (each Lloyd round
    * materializes the C means anyway). Float centroids (q47's seeds)
    * widen to double losslessly, so the quantized per-term products are
    * bit-identical to QuantizedDot's float path and the oracle's cross
    * join. */
  private def assignCells(emb: DataFrame, cents: DataFrame): DataFrame = {
    val rows = cents.select(col("cell"), col("centroid"), col("cnq"))
      .collect()
    val m = graft.expressions.NearestCellCos.column(
      col("embedding"), col("nq"),
      rows.map(_.getLong(0)),
      rows.map(_.getSeq[Double](1).toArray),
      rows.map(_.getLong(2)))
    emb.withColumn("m", m)
      .withColumn("cell", col("m.cell"))
      .withColumn("ccos", col("m.ccos"))
      .drop("m")
  }

  /** Quantized squared norm of a double-array centroid column. */
  private val centNorm: Column = expr(
    "aggregate(centroid, 0L, (acc, c) ->" +
      " acc + cast(floor(c * c * 1e9 + 0.5) as long))")

  private[graft] def kmeansCells(s: SparkSession, d: String, iters: Int)
      : DataFrame = {
    QuantizedDot.register(s)
    val k = cellsFor(Tables.rowCount(s, d, "embeddings"))
    val emb = Tables.embeddings(s, d)
      .withColumn("qa", qaExpr)
      .withColumn("nq", normQ)
      .select(col("vec_id"), col("embedding"), col("qa"), col("nq"))
      .persist() // re-read every round; caller clearCache contract applies
    // seed centroids from the quantized coords (q/1e6 as double), so
    // round 0 flows from the same integers as every later round
    var cents = emb.filter(col("vec_id") < k)
      .select(col("vec_id").as("cell"),
        expr("transform(qa, q -> cast(q as double) / 1e6)").as("centroid"))
      .withColumn("cnq", centNorm)
    for (_ <- 1 to iters) {
      val sums = (0 until D).map(i =>
        sum(element_at(col("qa"), i + 1)).as(s"s$i"))
      cents = assignCells(emb, cents)
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("cnt"), sums: _*)
        .select(col("cell"), array((0 until D).map(i =>
          col(s"s$i").cast("double") / 1e6 / col("cnt")): _*).as("centroid"))
        .withColumn("cnq", centNorm)
    }
    assignCells(emb, cents)
      .select(col("vec_id"), col("cell"), col("ccos").as("cosine"))
      .orderBy(col("vec_id"))
  }

  def q61KmeansCells(s: SparkSession, d: String): DataFrame =
    kmeansCells(s, d, KmeansIters)

  // Oracle: the identical trajectory unrolled as CTEs (assign/means ×
  // KmeansIters, then the final assign) from the same params CTE.
  private def sqlKmAssign(out: String, cents: String): String = s"""
    $out AS (
      SELECT vec_id, embedding, qa, nq, cell, ccos FROM (
        SELECT sc.*, ROW_NUMBER() OVER (PARTITION BY vec_id
          ORDER BY ccos DESC, cell) AS rn
        FROM (
          SELECT e.vec_id, e.embedding, e.qa, e.nq, c.cell,
            CAST(CAST(list_sum(list_transform(range(1, $D + 1), i ->
              CAST(floor(CAST(e.embedding[i] AS DOUBLE) * c.centroid[i]
                * 1e9 + 0.5) AS BIGINT))) AS BIGINT) AS DOUBLE)
              / sqrt(CAST(CAST(e.nq AS HUGEINT) * c.cnq AS DOUBLE)) AS ccos
          FROM e CROSS JOIN $cents c) sc) WHERE rn = 1)"""

  private def sqlKmMeans(out: String, assigned: String): String = s"""
    ${out}_sums AS (
      SELECT cell, i, CAST(SUM(qa[i]) AS BIGINT) AS s, COUNT(*) AS c
      FROM $assigned CROSS JOIN (SELECT unnest(range(1, $D + 1)) AS i) dims
      GROUP BY cell, i),
    $out AS (
      SELECT cell, centroid,
        CAST(list_sum(list_transform(centroid, x ->
          CAST(floor(x * x * 1e9 + 0.5) AS BIGINT))) AS BIGINT) AS cnq
      FROM (SELECT cell, list(CAST(s AS DOUBLE) / 1e6 / c ORDER BY i)
              AS centroid
            FROM ${out}_sums GROUP BY cell))"""

  val q61Sql: String = {
    val rounds = (1 to KmeansIters).map(r =>
      sqlKmAssign(s"a$r", s"c${r - 1}") + "," +
        sqlKmMeans(s"c$r", s"a$r")).mkString(",")
    s"""
    WITH e AS (
      SELECT vec_id, embedding, $sqlQa AS qa, $sqlNormQ AS nq
      FROM embeddings),
    c0 AS (
      SELECT vec_id AS cell,
        list_transform(qa, q -> CAST(q AS DOUBLE) / 1e6) AS centroid,
        CAST(list_sum(list_transform(qa, q ->
          CAST(floor((CAST(q AS DOUBLE) / 1e6) * (CAST(q AS DOUBLE) / 1e6)
            * 1e9 + 0.5) AS BIGINT))) AS BIGINT) AS cnq
      FROM e WHERE vec_id < (SELECT $sqlCells FROM embeddings)),
    $rounds,
    ${sqlKmAssign("afinal", s"c$KmeansIters").trim}
    SELECT vec_id, cell, ccos AS cosine FROM afinal ORDER BY vec_id"""
  }

  // ---- q38: per-label centroids (vector-column aggregate) --------------
  // ---- q179: nearest-centroid confusion matrix --------------------------
  // The classifier-eval view of the embedding space q165's Fisher ratio
  // summarizes: assign every vector to its nearest LABEL-MEAN centroid
  // by cosine and cross-tabulate (true label × predicted label). The
  // off-diagonal cells name WHICH classes collide (q165 only says how
  // much) — the audit run before trusting labels for hard-negative
  // mining (q105) or semantic decontamination (q134).
  //
  // Parity: label means are rebuilt from exact integer sums (the q61
  // Lloyd discipline — sum_q::double / 1e6 / n), the argmax runs as the
  // codegen NearestCellCos expression (quantized per-term products →
  // one IEEE divide/sqrt), ties to the lowest label; the oracle scores
  // the cross join with ROW_NUMBER over the identical doubles. Shares
  // are exact ppm of the true-label row.
  //
  // Scale shape: one 64-sum aggregate onto the |labels|-row centroid
  // frame (driver-collected — labels are a bounded class set), then the
  // assignment runs INSIDE the scan's codegen (no join, no n×L
  // expansion), one aggregate onto the ≤|labels|² confusion frame, and
  // the row-share window partitions that frame by true label.
  def q179CentroidConfusion(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
      .withColumn("qa", qaExpr)
      .withColumn("nq", normQ)
      .select(col("vec_id"), col("label"), col("embedding"), col("qa"),
        col("nq"))
    val sums = (0 until D).map(i =>
      sum(element_at(col("qa"), i + 1)).as(s"s$i"))
    val cents = emb.groupBy(col("label").cast("long").as("cell"))
      .agg(count(lit(1)).as("cnt"), sums: _*)
      .select(col("cell"), array((0 until D).map(i =>
        col(s"s$i").cast("double") / 1e6 / col("cnt")): _*).as("centroid"))
      .withColumn("cnq", centNorm)
    val conf = assignCells(emb, cents)
      .groupBy(col("label").cast("long").as("label_true"),
        col("cell").as("label_pred"))
      .agg(count(lit(1)).as("n_vecs"))
    val w = Window.partitionBy(col("label_true"))
    conf
      .withColumn("true_total", sum(col("n_vecs")).over(w))
      .withColumn("share_ppm",
        expr("cast(n_vecs as decimal(38,0)) * 1000000 div true_total"))
      .withColumn("is_diag", col("label_true") === col("label_pred"))
      .select(col("label_true"), col("label_pred"), col("n_vecs"),
        col("share_ppm"), col("is_diag"))
      .orderBy(col("label_true"), col("label_pred"))
  }

  val q179Sql: String = s"""
    WITH e AS (
      SELECT vec_id, CAST(label AS BIGINT) AS label, embedding,
        $sqlQa AS qa, $sqlNormQ AS nq
      FROM embeddings),
    sums AS (
      SELECT label AS cell, i, CAST(SUM(qa[i]) AS BIGINT) AS s,
        COUNT(*) AS c
      FROM e CROSS JOIN (SELECT unnest(range(1, $D + 1)) AS i) dims
      GROUP BY 1, 2),
    cents AS (
      SELECT cell, centroid,
        CAST(list_sum(list_transform(centroid, x ->
          CAST(floor(x * x * 1e9 + 0.5) AS BIGINT))) AS BIGINT) AS cnq
      FROM (SELECT cell, list(CAST(s AS DOUBLE) / 1e6 / c ORDER BY i)
              AS centroid
            FROM sums GROUP BY cell)),
    assigned AS (
      SELECT label, cell FROM (
        SELECT sc.*, ROW_NUMBER() OVER (PARTITION BY vec_id
          ORDER BY ccos DESC, cell) AS rn
        FROM (
          SELECT e.vec_id, e.label, c.cell,
            CAST(CAST(list_sum(list_transform(range(1, $D + 1), i ->
              CAST(floor(CAST(e.embedding[i] AS DOUBLE) * c.centroid[i]
                * 1e9 + 0.5) AS BIGINT))) AS BIGINT) AS DOUBLE)
              / sqrt(CAST(CAST(e.nq AS HUGEINT) * c.cnq AS DOUBLE)) AS ccos
          FROM e CROSS JOIN cents c) sc) WHERE rn = 1),
    conf AS (
      SELECT label AS label_true, cell AS label_pred,
        CAST(COUNT(*) AS BIGINT) AS n_vecs
      FROM assigned GROUP BY 1, 2)
    SELECT label_true, label_pred, n_vecs,
      CAST(CAST(n_vecs AS HUGEINT) * 1000000
        // SUM(n_vecs) OVER (PARTITION BY label_true) AS BIGINT)
        AS share_ppm,
      label_true = label_pred AS is_diag
    FROM conf ORDER BY label_true, label_pred"""

  // ---- q182: IVF cell-occupancy balance audit ----------------------------
  // The index-health twin of q171's graph-side hubness: the coarse
  // quantizer's probe cost is bounded by cell OCCUPANCY, so a skewed
  // assignment (a few mega-cells absorbing most vectors) silently turns
  // O(√n) searches into near-scans. Reports the occupancy-decade
  // histogram (cells and vector mass per decade, exact ppm) plus the
  // max-over-mean skew ×100 — the one number an index operator alerts
  // on before q47/q68/q80 latencies degrade.
  //
  // Exactness: occupancies are exact counts off the pinned assignment;
  // skew×100 = max_occ·100·n_cells div n_vecs — all integer.
  //
  // Scale shape: rides the pinned ann_ivf_assign artifact (one count
  // aggregate keyed by cell — ≤ 2^16 groups by the cellsFor cap), then
  // a second aggregate onto ≤ ~6 decade rows; 1-row totals attach
  // there.
  def q182CellBalance(s: SparkSession, d: String): DataFrame = {
    val occ = ivfAssignment(s, d).groupBy(col("cell"))
      .agg(count(lit(1)).as("occ"))
    val bands = occ
      .withColumn("band", (length(col("occ").cast("string")) - 1).cast("int"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_cells"), sum(col("occ")).as("vec_mass"),
        min(col("occ")).as("min_occ"), max(col("occ")).as("max_occ"))
    val tot = bands.agg(sum(col("n_cells")).as("cells_total"),
      sum(col("vec_mass")).as("n_vecs"), max(col("max_occ")).as("occ_max"))
    bands.crossJoin(broadcast(tot))
      .withColumn("cell_ppm",
        expr("cast(n_cells as decimal(38,0)) * 1000000 div cells_total"))
      .withColumn("vec_ppm",
        expr("cast(vec_mass as decimal(38,0)) * 1000000 div n_vecs"))
      .withColumn("skew_x100",
        expr("cast(occ_max as decimal(38,0)) * 100 * cells_total div n_vecs"))
      .withColumn("band_lo",
        expr("cast(concat('1', repeat('0', band)) as bigint)"))
      .select(col("band"), col("band_lo"), col("n_cells"), col("vec_mass"),
        col("cell_ppm"), col("vec_ppm"), col("min_occ"), col("max_occ"),
        col("skew_x100"))
      .orderBy(col("band"))
  }

  // lazy: sqlKnnCtes is declared later in the file — a strict val here
  // would interpolate null at object init
  lazy val q182Sql: String = s"""$sqlKnnCtes,
    occ AS (
      SELECT cell, CAST(COUNT(*) AS BIGINT) AS occ
      FROM assigned GROUP BY 1),
    bands AS (
      SELECT CAST(length(CAST(occ AS VARCHAR)) - 1 AS INTEGER) AS band,
        CAST(COUNT(*) AS BIGINT) AS n_cells,
        CAST(SUM(occ) AS BIGINT) AS vec_mass,
        MIN(occ) AS min_occ, MAX(occ) AS max_occ
      FROM occ GROUP BY 1),
    tot AS (
      SELECT CAST(SUM(n_cells) AS BIGINT) AS cells_total,
        CAST(SUM(vec_mass) AS BIGINT) AS n_vecs,
        MAX(max_occ) AS occ_max
      FROM bands)
    SELECT band, CAST('1' || repeat('0', band) AS BIGINT) AS band_lo,
      n_cells, vec_mass,
      CAST(CAST(n_cells AS HUGEINT) * 1000000 // cells_total AS BIGINT)
        AS cell_ppm,
      CAST(CAST(vec_mass AS HUGEINT) * 1000000 // n_vecs AS BIGINT)
        AS vec_ppm,
      min_occ, max_occ,
      CAST(CAST(occ_max AS HUGEINT) * 100 * cells_total // n_vecs
        AS BIGINT) AS skew_x100
    FROM bands CROSS JOIN tot ORDER BY band"""

  def q38LabelCentroids(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .withColumn("qa", qaExpr)
      .select(col("label"), posexplode(col("qa")).as(Seq("dim", "qv")))
      .groupBy(col("label"), col("dim").cast("long").as("dim"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("qv")).as("sum_q"))
      .withColumn("mean_val",
        col("sum_q").cast("double") / 1e6 / col("n_vecs"))
      .select(col("label"), col("dim"), col("n_vecs"), col("sum_q"),
        col("mean_val"))
      .orderBy(col("label"), col("dim"))

  val q38Sql: String = s"""
    SELECT label, CAST(i - 1 AS BIGINT) AS dim, COUNT(*) AS n_vecs,
      CAST(SUM(qa[i]) AS BIGINT) AS sum_q,
      CAST(SUM(qa[i]) AS DOUBLE) / 1e6 / COUNT(*) AS mean_val
    FROM (SELECT label, $sqlQa AS qa FROM embeddings)
    CROSS JOIN (SELECT unnest(range(1, $D + 1)) AS i) dims
    GROUP BY 1, 2 ORDER BY 1, 2"""

  // ---- q79: product quantization (PQ codes + ADC top-k) ----------------
  // The memory side of billion-scale ANN (IVF-PQ): each vector is
  // compressed to M=4 sub-space codes (K=16 sub-centroids per sub-space
  // of 16 dims — 4 nibbles ≈ 2 bytes/vector instead of 256 bytes), and a
  // query scans CODES, not vectors: its M×K distance table is broadcast,
  // each candidate's approximate distance is Σ_m table[m][code_m]
  // (asymmetric distance computation), and only the ADC top-k would ever
  // touch raw vectors for re-rank. Sub-centroids are seeded from the
  // first K vectors (the q47 posture; q61 is the trained upgrade path).
  //
  // Parity: everything runs in quantized integer space end to end —
  // sub-vectors and sub-centroids are 1e6-unit BIGINTs, so squared-L2
  // distances and ADC sums are EXACT integer arithmetic in both engines;
  // ties break on (distance, cell|vec_id) total orders.
  private[graft] val PqM = 4        // sub-spaces
  private[graft] val PqDs = D / PqM // dims per sub-space
  private[graft] val PqK = 16       // sub-centroids per sub-space
  private[graft] val PqNq = 8       // query vectors (vec_id < PqNq)
  private val PqTopK = 5

  /** Quantized sub-vectors (vec_id, m, sq) for `df`'s rows. */
  private def pqSubs(df: DataFrame): DataFrame = df
    .withColumn("qa", qaExpr)
    .select(col("vec_id"), explode(expr(
      s"transform(sequence(0, ${PqM - 1}), m ->" +
        s" struct(m AS m, slice(qa, m * $PqDs + 1, $PqDs) AS sq))"))
      .as("sub"))
    .select(col("vec_id"), col("sub.m").as("m"), col("sub.sq").as("sq"))

  /** The K×M sub-centroid codebook (seeded from the first PqK vectors —
    * a tiny pushed-down scan). */
  private def pqCents(s: SparkSession, d: String): DataFrame =
    pqSubs(Tables.embeddings(s, d).filter(col("vec_id") < PqK))
      .select(col("vec_id").as("cell"), col("m"), col("sq").as("cq"))

  private val pqSqL2 =
    expr("aggregate(zip_with(sq, cq, (a, b) -> (a - b) * (a - b))," +
      " 0L, (acc, x) -> acc + x)")

  /** Pinned (vec_id, m, cell): the PQ code table — 2 bytes of index per
    * vector in production, the artifact ADC scans instead of vectors. */
  private[graft] def pqCodes(s: SparkSession, d: String): DataFrame =
    StageCache.getOrCompute(s, d, "ann_pq_codes") {
      buildPqCodes(s, d).localCheckpoint(true)
    }

  private def buildPqCodes(s: SparkSession, d: String): DataFrame =
    // codes: nearest sub-centroid per (vector, sub-space) — K×M is tiny,
    // AQE broadcasts it; min_by collapses the K candidates map-side
    // ((d2, cell) is a total order — cell unique — so deterministic),
    // shuffling n×M rows instead of windowing n×M×K
    pqSubs(Tables.embeddings(s, d)).join(pqCents(s, d), "m")
      .select(col("vec_id"), col("m"), col("cell"), pqSqL2.as("d2"))
      .groupBy(col("vec_id"), col("m"))
      .agg(min_by(col("cell"), struct(col("d2"), col("cell"))).as("cell"))
      .select(col("vec_id"), col("m"), col("cell"))

  /** Un-pinned twin for plan guards (the bandCandidatesPlan pattern). */
  private[graft] def pqCodesPlan(s: SparkSession, d: String): DataFrame =
    buildPqCodes(s, d)

  def q79ProductQuantization(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // per-query distance tables over the same sub-centroids (8 query
    // rows, pushed-down scan); the corpus-sized code table is the
    // pinned index artifact
    val dt = pqSubs(Tables.embeddings(s, d).filter(col("vec_id") < PqNq))
      .select(col("vec_id").as("query_id"), col("m"), col("sq"))
      .join(pqCents(s, d), "m")
      .select(col("query_id"), col("m"), col("cell"), pqSqL2.as("qd2"))
    // ADC: codes ⋈ tables on (m, cell) — an equi-join on the code key,
    // never a query × vector distance pass
    pqCodes(s, d).join(dt, Seq("m", "cell"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("qd2")).as("adc_d2"))
      .withColumn("rk", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("adc_d2"), col("vec_id"))).cast("long"))
      .filter(col("rk") <= PqTopK)
      .select(col("query_id"), col("rk"), col("vec_id"), col("adc_d2"))
      .orderBy(col("query_id"), col("rk"))
  }

  val q79Sql: String = s"""
    WITH e AS (
      SELECT vec_id, $sqlQa AS qa FROM embeddings),
    subs AS (
      SELECT vec_id, m, qa[m * $PqDs + 1 : m * $PqDs + $PqDs] AS sq
      FROM e CROSS JOIN (SELECT unnest(range($PqM)) AS m) ms),
    cents AS (
      SELECT vec_id AS cell, m, sq AS cq FROM subs WHERE vec_id < $PqK),
    codes AS (
      SELECT vec_id, m, cell FROM (
        SELECT s.vec_id, s.m, c.cell,
          ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m ORDER BY
            list_sum(list_transform(range(1, $PqDs + 1), i ->
              (s.sq[i] - c.cq[i]) * (s.sq[i] - c.cq[i]))), c.cell) AS rk
        FROM subs s JOIN cents c ON s.m = c.m) WHERE rk = 1),
    dt AS (
      SELECT s.vec_id AS query_id, s.m, c.cell,
        CAST(list_sum(list_transform(range(1, $PqDs + 1), i ->
          (s.sq[i] - c.cq[i]) * (s.sq[i] - c.cq[i]))) AS BIGINT) AS qd2
      FROM subs s JOIN cents c ON s.m = c.m WHERE s.vec_id < $PqNq),
    adc AS (
      SELECT dt.query_id, codes.vec_id,
        CAST(SUM(dt.qd2) AS BIGINT) AS adc_d2
      FROM codes JOIN dt ON codes.m = dt.m AND codes.cell = dt.cell
      GROUP BY 1, 2)
    SELECT query_id, rk, vec_id, adc_d2 FROM (
      SELECT query_id, vec_id, adc_d2,
        CAST(ROW_NUMBER() OVER (PARTITION BY query_id
          ORDER BY adc_d2, vec_id) AS BIGINT) AS rk
      FROM adc) WHERE rk <= $PqTopK
    ORDER BY query_id, rk"""

  // ---- q80: IVF-PQ (coarse cells + residual PQ codes + probed ADC) -----
  // The full billion-scale ANN index shape, composed from q47's coarse
  // quantizer posture and q79's PQ machinery — on RESIDUALS, as real
  // IVF-PQ encodes them (residuals are smaller than raw vectors, so the
  // same code budget quantizes finer): every vector is assigned to its
  // nearest of C=ceil(sqrt(n)) seeded coarse cells (exact integer
  // squared-L2 on 1e6-unit coords), its residual (qa - cell qa — exact
  // integer subtraction) is PQ-coded against 16 sub-centroids per
  // sub-space seeded from the residuals of vectors [C, C+16) (disjoint
  // from the coarse seeds — a coarse seed's own residual is the zero
  // vector and would degenerate the codebook), and a query probes its 2
  // nearest cells, computing one per-cell residual distance table and
  // summing code lookups (ADC). Everything is integer arithmetic; the
  // probed-cell candidate set keeps the scan at n·(2/C) of the corpus.
  private val PqProbes = 2

  /** Residual sub-vectors of a (vec_id, cell, res) frame. */
  private def subRes(df: DataFrame): DataFrame = df
    .select(col("vec_id"), col("cell"), explode(expr(
      s"transform(sequence(0, ${PqM - 1}), m ->" +
        s" struct(m AS m, slice(res, m * $PqDs + 1, $PqDs) AS sq))"))
      .as("sub"))
    .select(col("vec_id"), col("cell"), col("sub.m").as("m"),
      col("sub.sq").as("sq"))

  /** The C-row coarse-centroid table (quantized coords). */
  private def ivfPqCoarse(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .filter(col("vec_id") < cellsFor(Tables.rowCount(s, d, "embeddings")))
      .withColumn("qa", qaExpr)
      .select(col("vec_id").as("cell"), col("qa").as("cqa"))

  /** Pinned (vec_id, cell, m, code): the IVF-PQ index artifact — coarse
    * cell + residual PQ codes per vector, built once per dataset
    * version. */
  private[graft] def ivfPqCodes(s: SparkSession, d: String): DataFrame =
    StageCache.getOrCompute(s, d, "ann_ivfpq_codes") {
      val (base, codes) = buildIvfPqCodes(s, d)
      val pinned = codes.localCheckpoint(true) // eager, while base pinned
      base.unpersist()
      pinned
    }

  private def buildIvfPqCodes(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val C = cellsFor(Tables.rowCount(s, d, "embeddings"))
    val emb = Tables.embeddings(s, d).withColumn("qa", qaExpr)
      .select(col("vec_id"), col("qa"))
      .persist() // coarse assign + residual branches share it
    val coarse = emb.filter(col("vec_id") < C)
      .select(col("vec_id").as("cell"), col("qa").as("cqa"))
    // every vector -> nearest coarse cell, residual in exact integers.
    // NearestCellL2 expression over the collected coarse seeds: the
    // exact-integer argmin runs fused inside the scan (no candidate
    // expansion, no aggregate); the winning cell then re-joins the
    // C-row broadcast coarse table once to fetch its cqa for the
    // residual — n rows streaming through a broadcast hash join.
    val coarseRows = coarse.collect()
    val assigned = emb
      .withColumn("cell", graft.expressions.NearestCellL2.column(col("qa"),
        coarseRows.map(_.getLong(0)),
        coarseRows.map(_.getSeq[Long](1).toArray)))
      .join(broadcast(coarse), "cell")
      .select(col("vec_id"), col("cell"),
        expr("zip_with(qa, cqa, (a, b) -> a - b)").as("res"))
    val subs = subRes(assigned)
    val cbook = subRes(assigned
      .filter(col("vec_id") >= C && col("vec_id") < C + PqK))
      .select(col("vec_id").as("code"), col("m"), col("sq").as("cq"))
    // nearest sub-centroid per (vector, sub-space): same min_by shape —
    // the K=16 candidates collapse map-side, n×M rows shuffle, not n×M×K
    val codes = subs.join(cbook.drop("cell"), "m")
      .select(col("vec_id"), col("cell"), col("m"), col("code"),
        pqSqL2.as("d2"))
      .groupBy(col("vec_id"), col("cell"), col("m"))
      .agg(min_by(col("code"), struct(col("d2"), col("code"))).as("code"))
      .select(col("vec_id"), col("cell"), col("m"), col("code"))
    (emb, codes)
  }

  /** Un-pinned twin for plan guards (the bandCandidatesPlan pattern). */
  private[graft] def ivfPqCodesPlan(s: SparkSession, d: String): DataFrame = {
    val (base, codes) = buildIvfPqCodes(s, d)
    base.unpersist()
    codes
  }

  def q80IvfPq(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = Tables.rowCount(s, d, "embeddings")
    val C = cellsFor(n)
    val codes = ivfPqCodes(s, d)
    val coarse = ivfPqCoarse(s, d)
    val emb = Tables.embeddings(s, d).withColumn("qa", qaExpr)
      .select(col("vec_id"), col("qa"))
    val l2 = expr("aggregate(zip_with(qa, cqa, (a, b) -> (a - b) * (a - b))," +
      " 0L, (acc, x) -> acc + x)")
    // rebuild the K=16-row residual codebook from the PINNED cells: the
    // seeds' coarse assignments are already recorded in the code table
    // (no corpus argmin, no driver collect — two tiny broadcast joins)
    val seedCells = codes
      .filter(col("vec_id") >= C && col("vec_id") < C + PqK)
      .select(col("vec_id"), col("cell")).distinct()
    val cbook = subRes(
        emb.filter(col("vec_id") >= C && col("vec_id") < C + PqK)
          .join(broadcast(seedCells), "vec_id")
          .join(broadcast(coarse), "cell")
          .select(col("vec_id"), col("cell"),
            expr("zip_with(qa, cqa, (a, b) -> a - b)").as("res")))
      .select(col("vec_id").as("code"), col("m"), col("sq").as("cq"))
    // queries probe their 2 nearest cells
    val probes = emb.filter(col("vec_id") < PqNq)
      .select(col("vec_id").as("query_id"), col("qa"))
      .join(coarse)
      .select(col("query_id"), col("cell"), col("qa"), col("cqa"),
        l2.as("cd2"))
      .withColumn("pr", row_number().over(Window
        .partitionBy(col("query_id")).orderBy(col("cd2"), col("cell"))))
      .filter(col("pr") <= PqProbes)
      .select(col("query_id"), col("cell"),
        expr("zip_with(qa, cqa, (a, b) -> a - b)").as("res"))
    // per (query, probed cell) residual distance table over the codebook
    val dt = probes
      .select(col("query_id"), col("cell"), explode(expr(
        s"transform(sequence(0, ${PqM - 1}), m ->" +
          s" struct(m AS m, slice(res, m * $PqDs + 1, $PqDs) AS sq))"))
        .as("sub"))
      .select(col("query_id"), col("cell"), col("sub.m").as("m"),
        col("sub.sq").as("sq"))
      .join(cbook.drop("cell"), "m")
      .select(col("query_id"), col("cell"), col("m"), col("code"),
        pqSqL2.as("qd2"))
    // ADC restricted to vectors living in the probed cells
    codes.join(dt, Seq("cell", "m", "code"))
      .groupBy(col("query_id"), col("vec_id"), col("cell"))
      .agg(sum(col("qd2")).as("adc_d2"))
      .withColumn("rk", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("adc_d2"), col("vec_id"))).cast("long"))
      .filter(col("rk") <= PqTopK)
      .select(col("query_id"), col("rk"), col("vec_id"), col("cell"),
        col("adc_d2"))
      .orderBy(col("query_id"), col("rk"))
  }

  val q80Sql: String = s"""
    WITH params AS (SELECT $sqlCells AS c FROM embeddings),
    e AS (SELECT vec_id, $sqlQa AS qa FROM embeddings),
    coarse AS (
      SELECT vec_id AS cell, qa AS cqa
      FROM e CROSS JOIN params WHERE vec_id < c),
    assigned AS (
      SELECT vec_id, cell,
        list_transform(range(1, $D + 1), i -> qa[i] - cqa[i]) AS res
      FROM (
        SELECT e.vec_id, co.cell, e.qa, co.cqa,
          ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
            list_sum(list_transform(range(1, $D + 1), i ->
              (e.qa[i] - co.cqa[i]) * (e.qa[i] - co.cqa[i]))), co.cell)
            AS rn
        FROM e CROSS JOIN coarse co) WHERE rn = 1),
    subs AS (
      SELECT vec_id, cell, m,
        res[m * $PqDs + 1 : m * $PqDs + $PqDs] AS sq
      FROM assigned CROSS JOIN (SELECT unnest(range($PqM)) AS m) ms),
    cbook AS (
      SELECT vec_id AS code, m, sq AS cq
      FROM subs CROSS JOIN params
      WHERE vec_id >= c AND vec_id < c + $PqK),
    codes AS (
      SELECT vec_id, cell, m, code FROM (
        SELECT s.vec_id, s.cell, s.m, cb.code,
          ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m ORDER BY
            list_sum(list_transform(range(1, $PqDs + 1), i ->
              (s.sq[i] - cb.cq[i]) * (s.sq[i] - cb.cq[i]))), cb.code) AS rk
        FROM subs s JOIN cbook cb ON s.m = cb.m) WHERE rk = 1),
    probes AS (
      SELECT query_id, cell,
        list_transform(range(1, $D + 1), i -> qa[i] - cqa[i]) AS res
      FROM (
        SELECT e.vec_id AS query_id, co.cell, e.qa, co.cqa,
          ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
            list_sum(list_transform(range(1, $D + 1), i ->
              (e.qa[i] - co.cqa[i]) * (e.qa[i] - co.cqa[i]))), co.cell)
            AS pr
        FROM e CROSS JOIN coarse co WHERE e.vec_id < $PqNq)
      WHERE pr <= $PqProbes),
    dt AS (
      SELECT p.query_id, p.cell, q.m, cb.code,
        CAST(list_sum(list_transform(range(1, $PqDs + 1), i ->
          (q.sq[i] - cb.cq[i]) * (q.sq[i] - cb.cq[i]))) AS BIGINT) AS qd2
      FROM probes p
      CROSS JOIN LATERAL (
        SELECT m, p.res[m * $PqDs + 1 : m * $PqDs + $PqDs] AS sq
        FROM (SELECT unnest(range($PqM)) AS m)) q
      JOIN cbook cb ON q.m = cb.m),
    adc AS (
      SELECT dt.query_id, codes.vec_id, codes.cell,
        CAST(SUM(dt.qd2) AS BIGINT) AS adc_d2
      FROM codes JOIN dt ON codes.cell = dt.cell AND codes.m = dt.m
        AND codes.code = dt.code
      GROUP BY 1, 2, 3)
    SELECT query_id, rk, vec_id, cell, adc_d2 FROM (
      SELECT query_id, vec_id, cell, adc_d2,
        CAST(ROW_NUMBER() OVER (PARTITION BY query_id
          ORDER BY adc_d2, vec_id) AS BIGINT) AS rk
      FROM adc) WHERE rk <= $PqTopK
    ORDER BY query_id, rk"""

  // ---- q87: sparse lexical cosine via inverted-index join --------------
  // The SPARSE-vector twin of q37's dense-embedding near-dup pass:
  // documents as integer term-frequency vectors, cosine over the terms
  // with document frequency ≤ MaxDf. The pairing never materializes
  // doc×doc: the inverted index (one posting list per term) equi-joins
  // with itself per token, each posting contributes tf_a·tf_b, and a
  // groupBy(id1, id2) sums the exact integer dot. df-pruning is the
  // contract AND the scale bound — candidate volume is Σ_t df(t)² ≤
  // MaxDf·Σ df, linear in corpus size, and stopword posting lists (the
  // n² risk: a term in every doc pairs everything with everything)
  // never enter the join. This "informative-terms cosine" semantic is
  // mirrored exactly in the oracle. Norms are computed over the SAME
  // pruned vectors, so cosine stays a true cosine in the pruned space;
  // dot and norms are exact BIGINTs, the final cosine one IEEE
  // divide-by-sqrt over identical integers on both engines.
  private val MaxDf = 64

  def q87SparseCosine(s: SparkSession, d: String): DataFrame = {
    val tf = Tables.documents(s, d)
      .select(col("doc_id"), explode_outer(split(trim(lower(col("text"))),
        "[ \\t\\n\\r\\f]+")).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val rare = tf.join(
      tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= MaxDf)
        .select(col("token")),
      "token")
      .persist() // posting join + norms share it; caller clearCache
    val norms = rare.groupBy(col("doc_id"))
      .agg(sum(col("tf") * col("tf")).as("nq"))
    val dots = rare.select(col("token"), col("doc_id").as("id1"),
        col("tf").as("tf1"))
      .join(rare.select(col("token"), col("doc_id").as("id2"),
        col("tf").as("tf2")), "token")
      .filter(col("id1") < col("id2"))
      .groupBy(col("id1"), col("id2"))
      .agg(sum(col("tf1") * col("tf2")).as("dot"))
    dots
      .join(norms.select(col("doc_id").as("id1"), col("nq").as("nq1")), "id1")
      .join(norms.select(col("doc_id").as("id2"), col("nq").as("nq2")), "id2")
      .withColumn("cosine",
        col("dot").cast("double") / sqrt((col("nq1") * col("nq2"))
          .cast("double")))
      .filter(col("cosine") >= 0.5)
      .select(col("id1"), col("id2"), col("dot"), col("cosine"))
      .orderBy(col("id1"), col("id2"))
  }

  val q87Sql: String = raw"""
    WITH t AS (
      SELECT doc_id, unnest(string_split_regex(trim(lower(text)),
        '[ \t\n\r\f]+')) AS token
      FROM documents),
    tf AS (
      SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
      FROM t WHERE token <> '' GROUP BY 1, 2),
    rare AS (
      SELECT tf.* FROM tf JOIN (
        SELECT token FROM tf GROUP BY token HAVING COUNT(*) <= $MaxDf) r
        USING (token)),
    norms AS (
      SELECT doc_id, CAST(SUM(tf * tf) AS BIGINT) AS nq
      FROM rare GROUP BY 1),
    dots AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2,
        CAST(SUM(a.tf * b.tf) AS BIGINT) AS dot
      FROM rare a JOIN rare b
        ON a.token = b.token AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT id1, id2, dot,
      CAST(dot AS DOUBLE) / sqrt(CAST(CAST(n1.nq AS HUGEINT) * n2.nq AS DOUBLE)) AS cosine
    FROM dots
    JOIN norms n1 ON n1.doc_id = id1
    JOIN norms n2 ON n2.doc_id = id2
    WHERE CAST(dot AS DOUBLE) / sqrt(CAST(CAST(n1.nq AS HUGEINT) * n2.nq AS DOUBLE)) >= 0.5
    ORDER BY id1, id2"""

  // ---- q104: ANN recall evaluation harness -----------------------------
  // The quality monitor a production ANN deployment runs continuously:
  // exact ground truth on a small sampled query set vs what each ANN
  // variant actually returned. Ground truth is the q35 shape restricted
  // to the eval set — a BROADCAST of |Q| = 32 query vectors against one
  // linear corpus scan (O(n·|Q|) with no shuffle of the corpus), which is
  // exactly why recall can be measured cheaply at 100 TB while the full
  // n×n truth cannot. The ANN sides are the production paths themselves
  // (q36 single-probe, q68 multi-probe), so the metric moves when the
  // index parameters move. Output: per method, how many eval queries got
  // an answer, and how many answers land in the exact top-1 / top-3.
  private val EvalQueries = 32L

  def q104AnnRecall(s: SparkSession, d: String): DataFrame = {
    QuantizedDot.register(s)
    val emb = Tables.embeddings(s, d).withColumn("nq", normQ)
    val q = emb.filter(col("vec_id") < EvalQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nq").as("q_nq"))
    val c = emb.select(col("vec_id").as("c_id"),
      col("embedding").as("c_emb"), col("nq").as("c_nq"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("c_id").asc)
    // All five evalMethod legs join against the same ground truth; the
    // persist makes the exact O(n·|Q|) corpus scan run ONCE for the whole
    // union instead of once per leg (the frame itself is |Q|·3 rows).
    // Caller contract: Verify/benchmark clearCache between queries.
    val gt = c.crossJoin(broadcast(q))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("cosine",
        cosine(dotQ("q_emb", "c_emb"), col("q_nq"), col("c_nq")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("q_id").as("g_id"), col("c_id").as("gt_id"), col("rank"))
      .persist()
    val nQ = q.agg(count(lit(1)).as("n_queries"))
    // One fused scorer for all five legs (r14, guide §2.4): the legs'
    // answers union as (method, q_id, neighbor_id) rows FIRST, then one
    // shared gt join + one groupBy(method) replace five per-leg
    // join/global-aggregate/crossJoin chains (the former shape paid ~3
    // AQE waves per leg on ≤32-row frames). A literal method spine
    // left-joins the grouped result so a leg with zero answered queries
    // still reports its row (count 0, NULL hit sums — exactly what the
    // per-leg global aggregates produced on empty input, SF=0 degrade).
    def tagged(name: String, ann: DataFrame): DataFrame =
      ann.filter(col("vec_id") < EvalQueries)
        .select(lit(name).as("method"), col("vec_id").as("q_id"),
          col("neighbor_id"))
    // PQ families (q79 ADC, q80 IVF-PQ) answer with their best NON-SELF
    // ADC neighbor: their raw output is a self-inclusive top-5, and the
    // best non-self row of that list IS the global non-self argmin (at
    // most one self row can precede it). They serve PqNq eval queries —
    // n_answered reports exactly how many.
    def top1NonSelf(df: DataFrame): DataFrame = df
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"))
      .agg(min_by(col("vec_id"), struct(col("rk"), col("vec_id")))
        .as("neighbor_id"))
      .select(col("query_id").as("vec_id"), col("neighbor_id"))
    val answers = tagged("lsh_single_probe", q36AnnLsh(s, d))
      .unionByName(tagged("lsh_multi_probe", q68MultiprobeAnn(s, d)))
      // third index family: the production IVF path (q47) under the same
      // ground truth — one harness watches every index the engine ships
      .unionByName(tagged("ivf_cell", q47IvfAnn(s, d)))
      // fourth + fifth: the compressed-code families under the SAME
      // broadcast ground truth — the full index zoo in one monitor
      .unionByName(tagged("pq_adc", top1NonSelf(q79ProductQuantization(s, d))))
      .unionByName(tagged("ivf_pq", top1NonSelf(q80IvfPq(s, d))))
    val grouped = answers
      .join(gt, col("q_id") === col("g_id") &&
        col("neighbor_id") === col("gt_id"), "left")
      .groupBy(col("method"))
      .agg(count(lit(1)).as("n_answered"),
        sum(when(col("rank") === 1, 1L).otherwise(0L)).as("top1_hits"),
        sum(when(col("rank").isNotNull, 1L).otherwise(0L)).as("top3_hits"))
    val methodSpine = s.range(1).select(explode(array(
      Seq("lsh_single_probe", "lsh_multi_probe", "ivf_cell", "pq_adc",
        "ivf_pq").map(lit): _*)).as("method"))
    methodSpine.join(grouped, Seq("method"), "left")
      .crossJoin(broadcast(nQ))
      .select(col("method"), col("n_queries"),
        coalesce(col("n_answered"), lit(0L)).as("n_answered"),
        col("top1_hits"), col("top3_hits"))
      .orderBy(col("method"))
  }

  val q104Sql: String = sqlEmb + s""",
    q AS (
      SELECT vec_id AS q_id, embedding AS q_emb, nq AS q_nq
      FROM e WHERE vec_id < $EvalQueries),
    gt AS (
      SELECT q_id AS g_id, gt_id, rank FROM (
        SELECT q_id, e.vec_id AS gt_id,
          CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY
            CAST(${sqlDotQ("q_emb", "e.embedding")} AS DOUBLE)
              / sqrt(CAST(CAST(q_nq AS HUGEINT) * e.nq AS DOUBLE)) DESC, e.vec_id)
            AS BIGINT) AS rank
        FROM q JOIN e ON e.vec_id <> q_id)
      WHERE rank <= 3),
    ann1 AS (
      SELECT vec_id AS q_id, neighbor_id FROM (
        SELECT a.vec_id, b.vec_id AS neighbor_id,
          ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
            CAST(${sqlDotQ("a.embedding", "b.embedding")} AS DOUBLE)
              / sqrt(CAST(CAST(a.nq AS HUGEINT) * b.nq AS DOUBLE)) DESC, b.vec_id) AS rk
        FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
        WHERE a.vec_id < $EvalQueries)
      WHERE rk = 1),
    probes AS (
      SELECT vec_id AS a_id, embedding AS a_emb, nq AS a_nq,
        unnest(list_concat([bucket],
          list_transform(range(0, np), p ->
            xor(bucket, CAST(1 AS BIGINT) << p)))) AS probe
      FROM e CROSS JOIN params WHERE vec_id < $EvalQueries),
    ann2 AS (
      SELECT a_id AS q_id, neighbor_id FROM (
        SELECT a.a_id, b.vec_id AS neighbor_id,
          ROW_NUMBER() OVER (PARTITION BY a.a_id ORDER BY
            CAST(${sqlDotQ("a.a_emb", "b.embedding")} AS DOUBLE)
              / sqrt(CAST(CAST(a.a_nq AS HUGEINT) * b.nq AS DOUBLE)) DESC, b.vec_id) AS rk
        FROM probes a JOIN e b ON a.probe = b.bucket AND a.a_id <> b.vec_id)
      WHERE rk = 1),
    nq_cte AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_queries FROM q),
    m1 AS (
      SELECT 'lsh_single_probe' AS method,
        (SELECT n_queries FROM nq_cte) AS n_queries,
        CAST(COUNT(*) AS BIGINT) AS n_answered,
        CAST(SUM(CASE WHEN g.rank = 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS top1_hits,
        CAST(SUM(CASE WHEN g.rank IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS top3_hits
      FROM ann1 LEFT JOIN gt g
        ON g.g_id = ann1.q_id AND g.gt_id = ann1.neighbor_id),
    m2 AS (
      SELECT 'lsh_multi_probe' AS method,
        (SELECT n_queries FROM nq_cte) AS n_queries,
        CAST(COUNT(*) AS BIGINT) AS n_answered,
        CAST(SUM(CASE WHEN g.rank = 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS top1_hits,
        CAST(SUM(CASE WHEN g.rank IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS top3_hits
      FROM ann2 LEFT JOIN gt g
        ON g.g_id = ann2.q_id AND g.gt_id = ann2.neighbor_id),
    cents AS (
      SELECT vec_id AS c_id, embedding AS c_emb, nq AS c_nq
      FROM e WHERE vec_id < (SELECT $sqlCells FROM embeddings)),
    ivfassigned AS (
      SELECT vec_id, embedding, nq, c_id AS cell FROM (
        SELECT e.vec_id, e.embedding, e.nq, c_id,
          ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
            CAST(${sqlDotQ("e.embedding", "c_emb")} AS DOUBLE)
              / sqrt(CAST(CAST(e.nq AS HUGEINT) * c_nq AS DOUBLE)) DESC, c_id) AS rn
        FROM e CROSS JOIN cents) WHERE rn = 1),
    ann3 AS (
      SELECT vec_id AS q_id, neighbor_id FROM (
        SELECT a.vec_id, b.vec_id AS neighbor_id,
          ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
            CAST(${sqlDotQ("a.embedding", "b.embedding")} AS DOUBLE)
              / sqrt(CAST(CAST(a.nq AS HUGEINT) * b.nq AS DOUBLE)) DESC, b.vec_id) AS rk
        FROM ivfassigned a JOIN ivfassigned b
          ON a.cell = b.cell AND a.vec_id <> b.vec_id
        WHERE a.vec_id < $EvalQueries)
      WHERE rk = 1),
    m3 AS (
      SELECT 'ivf_cell' AS method,
        (SELECT n_queries FROM nq_cte) AS n_queries,
        CAST(COUNT(*) AS BIGINT) AS n_answered,
        CAST(SUM(CASE WHEN g.rank = 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS top1_hits,
        CAST(SUM(CASE WHEN g.rank IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS top3_hits
      FROM ann3 LEFT JOIN gt g
        ON g.g_id = ann3.q_id AND g.gt_id = ann3.neighbor_id),
    p4subs AS (
      SELECT vec_id, m, qa[m * $PqDs + 1 : m * $PqDs + $PqDs] AS sq
      FROM e CROSS JOIN (SELECT unnest(range($PqM)) AS m) ms),
    p4cents AS (
      SELECT vec_id AS cell, m, sq AS cq FROM p4subs WHERE vec_id < $PqK),
    p4codes AS (
      SELECT vec_id, m, cell FROM (
        SELECT s.vec_id, s.m, c.cell,
          ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m ORDER BY
            list_sum(list_transform(range(1, $PqDs + 1), i ->
              (s.sq[i] - c.cq[i]) * (s.sq[i] - c.cq[i]))), c.cell) AS rk
        FROM p4subs s JOIN p4cents c ON s.m = c.m) WHERE rk = 1),
    p4dt AS (
      SELECT s.vec_id AS query_id, s.m, c.cell,
        CAST(list_sum(list_transform(range(1, $PqDs + 1), i ->
          (s.sq[i] - c.cq[i]) * (s.sq[i] - c.cq[i]))) AS BIGINT) AS qd2
      FROM p4subs s JOIN p4cents c ON s.m = c.m WHERE s.vec_id < $PqNq),
    p4adc AS (
      SELECT dt.query_id, p4codes.vec_id,
        CAST(SUM(dt.qd2) AS BIGINT) AS adc_d2
      FROM p4codes JOIN p4dt dt
        ON p4codes.m = dt.m AND p4codes.cell = dt.cell
      GROUP BY 1, 2),
    ann4 AS (
      SELECT query_id AS q_id, vec_id AS neighbor_id FROM (
        SELECT query_id, vec_id,
          ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY adc_d2, vec_id) AS rk
        FROM p4adc WHERE vec_id <> query_id) WHERE rk = 1),
    m4 AS (
      SELECT 'pq_adc' AS method,
        (SELECT n_queries FROM nq_cte) AS n_queries,
        CAST(COUNT(*) AS BIGINT) AS n_answered,
        CAST(SUM(CASE WHEN g.rank = 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS top1_hits,
        CAST(SUM(CASE WHEN g.rank IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS top3_hits
      FROM ann4 LEFT JOIN gt g
        ON g.g_id = ann4.q_id AND g.gt_id = ann4.neighbor_id),
    i5params AS (SELECT $sqlCells AS c FROM embeddings),
    i5coarse AS (
      SELECT vec_id AS cell, qa AS cqa
      FROM e CROSS JOIN i5params WHERE vec_id < c),
    i5assigned AS (
      SELECT vec_id, cell,
        list_transform(range(1, $D + 1), i -> qa[i] - cqa[i]) AS res
      FROM (
        SELECT e.vec_id, co.cell, e.qa, co.cqa,
          ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
            list_sum(list_transform(range(1, $D + 1), i ->
              (e.qa[i] - co.cqa[i]) * (e.qa[i] - co.cqa[i]))), co.cell)
            AS rn
        FROM e CROSS JOIN i5coarse co) WHERE rn = 1),
    i5subs AS (
      SELECT vec_id, cell, m,
        res[m * $PqDs + 1 : m * $PqDs + $PqDs] AS sq
      FROM i5assigned CROSS JOIN (SELECT unnest(range($PqM)) AS m) ms),
    i5cbook AS (
      SELECT vec_id AS code, m, sq AS cq
      FROM i5subs CROSS JOIN i5params
      WHERE vec_id >= c AND vec_id < c + $PqK),
    i5codes AS (
      SELECT vec_id, cell, m, code FROM (
        SELECT s.vec_id, s.cell, s.m, cb.code,
          ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m ORDER BY
            list_sum(list_transform(range(1, $PqDs + 1), i ->
              (s.sq[i] - cb.cq[i]) * (s.sq[i] - cb.cq[i]))), cb.code) AS rk
        FROM i5subs s JOIN i5cbook cb ON s.m = cb.m) WHERE rk = 1),
    i5probes AS (
      SELECT query_id, cell,
        list_transform(range(1, $D + 1), i -> qa[i] - cqa[i]) AS res
      FROM (
        SELECT e.vec_id AS query_id, co.cell, e.qa, co.cqa,
          ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
            list_sum(list_transform(range(1, $D + 1), i ->
              (e.qa[i] - co.cqa[i]) * (e.qa[i] - co.cqa[i]))), co.cell)
            AS pr
        FROM e CROSS JOIN i5coarse co WHERE e.vec_id < $PqNq)
      WHERE pr <= $PqProbes),
    i5dt AS (
      SELECT p.query_id, p.cell, q.m, cb.code,
        CAST(list_sum(list_transform(range(1, $PqDs + 1), i ->
          (q.sq[i] - cb.cq[i]) * (q.sq[i] - cb.cq[i]))) AS BIGINT) AS qd2
      FROM i5probes p
      CROSS JOIN LATERAL (
        SELECT m, p.res[m * $PqDs + 1 : m * $PqDs + $PqDs] AS sq
        FROM (SELECT unnest(range($PqM)) AS m)) q
      JOIN i5cbook cb ON q.m = cb.m),
    i5adc AS (
      SELECT dt.query_id, i5codes.vec_id,
        CAST(SUM(dt.qd2) AS BIGINT) AS adc_d2
      FROM i5codes JOIN i5dt dt ON i5codes.cell = dt.cell
        AND i5codes.m = dt.m AND i5codes.code = dt.code
      GROUP BY 1, 2),
    ann5 AS (
      SELECT query_id AS q_id, vec_id AS neighbor_id FROM (
        SELECT query_id, vec_id,
          ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY adc_d2, vec_id) AS rk
        FROM i5adc WHERE vec_id <> query_id) WHERE rk = 1),
    m5 AS (
      SELECT 'ivf_pq' AS method,
        (SELECT n_queries FROM nq_cte) AS n_queries,
        CAST(COUNT(*) AS BIGINT) AS n_answered,
        CAST(SUM(CASE WHEN g.rank = 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS top1_hits,
        CAST(SUM(CASE WHEN g.rank IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS top3_hits
      FROM ann5 LEFT JOIN gt g
        ON g.g_id = ann5.q_id AND g.gt_id = ann5.neighbor_id)
    SELECT * FROM m1 UNION ALL SELECT * FROM m2 UNION ALL SELECT * FROM m3
    UNION ALL SELECT * FROM m4 UNION ALL SELECT * FROM m5
    ORDER BY method"""

  // ---- q105: hard-negative mining (contrastive training pairs) ---------
  // For each anchor, the most-similar vector with a DIFFERENT label —
  // the "hard negative" a contrastive/embedding trainer pairs against
  // the positive. Same scale shape as q36: candidates from the LSH
  // bucket equi-join (never a cross join), label mismatch as a cheap
  // post-join predicate, per-anchor argmax over bucket-bounded
  // candidates. Anchors whose bucket holds only same-label vectors drop
  // out (a miner batches them for a wider probe — q68's trick — rather
  // than widening every anchor's search).
  def q105HardNegatives(s: SparkSession, d: String): DataFrame = {
    QuantizedDot.register(s)
    val emb = Tables.embeddings(s, d)
      .withColumn("qa", qaExpr)
      .withColumn("nq", normQ)
      .withColumn("bucket",
        bucketExpr(planesFor(Tables.rowCount(s, d, "embeddings"))))
    val a = emb.select(col("vec_id").as("a_id"), col("label").as("a_label"),
      col("embedding").as("a_emb"), col("nq").as("a_nq"), col("bucket"))
    val b = emb.select(col("vec_id").as("b_id"), col("label").as("b_label"),
      col("embedding").as("b_emb"), col("nq").as("b_nq"), col("bucket"))
    val w = Window.partitionBy(col("a_id"))
      .orderBy(col("cosine").desc, col("b_id").asc)
    a.join(b, Seq("bucket"))
      .filter(col("a_id") =!= col("b_id") &&
        col("a_label") =!= col("b_label"))
      .withColumn("cosine",
        cosine(dotQ("a_emb", "b_emb"), col("a_nq"), col("b_nq")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") === 1)
      .select(col("a_id").as("vec_id"), col("a_label").as("label"),
        col("b_id").as("neg_id"), col("b_label").as("neg_label"),
        col("cosine"))
      .orderBy(col("vec_id"))
  }

  val q105Sql: String = sqlEmb + s""",
    scored AS (
      SELECT a.vec_id AS vec_id, a.label AS label,
        b.vec_id AS neg_id, b.label AS neg_label,
        CAST(${sqlDotQ("a.embedding", "b.embedding")} AS DOUBLE)
          / sqrt(CAST(CAST(a.nq AS HUGEINT) * b.nq AS DOUBLE)) AS cosine
      FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
        AND a.label <> b.label),
    ranked AS (
      SELECT vec_id, label, neg_id, neg_label, cosine,
        ROW_NUMBER() OVER (PARTITION BY vec_id
          ORDER BY cosine DESC, neg_id) AS rank
      FROM scored)
    SELECT vec_id, label, neg_id, neg_label, cosine
    FROM ranked WHERE rank = 1 ORDER BY vec_id"""

  // ---- q108: semantic dedup (SemDeDup — cluster, then in-cell cosine) --
  // Embedding-space near-dup removal (Abbas et al., "SemDeDup", 2023):
  // lexical dedup (q29/q31) misses paraphrases that embed nearly
  // identically. Shape: coarse-cluster the corpus (q47's seeded cells —
  // the paper uses k-means; the cells only need to CO-LOCATE likely
  // dups), compare pairs WITHIN a cell only, and from every >=theta
  // similar pair keep the member FARTHER from its centroid (the paper's
  // keep-low-centroid-similarity rule: extremal points carry more
  // information than cluster-center boilerplate; ties break to the
  // smaller vec_id). A vector is removed iff some kept-preferred
  // neighbor within its cell is >=theta similar.
  //
  // Scale shape: cell assign is the NearestCellCos codegen argmax over
  // broadcast seeds (no shuffle); the pair search is a cell equi-join
  // bounded by cell occupancy ~sqrt(n), never n²; the keep decision is
  // one distinct + left join (rank-compare is pairwise-local — no
  // connected components, no iteration, by design: the paper's rule
  // needs no transitive closure).
  private val SemTheta = 0.3

  def q108SemDedup(s: SparkSession, d: String): DataFrame = {
    QuantizedDot.register(s)
    val emb = Tables.embeddings(s, d).withColumn("nq", normQ)
    val cents = emb.filter(col("vec_id") <
        cellsFor(Tables.rowCount(s, d, "embeddings")))
      .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
        col("nq").as("c_nq"))
    val seedRows = cents.collect()
    val assigned = emb
      .withColumn("m", graft.expressions.NearestCellCos.column(
        col("embedding"), col("nq"),
        seedRows.map(_.getLong(0)),
        seedRows.map(_.getSeq[Float](1).toArray.map(_.toDouble)),
        seedRows.map(_.getLong(2))))
      .select(col("vec_id"), col("embedding"), col("nq"),
        col("m.cell").as("cell"), col("m.ccos").as("ccos"))
    val a = assigned.select(col("cell"), col("vec_id").as("a_id"),
      col("embedding").as("a_emb"), col("nq").as("a_nq"),
      col("ccos").as("a_ccos"))
    val b = assigned.select(col("cell"), col("vec_id").as("b_id"),
      col("embedding").as("b_emb"), col("nq").as("b_nq"),
      col("ccos").as("b_ccos"))
    val removed = a.join(b, Seq("cell"))
      .filter(col("a_id") =!= col("b_id"))
      .withColumn("cos",
        cosine(dotQ("a_emb", "b_emb"), col("a_nq"), col("b_nq")))
      .filter(col("cos") >= SemTheta &&
        (col("a_ccos") < col("b_ccos") ||
          (col("a_ccos") === col("b_ccos") && col("a_id") < col("b_id"))))
      .select(col("b_id").as("vec_id")).distinct()
      .withColumn("removed", lit(true))
    assigned.join(removed, Seq("vec_id"), "left")
      .withColumn("keep", coalesce(col("removed"), lit(false)) === false)
      .select(col("vec_id"), col("cell"), col("ccos"), col("keep"))
      .orderBy(col("vec_id"))
  }

  val q108Sql: String = s"""
    WITH e AS (
      SELECT vec_id, embedding, $sqlNormQ AS nq FROM embeddings),
    cents AS (
      SELECT vec_id AS c_id, embedding AS c_emb, nq AS c_nq
      FROM e WHERE vec_id < (SELECT $sqlCells FROM embeddings)),
    scored AS (
      SELECT e.vec_id, e.embedding, e.nq, c_id,
        CAST(${sqlDotQ("e.embedding", "c_emb")} AS DOUBLE)
          / sqrt(CAST(CAST(e.nq AS HUGEINT) * c_nq AS DOUBLE)) AS ccos
      FROM e CROSS JOIN cents),
    assigned AS (
      SELECT vec_id, embedding, nq, c_id AS cell, ccos FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
          ORDER BY ccos DESC, c_id) AS rn
        FROM scored) WHERE rn = 1),
    removed AS (
      SELECT DISTINCT b.vec_id
      FROM assigned a JOIN assigned b
        ON a.cell = b.cell AND a.vec_id <> b.vec_id
      WHERE CAST(${sqlDotQ("a.embedding", "b.embedding")} AS DOUBLE)
          / sqrt(CAST(CAST(a.nq AS HUGEINT) * b.nq AS DOUBLE)) >= $SemTheta
        AND (a.ccos < b.ccos
          OR (a.ccos = b.ccos AND a.vec_id < b.vec_id)))
    SELECT s.vec_id, s.cell, s.ccos, r.vec_id IS NULL AS keep
    FROM assigned s LEFT JOIN removed r ON s.vec_id = r.vec_id
    ORDER BY s.vec_id"""

  // ---- q130: k-NN graph construction (cell-bounded, mutual-flagged) ----
  // The curation graph primitive under cluster-pruning, graph-dedup and
  // diversity sampling: every vector's top-k nearest neighbors plus
  // whether each edge is reciprocated (mutual kNN edges are the standard
  // high-precision subgraph for community detection / SemDeDup-style
  // pruning). Candidates come from the SAME coarse cells q47/q108 use —
  // a vector's neighbors are searched within its cell only, so the
  // candidate join is an equi-join bounded by cell occupancy, never n².
  // Approximation is the documented IVF trade (q104 scores this recall);
  // the per-vector top-k is a window over that bounded candidate set,
  // and the mutual flag is one self-equi-join of the (already tiny)
  // edge list on the reversed key.
  //
  // Parity: cosine = quantized-integer dot / sqrt of quantized norms —
  // the q108 discipline (identical integers into one IEEE division and
  // sqrt on both engines); ties on cosine break by neighbor id.
  private val KnnK = 5

  /** Shared node/edge derivation for q130 (graph dump) and q132 (rank
    * propagation): (nodes = every vec_id, edges = cell-bounded top-K).
    * The cell assignment is persisted; both consumers run inside one
    * Verify/benchmark query slot each, and the session cache is cleared
    * between slots (SparkEntry caller contract). */
  /** The raw edge derivation: (persisted cell-assignment base, un-pinned
    * edge plan). The base is persisted so the cell self-join's two
    * branches share one assignment pass; callers that pin the edges must
    * unpersist it afterwards. */
  private def buildKnnEdges(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    QuantizedDot.register(s)
    // cell assignment comes from the pinned IVF index artifact — the
    // same coarse quantizer q47 serves from (one argmax pass per dataset
    // version, shared across the whole ANN/graph family)
    val assigned = Tables.embeddings(s, d).withColumn("nq", normQ)
      .join(ivfAssignment(s, d), "vec_id")
      .select(col("vec_id"), col("embedding"), col("nq"), col("cell"))
      .persist()
    val a = assigned.select(col("cell"), col("vec_id").as("vec_id"),
      col("embedding").as("a_emb"), col("nq").as("a_nq"))
    val b = assigned.select(col("cell"), col("vec_id").as("nbr_id"),
      col("embedding").as("b_emb"), col("nq").as("b_nq"))
    val edges = a.join(b, Seq("cell"))
      .filter(col("vec_id") =!= col("nbr_id"))
      .withColumn("cos",
        cosine(dotQ("a_emb", "b_emb"), col("a_nq"), col("b_nq")))
      .withColumn("rank",
        row_number().over(Window.partitionBy(col("vec_id"))
          .orderBy(col("cos").desc, col("nbr_id"))).cast("long"))
      .filter(col("rank") <= KnnK)
      .select(col("vec_id"), col("rank"), col("nbr_id"), col("cos"))
    (assigned, edges)
  }

  /** The UNMATERIALIZED edge plan — for plan-shape guards (`PlanSpec`):
    * the pinned [[knnEdges]] plan roots at an RDD scan, hiding the
    * cell equi-join + codegen `nearest_cell_cos` assignment this stage
    * exists to pin (the `bandCandidatesPlan` pattern). */
  private[graft] def knnEdgesPlan(s: SparkSession, d: String): DataFrame = {
    val (base, plan) = buildKnnEdges(s, d)
    // plan-guard-only variant: release the builder's pinned base NOW
    // (nothing materialized yet — the guard reads the plan, not data),
    // so repeated calls don't accumulate corpus-derived cache entries
    base.unpersist()
    plan
  }

  private[graft] def knnEdges(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    // The edge list is a shared stage: q130 (graph + mutual flag) and
    // q132 (rank propagation) both consume it; standalone they ran the
    // cell join + per-vector window twice per bench pass. Pinned via
    // StageCache, the derivation executes once per (session, dataset
    // version) — edges are n·K rows of 4 scalars, tiny next to the
    // vectors.
    val edges = StageCache.getOrCompute(s, d, "knn_edges") {
      val (base, plan) = buildKnnEdges(s, d)
      val pinned = plan.localCheckpoint(true) // eager, while base is pinned
      base.unpersist()
      pinned
    }
    // Every vector is assigned to a cell, so the node set is just the
    // vec_id column — no need to touch the edge derivation for it.
    (Tables.embeddings(s, d).select(col("vec_id")), edges)
  }

  def q130KnnGraph(s: SparkSession, d: String): DataFrame = {
    val (_, edges) = knnEdges(s, d)
    val rev = edges.select(col("nbr_id").as("vec_id"),
      col("vec_id").as("nbr_id"), lit(true).as("has_rev"))
    edges.join(rev, Seq("vec_id", "nbr_id"), "left")
      .withColumn("mutual", coalesce(col("has_rev"), lit(false)))
      .select(col("vec_id"), col("rank"), col("nbr_id"), col("cos"),
        col("mutual"))
      .orderBy(col("vec_id"), col("rank"))
  }

  /** Shared CTE prelude (nodes + cell-bounded top-K edge list) for the
    * q130/q132 oracles — mirrors [[knnEdges]]. */
  private val sqlKnnCtes: String = s"""
    WITH e AS (
      SELECT vec_id, embedding, $sqlNormQ AS nq FROM embeddings),
    cents AS (
      SELECT vec_id AS c_id, embedding AS c_emb, nq AS c_nq
      FROM e WHERE vec_id < (SELECT $sqlCells FROM embeddings)),
    scored AS (
      SELECT e.vec_id, e.embedding, e.nq, c_id,
        CAST(${sqlDotQ("e.embedding", "c_emb")} AS DOUBLE)
          / sqrt(CAST(CAST(e.nq AS HUGEINT) * c_nq AS DOUBLE)) AS ccos
      FROM e CROSS JOIN cents),
    assigned AS (
      SELECT vec_id, embedding, nq, c_id AS cell FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
          ORDER BY ccos DESC, c_id) AS rn
        FROM scored) WHERE rn = 1),
    edges AS (
      SELECT vec_id, rank, nbr_id, cos FROM (
        SELECT a.vec_id, b.vec_id AS nbr_id,
          CAST(${sqlDotQ("a.embedding", "b.embedding")} AS DOUBLE)
            / sqrt(CAST(CAST(a.nq AS HUGEINT) * b.nq AS DOUBLE)) AS cos,
          CAST(ROW_NUMBER() OVER (PARTITION BY a.vec_id
            ORDER BY CAST(${sqlDotQ("a.embedding", "b.embedding")} AS DOUBLE)
              / sqrt(CAST(CAST(a.nq AS HUGEINT) * b.nq AS DOUBLE)) DESC, b.vec_id)
            AS BIGINT) AS rank
        FROM assigned a JOIN assigned b
          ON a.cell = b.cell AND a.vec_id <> b.vec_id)
      WHERE rank <= $KnnK)"""

  val q130Sql: String = s"""$sqlKnnCtes
    SELECT g.vec_id, g.rank, g.nbr_id, g.cos,
      r.vec_id IS NOT NULL AS mutual
    FROM edges g LEFT JOIN edges r
      ON r.vec_id = g.nbr_id AND r.nbr_id = g.vec_id
    ORDER BY g.vec_id, g.rank"""

  // ---- q188: kNN label-agreement audit ---------------------------------
  // Label-noise detection by neighborhood vote: for each vector in the
  // pinned kNN graph, the share of its top-K neighbors carrying the SAME
  // label — the classic kNN label-consistency screen run before trusting
  // labels for hard-negative mining (q105), centroid classification
  // (q179), or label-stratified decontamination. A vector whose
  // neighborhood disagrees with its label (< 50% agreement) is either
  // mislabeled or lives on a genuine class boundary; a LABEL whose mass
  // concentrates in the suspect band is a labeling-process failure, not
  // a geometry problem (q165/q179 see the same signal only after it has
  // polluted the centroids). Reported as the per-(label, band) ledger
  // with per-label vector shares in exact ppm.
  //
  // Scale shape: rides the pinned knn_edges stage (n·K rows) + two
  // vec_id-keyed label joins (label column only — no vectors move);
  // everything after the per-vector aggregate is a ≤|labels|·3 frame,
  // windows included. Vectors alone in their IVF cell have no edges and
  // drop from the audit identically in both engines (the edge list is
  // the shared derivation).
  def q188LabelAgreement(s: SparkSession, d: String): DataFrame = {
    val (_, edges) = knnEdges(s, d)
    val lab = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label").cast("long").as("label"))
    val perVec = edges
      .join(lab, Seq("vec_id"))
      .join(lab.select(col("vec_id").as("nbr_id"),
        col("label").as("nbr_label")), Seq("nbr_id"))
      .groupBy(col("vec_id"), col("label"))
      .agg(count(lit(1)).as("k_eff"),
        sum(when(col("nbr_label") === col("label"), 1L).otherwise(0L))
          .as("n_agree"))
      .withColumn("agree_pct", expr("n_agree * 100 div k_eff"))
      .withColumn("agree_band",
        when(col("agree_pct") >= 80L, "consistent")
          .when(col("agree_pct") >= 50L, "mixed")
          .otherwise("suspect"))
    val w = Window.partitionBy(col("label"))
    perVec.groupBy(col("label"), col("agree_band"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("n_agree")).as("agree_edges"),
        sum(col("k_eff")).as("total_edges"))
      .withColumn("label_vecs", sum(col("n_vecs")).over(w))
      .withColumn("vec_ppm",
        expr("cast(n_vecs as decimal(38,0)) * 1000000 div label_vecs"))
      .select(col("label"), col("agree_band"), col("n_vecs"),
        col("agree_edges"), col("total_edges"), col("label_vecs"),
        col("vec_ppm"))
      .orderBy(col("label"), col("agree_band"))
  }

  val q188Sql: String = s"""$sqlKnnCtes,
    lab AS (SELECT vec_id, CAST(label AS BIGINT) AS label
            FROM embeddings),
    agr AS (
      SELECT e.vec_id, la.label,
        CAST(COUNT(*) AS BIGINT) AS k_eff,
        CAST(SUM(CASE WHEN lb.label = la.label THEN 1 ELSE 0 END)
          AS BIGINT) AS n_agree
      FROM edges e
      JOIN lab la ON la.vec_id = e.vec_id
      JOIN lab lb ON lb.vec_id = e.nbr_id
      GROUP BY 1, 2),
    banded AS (
      SELECT label,
        CASE WHEN n_agree * 100 // k_eff >= 80 THEN 'consistent'
             WHEN n_agree * 100 // k_eff >= 50 THEN 'mixed'
             ELSE 'suspect' END AS agree_band,
        k_eff, n_agree
      FROM agr),
    cells AS (
      SELECT label, agree_band, CAST(COUNT(*) AS BIGINT) AS n_vecs,
        CAST(SUM(n_agree) AS BIGINT) AS agree_edges,
        CAST(SUM(k_eff) AS BIGINT) AS total_edges
      FROM banded GROUP BY 1, 2)
    SELECT label, agree_band, n_vecs, agree_edges, total_edges,
      CAST(SUM(n_vecs) OVER (PARTITION BY label) AS BIGINT) AS label_vecs,
      CAST(CAST(n_vecs AS HUGEINT) * 1000000
        // SUM(n_vecs) OVER (PARTITION BY label) AS BIGINT) AS vec_ppm
    FROM cells ORDER BY label, agree_band"""

  // ---- q171: kNN hubness audit (k-occurrence distribution) -------------
  // The classic high-dimensional ANN pathology check: N_k(x) = how many
  // vectors list x among their top-K neighbors. In healthy embedding
  // spaces the in-degree distribution concentrates near K; under hubness
  // a few vectors absorb a large share of all edges (they pollute every
  // retrieval list) while antihubs (in-degree 0) become unreachable —
  // the audit a RAG/retrieval pipeline runs before trusting its kNN
  // graph. Reports one row per observed in-degree: vector share and the
  // EDGE MASS share landing at that level (hub dominance), banded
  // antihub / balanced / hub (≥2K).
  //
  // Exactness: shares are Decimal(38,0) numerators with integer div
  // (the q153 convention); counts are exact BIGINTs.
  //
  // Scale shape: rides the pinned knn_edges stage (n·K rows) — one
  // aggregate keyed by nbr_id, a broadcast-able left join against the
  // vec_id-only node projection (antihubs must appear), then a hash
  // aggregate onto ≤|distinct in-degrees| rows — bounded by the IVF
  // cell-occupancy cap, not the corpus. The 1-row totals attach via a
  // broadcast cross join on that bounded frame only.
  def q171Hubness(s: SparkSession, d: String): DataFrame = {
    val (nodes, edges) = knnEdges(s, d)
    val dist = nodes
      .join(edges.groupBy(col("nbr_id").as("vec_id"))
        .agg(count(lit(1)).as("in_deg")), Seq("vec_id"), "left")
      .withColumn("in_deg", coalesce(col("in_deg"), lit(0L)))
      .groupBy(col("in_deg")).agg(count(lit(1)).as("n_vecs"))
    val tot = dist.agg(sum(col("n_vecs")).as("n_total"),
      sum(col("in_deg") * col("n_vecs")).as("n_edges"))
    dist.crossJoin(broadcast(tot))
      .withColumn("vec_ppm",
        expr("cast(n_vecs as decimal(38,0)) * 1000000 div n_total"))
      .withColumn("edge_ppm",
        expr("cast(in_deg * n_vecs as decimal(38,0)) * 1000000 div n_edges"))
      .withColumn("band", when(col("in_deg") === 0L, "antihub")
        .when(col("in_deg") >= 2L * KnnK, "hub").otherwise("balanced"))
      .select(col("in_deg"), col("n_vecs"), col("vec_ppm"),
        col("edge_ppm"), col("band"))
      .orderBy(col("in_deg"))
  }

  val q171Sql: String = s"""$sqlKnnCtes,
    indeg AS (
      SELECT e2.vec_id, COALESCE(g.c, CAST(0 AS BIGINT)) AS in_deg
      FROM e e2 LEFT JOIN (
        SELECT nbr_id, CAST(COUNT(*) AS BIGINT) AS c
        FROM edges GROUP BY 1) g ON g.nbr_id = e2.vec_id),
    dist AS (
      SELECT in_deg, CAST(COUNT(*) AS BIGINT) AS n_vecs
      FROM indeg GROUP BY 1),
    tot AS (
      SELECT CAST(SUM(n_vecs) AS BIGINT) AS n_total,
        CAST(SUM(in_deg * n_vecs) AS BIGINT) AS n_edges
      FROM dist)
    SELECT in_deg, n_vecs,
      CAST(CAST(n_vecs AS HUGEINT) * 1000000 // n_total AS BIGINT)
        AS vec_ppm,
      CAST(CAST(in_deg * n_vecs AS HUGEINT) * 1000000 // n_edges
        AS BIGINT) AS edge_ppm,
      CASE WHEN in_deg = 0 THEN 'antihub'
           WHEN in_deg >= ${2 * KnnK} THEN 'hub'
           ELSE 'balanced' END AS band
    FROM dist CROSS JOIN tot ORDER BY in_deg"""

  // ---- q132: rank propagation over the kNN graph (fixed-point PR) ------
  // Graph-based centrality for coreset/diversity selection: three exact
  // PageRank iterations over q130's edge list (pr <- 0.15 + 0.85 *
  // Σ_in pr/outdeg), in 1e-6 fixed point so both engines agree
  // bit-for-bit — contributions are pr div outdeg, damping is
  // (inflow * 85) div 100, every intermediate a positive BIGINT (so
  // Spark's truncating `div` and DuckDB's flooring `//` coincide; no
  // shift needed, unlike q131's signed step). Dangling vectors (alone in
  // their cell) contribute nothing — the standard simplification;
  // teleport keeps their rank at 0.15.
  //
  // Scale shape: a fixed unrolled iteration count — each step is one
  // equi-join of the 5n-row edge list with the n-row rank table keyed by
  // vec_id plus an aggregate keyed by nbr_id. No driver iteration state,
  // no lineage growth beyond 3 steps, and the edge list derivation is
  // the same occupancy-bounded cell join q130 uses.
  def q132GraphRank(s: SparkSession, d: String): DataFrame = {
    val (nodes0, edges0) = knnEdges(s, d)
    val nodes = nodes0.persist()
    val edges = edges0.select(col("vec_id"), col("nbr_id")).persist()
    val deg = edges.groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_out"))
    def step(pr: DataFrame): DataFrame = {
      val inflow = edges.join(deg, "vec_id").join(pr, "vec_id")
        .withColumn("contrib", expr("pr div n_out"))
        .groupBy(col("nbr_id").as("vec_id"))
        .agg(sum(col("contrib")).as("inflow"))
      nodes.join(inflow, Seq("vec_id"), "left")
        .withColumn("pr",
          lit(150000L) + expr("(coalesce(inflow, 0L) * 85) div 100"))
        .select(col("vec_id"), col("pr"))
    }
    // Each iterate is checkpointed EAGERLY: pr1 feeds pr2, pr3, and the
    // final join — lazy, its 2-long-per-node plan would re-execute once
    // per consumer (6 step runs instead of 3, the dominant cost of this
    // query before pinning). Same per-iteration materialization a
    // production PageRank performs; the pinned footprint is 2 longs/node.
    val pr1 = step(nodes.withColumn("pr", lit(1000000L))
      .select(col("vec_id"), col("pr"))).localCheckpoint(true)
    val pr2 = step(pr1).localCheckpoint(true)
    val pr3 = step(pr2)
    nodes.join(deg, Seq("vec_id"), "left")
      .withColumn("n_out", coalesce(col("n_out"), lit(0L)))
      .join(pr1.withColumnRenamed("pr", "pr1"), "vec_id")
      .join(pr2.withColumnRenamed("pr", "pr2"), "vec_id")
      .join(pr3.withColumnRenamed("pr", "pr3"), "vec_id")
      .select(col("vec_id"), col("n_out"), col("pr1"), col("pr2"),
        col("pr3"))
      .orderBy(col("vec_id"))
  }

  val q132Sql: String = {
    def stepSql(prev: String, out: String): String = s"""
    $out AS (
      SELECT n.vec_id, CAST(150000 +
        (COALESCE(SUM(p.pr // d.n_out), 0) * 85) // 100 AS BIGINT) AS pr
      FROM nodes n
      LEFT JOIN edges e ON e.nbr_id = n.vec_id
      LEFT JOIN deg d ON d.vec_id = e.vec_id
      LEFT JOIN $prev p ON p.vec_id = e.vec_id
      GROUP BY n.vec_id)"""
    s"""$sqlKnnCtes,
    nodes AS (SELECT vec_id FROM assigned),
    deg AS (SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS n_out
      FROM edges GROUP BY vec_id),
    pr0 AS (SELECT vec_id, CAST(1000000 AS BIGINT) AS pr FROM nodes),
    ${stepSql("pr0", "pr1")},
    ${stepSql("pr1", "pr2")},
    ${stepSql("pr2", "pr3")}
    SELECT n.vec_id, CAST(COALESCE(d.n_out, 0) AS BIGINT) AS n_out,
      pr1.pr AS pr1, pr2.pr AS pr2, pr3.pr AS pr3
    FROM nodes n
    LEFT JOIN deg d ON d.vec_id = n.vec_id
    JOIN pr1 ON pr1.vec_id = n.vec_id
    JOIN pr2 ON pr2.vec_id = n.vec_id
    JOIN pr3 ON pr3.vec_id = n.vec_id
    ORDER BY n.vec_id"""
  }

  // ---- q134: semantic decontamination (train-vs-heldout cosine) --------
  // q71 catches eval contamination by shared 8-grams; paraphrased or
  // re-embedded leakage needs the SEMANTIC test: a training vector is
  // contaminated when some held-out vector (label 9 — the q71 'src9'
  // convention) sits >= theta cosine from it. Same cell-bounded shape as
  // q108: both sets are assigned to the shared coarse cells, candidates
  // are the train x eval pairs WITHIN a cell (equi-join bounded by
  // occupancy, never |train| x |eval|), and each flagged vector reports
  // its nearest offending eval vector (argmax by cosine, ties to the
  // lower id). Cell-bounded recall caveat is q108's, documented there;
  // theta reuses SemTheta so the two dedup/decontam families gate
  // identically.
  def q134SemanticDecontam(s: SparkSession, d: String): DataFrame = {
    QuantizedDot.register(s)
    val emb = Tables.embeddings(s, d).withColumn("nq", normQ)
    val cents = emb.filter(col("vec_id") <
        cellsFor(Tables.rowCount(s, d, "embeddings")))
      .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
        col("nq").as("c_nq"))
    val seedRows = cents.collect()
    val assigned = emb
      .withColumn("m", graft.expressions.NearestCellCos.column(
        col("embedding"), col("nq"),
        seedRows.map(_.getLong(0)),
        seedRows.map(_.getSeq[Float](1).toArray.map(_.toDouble)),
        seedRows.map(_.getLong(2))))
      .select(col("vec_id"), col("label"), col("embedding"), col("nq"),
        col("m.cell").as("cell"))
      .persist()
    val ev = assigned.filter(col("label") === 9)
      .select(col("cell"), col("vec_id").as("e_id"),
        col("embedding").as("e_emb"), col("nq").as("e_nq"))
    val tr = assigned.filter(col("label") =!= 9)
    val hits = tr.join(ev, Seq("cell"))
      .withColumn("cos",
        cosine(dotQ("embedding", "e_emb"), col("nq"), col("e_nq")))
      .filter(col("cos") >= SemTheta)
      .withColumn("rn", row_number().over(Window.partitionBy(col("vec_id"))
        .orderBy(col("cos").desc, col("e_id"))))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("e_id").as("near_eval"),
        col("cos").as("near_cos"))
    tr.select(col("vec_id"), col("cell"))
      .join(hits, Seq("vec_id"), "left")
      .withColumn("contaminated", col("near_eval").isNotNull)
      .select(col("vec_id"), col("cell"), col("contaminated"),
        col("near_eval"), col("near_cos"))
      .orderBy(col("vec_id"))
  }

  val q134Sql: String = s"""
    WITH e AS (
      SELECT vec_id, label, embedding, $sqlNormQ AS nq FROM embeddings),
    cents AS (
      SELECT vec_id AS c_id, embedding AS c_emb, nq AS c_nq
      FROM e WHERE vec_id < (SELECT $sqlCells FROM embeddings)),
    scored AS (
      SELECT e.vec_id, e.label, e.embedding, e.nq, c_id,
        CAST(${sqlDotQ("e.embedding", "c_emb")} AS DOUBLE)
          / sqrt(CAST(CAST(e.nq AS HUGEINT) * c_nq AS DOUBLE)) AS ccos
      FROM e CROSS JOIN cents),
    assigned AS (
      SELECT vec_id, label, embedding, nq, c_id AS cell FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
          ORDER BY ccos DESC, c_id) AS rn
        FROM scored) WHERE rn = 1),
    ev AS (SELECT cell, vec_id AS e_id, embedding AS e_emb, nq AS e_nq
      FROM assigned WHERE label = 9),
    tr AS (SELECT * FROM assigned WHERE label <> 9),
    hits AS (
      SELECT vec_id, e_id AS near_eval, cos AS near_cos FROM (
        SELECT tr.vec_id, ev.e_id,
          CAST(${sqlDotQ("tr.embedding", "ev.e_emb")} AS DOUBLE)
            / sqrt(CAST(CAST(tr.nq AS HUGEINT) * ev.e_nq AS DOUBLE)) AS cos,
          ROW_NUMBER() OVER (PARTITION BY tr.vec_id
            ORDER BY CAST(${sqlDotQ("tr.embedding", "ev.e_emb")} AS DOUBLE)
              / sqrt(CAST(CAST(tr.nq AS HUGEINT) * ev.e_nq AS DOUBLE)) DESC, ev.e_id) AS rn
        FROM tr JOIN ev USING (cell)
        WHERE CAST(${sqlDotQ("tr.embedding", "ev.e_emb")} AS DOUBLE)
          / sqrt(CAST(CAST(tr.nq AS HUGEINT) * ev.e_nq AS DOUBLE)) >= $SemTheta)
      WHERE rn = 1)
    SELECT tr.vec_id, tr.cell, h.near_eval IS NOT NULL AS contaminated,
      h.near_eval, h.near_cos
    FROM tr LEFT JOIN hits h ON h.vec_id = tr.vec_id
    ORDER BY tr.vec_id"""

  // ---- q142: int8 embedding quantization (storage-side compression) ----
  // The serving/storage companion to q79's PQ: symmetric per-vector int8
  // quantization (absmax scaling), the format embedding stores ship to
  // disk at 4× compression. Everything stays in the 1e6-quantized
  // coordinate space, so codes AND reconstruction errors are exact
  // BIGINTs on both engines: code = sign · ⌊(|qa|·254 + am) / (2·am)⌋
  // (round-half-up of |qa|·127/am — operands positive, so Spark `div` and
  // DuckDB `//` coincide; the max coordinate lands exactly on ±127), and
  // the error contract is |qa·127 − code·am| — the scaled reconstruction
  // residual, zero iff the coordinate is exactly representable.
  //
  // Scale shape: pure per-row HOFs over the embedding array (one
  // transform + aggregates, zero shuffle before the ORDER BY) — the
  // whole corpus quantizes embarrassingly parallel, like the scan half
  // of q79's codebook path.
  def q142Int8Quant(s: SparkSession, d: String): DataFrame = {
    Tables.embeddings(s, d)
      .withColumn("qa", qaExpr)
      .withColumn("amax", expr(
        "aggregate(qa, 0L, (a, x) -> greatest(a, abs(x)))"))
      .withColumn("am", greatest(col("amax"), lit(1L)))
      .withColumn("codes", expr(
        "transform(qa, x -> if(x < 0, -1L, 1L)" +
          " * ((abs(x) * 254 + am) div (2 * am)))"))
      .withColumn("code_min", expr("aggregate(codes, 127L," +
        " (a, c) -> least(a, c))"))
      .withColumn("code_max", expr("aggregate(codes, -127L," +
        " (a, c) -> greatest(a, c))"))
      .withColumn("code_checksum", expr(
        "aggregate(zip_with(codes, sequence(1L, cast(size(codes) as" +
          " long)), (c, i) -> c * i), 0L, (a, x) -> a + x)"))
      .withColumn("err_max", expr(
        "aggregate(zip_with(qa, codes, (x, c) -> abs(x * 127 - c * am))," +
          " 0L, (a, e) -> greatest(a, e))"))
      .withColumn("err_sum", expr(
        "aggregate(zip_with(qa, codes, (x, c) -> abs(x * 127 - c * am))," +
          " 0L, (a, e) -> a + e)"))
      .select(col("vec_id"), col("amax"), col("code_min"), col("code_max"),
        col("code_checksum"), col("err_max"), col("err_sum"))
      .orderBy(col("vec_id"))
  }

  val q142Sql: String = s"""
    WITH q AS (
      SELECT vec_id, $sqlQa AS qa FROM embeddings),
    a AS (
      SELECT vec_id, qa,
        GREATEST(CAST(list_max(list_transform(qa, x -> abs(x)))
          AS BIGINT), 1) AS am,
        CAST(list_max(list_transform(qa, x -> abs(x))) AS BIGINT) AS amax
      FROM q),
    c AS (
      SELECT vec_id, qa, am, amax,
        list_transform(qa, x -> (CASE WHEN x < 0 THEN -1 ELSE 1 END)
          * ((abs(x) * 254 + am) // (2 * am))) AS codes
      FROM a)
    SELECT vec_id, amax,
      CAST(list_min(codes) AS BIGINT) AS code_min,
      CAST(list_max(codes) AS BIGINT) AS code_max,
      CAST(list_sum(list_transform(range(1, $D + 1), i -> codes[i] * i))
        AS BIGINT) AS code_checksum,
      CAST(list_max(list_transform(range(1, $D + 1), i ->
        abs(qa[i] * 127 - codes[i] * am))) AS BIGINT) AS err_max,
      CAST(list_sum(list_transform(range(1, $D + 1), i ->
        abs(qa[i] * 127 - codes[i] * am))) AS BIGINT) AS err_sum
    FROM c ORDER BY vec_id"""

  // ---- q151: embedding hygiene report (norm audit per label) -----------
  // The pre-index data-quality gate every vector pipeline runs before
  // building ANN structures: per label, vector count, dimension
  // consistency (a ragged dim breaks every dot product downstream),
  // quantized-norm spread, zero vectors (un-normalizable — they poison
  // cosine), and norm outliers (>2× or <½ the label mean — the classic
  // symptom of an encoder fed truncated/empty input). All statistics in
  // the nq integer space (Σ⌊x²·1e9+0.5⌋), so the oracle is exact; the
  // outlier gates are integer cross-multiplications (nq·n vs 2·Σnq).
  // mean_nq is the single IEEE division of two identical integers.
  // Categories are DISJOINT: a zero vector (nq = 0) counts in n_zero
  // only — the lo-outlier gate requires nq > 0, so a consumer summing
  // n_zero + n_lo_outlier + n_hi_outlier never double-counts a vector.
  //
  // Scale shape: the q124 move — one map-side-combining label aggregate,
  // broadcast back (labels are bounded), one outlier-count aggregate.
  // Two scans of a narrow (label, nq) projection; at 100 TB the nq·n
  // cross-mults move to Decimal(38,0) (n_vecs per label beyond ~1e8
  // overflows the Long product; same expression shape).
  def q151EmbeddingHygiene(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("label"), size(col("embedding")).cast("long").as("dim"),
        normQ.as("nq"))
    val agg = e.groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        min(col("dim")).as("dim_min"), max(col("dim")).as("dim_max"),
        min(col("nq")).as("nq_min"), max(col("nq")).as("nq_max"),
        sum(col("nq")).as("nq_sum"),
        sum(when(col("nq") === 0L, 1L).otherwise(0L)).as("n_zero"))
    val out = e.join(broadcast(agg), Seq("label"))
      .groupBy(col("label"))
      .agg(sum(when(col("nq") * col("n_vecs") > col("nq_sum") * 2L, 1L)
          .otherwise(0L)).as("n_hi_outlier"),
        sum(when(col("nq") > 0L &&
            col("nq") * col("n_vecs") * 2L < col("nq_sum"), 1L)
          .otherwise(0L)).as("n_lo_outlier"))
    agg.join(out, Seq("label"))
      .withColumn("mean_nq",
        col("nq_sum").cast("double") / col("n_vecs").cast("double"))
      .select(col("label").cast("long").as("label"), col("n_vecs"),
        col("dim_min"), col("dim_max"), col("nq_min"), col("nq_max"),
        col("mean_nq"), col("n_zero"), col("n_hi_outlier"),
        col("n_lo_outlier"))
      .orderBy(col("label"))
  }

  val q151Sql: String = s"""
    WITH e AS (
      SELECT label, CAST(len(embedding) AS BIGINT) AS dim,
        $sqlNormQ AS nq
      FROM embeddings),
    a AS (
      SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
        MIN(dim) AS dim_min, MAX(dim) AS dim_max,
        MIN(nq) AS nq_min, MAX(nq) AS nq_max,
        CAST(SUM(nq) AS BIGINT) AS nq_sum,
        CAST(SUM(CASE WHEN nq = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
      FROM e GROUP BY label),
    o AS (
      SELECT e.label,
        CAST(SUM(CASE WHEN e.nq * a.n_vecs > a.nq_sum * 2 THEN 1 ELSE 0
          END) AS BIGINT) AS n_hi_outlier,
        CAST(SUM(CASE WHEN e.nq > 0 AND e.nq * a.n_vecs * 2 < a.nq_sum
          THEN 1 ELSE 0 END) AS BIGINT) AS n_lo_outlier
      FROM e JOIN a USING (label) GROUP BY e.label)
    SELECT CAST(label AS BIGINT) AS label, n_vecs, dim_min, dim_max,
      nq_min, nq_max,
      CAST(nq_sum AS DOUBLE) / CAST(n_vecs AS DOUBLE) AS mean_nq,
      n_zero, n_hi_outlier, n_lo_outlier
    FROM a JOIN o USING (label) ORDER BY label"""

  // ---- q165: class-separation audit (Fisher ratio per label) -----------
  // Does the embedding space actually SEPARATE the labels? Per label,
  // the Fisher-discriminant shape: squared distance of the label mean
  // to the global mean (between) vs the label's mean within-class
  // squared scatter (within), as an exact-integer ratio in ppm. A label
  // whose sep_ppm is high is a tight, well-placed cluster; 'blended'
  // labels are the retrieval/classification risk q151's hygiene counts
  // cannot see (every vector can be individually healthy while the
  // classes sit on top of each other).
  //
  // Exactness: all moments in 1e6-unit quantized integer space
  // (qaExpr). Scatter·n = n·Σ||x||² − ||Σx||² and the scaled between
  // Σ_d (N·S_l[d] − n_l·S[d])² are division-free integer identities —
  // signed values only ever multiply/square (engine-identical); every
  // div has nonnegative operands. Sums of squares accumulate in
  // Decimal(38,0) (q153 convention; DuckDB SUMs in HUGEINT). Ceiling:
  // the squared between-term binds first — exact while
  // |N·S_l[d] − n_l·S[d]| = n_l·N·|mu_l[d]−mu[d]|·1e6 ≤ ~1e19, i.e.
  // n_l·N ≲ 5e12 at unit-norm embeddings (≈2M vectors/label across 10
  // balanced labels). Past that the documented swap is dropping the
  // quantization to 1e3 units (ceiling ×1e6, precision still far below
  // float noise) or moving the between-term to the floor-div'd mean
  // path.
  //
  // Scale shape: ONE embedding scan collapsed by ONE hash aggregate
  // carrying D+2 sum columns (the q61 `sum(element_at(..))` trick — no
  // corpus × D explode, the shuffle carries |labels| rows of D sums,
  // map-side combined). Everything after is per-row ARRAY expressions
  // over the |labels|-row frame plus one broadcast 1-row global-moment
  // attach — three Spark jobs total, no bounded-frame join chain.
  // Assumes the fixed fixture dim D (q38's contract; ragged vectors are
  // q151's department).
  def q165ClassSeparation(s: SparkSession, d: String): DataFrame = {
    val sumCols = (0 until D).map(i =>
      sum(element_at(col("qa"), i + 1)).as(s"s$i"))
    val lab0 = Tables.embeddings(s, d)
      .withColumn("qa", qaExpr)
      // per-row Σq² fits a long to |x| ≲ 1e2 at 1e6 units (normQ's bound)
      .withColumn("rowq2", expr("aggregate(qa, 0L, (acc, x) -> acc + x * x)"))
      .groupBy(col("label").cast("long").as("label"))
      .agg(count(lit(1)).as("n_l"),
        (sum(col("rowq2").cast("decimal(38,0)")).as("q2") +: sumCols): _*)
      .persist() // per-label and global moments both read this
                 // |labels|-row integer frame
    val lab = lab0
      .withColumn("sarr", array((0 until D).map(i => col(s"s$i")): _*))
      .select(col("label"), col("n_l"), col("q2"), col("sarr"))
      .withColumn("ss2", expr(
        "aggregate(sarr, cast(0 as decimal(38,0))," +
          " (acc, x) -> acc + cast(x as decimal(38,0)) * x)"))
    val glob = lab0
      .agg(sum(col("n_l")).as("n"),
        (0 until D).map(i => sum(col(s"s$i")).as(s"g$i")): _*)
      .withColumn("garr", array((0 until D).map(i => col(s"g$i")): _*))
      .select(col("n"), col("garr"))
    lab.crossJoin(broadcast(glob))
      .withColumn("bsc", expr(
        "aggregate(zip_with(sarr, garr, (sv, gv) ->" +
          " (cast(n as decimal(38,0)) * sv" +
          "   - cast(n_l as decimal(38,0)) * gv)" +
          " * (cast(n as decimal(38,0)) * sv" +
          "   - cast(n_l as decimal(38,0)) * gv))," +
          " cast(0 as decimal(38,0)), (acc, x) -> acc + x)"))
      .withColumn("w", expr("cast(n_l as decimal(38,0)) * q2 - ss2"))
      .withColumn("within_q2",
        expr("w div (cast(n_l as decimal(38,0)) * n_l)"))
      .withColumn("between_q2", expr(
        "bsc div (cast(n_l as decimal(38,0)) * n_l * n * n)"))
      .withColumn("sep_ppm", when(col("w") === 0L, lit(null))
        .otherwise(expr(
          "bsc * 1000000 div (cast(n as decimal(38,0)) * n * w)")))
      .withColumn("sep_band",
        when(col("w") === 0L, "degenerate")
          .when(col("sep_ppm") >= 1000000L, "separated")
          .when(col("sep_ppm") >= 200000L, "partial")
          .otherwise("blended"))
      .select(col("label"), col("n_l").as("n_vecs"), col("within_q2"),
        col("between_q2"), col("sep_ppm"), col("sep_band"))
      .orderBy(col("label"))
  }

  val q165Sql: String = s"""
    WITH q AS (SELECT label, $sqlQa AS qa FROM embeddings),
    dims AS (
      SELECT CAST(label AS BIGINT) AS label, i,
        CAST(COUNT(*) AS BIGINT) AS cnt,
        CAST(SUM(qa[i]) AS BIGINT) AS s,
        SUM(CAST(qa[i] AS HUGEINT) * qa[i]) AS q2d
      FROM q CROSS JOIN (SELECT unnest(range(1, $D + 1)) AS i) ds
      GROUP BY 1, 2),
    lab AS (
      SELECT label, MAX(cnt) AS n_l,
        SUM(CAST(s AS HUGEINT) * s) AS ss2, SUM(q2d) AS q2
      FROM dims GROUP BY 1),
    g AS (SELECT i, CAST(SUM(s) AS HUGEINT) AS sg FROM dims GROUP BY 1),
    nn AS (SELECT CAST(SUM(n_l) AS HUGEINT) AS n FROM lab),
    b AS (
      SELECT dims.label,
        SUM((n * s - CAST(n_l AS HUGEINT) * sg)
          * (n * s - CAST(n_l AS HUGEINT) * sg)) AS bsc
      FROM dims JOIN g USING (i) JOIN lab USING (label) CROSS JOIN nn
      GROUP BY 1),
    fin AS (
      SELECT lab.label, n_l,
        CAST(n_l AS HUGEINT) * q2 - ss2 AS w, bsc, n
      FROM lab JOIN b USING (label) CROSS JOIN nn)
    SELECT label, n_l AS n_vecs,
      CAST(w // (CAST(n_l AS HUGEINT) * n_l) AS BIGINT) AS within_q2,
      CAST(bsc // (CAST(n_l AS HUGEINT) * n_l * n * n) AS BIGINT)
        AS between_q2,
      CAST(CASE WHEN w = 0 THEN NULL
        ELSE bsc * 1000000 // (n * n * w) END AS BIGINT) AS sep_ppm,
      CASE WHEN w = 0 THEN 'degenerate'
           WHEN bsc * 1000000 // (n * n * w) >= 1000000 THEN 'separated'
           WHEN bsc * 1000000 // (n * n * w) >= 200000 THEN 'partial'
           ELSE 'blended' END AS sep_band
    FROM fin ORDER BY label"""

  // ---- q243: embedding dimension-energy spectrum (anisotropy audit) ----
  // Where does the embedding space's variance LIVE? Per dimension, the
  // variance in quantized-integer space: energy_i = n*sum(q_i^2) -
  // (sum q_i)^2, reported as the per-dim variance var_q2 = energy/(n*n)
  // (units of 1e12 = one squared 1e6-quantized coordinate) and the
  // energy share in ppm. An anisotropic space — a few dimensions
  // carrying most of the energy — is the classic symptom of an
  // under-trained or collapsed encoder; it narrows effective
  // dimensionality, inflates hubness (q171), and starves LSH planes of
  // discriminative projections. This is the diagonal of the covariance
  // a PCA would eigendecompose, computable exactly in one pass.
  //
  // Exactness: energies are division-free integer identities on
  // Decimal(38,0) <-> HUGEINT (the q165 convention; n*q2 overflows Long
  // past ~1e7 vectors); both reported divs (by n*n and by the energy
  // total) have NONNEGATIVE operands, so floor-div vs trunc-div can
  // never diverge — per-dim means are deliberately NOT reported (sum q_i
  // is signed, and Spark's `div` truncates where DuckDB's `//` floors).
  //
  // Scale shape: ONE embedding scan collapsed by ONE hash aggregate
  // carrying 2D+1 sum columns (the q165 `element_at` trick — the
  // shuffle moves one row of D sums, never corpus x D exploded rows);
  // the spectrum then unfolds from that single row via posexplode, with
  // the energy total computed IN the same row (no second pass, no
  // scalar attach). Output is exactly D rows.
  def q243DimEnergy(s: SparkSession, d: String): DataFrame = {
    val sums = (0 until D).map(i =>
      sum(element_at(col("qa"), i + 1)).as(s"s$i"))
    val sqs = (0 until D).map(i =>
      sum(expr(s"cast(element_at(qa, ${i + 1}) as decimal(38,0))" +
        s" * element_at(qa, ${i + 1})")).as(s"q$i"))
    Tables.embeddings(s, d)
      .withColumn("qa", qaExpr)
      .agg(count(lit(1)).as("n"), (sums ++ sqs): _*)
      .filter(col("n") > 0L) // empty corpus -> empty spectrum, not nulls
      .withColumn("sarr", array((0 until D).map(i => col(s"s$i")): _*))
      .withColumn("qarr", array((0 until D).map(i => col(s"q$i")): _*))
      // total energy from the same row: n*sum_i(q2_i) - sum_i(s_i^2)
      .withColumn("tote", expr(
        "cast(n as decimal(38,0))" +
          " * aggregate(qarr, cast(0 as decimal(38,0)), (a, x) -> a + x)" +
          " - aggregate(sarr, cast(0 as decimal(38,0))," +
          "   (a, x) -> a + cast(x as decimal(38,0)) * x)"))
      .select(col("n"), col("tote"),
        posexplode(expr(
          "zip_with(sarr, qarr, (sv, qv) ->" +
            " cast(n as decimal(38,0)) * qv" +
            " - cast(sv as decimal(38,0)) * sv)"))
          .as(Seq("idx", "energy")))
      .withColumn("dim", (col("idx") + 1).cast("long"))
      .withColumn("n_vecs", col("n"))
      .withColumn("var_q2", expr(
        "cast(energy div (cast(n as decimal(38,0)) * n) as bigint)"))
      .withColumn("share_ppm", expr(
        "cast(energy * 1000000 div nullif(tote, 0) as bigint)"))
      .select(col("dim"), col("n_vecs"), col("var_q2"), col("share_ppm"))
      .orderBy(col("dim"))
  }

  val q243Sql: String = s"""
    WITH q AS (SELECT $sqlQa AS qa FROM embeddings),
    dims AS (
      SELECT i, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(qa[i]) AS HUGEINT) AS sv,
        SUM(CAST(qa[i] AS HUGEINT) * qa[i]) AS qv
      FROM q CROSS JOIN (SELECT unnest(range(1, $D + 1)) AS i) ds
      GROUP BY 1),
    e AS (SELECT i, n, n * qv - sv * sv AS energy FROM dims),
    t AS (SELECT SUM(energy) AS tote FROM e)
    SELECT CAST(i AS BIGINT) AS dim, n AS n_vecs,
      CAST(energy // (CAST(n AS HUGEINT) * n) AS BIGINT) AS var_q2,
      CAST(energy * 1000000 // nullif(tote, 0) AS BIGINT) AS share_ppm
    FROM e CROSS JOIN t ORDER BY dim"""

  // ---- q227: in-degree assortativity of the kNN graph ------------------
  // The graph-structure audit that complements q171 (hubness measures
  // WHO concentrates in-degree; assortativity measures whether hubs
  // point at hubs): Pearson correlation of (indeg(src), indeg(dst)) over
  // the directed edges of the pinned kNN graph. Strongly disassortative
  // embedding graphs (hubs absorbing low-degree satellites) predict ANN
  // quality cliffs — the same geometry that inflates q171's hub tail —
  // while assortative structure keeps search paths inside well-connected
  // regions. Exactness: degree sums/co-moments are exact
  // Decimal(38,0) ↔ HUGEINT; r is one fixed IEEE tree (casts, mul, sub,
  // mul, sqrt, div) over those identical integers, so both engines emit
  // the same double bit-for-bit. Scale shape: rides the pinned knn_edges
  // stage (n·K narrow rows) + one |nodes|-row degree frame joined twice;
  // the final aggregate is a 1-row frame.
  def q227Assortativity(s: SparkSession, d: String): DataFrame = {
    val (_, edges) = knnEdges(s, d)
    val indeg = edges.groupBy(col("nbr_id")).agg(count(lit(1)).as("deg"))
    val xy = edges.select(col("vec_id"), col("nbr_id"))
      .join(indeg.select(col("nbr_id").as("vec_id"), col("deg").as("x")),
        Seq("vec_id"), "left")
      .join(indeg.select(col("nbr_id"), col("deg").as("y")),
        Seq("nbr_id"), "left")
      .select(coalesce(col("x"), lit(0L)).as("x"),
        coalesce(col("y"), lit(0L)).as("y"))
    xy.agg(count(lit(1)).as("n_edges"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(expr("cast(x as decimal(38,0)) * y")).as("sxy"),
        sum(expr("cast(x as decimal(38,0)) * x")).as("sxx"),
        sum(expr("cast(y as decimal(38,0)) * y")).as("syy"))
      .withColumn("r", expr(
        "case when n_edges = 0 then null else" +
          " (cast(n_edges as double) * cast(sxy as double)" +
          " - cast(sx as double) * cast(sy as double))" +
          " / nullif(sqrt((cast(n_edges as double) * cast(sxx as double)" +
          " - cast(sx as double) * cast(sx as double))" +
          " * (cast(n_edges as double) * cast(syy as double)" +
          " - cast(sy as double) * cast(sy as double))), 0.0d) end"))
      .withColumn("mix_band",
        when(col("r").isNull, "degenerate")
          .when(col("r") >= 0.1, "assortative")
          .when(col("r") <= -0.1, "disassortative")
          .otherwise("neutral"))
      .select(col("n_edges"), col("sx").as("sum_deg_src"),
        col("sy").as("sum_deg_dst"), col("r"), col("mix_band"))
  }

  val q227Sql: String = s"""$sqlKnnCtes,
    indeg AS (
      SELECT nbr_id, CAST(COUNT(*) AS BIGINT) AS deg
      FROM edges GROUP BY 1),
    xy AS (
      SELECT COALESCE(a.deg, 0) AS x, COALESCE(b.deg, 0) AS y
      FROM edges e
      LEFT JOIN indeg a ON a.nbr_id = e.vec_id
      LEFT JOIN indeg b ON b.nbr_id = e.nbr_id),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
        CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        SUM(CAST(x AS HUGEINT) * y) AS sxy,
        SUM(CAST(x AS HUGEINT) * x) AS sxx,
        SUM(CAST(y AS HUGEINT) * y) AS syy
      FROM xy),
    fin AS (
      SELECT n_edges, sx, sy,
        CASE WHEN n_edges = 0 THEN NULL ELSE
          (CAST(n_edges AS DOUBLE) * CAST(sxy AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
          / nullif(sqrt((CAST(n_edges AS DOUBLE) * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
            * (CAST(n_edges AS DOUBLE) * CAST(syy AS DOUBLE)
              - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 0.0) END AS r
      FROM agg)
    SELECT n_edges, sx AS sum_deg_src, sy AS sum_deg_dst, r,
      CASE WHEN r IS NULL THEN 'degenerate'
           WHEN r >= 0.1 THEN 'assortative'
           WHEN r <= -0.1 THEN 'disassortative'
           ELSE 'neutral' END AS mix_band
    FROM fin"""

  // ---- q274: dominant principal direction via integer power iteration ---
  // The one linear-algebra primitive an embedding pipeline keeps asking
  // for (is there a single direction soaking up the variance? what does
  // whitening need to remove first?), computed DISTRIBUTED: power
  // iteration on the uncentered second-moment matrix A = Σ x·xᵀ. Each
  // round is ONE corpus pass — w = Σ (x·v)·x as a map-side aggregate —
  // and the d-vector renormalization is a bounded 64-row driver step
  // (the q61 Lloyd convention: collect the MODEL, never the data).
  // Uncentered on purpose (the streaming-PCA convention; q243's
  // dim-energy spectrum is the centered per-axis view this composes
  // with). A is PSD, so the iteration cannot sign-oscillate, and the
  // fixed all-ones start + fixed ROUNDS make the operator a
  // deterministic function of the corpus in BOTH engines.
  //
  // Exactness: embeddings quantize to ppm longs (qaExpr); dot ≤ 64·1e12
  // rides a long; the w accumulation stages through Decimal(38,0) ↔
  // HUGEINT (≤ ~6.4e31 at 1e12 rows — inside 38 digits with the ·1e6
  // normalization headroom); v renormalizes to ∞-norm 1e6 by sign-split
  // integer floor-div. Zero doubles anywhere.
  private val PowerRounds = 6

  def q274PowerIteration(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d).withColumn("qa", qaExpr)
      .select(col("qa")).persist() // all ROUNDS scan this frame
    val nVecs = emb.count()
    var v: Array[Long] = Array.fill(D)(1000000L)
    var prev: Array[Long] = v
    var mx: BigInt = BigInt(0)
    for (_ <- 1 to PowerRounds) {
      val vlit = v.mkString("array(", "L,", "L)")
      val w0 = emb
        .withColumn("dot", expr(
          s"aggregate(zip_with(qa, $vlit, (x, y) -> x * y)," +
            " 0L, (a, p) -> a + p)"))
        .select(posexplode(expr(
          "transform(qa, q -> cast(dot as decimal(38,0)) * q)"))
          .as(Seq("pos", "wj")))
        .groupBy(col("pos"))
        .agg(sum(col("wj")).as("w"))
        .collect()
        .map(r => r.getAs[Int]("pos") ->
          BigInt(r.getAs[java.math.BigDecimal]("w").toBigInteger)).toMap
      val w = (0 until D).map(j => w0.getOrElse(j, BigInt(0)))
      mx = w.map(_.abs).max
      prev = v
      if (mx > 0)
        v = w.map(x => (x.signum * (x.abs * 1000000 / mx)).toLong).toArray
    }
    val drift = v.zip(prev).map { case (a, b) => math.abs(a - b) }.sum
    val lambdaEst = (mx / BigInt("1000000000000")).toLong
    (1 to D).map(j => (j.toLong, v(j - 1), lambdaEst, drift, nVecs))
      .toDF("dim", "v_ppm", "lambda_est", "drift_ppm", "n_vecs")
      .orderBy(col("dim"))
  }

  val q274Sql: String = {
    // unrolled rounds; every CTE MATERIALIZED (the q269 lesson: plain
    // CTEs inline, and each round references e + the prior v).
    // v_i is seeded FROM v_{i-1} LEFT JOIN w_i — not FROM w_i — so an
    // EMPTY corpus degrades identically to the Scala path: w_i/mx_i
    // collapse to nothing/NULL, every v_i keeps the all-ones start
    // vector, and the oracle still emits the D-row report
    // (v_ppm = 1e6, n_vecs = 0, drift 0) instead of zero rows.
    val rounds = (1 to PowerRounds).map { i =>
      s"""dot_$i AS MATERIALIZED (
      SELECT e.vec_id, CAST(SUM(e.x * v.val) AS BIGINT) AS dot
      FROM e JOIN v_${i - 1} v ON v.pos = e.pos GROUP BY 1),
    w_$i AS MATERIALIZED (
      SELECT e.pos, SUM(CAST(d.dot AS HUGEINT) * e.x) AS w
      FROM e JOIN dot_$i d ON d.vec_id = e.vec_id GROUP BY 1),
    mx_$i AS MATERIALIZED (SELECT MAX(abs(w)) AS mx FROM w_$i),
    v_$i AS MATERIALIZED (
      SELECT p.pos, CASE WHEN mx IS NULL OR mx = 0 THEN p.val
        ELSE (CASE WHEN w.w < 0 THEN -1 ELSE 1 END)
          * CAST(abs(w.w) * 1000000 // mx AS BIGINT) END AS val
      FROM v_${i - 1} p LEFT JOIN w_$i w ON w.pos = p.pos
      CROSS JOIN mx_$i)"""
    }.mkString(",\n    ")
    s"""
    WITH q AS MATERIALIZED (SELECT vec_id, $sqlQa AS qa FROM embeddings),
    e AS MATERIALIZED (
      SELECT vec_id, unnest(qa) AS x,
        CAST(unnest(range(1, len(qa) + 1)) AS BIGINT) AS pos
      FROM q),
    v_0 AS MATERIALIZED (
      SELECT CAST(unnest(range(1, $D + 1)) AS BIGINT) AS pos,
        CAST(1000000 AS BIGINT) AS val),
    $rounds,
    nv AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs FROM q),
    drift AS (
      SELECT CAST(SUM(abs(a.val - b.val)) AS BIGINT) AS drift_ppm
      FROM v_$PowerRounds a JOIN v_${PowerRounds - 1} b ON a.pos = b.pos)
    SELECT a.pos AS dim, a.val AS v_ppm,
      CAST(COALESCE((SELECT mx FROM mx_$PowerRounds), 0)
        // 1000000000000 AS BIGINT) AS lambda_est,
      drift_ppm, n_vecs
    FROM v_$PowerRounds a CROSS JOIN nv CROSS JOIN drift
    ORDER BY dim"""
  }

  // ---- q290: embedding ingestion-drift monitor --------------------------
  // Does the embedding DISTRIBUTION move as the corpus grows? A training
  // pipeline appending shards over time needs to know when new data
  // stops looking like old data (encoder version bump, source mix
  // shift, silent preprocessing change) BEFORE it trains on the mix.
  // The corpus is cut into 8 ingestion octiles by vec_id span (the
  // q268 id-span bucketing — ingestion order is the id order) and each
  // adjacent pair is compared by the cosine of their CENTROID
  // directions — computed on the per-slice quantized SUM vectors, which
  // point the same way as the centroids (cosine is scale-invariant), so
  // no per-slice division ever happens.
  //
  // Exactness: per-dim slice sums are exact BIGINT (the q165/q243
  // element_at hash-aggregate — one row of D sums per slice, never
  // corpus × D exploded rows); dot and squared norms are exact
  // Decimal(38,0)/HUGEINT identities (≤ 64·(2e15)² ≈ 2.6e32 at a
  // billion vectors per slice — past the raw double seed's 3.6e31, so
  // the roots use the q272 Newton posture); the cosine resolves through
  // the q283 staged quotient with sign split and the |cos| ≤ 1 ppm
  // clamp. Scale shape: one scan, an 8-row aggregate, a 7-pair
  // consecutive join on a broadcast 8-row frame; output ≤ 7 rows.
  def q290EmbeddingDrift(s: SparkSession, d: String): DataFrame = {
    val base = Tables.embeddings(s, d).withColumn("qa", qaExpr)
    val span = base.agg(min(col("vec_id")).as("mn"),
      max(col("vec_id")).as("mx"))
    val sums = (0 until D).map(i =>
      sum(element_at(col("qa"), i + 1)).as(s"s$i"))
    val perSlice = base.crossJoin(broadcast(span))
      .withColumn("slice", expr(
        "cast((vec_id - mn) * 8 div (mx - mn + 1) as bigint)"))
      .groupBy(col("slice"))
      .agg(count(lit(1)).as("n"), sums: _*)
      .withColumn("sarr", array((0 until D).map(i => col(s"s$i")): _*))
      .select(col("slice"), col("n"), col("sarr"))
      .persist() // both sides of the consecutive-pair join read it
    val nxt = perSlice.select(col("slice").as("slice2"),
      col("n").as("n2"), col("sarr").as("sarr2"))
    val pairs = perSlice
      .join(broadcast(nxt), col("slice2") === col("slice") + 1)
      .withColumn("num", expr(
        "aggregate(zip_with(sarr, sarr2, (x, y) ->" +
          " cast(x as decimal(38,0)) * y)," +
          " cast(0 as decimal(38,0)), (acc, x) -> acc + x)"))
      .withColumn("va", expr(
        "aggregate(sarr, cast(0 as decimal(38,0))," +
          " (acc, x) -> acc + cast(x as decimal(38,0)) * x)"))
      .withColumn("vb", expr(
        "aggregate(sarr2, cast(0 as decimal(38,0))," +
          " (acc, x) -> acc + cast(x as decimal(38,0)) * x)"))
    val withRoots = Seq("va" -> "sa", "vb" -> "sb")
      .foldLeft(pairs) { case (df, (w2, p)) =>
        df.withColumn(s"${p}_s0", expr(
            s"cast(floor(sqrt(cast($w2 as double))) as decimal(38,0))"))
          .withColumn(s"${p}_s1", expr(
            s"case when ${p}_s0 <= 0 then ${p}_s0 else" +
              s" cast(($w2 div ${p}_s0 + ${p}_s0) div 2 as decimal(38,0))" +
              " end"))
          .withColumn(s"${p}_s2", expr(
            s"case when ${p}_s1 <= 0 then ${p}_s1 else" +
              s" cast(($w2 div ${p}_s1 + ${p}_s1) div 2 as decimal(38,0))" +
              " end"))
          .withColumn(p, expr(
            s"case when (${p}_s2 + 1) * (${p}_s2 + 1) <= $w2" +
              s" then ${p}_s2 + 1 when ${p}_s2 * ${p}_s2 > $w2" +
              s" then ${p}_s2 - 1 else ${p}_s2 end"))
      }
    withRoots
      .withColumn("cos_ppm", expr(
        """case when sa is null or sb is null or sa = 0 or sb = 0 then null
             when num >= 0 then
               least(1000000L, cast((cast(num div sa as decimal(38,0))
                 * 1000000 + (num % sa) * 1000000 div sa) div sb
                 as bigint))
             else
               -least(1000000L, cast((cast((-num) div sa as decimal(38,0))
                 * 1000000 + ((-num) % sa) * 1000000 div sa) div sb
                 as bigint))
           end"""))
      .withColumn("band",
        when(col("cos_ppm").isNull, "degenerate")
          .when(col("cos_ppm") >= 995000L, "stable")
          .when(col("cos_ppm") >= 950000L, "drifting")
          .otherwise("shifted"))
      .select(col("slice").as("from_slice"), col("n").as("n_prev"),
        col("n2").as("n_cur"), col("cos_ppm"), col("band"))
      .orderBy(col("from_slice"))
  }

  val q290Sql: String = {
    def isqrtCtes(w2: String, p: String, from: String, next: String) =
      s"""${p}0 AS (
      SELECT *, CAST(FLOOR(SQRT(CAST($w2 AS DOUBLE))) AS HUGEINT)
        AS ${p}_s0 FROM $from),
    ${p}1 AS (
      SELECT *, CASE WHEN ${p}_s0 <= 0 THEN ${p}_s0
        ELSE ($w2 // ${p}_s0 + ${p}_s0) // 2 END AS ${p}_s1 FROM ${p}0),
    ${p}2 AS (
      SELECT *, CASE WHEN ${p}_s1 <= 0 THEN ${p}_s1
        ELSE ($w2 // ${p}_s1 + ${p}_s1) // 2 END AS ${p}_s2 FROM ${p}1),
    $next AS (
      SELECT *, CASE WHEN (${p}_s2 + 1) * (${p}_s2 + 1) <= $w2
          THEN ${p}_s2 + 1
        WHEN ${p}_s2 * ${p}_s2 > $w2 THEN ${p}_s2 - 1
        ELSE ${p}_s2 END AS $p FROM ${p}2)"""
    s"""
    WITH q AS (SELECT vec_id, $sqlQa AS qa FROM embeddings),
    span AS (SELECT MIN(vec_id) AS mn, MAX(vec_id) AS mx FROM q),
    sliced AS (
      SELECT (vec_id - mn) * 8 // (mx - mn + 1) AS slice, qa
      FROM q CROSS JOIN span),
    dims AS (
      SELECT slice, i, CAST(SUM(qa[i]) AS HUGEINT) AS sv
      FROM sliced CROSS JOIN (SELECT unnest(range(1, $D + 1)) AS i) ds
      GROUP BY 1, 2),
    ns AS (SELECT slice, CAST(COUNT(*) AS BIGINT) AS n
           FROM sliced GROUP BY 1),
    norms AS (SELECT slice, SUM(sv * sv) AS w2 FROM dims GROUP BY 1),
    dots AS (
      SELECT a.slice AS sl, SUM(a.sv * b.sv) AS num
      FROM dims a JOIN dims b ON b.slice = a.slice + 1 AND b.i = a.i
      GROUP BY 1),
    base AS (
      SELECT sl, num, na.w2 AS va, nb.w2 AS vb,
        n1.n AS n_prev, n2.n AS n_cur
      FROM dots
      JOIN norms na ON na.slice = sl
      JOIN norms nb ON nb.slice = sl + 1
      JOIN ns n1 ON n1.slice = sl
      JOIN ns n2 ON n2.slice = sl + 1),
    ${isqrtCtes("va", "sa", "base", "wa")},
    ${isqrtCtes("vb", "sb", "wa", "wb")},
    fin AS (
      SELECT sl, n_prev, n_cur, CASE
          WHEN sa IS NULL OR sb IS NULL OR sa = 0 OR sb = 0 THEN NULL
          WHEN num >= 0 THEN
            LEAST(1000000, CAST(((num // sa) * 1000000
              + (num % sa) * 1000000 // sa) // sb AS BIGINT))
          ELSE
            -LEAST(1000000, CAST((((-num) // sa) * 1000000
              + ((-num) % sa) * 1000000 // sa) // sb AS BIGINT))
        END AS cos_ppm
      FROM wb)
    SELECT CAST(sl AS BIGINT) AS from_slice, n_prev, n_cur, cos_ppm,
      CASE WHEN cos_ppm IS NULL THEN 'degenerate'
        WHEN cos_ppm >= 995000 THEN 'stable'
        WHEN cos_ppm >= 950000 THEN 'drifting'
        ELSE 'shifted' END AS band
    FROM fin ORDER BY from_slice"""
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q290_embedding_drift" -> q290EmbeddingDrift _,
    "q274_power_iteration" -> q274PowerIteration _,
    "q227_assortativity"  -> q227Assortativity _,
    "q151_embedding_hygiene" -> q151EmbeddingHygiene _,
    "q165_class_separation" -> q165ClassSeparation _,
    "q243_dim_energy" -> q243DimEnergy _,
    "q35_knn_brute"       -> q35KnnBrute _,
    "q187_margin_audit"   -> q187MarginAudit _,
    "q188_label_agreement" -> q188LabelAgreement _,
    "q36_ann_lsh"         -> q36AnnLsh _,
    "q37_cosine_neardup"  -> q37CosineNeardup _,
    "q38_label_centroids" -> q38LabelCentroids _,
    "q47_ivf_ann"         -> q47IvfAnn _,
    "q61_kmeans_cells"    -> q61KmeansCells _,
    "q68_multiprobe_ann"  -> q68MultiprobeAnn _,
    "q79_pq_adc"          -> q79ProductQuantization _,
    "q80_ivfpq_ann"       -> q80IvfPq _,
    "q87_sparse_cosine"   -> q87SparseCosine _,
    "q104_ann_recall"     -> q104AnnRecall _,
    "q105_hard_negatives" -> q105HardNegatives _,
    "q108_semdedup"       -> q108SemDedup _,
    "q130_knn_graph"      -> q130KnnGraph _,
    "q171_hubness"        -> q171Hubness _,
    "q179_centroid_confusion" -> q179CentroidConfusion _,
    "q182_cell_balance"   -> q182CellBalance _,
    "q132_graph_rank"     -> q132GraphRank _,
    "q134_sem_decontam"   -> q134SemanticDecontam _,
    "q142_int8_quant"     -> q142Int8Quant _)

  val oracles: Map[String, String] = Map(
    "q290_embedding_drift" -> q290Sql,
    "q274_power_iteration" -> q274Sql,
    "q227_assortativity"  -> q227Sql,
    "q151_embedding_hygiene" -> q151Sql,
    "q165_class_separation" -> q165Sql,
    "q243_dim_energy" -> q243Sql,
    "q35_knn_brute"       -> q35Sql,
    "q187_margin_audit"   -> q187Sql,
    "q188_label_agreement" -> q188Sql,
    "q36_ann_lsh"         -> q36Sql,
    "q37_cosine_neardup"  -> q37Sql,
    "q38_label_centroids" -> q38Sql,
    "q47_ivf_ann"         -> q47Sql,
    "q61_kmeans_cells"    -> q61Sql,
    "q68_multiprobe_ann"  -> q68Sql,
    "q79_pq_adc"          -> q79Sql,
    "q80_ivfpq_ann"       -> q80Sql,
    "q87_sparse_cosine"   -> q87Sql,
    "q104_ann_recall"     -> q104Sql,
    "q105_hard_negatives" -> q105Sql,
    "q108_semdedup"       -> q108Sql,
    "q130_knn_graph"      -> q130Sql,
    "q171_hubness"        -> q171Sql,
    "q179_centroid_confusion" -> q179Sql,
    "q182_cell_balance"   -> q182Sql,
    "q132_graph_rank"     -> q132Sql,
    "q134_sem_decontam"   -> q134Sql,
    "q142_int8_quant"     -> q142Sql)
}
