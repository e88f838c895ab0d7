package graft

import java.io.File
import java.util.concurrent.atomic.AtomicInteger

import scala.util.Try

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class RagIndexJobSpec extends AnyFunSuite {
  import SparkTestSession._

  private lazy val root = {
    val dir = java.nio.file.Files.createTempDirectory("rag-index").toString
    RagIndexJob.build(spark, sf, dir) -> dir
  }

  test("build dedups the chunk lattice into one canonical index artifact") {
    val ((n, u, p), dir) = root
    assert(n > 0 && u > 0 && u <= n)
    assert(p >= 4 && p <= 24)
    val index = spark.read.parquet(s"$dir/index.parquet")
    assert(index.count() == u)
    // one canonical row per fingerprint, and it is the lexicographic-min
    // survivor: no lattice chunk with the same md5 sorts before it
    assert(index.select("chunk_md5").distinct().count() == u)
    val lattice = ops.CurationOps.q145DocChunks(spark, sf)
    val earlier = lattice.as("l")
      .join(index.as("c"), col("l.chunk_md5") === col("c.chunk_md5") &&
        struct(col("l.doc_id"), col("l.chunk_idx")) <
          struct(col("c.doc_id"), col("c.chunk_idx")))
    assert(earlier.count() == 0)
  }

  private def digest(dir: String): String =
    spark.read.parquet(s"$dir/index.parquet")
      .select(col("doc_id"), col("chunk_idx"), col("bucket"),
        md5(to_json(struct(col("qa")))).as("h"))
      .orderBy(col("doc_id"), col("chunk_idx"))
      .agg(md5(concat_ws(",",
        collect_list(concat_ws(":", col("doc_id"), col("chunk_idx"),
          col("bucket"), col("h"))))).as("d"))
      .collect()(0).getString(0)

  test("rebuild is byte-deterministic (stateless idempotence)") {
    val (_, dir) = root
    val before = digest(dir)
    RagIndexJob.build(spark, sf, dir)
    assert(digest(dir) == before)
  }

  test("update is an O(batch) idempotent firing against the index ledger") {
    val (counts, dir) = root
    // re-feeding the whole indexed corpus appends nothing
    assert(RagIndexJob.update(spark, sf, dir) == 0L)
    // a genuinely new document appends exactly its chunk lattice and is
    // immediately servable
    import spark.implicits._
    val batch = java.nio.file.Files.createTempDirectory("rag-batch").toString
    val novelText = ("zxqvy wubble frotz" * 1) +
      (1 to 40).map(i => s" novelterm$i").mkString
    Seq((900001L, novelText, "en", "srcX", novelText.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$batch/documents.parquet")
    val appended = RagIndexJob.update(spark, batch, dir)
    val expect = ops.CurationOps.q145DocChunks(spark, batch).count()
    assert(appended == expect && appended >= 2)
    // the firing is idempotent: a rerun of the same batch appends zero
    assert(RagIndexJob.update(spark, batch, dir) == 0L)
    val index = spark.read.parquet(s"$dir/index.parquet")
    assert(index.count() == counts._2 + appended)
    // serve the appended content
    val probe = index.filter(col("doc_id") === 900001L)
      .orderBy(col("chunk_idx")).collect()(0)
    val hits = RagIndexJob.lookup(spark, dir,
      probe.getAs[String]("chunk_text"), 3).collect()
    assert(hits(0).getAs[Long]("doc_id") == 900001L &&
      hits(0).getAs[Long]("chunk_idx") ==
        probe.getAs[Long]("chunk_idx"))
  }

  test("lookup self-retrieves an indexed chunk as top-1 through the bucket slice") {
    val (_, dir) = root
    // query an indexed chunk's exact text: the byte-fold embeds it
    // identically, the same planes bucket it identically, so the pruned
    // slice must contain it and cosine = 1 must rank it first
    val probe = spark.read.parquet(s"$dir/index.parquet")
      .orderBy(col("doc_id"), col("chunk_idx"))
      .filter(col("n_toks") >= 8).limit(50).collect()(25)
    val hits = RagIndexJob.lookup(spark, dir,
      probe.getAs[String]("chunk_text"), 5).collect()
    assert(hits.nonEmpty)
    assert(hits(0).getAs[Long]("doc_id") == probe.getAs[Long]("doc_id") &&
      hits(0).getAs[Long]("chunk_idx") == probe.getAs[Long]("chunk_idx"),
      s"self-retrieval missed: ${hits.mkString(";")}")
    assert(math.abs(hits(0).getAs[Double]("cosine") - 1.0) < 1e-12)
    assert(hits(0).getAs[String]("chunk_text") ==
      probe.getAs[String]("chunk_text"))
  }

  test("multi-probe widens the slice monotonically and keeps self-retrieval") {
    val (_, dir) = root
    val probe = spark.read.parquet(s"$dir/index.parquet")
      .orderBy(col("doc_id"), col("chunk_idx"))
      .filter(col("n_toks") >= 8).limit(50).collect()(30)
    val q = probe.getAs[String]("chunk_text")
    val single = RagIndexJob.lookup(spark, dir, q, 3).collect()
    val multi = RagIndexJob.lookup(spark, dir, q, 3,
      multiProbe = true).collect()
    // the self bucket is always probed, so the exact hit survives, and
    // widening the candidate slice can only improve (or tie) the
    // best-runner-up cosine
    assert(multi(0).getAs[Long]("doc_id") == single(0).getAs[Long]("doc_id")
      && multi(0).getAs[Long]("chunk_idx") ==
        single(0).getAs[Long]("chunk_idx"))
    if (single.length > 1 && multi.length > 1)
      assert(multi(1).getAs[Double]("cosine") >=
        single(1).getAs[Double]("cosine") - 1e-15)
    assert(multi.length >= single.length)
  }

  test("compact after N updates: identical lookups, file count restored, pruning kept") {
    import spark.implicits._
    // a private copy of the index so the shared `root` fixture stays
    // untouched for the other tests
    val dir = java.nio.file.Files.createTempDirectory("rag-compact").toString
    RagIndexJob.build(spark, sf, dir)
    val baseFiles = RagIndexJob.indexDataFiles(spark, dir)
    // N firings, each with novel content -> append debt accumulates
    (1 to 3).foreach { b =>
      val batch =
        java.nio.file.Files.createTempDirectory(s"rag-cbatch$b").toString
      val txt = (1 to 40).map(i => s"compactbatch${b}term$i").mkString(" ")
      Seq((910000L + b, txt, "en", "srcC", txt.length.toLong))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.parquet(s"$batch/documents.parquet")
      assert(RagIndexJob.update(spark, batch, dir) > 0L)
    }
    val fragmented = RagIndexJob.indexDataFiles(spark, dir)
    assert(fragmented > baseFiles, s"updates added no files ($fragmented)")
    // freeze lookup results + full index content before compaction
    val q1 = spark.read.parquet(s"$dir/index.parquet")
      .filter(col("doc_id") === 910001L).orderBy(col("chunk_idx"))
      .collect()(0).getAs[String]("chunk_text")
    val hitsBefore = RagIndexJob.lookup(spark, dir, q1, 5).collect().toSeq
    val contentBefore = digest(dir)
    val (before, after) = RagIndexJob.compact(spark, dir)
    assert(before == fragmented && after <= 8 && after < before,
      s"compact $before->$after")
    // byte-identical serving: same rows, same order, same cosines
    assert(digest(dir) == contentBefore)
    assert(RagIndexJob.lookup(spark, dir, q1, 5).collect().toSeq ==
      hitsBefore)
    // the compacted layout still prunes: bucket filter reaches the scan
    val plan = spark.read.parquet(s"$dir/index.parquet")
      .filter(col("bucket") === 7L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("bucket"))
    // compaction is idempotent: second call is a no-op
    assert(RagIndexJob.compact(spark, dir) == (after, after))
  }

  test("retunePlanes re-buckets from the index's own vectors when the corpus outgrows the pin") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("rag-retune").toString
    val (_, u0, p0) = RagIndexJob.build(spark, sf, dir)
    def manifestPlanes(): Int = spark.read.parquet(s"$dir/manifest.parquet")
      .collect()(0).getAs[Int]("planes")
    // freshly built: tuned and laid out, nothing to maintain
    assert(RagIndexJob.maintain(spark, dir) == "noop")
    assert(manifestPlanes() == p0)
    // grow the corpus past the next power-of-two bucket-count boundary:
    // planesFor(n) = clamped ceil(log2(ceil(n/32))), so from u0≈1350
    // (p=6) the pin drifts once unique chunks exceed 2048 — 600 novel
    // 40-token docs add ~1200 unique chunks (2 lattice windows each)
    val batch = java.nio.file.Files.createTempDirectory("rag-grow").toString
    val docs = (1 to 600).map { d =>
      val txt = (1 to 40).map(i => s"growterm${d}x$i").mkString(" ")
      (920000L + d, txt, "en", "srcG", txt.length.toLong)
    }
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$batch/documents.parquet")
    assert(RagIndexJob.update(spark, batch, dir) > 0L)
    val probe = spark.read.parquet(s"$dir/index.parquet")
      .filter(col("doc_id") === 920005L).orderBy(col("chunk_idx"))
      .collect()(0).getAs[String]("chunk_text")
    val retuned = RagIndexJob.maintain(spark, dir)
    assert(retuned.startsWith("retuned:"),
      s"planes did not drift (u0=$u0, p0=$p0): $retuned")
    val p = retuned.stripPrefix("retuned:").toInt
    assert(p != p0)
    assert(manifestPlanes() == p)
    // manifest and index moved together: the new planes serve correctly
    val hits = RagIndexJob.lookup(spark, dir, probe, 3).collect()
    assert(hits(0).getAs[Long]("doc_id") == 920005L)
    assert(math.abs(hits(0).getAs[Double]("cosine") - 1.0) < 1e-12)
    // a retune also restores the global layout
    assert(RagIndexJob.indexDataFiles(spark, dir) <= 8)
    // second maintain call: nothing left to do
    assert(RagIndexJob.maintain(spark, dir) == "noop")
  }

  test("the serve scan pushes the bucket filter into the parquet source") {
    val (_, dir) = root
    val plan = spark.read.parquet(s"$dir/index.parquet")
      .filter(col("bucket") === 7L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("bucket"),
      s"bucket filter not pushed to the index scan:\n$plan")
  }

  /** A lookup as one Spark plan: read the manifest, bucket the query on a
    * 1-row frame with `bucketExpr`, scan the probed buckets' slice and
    * rank there. The reference the in-memory lookup must equal. */
  private def referenceLookup(dir: String, queryText: String, k: Int,
      multiProbe: Boolean): DataFrame = {
    import spark.implicits._
    val planes = spark.read.parquet(s"$dir/manifest.parquet")
      .collect()(0).getAs[Int]("planes")
    val qa = RagIndexJob.foldBytes(queryText.getBytes("UTF-8"))
    val qBucket = Seq(Tuple1(qa)).toDF("qa")
      .select(ops.SimOps.bucketExpr(planes).as("b")).collect()(0).getLong(0)
    val qNorm = qa.foldLeft(0d)((s, v) => s + v.toDouble * v.toDouble)
    // an all-zero query vector has no direction: no bucket is probed
    val probed: Seq[Long] =
      if (qNorm == 0d) Nil
      else if (multiProbe)
        qBucket +: (0 until planes).map(p => qBucket ^ (1L << p))
      else Seq(qBucket)
    spark.read.parquet(s"$dir/index.parquet")
      .filter(col("bucket").isin(probed: _*))
      .withColumn("dot",
        aggregate(zip_with(col("qa"), lit(qa), (x, w) => x * w),
          lit(0L), (acc, t) => acc + t))
      .withColumn("nq",
        aggregate(transform(col("qa"), x => x * x), lit(0L),
          (acc, t) => acc + t))
      .withColumn("cosine",
        col("dot").cast("double") /
          sqrt(col("nq").cast("double") * lit(qNorm)))
      .orderBy(col("cosine").desc, col("doc_id").asc, col("chunk_idx").asc)
      .limit(k)
      .select(col("doc_id"), col("chunk_idx"), col("bucket"),
        col("cosine"), col("chunk_text"))
  }

  /** Exact chunk texts spread over the index (md5 order mixes old and
    * new documents), each also with its first word replaced, plus
    * out-of-corpus texts and the empty query. */
  private def probeQueries(dir: String): Seq[String] = {
    val exact = spark.read.parquet(s"$dir/index.parquet")
      .filter(col("n_toks") >= 8).orderBy(col("chunk_md5")).limit(6)
      .collect().map(_.getAs[String]("chunk_text")).toSeq
    exact ++ exact.map(_.replaceFirst("^\\S+", "zyzzyva")) ++
      Seq("w17 w404 w931 quokka lattice", "qqqq", "")
  }

  /** Rows (or the arithmetic error) of one lookup. */
  private def outcome(df: => DataFrame): Either[String, Seq[Row]] =
    Try(df.collect().toSeq).toEither.left.map {
      case _: ArithmeticException => "ArithmeticException"
      case e => throw e
    }

  private def assertServesLikeReference(dir: String, state: String): Unit = {
    val served = for (q <- probeQueries(dir); mp <- Seq(false, true)) yield {
      val want = outcome(referenceLookup(dir, q, 10, mp))
      val got = outcome(RagIndexJob.lookup(spark, dir, q, 10, mp))
      assert(got == want, s"$state: query '$q' multiProbe=$mp")
      if (want.isRight) {
        def cols(df: DataFrame) = df.schema.map(f => f.name -> f.dataType)
        assert(cols(RagIndexJob.lookup(spark, dir, q, 10, mp)) ==
          cols(referenceLookup(dir, q, 10, mp)), state)
      }
      want.exists(_.nonEmpty)
    }
    // at least every exact query, single- and multi-probe, found rows
    assert(served.count(identity) >= 12, state)
  }

  private def writeDocs(docs: Seq[(Long, String)]): String = {
    import spark.implicits._
    val batch = java.nio.file.Files.createTempDirectory("rag-docs").toString
    docs.map { case (id, t) => (id, t, "en", "srcS", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$batch/documents.parquet")
    batch
  }

  test("lookup serves what the Spark lookup plan returns after build, update, compact and retune") {
    val dir = java.nio.file.Files.createTempDirectory("rag-equiv").toString
    val (_, _, p0) = RagIndexJob.build(spark, sf, dir)
    assertServesLikeReference(dir, "build")
    // 600 novel documents: append debt past the compaction threshold and
    // enough growth to drift the pinned plane count
    val grow = writeDocs((1 to 600).map { d =>
      (930000L + d, (1 to 40).map(i => s"equivterm${d}x$i").mkString(" "))
    })
    assert(RagIndexJob.update(spark, grow, dir) > 0L)
    assertServesLikeReference(dir, "update")
    val (before, after) = RagIndexJob.compact(spark, dir)
    assert(after < before, s"compact $before->$after")
    assertServesLikeReference(dir, "compact")
    assert(RagIndexJob.retunePlanes(spark, dir).exists(_ != p0))
    assertServesLikeReference(dir, "retune")
    // the empty query's zero vector returns no rows, single- and
    // multi-probe
    for (mp <- Seq(false, true))
      assert(outcome(RagIndexJob.lookup(spark, dir, "", 10, mp)) ==
        Right(Seq.empty))
  }

  test("bucketOf equals the bucket column bucketExpr wrote, row for row") {
    val (_, dir) = root
    val planes = spark.read.parquet(s"$dir/manifest.parquet")
      .collect()(0).getAs[Int]("planes")
    val weights = (0 until planes).map(ops.SimOps.planeWeights)
    val rows = spark.read.parquet(s"$dir/index.parquet")
      .select("qa", "bucket").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(ops.SimOps.bucketOf(r.getSeq[Long](0).toArray, weights) ==
        r.getLong(1))
    }
    // a vector of the wrong length: zip_with pads with NULL, every bit is 0
    import spark.implicits._
    val short = Array(5L, -3L, 7L)
    assert(Seq(Tuple1(short)).toDF("qa")
      .select(ops.SimOps.bucketExpr(planes)).collect()(0).getLong(0) == 0L)
    assert(ops.SimOps.bucketOf(short, weights) == 0L)
  }

  test("a repeated lookup runs no Spark job; the first after an update runs only the reload") {
    val dir = java.nio.file.Files.createTempDirectory("rag-jobs").toString
    RagIndexJob.build(spark, sf, dir)
    val q = spark.read.parquet(s"$dir/index.parquet")
      .filter(col("n_toks") >= 8).orderBy(col("chunk_md5"))
      .collect()(3).getAs[String]("chunk_text")
    val sc = spark.sparkContext
    val group = "rag-index-job-spec-lookup"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    def jobsOf(f: => Unit): Int = {
      ListenerBusDrain(sc)
      jobs.set(0)
      sc.setJobGroup(group, "lookup")
      try f finally sc.clearJobGroup()
      ListenerBusDrain(sc)
      jobs.get
    }
    sc.addSparkListener(listener)
    try {
      RagIndexJob.clearSnapshots()
      val reload = jobsOf(RagIndexJob.lookup(spark, dir, q, 10).collect())
      assert(reload > 0)
      assert(jobsOf(RagIndexJob.lookup(spark, dir, q, 10).collect()) == 0)
      assert(jobsOf(RagIndexJob.lookup(spark, dir, "qqqq", 10,
        multiProbe = true).collect()) == 0)
      assert(jobsOf(RagIndexJob.lookup(spark, dir, "", 10).collect()) == 0)
      val batch = writeDocs(Seq(940001L ->
        (1 to 40).map(i => s"jobsterm$i").mkString(" ")))
      assert(RagIndexJob.update(spark, batch, dir) > 0L)
      assert(jobsOf(RagIndexJob.lookup(spark, dir, q, 10).collect()) == reload)
      assert(jobsOf(RagIndexJob.lookup(spark, dir, q, 10).collect()) == 0)
    } finally sc.removeSparkListener(listener)
  }

  test("a lookup between a swap's renames serves its snapshot and repairs nothing") {
    val dir = java.nio.file.Files.createTempDirectory("rag-swap").toString
    RagIndexJob.build(spark, sf, dir)
    val q = spark.read.parquet(s"$dir/index.parquet")
      .filter(col("n_toks") >= 8).orderBy(col("chunk_md5"))
      .collect()(5).getAs[String]("chunk_text")
    val warm = RagIndexJob.lookup(spark, dir, q, 5).collect().toSeq
    assert(warm.nonEmpty)
    // the state swapDir leaves between moving live aside and publishing
    val live = new File(dir)
    val prev = new File(dir + "__prev")
    assert(live.renameTo(prev))
    assert(RagIndexJob.lookup(spark, dir, q, 5).collect().toSeq == warm)
    assert(!live.exists && prev.exists)
    // with nothing loaded, the lookup fails and still moves nothing
    RagIndexJob.clearSnapshots()
    val e = intercept[IllegalStateException](
      RagIndexJob.lookup(spark, dir, q, 5))
    assert(e.getMessage.contains("no live index"))
    assert(!live.exists && prev.exists)
    // the writer's maintenance recovers the root, and lookups serve again
    assert(RagIndexJob.maintain(spark, dir) == "noop")
    assert(live.exists && !prev.exists)
    assert(RagIndexJob.lookup(spark, dir, q, 5).collect().toSeq == warm)
  }
}
