package graft

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import org.apache.hadoop.fs.{FileStatus, Path}

import ops.{CurationOps, PartitionSwap, SimOps}

/** End-to-end retrieval-index job: it turns the corpus into a
  * chunk-level ANN index an embedding-retrieval (RAG) service reads.
  *
  * Build (`runMain graft.RagIndexJob build <sfDir> <indexRoot>`):
  *
  *   1. chunking — the q145 token-window lattice (width 32 / stride 24,
  *      case-preserving), via [[CurationOps.docChunks]];
  *   2. chunk-level exact dedup — one canonical chunk per `chunk_md5`,
  *      the lexicographic-min (doc_id, chunk_idx) survivor (the
  *      overlapping lattice makes intra-doc duplicates common and
  *      boilerplate makes cross-doc ones common; indexing them all
  *      wastes index space and returns redundant hits);
  *   3. stub chunk encoder — UTF-8 byte-fold into a Dim-length integer
  *      vector ([[ops.Multimodal.embedStub]]'s text twin: the real
  *      encoder is the sandbox-stubbed model, the PLUMBING — schema,
  *      partition-batched map, fixed-dim vector column — is the real
  *      thing and swaps for a model server call without plan changes);
  *   4. LSH bucketing — the SAME corpus-size-derived sign-random-
  *      projection the ANN operators use ([[SimOps.planesFor]] /
  *      `bucketExpr`), so bucket balance carries over;
  *   5. one index artifact — `index.parquet` (md5, ids, text, vector,
  *      bucket) range-partitioned and sorted by bucket, so a `bucket = q`
  *      filter prunes files and row groups by parquet min/max stats
  *      instead of scanning the index. At cluster scale this layout is
  *      `bucketBy` into the catalog; a 1-row `manifest.parquet` pins the
  *      plane count so neither lookups nor updates re-derive corpus
  *      statistics.
  *
  * Incremental ingest ([[update]]): chunk the new batch, canonicalize
  * within it, LEFT-ANTI probe the index's md5 ledger, and append only
  * novel chunks bucketed under the MANIFEST's pinned planes — O(batch)
  * writes per firing, with the index itself as the ledger. Because the
  * ledger and the serve artifact are ONE file set written by ONE job
  * commit, a crashed firing leaves no partial state and a rerun appends zero
  * rows (idempotent). Appended file sets are bucket-sorted internally;
  * [[compact]] merges them back into the single global bucket-sorted
  * layout when append debt accumulates (each appended set adds files
  * every probed bucket must touch — serve-side pruning degrades
  * linearly in firings until compaction restores it), and
  * [[retunePlanes]] re-buckets the index from its own stored vectors
  * when the grown corpus has drifted past the manifest's pinned plane
  * count. Both publish through [[ops.PartitionSwap.swapDir]] — the
  * index and its manifest move as ONE directory swap, so no crash
  * point can ever pair a new index with an old manifest (which would
  * silently mis-bucket every lookup). [[maintain]] is the scheduled
  * wrapper: retune if drifted (a retune also restores the layout),
  * else compact if fragmented, else no-op.
  *
  * Serve path ([[lookup]]): a lookup serves from an in-memory snapshot of
  * the index version it finds live — the manifest's plane weights and
  * each bucket's chunks, read once per version. A version is named by
  * the listing of the live `index.parquet` (file names, lengths and
  * mtimes); every publish writes part files under new names, so a lookup
  * lists that dir once and, while the listing is unchanged, runs no
  * Spark job at all. The query is embedded with the same stub, bucketed
  * with [[SimOps.bucketOf]] (the in-process twin of `bucketExpr`), and
  * its bucket's candidates are re-ranked by exact integer-dot cosine;
  * the top k come back with their chunk text as a local `DataFrame`.
  * O(bucket) work per query. Readers never repair the root: while the
  * live dir is missing (a swap between its renames, or a crash there)
  * the loaded version keeps serving, and only writers recover.
  *
  * Determinism: every stage is a pure function of the corpus bytes, so
  * a rebuild rewrites byte-identical artifacts (spec-pinned).
  */
object RagIndexJob {

  private[graft] val Dim = 64

  private[graft] def foldBytes(bytes: Array[Byte]): Array[Long] = {
    val acc = new Array[Long](Dim)
    var i = 0
    while (i < bytes.length) { acc(i % Dim) += (bytes(i) & 0xff).toLong; i += 1 }
    acc
  }

  /** Canonical survivor per fingerprint: struct min = lexicographic-min
    * (doc_id, chunk_idx) — deterministic under any partitioning. */
  private def canonicalChunks(chunks: DataFrame): DataFrame =
    chunks
      .groupBy(col("chunk_md5"))
      .agg(min(struct(col("doc_id"), col("chunk_idx"), col("n_toks"),
        col("chunk_text"))).as("r"))
      .select(col("chunk_md5"), col("r.doc_id").as("doc_id"),
        col("r.chunk_idx").as("chunk_idx"), col("r.n_toks").as("n_toks"),
        col("r.chunk_text").as("chunk_text"))

  /** Deterministic integer chunk vectors (column `qa`, [[SimOps]]'s
    * quantized-vector convention), carried alongside the chunk row.
    *
    * Partition-batched, [[ops.Multimodal.embedStub]]'s shape: one
    * encoder context per task, rows encoded in fixed-size batches — the
    * contract a real model-server call has (per-batch forward pass, not
    * per-row round trips through the row encoders). Swapping the stub
    * for an RPC changes only the body of the `grouped` block. */
  private val EncodeBatch = 64

  private[graft] def encodeChunks(chunks: DataFrame): DataFrame = {
    import chunks.sparkSession.implicits._
    chunks.select(col("chunk_md5"), col("doc_id"), col("chunk_idx"),
        col("n_toks"), col("chunk_text"))
      .as[(String, Long, Long, Long, String)]
      .mapPartitions { rows =>
        // one "encoder" per task; each grouped(..) slice models one
        // batched forward pass over EncodeBatch chunk texts
        rows.grouped(EncodeBatch).flatMap { batch =>
          batch.map { case (md5v, docId, ci, nt, txt) =>
            (md5v, docId, ci, nt, txt, foldBytes(
              txt.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
          }
        }
      }
      .toDF("chunk_md5", "doc_id", "chunk_idx", "n_toks", "chunk_text",
        "qa")
  }

  /** Files in the global bucket-sorted layout that build, compaction and
    * retune write; more live files than this is append debt. */
  private val LayoutFiles = 8

  private def writeSlice(indexed: DataFrame, indexRoot: String,
      mode: String, files: Int): Unit =
    indexed.repartitionByRange(files, col("bucket"))
      .sortWithinPartitions(col("bucket"))
      .write.mode(mode).parquet(s"$indexRoot/index.parquet")

  private def rootFs(spark: SparkSession, indexRoot: String) =
    new Path(indexRoot)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Heal any maintenance swap a crash left half-done; every writer calls
    * this first. */
  private def recoverRoot(spark: SparkSession, indexRoot: String): Unit =
    PartitionSwap.recoverDir(rootFs(spark, indexRoot), new Path(indexRoot))

  /** Data files of the live index artifact, or None while its dir is
    * missing (no build yet, or a swap between its two renames). */
  private def liveFiles(spark: SparkSession, indexRoot: String)
      : Option[Seq[FileStatus]] =
    try Some(rootFs(spark, indexRoot)
      .listStatus(new Path(s"$indexRoot/index.parquet")).toSeq
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_") &&
        !f.getPath.getName.startsWith(".")))
    catch { case _: java.io.FileNotFoundException => None }

  /** Data files currently under the index artifact (append debt =
    * anything beyond the build's global layout). */
  private[graft] def indexDataFiles(spark: SparkSession,
      indexRoot: String): Int =
    liveFiles(spark, indexRoot).fold(0)(_.size)

  private def manifestPlanes(spark: SparkSession, indexRoot: String): Int =
    spark.read.parquet(s"$indexRoot/manifest.parquet")
      .collect()(0).getAs[Int]("planes")

  /** Stage `index` (+ a fresh manifest pinning `planes`) as a sibling
    * root and swap it in whole — the index and manifest change together
    * or not at all. */
  private def publishRoot(spark: SparkSession, indexRoot: String,
      index: DataFrame, planes: Int): Unit = {
    import spark.implicits._
    val fs = rootFs(spark, indexRoot)
    val staging = new Path(indexRoot + "__staging")
    fs.delete(staging, true)
    writeSlice(index, staging.toString, "overwrite", LayoutFiles)
    Seq((planes, Dim)).toDF("planes", "dim")
      .write.mode("overwrite").parquet(s"$staging/manifest.parquet")
    PartitionSwap.swapDir(fs, staging, new Path(indexRoot))
  }

  /** Compaction: merge the appended file sets back into the single
    * global bucket-sorted layout the build wrote, restoring serve-side
    * file/row-group pruning (each append made every probed bucket touch
    * one more file set). One bucket-range shuffle of the index — the
    * scheduled companion job, run between (never during) update
    * firings. Returns (files before, files after); a no-op until the
    * index holds more than `LayoutFiles` files. */
  def compact(spark: SparkSession, indexRoot: String): (Int, Int) = {
    recoverRoot(spark, indexRoot)
    val before = indexDataFiles(spark, indexRoot)
    if (before <= LayoutFiles) return (before, before)
    publishRoot(spark, indexRoot,
      spark.read.parquet(s"$indexRoot/index.parquet"),
      manifestPlanes(spark, indexRoot))
    (before, indexDataFiles(spark, indexRoot))
  }

  /** Re-tune the plane count to the grown corpus WITHOUT the source
    * documents: the index stores every chunk's vector, so re-bucketing
    * is one scan of the index itself (re-chunking and re-encoding 100 TB
    * of source text would be the expensive path; this is O(index)).
    * Stale planes leave each bucket ~2× the target rows per missing
    * plane, degrading lookup cost, while too many planes starve buckets
    * and hurt recall. Returns the new plane count, or None if already
    * tuned. */
  def retunePlanes(spark: SparkSession, indexRoot: String)
      : Option[Int] = {
    recoverRoot(spark, indexRoot)
    val idx = spark.read.parquet(s"$indexRoot/index.parquet")
    val target = SimOps.planesFor(idx.count())
    if (target == manifestPlanes(spark, indexRoot)) None
    else {
      publishRoot(spark, indexRoot,
        idx.drop("bucket")
          .withColumn("bucket", SimOps.bucketExpr(target)),
        target)
      Some(target)
    }
  }

  /** Scheduled maintenance policy: retune if the plane count drifted (a
    * retune rewrites the global layout, subsuming compaction), else
    * compact if append debt accumulated, else nothing. Returns what it
    * did: `retuned:<planes>`, `compacted:<before>-><after>` or `noop`. */
  def maintain(spark: SparkSession, indexRoot: String): String =
    retunePlanes(spark, indexRoot) match {
      case Some(p) => s"retuned:$p"
      case None =>
        val (before, after) = compact(spark, indexRoot)
        if (after < before) s"compacted:$before->$after" else "noop"
    }

  /** Builds the index artifacts; returns (total chunks, unique chunks,
    * planes). */
  def build(spark: SparkSession, sfDir: String, indexRoot: String)
      : (Long, Long, Int) = {
    import spark.implicits._
    recoverRoot(spark, indexRoot)
    val chunks = CurationOps.docChunks(spark, sfDir).persist()
    val nChunks = chunks.count()
    val unique = canonicalChunks(chunks).persist()
    val nUnique = unique.count()
    chunks.unpersist()
    val planes = SimOps.planesFor(nUnique)
    writeSlice(
      encodeChunks(unique).withColumn("bucket", SimOps.bucketExpr(planes)),
      indexRoot, "overwrite", LayoutFiles)
    unique.unpersist()
    Seq((planes, Dim)).toDF("planes", "dim")
      .write.mode("overwrite").parquet(s"$indexRoot/manifest.parquet")
    (nChunks, nUnique, planes)
  }

  /** Incremental firing: index every chunk of `batchDir`'s documents not
    * already in the ledger. Returns the number of appended chunks. */
  def update(spark: SparkSession, batchDir: String, indexRoot: String)
      : Long = {
    recoverRoot(spark, indexRoot)
    val planes = manifestPlanes(spark, indexRoot)
    val ledger = spark.read.parquet(s"$indexRoot/index.parquet")
      .select(col("chunk_md5"))
    val novel = canonicalChunks(CurationOps.docChunks(spark, batchDir))
      .join(ledger, Seq("chunk_md5"), "left_anti")
      .persist()
    val n = novel.count()
    if (n > 0)
      writeSlice(
        encodeChunks(novel).withColumn("bucket", SimOps.bucketExpr(planes)),
        indexRoot, "append", files = 2)
    novel.unpersist()
    n
  }

  /** One indexed chunk as a lookup ranks it; `nq` is its squared norm. */
  private final case class Chunk(docId: Long, chunkIdx: Long,
      qa: Array[Long], nq: Long, text: String)

  /** One index version in memory: the manifest's plane weights and each
    * bucket's chunks. `key` is the listing it was read from. */
  private final class Snapshot(val key: Seq[(String, Long, Long)],
      val planes: IndexedSeq[Array[Long]], val buckets: Map[Long, Array[Chunk]])

  /** At most one snapshot per index root. */
  private val snapshots = new ConcurrentHashMap[String, Snapshot]()

  /** Drops every snapshot, so each root's next lookup reloads. */
  private[graft] def clearSnapshots(): Unit = snapshots.clear()

  private def keyOf(files: Seq[FileStatus]): Seq[(String, Long, Long)] =
    files.map(f => (f.getPath.getName, f.getLen, f.getModificationTime))
      .sorted

  /** Reads the manifest, then exactly the listed files. A swap in between
    * removes those files, so the read fails instead of pairing a new
    * manifest with an old index. */
  private def load(spark: SparkSession, indexRoot: String,
      files: Seq[FileStatus]): Snapshot = {
    val planes =
      (0 until manifestPlanes(spark, indexRoot)).map(SimOps.planeWeights)
    val chunks = spark.read.parquet(files.map(_.getPath.toString): _*)
      .select("bucket", "doc_id", "chunk_idx", "qa", "chunk_text")
      .collect().map { r =>
        val qa = r.getSeq[Long](3).toArray
        r.getLong(0) -> Chunk(r.getLong(1), r.getLong(2), qa,
          SimOps.dotExact(qa, qa), r.getString(4))
      }
    new Snapshot(keyOf(files), planes, chunks.groupMap(_._1)(_._2))
  }

  /** The snapshot of the live version: from memory while the listing is
    * unchanged, else loaded once however many lookups ask for it at the
    * same time. With the live dir missing, the cached version serves;
    * with none cached, the lookup fails and moves nothing. */
  private def snapshot(spark: SparkSession, indexRoot: String): Snapshot =
    liveFiles(spark, indexRoot) match {
      case None => Option(snapshots.get(indexRoot)).getOrElse(
        throw new IllegalStateException(s"no live index at $indexRoot and " +
          "none loaded; if a maintenance swap was cut short, maintain " +
          "recovers it"))
      case Some(files) =>
        val key = keyOf(files)
        val cur = snapshots.get(indexRoot)
        if (cur != null && cur.key == key) cur
        else snapshots.compute(indexRoot, (_: String, c: Snapshot) =>
          if (c != null && c.key == key) c else load(spark, indexRoot, files))
    }

  private val HitSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("chunk_idx", LongType),
    StructField("bucket", LongType), StructField("cosine", DoubleType),
    StructField("chunk_text", StringType)))

  /** Cosine descending as Spark orders doubles (NaN equals NaN and sorts
    * above every number), then doc_id, then chunk_idx. */
  private val HitOrder: Ordering[(Double, Long, Long)] = Ordering.Tuple3(
    Ordering.fromLessThan[Double]((a, b) =>
      a != b && java.lang.Double.compare(a, b) > 0),
    Ordering.Long, Ordering.Long)

  /** Serve path: top-k unique chunks for a query string, from the live
    * version's snapshot (no Spark job while the index is unchanged).
    * Candidates are the query bucket's chunks, re-ranked by exact cosine
    * over the integer vectors; ties break on (doc_id, chunk_idx) for a
    * total order. `multiProbe` widens the candidates to every
    * single-bit-flip neighbor bucket (the q68 trick: a near-identical
    * chunk whose vector sits on the wrong side of ONE near-zero
    * hyperplane lands one Hamming bit away) — planes+1 buckets instead of
    * one, still never the whole index.
    *
    * The arithmetic is what the Spark plan `bucketExpr` + cosine would
    * run under ANSI mode (the session default): long dot and norms that
    * throw on overflow, the norm product in double (both squared norms
    * can reach ~1e10, so their long product could overflow), and a zero
    * divisor throws. A query whose vector is all zero (the empty string)
    * has no direction to rank by and returns no rows without probing; a
    * zero STORED vector means a corrupt index and throws. */
  def lookup(spark: SparkSession, indexRoot: String, queryText: String,
      k: Int, multiProbe: Boolean = false): DataFrame = {
    val snap = snapshot(spark, indexRoot)
    val qa = foldBytes(
      queryText.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val qBucket = SimOps.bucketOf(qa, snap.planes)
    val qNorm = qa.foldLeft(0d)((s, v) => s + v.toDouble * v.toDouble)
    val probed: Seq[Long] =
      if (qNorm == 0d) Nil
      else if (multiProbe)
        qBucket +: snap.planes.indices.map(p => qBucket ^ (1L << p))
      else Seq(qBucket)
    val hits = probed.flatMap { b =>
      snap.buckets.getOrElse(b, Array.empty[Chunk]).map { c =>
        val norms = math.sqrt(c.nq.toDouble * qNorm)
        if (norms == 0d)
          throw new ArithmeticException("[DIVIDE_BY_ZERO] Division by zero: " +
            s"chunk (${c.docId}, ${c.chunkIdx}) has a zero vector")
        (SimOps.dotExact(c.qa, qa).toDouble / norms, b, c)
      }
    }
    val top = hits.sortBy { case (cos, _, c) => (cos, c.docId, c.chunkIdx) }(
      HitOrder).take(k)
    spark.createDataFrame(top.map { case (cos, b, c) =>
      Row(c.docId, c.chunkIdx, b, cos, c.text)
    }.asJava, HitSchema)
  }

  private val Usage =
    """usage: RagIndexJob build <sfDir> <indexRoot>
      |       RagIndexJob update <batchDir> <indexRoot>
      |       RagIndexJob maintain <indexRoot>
      |       RagIndexJob lookup <indexRoot> <queryText> [k]""".stripMargin

  def main(args: Array[String]): Unit = {
    val spark = Session("graft-rag-index-job")
    args.toList match {
      case "build" :: sfDir :: root :: Nil =>
        val (n, u, p) = build(spark, sfDir, root)
        println(s"[rag-index-job] indexed $u unique of $n chunks, $p planes")
      case "update" :: batchDir :: root :: Nil =>
        val n = update(spark, batchDir, root)
        println(s"[rag-index-job] appended $n novel chunks")
      case "maintain" :: root :: Nil =>
        println(s"[rag-index-job] maintain: ${maintain(spark, root)}")
      case "lookup" :: root :: query :: rest if rest.length <= 1 =>
        val k = rest.headOption.map(_.toInt).getOrElse(5)
        lookup(spark, root, query, k).collect().foreach { r =>
          println(s"[rag-index-job] hit doc=${r.getAs[Long]("doc_id")}" +
            s" chunk=${r.getAs[Long]("chunk_idx")}" +
            f" cos=${r.getAs[Double]("cosine")}%.4f")
        }
      case _ => System.err.println(Usage); sys.exit(2)
    }
    spark.stop()
  }
}
