package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import ops.CurationOps

/** End-to-end training-data curation job — the [N]-surface analog of
  * NytJob: one `main` per firing that takes a drop directory of raw
  * document parquet and produces scrubbed, deduplicated, token-balanced
  * training shards, incrementally.
  *
  * Pipeline per firing (each stage a CurationOps/DedupOps operator, all
  * composed into TWO Spark jobs — the dedup anti-join action and the
  * shard write):
  *
  *   1. quality gate — drop docs under 10 whitespace tokens (the q25
  *      "fair" floor);
  *   2. PII scrub — the q70 regex pass over the kept text;
  *   3. exact dedup vs ALL PRIOR FIRINGS — DedupOps.incrementalDedup
  *      against the fingerprint store under `stateRoot` (O(batch) reads
  *      of the store, append-only growth, idempotent reruns);
  *   4. near-dup dedup vs ALL PRIOR FIRINGS — DedupOps.incrementalNearDup
  *      against the MinHash signature store: rejects PARAPHRASES of
  *      anything ever shipped, which stage 3's byte-identity check admits
  *      (the gate's 10-token floor guarantees every survivor shingles,
  *      so the store covers all shipped docs);
  *   5. sequence packing — q74's bucketed prefix sum assigns each novel
  *      doc its 512-token chunk;
  *   6. token-balanced shard write — shards of ~64 chunks (~32k tokens)
  *      via `partitionBy(shard)`: within a firing every shard except the
  *      last holds the same token mass to within one document.
  *
  * Scale posture: no stage holds more than the firing's batch in flight;
  * the only cross-firing state is the fingerprint store (content_md5
  * only — not the text) and the signature store (8 band rows + one
  * shingle-hash array per shipped doc), and the shard writer partitions
  * by a derived LOW-cardinality column so the write is one
  * dynamic-partition job, not per-shard loops.
  *
  * Usage: `runMain graft.CurationJob <inDir> <shardRoot> <stateRoot>`.
  * Each firing writes its shards under `shardRoot/firing=<n>/shard=<k>/`
  * (firings are append-only; a rerun of the same input produces an EMPTY
  * firing because every fingerprint is already in the store).
  */
object CurationJob {

  private val minTokens = 10
  private val chunksPerShard = 64

  /** Stages 1–2 as one narrow projection (no shuffle): gate + scrub. */
  private[graft] def gateAndScrub(docs: DataFrame): DataFrame =
    docs
      .withColumn("n_tok", CurationOps.tokenCount(col("text")))
      .filter(col("n_tok") >= minTokens)
      .withColumn("text", CurationOps.scrub(col("text")))

  /** Stages 1–6 for one firing; returns (shard-assigned novel docs
    * (doc_id, text, n_tok, chunk_id, shard), the pinned dedup result —
    * unpersist the latter after the write action, the deferred store
    * commit — run it only AFTER the shard write has succeeded). */
  private[graft] def curate(docs: DataFrame, stateRoot: String)
      : (DataFrame, DataFrame, () => Unit) = {
    val exact = ops.DedupOps.incrementalDedupStaged(
      gateAndScrub(docs).select(col("doc_id"), col("text"), col("n_tok")),
      s"$stateRoot/fingerprints")
    // near-dup gate consumes the exact-dedup result eagerly (its return
    // is checkpointed inside the call), so the input pin releases here
    val near = ops.DedupOps.incrementalNearDupStaged(
      exact.novel, s"$stateRoot/neardup")
    val novel = near.novel
    val curated = CurationOps
      .assignChunks(novel.select(col("doc_id"), col("n_tok")))
      .select(col("doc_id"), col("chunk_id"))
      .join(novel, Seq("doc_id"))
      .withColumn("shard", expr(s"chunk_id div $chunksPerShard"))
      .select(col("doc_id"), col("text"), col("n_tok"), col("chunk_id"),
        col("shard"))
    // near-dup store commits FIRST: if the job dies between the two
    // commits, an exact re-submission of a shipped doc is still caught
    // by the signature store (identical text ⇒ j = 1.0 near-dup), while
    // the reverse order would leave shipped docs' signatures missing
    // forever and admit future paraphrases. exact.novel's pin releases
    // here too — only after the shard write succeeded — so no consumer
    // (including a retried write) can silently recompute the dedup from
    // a store the commits are about to advance
    (curated, novel, () => {
      exact.novel.unpersist(); near.commit(); exact.commit() })
  }

  /** One firing: curate `inDir` and append shards under a fresh
    * firing=<n> directory. Returns the number of docs shipped.
    *
    * Crash-ordering contract: the dedup stores append only after the
    * firing's shards are durably written (shards ARE the commit marker).
    * A crash before the store commit makes the rerun reship the batch
    * into a fresh firing — at-least-once, visible downstream — instead
    * of the old failure mode (store grown, shards never written: the
    * rerun self-matched everything and silently shipped nothing). */
  def runOnce(spark: SparkSession, inDir: String, shardRoot: String,
              stateRoot: String): Long = {
    val docs = spark.read.parquet(inDir)
    val (curated, pinned, commitStores) = curate(docs, stateRoot)
    val firing = {
      val root = new java.io.File(shardRoot)
      val seen = Option(root.list()).getOrElse(Array.empty[String])
        .filter(_.startsWith("firing=")).map(_.drop(7).toLong)
      if (seen.isEmpty) 0L else seen.max + 1
    }
    curated.write.partitionBy("shard")
      .parquet(s"$shardRoot/firing=$firing")
    commitStores()
    // cheap recompute: curated derives from the localCheckpoint-pinned
    // novel frame, so the count replays only the chunk-assign windows
    val n = curated.count()
    pinned.unpersist()
    n
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 3,
      "usage: CurationJob <inDir> <shardRoot> <stateRoot>")
    val spark = Session("graft-curation-job")
    val n = runOnce(spark, args(0), args(1), args(2))
    println(s"[curation-job] shipped $n docs")
    spark.stop()
  }
}
