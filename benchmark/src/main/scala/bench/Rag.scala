package bench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

/** Inputs and checks for the retrieval index (`RagIndexJob`) in the
  * rag_serve workload: seeded lookup texts (exact chunk texts, perturbed
  * chunk texts, out-of-corpus texts; a fixed share multi-probe), seeded
  * update batches (novel, re-submitted and partly overlapping documents),
  * the per-lookup output check and recall@10 against brute force. */
object Rag {
  val K = 10

  final case class Query(text: String, kind: String, multiProbe: Boolean)

  private def tokens(text: String): IndexedSeq[String] = text.trim.split("\\s+").toIndexedSeq

  /** Chunk texts of a document as the index chunks it (token windows of
    * width 32, stride 24). */
  def chunks(text: String): IndexedSeq[String] = {
    val t = tokens(text)
    (0 until math.max(1, t.size) by 24).map(i => t.slice(i, i + 32).mkString(" "))
  }

  /** The `i`-th query of a stream: 50% exact chunks, 30% perturbed chunks,
    * 20% out-of-corpus; 1 in 4 multi-probe. */
  def query(seed: Long, i: Long, docs: IndexedSeq[Gen.Doc]): Query = {
    val h = NytFeed.mix(seed, 301, i)
    val doc = docs((h % docs.size).toInt)
    val cs = chunks(doc.text)
    val chunk = cs(((h >>> 20) % cs.size).toInt)
    val mp = (h >>> 40) % 4 == 0
    (h >>> 8) % 10 match {
      case k if k < 5 => Query(chunk, "exact", mp)
      case k if k < 8 =>
        val t = tokens(chunk).toArray
        val at = ((h >>> 30) % t.length).toInt
        t(at) = Gen.Vocab(((h >>> 44) % Gen.Vocab.size).toInt)
        Query(t.mkString(" "), "perturbed", mp)
      case _ =>
        Query((0 until 20).map(k => s"w${NytFeed.mix(seed, i, k) % 997}").mkString(" "),
          "out_of_corpus", mp)
    }
  }

  /** Update batch `u`: 30 novel documents, 10 re-submitted ones and 10
    * existing ones with novel words appended. */
  def batch(seed: Long, u: Int, docs: IndexedSeq[Gen.Doc], firstId: Long): IndexedSeq[Gen.Doc] = {
    val novel = Gen.documents(seed * 31 + u, 30, firstId)
    val again = (0 until 10).map(i => docs((NytFeed.mix(seed, 401 + u, i) % docs.size).toInt))
      .zipWithIndex.map { case (d, i) => d.copy(id = firstId + 30 + i) }
    val overlap = (0 until 10).map { i =>
      val d = docs((NytFeed.mix(seed, 501 + u, i) % docs.size).toInt)
      d.copy(id = firstId + 40 + i, text = d.text + " " +
        (0 until 12).map(k => Gen.Vocab((NytFeed.mix(seed, 601 + u, i * 16 + k) % Gen.Vocab.size).toInt))
          .mkString(" "))
    }
    novel ++ again ++ overlap
  }

  /** At most k rows, in non-increasing cosine order; an exact chunk query
    * finds its own chunk (cosine 1). */
  def checkLookup(q: Query, rows: Array[Row]): Option[String] = {
    val cos = rows.map(_.getAs[Double]("cosine")).toSeq
    if (rows.length > K) Some(s"${rows.length} rows > k")
    else if (cos != cos.sortBy(-_)) Some(s"not in cosine order: $cos")
    else if (q.kind == "exact" && !cos.headOption.exists(_ > 0.999999)) Some(s"exact chunk missed: $cos")
    else None
  }

  def indexDataFiles(root: String): Int =
    Option(new java.io.File(s"$root/index.parquet").listFiles()).getOrElse(Array.empty[java.io.File])
      .count(f => f.isFile && f.getName.endsWith(".parquet"))

  /** Every chunk's id and vector: the brute-force truth of an index state. */
  def indexVectors(spark: SparkSession, root: String): Array[((Long, Long), Array[Long])] =
    spark.read.parquet(s"$root/index.parquet")
      .select(col("doc_id"), col("chunk_idx"), col("qa")).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getSeq[Long](2).toArray))

  /** Mean recall@10 of lookups (out-of-corpus ones excluded) against the
    * exact top-10 by cosine over every chunk of the index they ran on. */
  def recallAt10(index: Array[((Long, Long), Array[Long])],
                 lookups: Seq[(Query, Array[Row])]): Double = {
    val recalls = lookups.filter(_._1.kind != "out_of_corpus").map { case (q, rows) =>
      val qa = fold(q.text)
      val qn = math.sqrt(qa.map(v => v.toDouble * v).sum)
      val exact = index.map { case (id, v) =>
        var dot = 0.0; var n = 0.0; var i = 0
        while (i < v.length) { dot += v(i).toDouble * qa(i); n += v(i).toDouble * v(i); i += 1 }
        (id, dot / math.sqrt(n * qn * qn))
      }.sortBy { case ((d, c), s) => (-s, d, c) }.take(K).map(_._1).toSet
      val got = rows.map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_idx"))).toSet
      (got & exact).size.toDouble / exact.size
    }
    if (recalls.isEmpty) 0.0 else recalls.sum / recalls.size
  }

  /** The index's stub encoder: UTF-8 bytes folded into 64 sums. */
  private def fold(text: String): Array[Long] = {
    val acc = new Array[Long](64)
    text.getBytes(java.nio.charset.StandardCharsets.UTF_8).zipWithIndex
      .foreach { case (b, i) => acc(i % 64) += (b & 0xff).toLong }
    acc
  }
}
