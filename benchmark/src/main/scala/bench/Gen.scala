package bench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded generators for the synthetic corpus the program's registry and
  * retrieval index read (the ten parquet tables of the repository's
  * fixture schema: TPC-H-like star schema, an event log, documents and
  * embeddings). Value domains follow the fixture: the same categorical
  * values, key ranges and timestamp types, a 30-word document vocabulary
  * with ~5% near-duplicate documents, unit-norm 64-d embeddings.
  *
  * Every column is a pure function of (seed, row id), so the same seed
  * writes byte-identical parquet files. */
object Gen {
  val Vocab: IndexedSeq[String] = ("spark window merge table column vector stream value data " +
    "small join filter big group hash customer sort order slow line part fast row the agg " +
    "key query a scan batch").split(" ").toIndexedSeq
  private val Langs = Seq("en" -> 41, "zh" -> 15, "de" -> 14, "es" -> 15, "fr" -> 15)

  final case class Doc(id: Long, text: String, lang: String, source: String)

  /** `n` documents with ids from `firstId`: 10-99 vocabulary words each;
    * 1 in 20 repeats an earlier document of the batch with " dup" appended. */
  def documents(seed: Long, n: Int, firstId: Long = 0L): IndexedSeq[Doc] = {
    val out = new Array[Doc](n)
    (0 until n).foreach { i =>
      val id = firstId + i
      val h = NytFeed.mix(seed, 101, id)
      val text =
        if (i > 0 && h % 20 == 0) out((h >>> 8).toInt.abs % i).text + " dup"
        else {
          val len = 10 + ((h >>> 16) % 90).toInt
          (0 until len).map(k => Vocab((NytFeed.mix(seed, id, k) % Vocab.size).toInt)).mkString(" ")
        }
      val l = ((h >>> 40) % 100).toInt
      val lang = Langs.scanLeft(("", 0)) { case ((_, acc), (g, w)) => (g, acc + w) }
        .tail.find(_._2 > l).map(_._1).getOrElse("en")
      out(i) = Doc(id, text, lang, s"src${id % 20}")
    }
    out.toIndexedSeq
  }

  def writeDocuments(spark: SparkSession, docs: Seq[Doc], dir: Path): Unit = {
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val rows = docs.map(d => Row(d.id, d.text, d.lang, d.source, d.text.length.toLong))
    spark.createDataFrame(rows.asJava, schema).coalesce(1)
      .write.mode("overwrite").parquet(dir.resolve("documents.parquet").toString)
  }

  /** Corpus row counts for scale factor `sf`, as the fixture scales them. */
  def rows(sf: Double): Map[String, Long] = Map(
    "customer" -> 150000 * sf, "supplier" -> 10000 * sf, "part" -> 200000 * sf,
    "orders" -> 1500000 * sf, "lineitem" -> 6000000 * sf, "events" -> 1000000 * sf,
    "documents" -> 50000 * sf, "embeddings" -> math.max(500, 20000 * sf))
    .map { case (k, v) => k -> math.max(1L, v.toLong) }

  /** Writes the ten corpus tables for scale factor `sf` under `dir`. */
  def corpus(spark: SparkSession, seed: Long, sf: Double, dir: Path): Unit = {
    val n = rows(sf)
    // uniform long in [0, m) from (seed, salt, id)
    def u(salt: Int, m: Long): Column =
      pmod(xxhash64(lit(seed), lit(salt), col("id")), lit(m))
    def pick(salt: Int, values: Seq[String]): Column =
      element_at(array(values.map(lit): _*), (u(salt, values.size) + 1).cast("int"))
    def money(salt: Int, lo: Double, hi: Double): Column =
      (lit(lo) + u(salt, ((hi - lo) * 100).toLong) / 100.0).cast("double")
    def ts(salt: Int, from: String, days: Int): Column =
      (to_timestamp_ntz(lit(from)) + make_dt_interval(u(salt, days).cast("int"),
        lit(0), lit(0), lit(0))).cast(TimestampNTZType)
    def write(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(dir.resolve(s"$name.parquet").toString)
    def range(k: String) = spark.range(0, n(k), 1, 4)

    write("region", spark.range(5).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        (col("id") + 1).cast("int")).as("r_name")))
    write("nation", spark.range(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"), (col("id") % 5).cast("int").as("n_regionkey")))
    write("customer", range("customer").select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      u(1, 25).cast("int").as("c_nationkey"), money(2, -999.99, 9999.99).as("c_acctbal"),
      pick(3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")).as("c_mktsegment")))
    write("supplier", range("supplier").select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      u(4, 25).cast("int").as("s_nationkey"), money(5, -999.99, 9999.99).as("s_acctbal")))
    write("part", range("part").select(col("id").as("p_partkey"),
      concat_ws(" ", pick(6, Seq("blue", "cold", "hot", "red", "small", "new", "old", "large")),
        pick(7, Seq("ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "gizmo"))).as("p_name"),
      concat(lit("Brand#"), u(8, 25) + 1).as("p_brand"),
      pick(9, Seq("PROMO", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "STANDARD")).as("p_type"),
      (u(10, 50) + 1).cast("int").as("p_size"),
      (lit(900.0) + (col("id") % 1000) / 10.0).as("p_retailprice")))
    write("orders", range("orders").select(col("id").as("o_orderkey"),
      u(11, n("customer")).as("o_custkey"), pick(12, Seq("O", "P", "F")).as("o_orderstatus"),
      money(13, 1000, 500000).as("o_totalprice"), ts(14, "1995-01-01", 2404).as("o_orderdate"),
      pick(15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority")))
    write("lineitem", range("lineitem").select(u(16, n("orders")).as("l_orderkey"),
      u(17, n("part")).as("l_partkey"), u(18, n("supplier")).as("l_suppkey"),
      (u(19, 7) + 1).cast("int").as("l_linenumber"), (u(20, 50) + 1).cast("double").as("l_quantity"),
      money(21, 900, 105000).as("l_extendedprice"), (u(22, 11) / 100.0).as("l_discount"),
      (u(23, 9) / 100.0).as("l_tax"), pick(24, Seq("A", "N", "R")).as("l_returnflag"),
      pick(25, Seq("O", "F")).as("l_linestatus"), ts(26, "1995-01-02", 2498).as("l_shipdate")))
    val users = math.max(10L, n("events") / 66)
    write("events", range("events").select(col("id").as("event_id"),
      (to_timestamp_ntz(lit("2024-01-01")) + make_dt_interval(lit(0), lit(0), lit(0),
        (col("id") * (2592000.0 / n("events")) + u(27, 1000000) / 1e6).cast("decimal(18,6)")))
        .cast(TimestampNTZType).as("ts"),
      u(28, users).as("user_id"),
      pick(29, Seq("signup", "click", "error", "view", "purchase")).as("event_type"),
      round(-log(lit(1.0) - u(30, 1000000) / 1e6) * 40.0, 2).as("value"),
      format_string("{\"k\": %d}", u(31, 100)).as("props")))
    writeDocuments(spark, documents(seed, n("documents").toInt), dir)
    val dim = 64
    val emb = (0L until n("embeddings")).map { id =>
      val v = (0 until dim).map { k =>
        val a = (NytFeed.mix(seed, 500 + k, id) % 1000000 + 1) / 1000001.0
        val b = (NytFeed.mix(seed, 700 + k, id) % 1000000) / 1000000.0
        math.sqrt(-2 * math.log(a)) * math.cos(2 * math.Pi * b)
      }
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(id, v.map(x => (x / norm).toFloat).toArray, (NytFeed.mix(seed, 900, id) % 10).toInt)
    }
    val embSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType)))
    write("embeddings", spark.createDataFrame(emb.asJava, embSchema))
  }

  /** `--gen` mode, for the determinism self-test: writes one generator's
    * output and prints one hash per data file, sorted: of the bytes of a
    * CSV file, of the rows of a parquet table in stored order (Spark's
    * parquet footers are not byte-stable across writes of the same rows). */
  def main(kind: String, seed: Long, out: Path, tiny: Boolean): Unit = {
    def sha(bytes: Array[Byte]) =
      java.security.MessageDigest.getInstance("SHA-256").digest(bytes).map(b => f"$b%02x").mkString
    def children(p: Path) = { val s = Files.list(p); try s.iterator().asScala.toList finally s.close() }
    kind match {
      case "nyt" =>
        val feed = new NytFeed(seed, NytFeed.Shape(55, 8, 100, history = if (tiny) 3 else 14))
        feed.dropHistory(out)
        (feed.shape.history until feed.shape.history + 2).foreach(feed.dropDay(out, _))
        feed.dropRevision(out, feed.shape.history)
        children(out).filter(Files.isDirectory(_)).flatMap(children)
          .filter(_.toString.endsWith(".csv")).map(p => sha(Files.readAllBytes(p)))
          .sorted.foreach(h => println(s"hash $h"))
      case "corpus" =>
        val spark = SparkSession.builder().master("local[2]").appName("bench-gen")
          .config("spark.ui.enabled", "false").config("spark.sql.session.timeZone", "UTC")
          .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString).getOrCreate()
        try {
          corpus(spark, seed, if (tiny) 0.001 else 0.01, out)
          children(out).filter(_.toString.endsWith(".parquet")).map { t =>
            sha(spark.read.parquet(t.toString).collect()
              .map(_.toSeq.map(graft.Verify.render).mkString("\u0001")).mkString("\n")
              .getBytes("UTF-8"))
          }.sorted.foreach(h => println(s"hash $h"))
        } finally spark.stop()
      case other => sys.error(s"unknown generator $other")
    }
  }
}
