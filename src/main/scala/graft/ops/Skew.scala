package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import Fx._

/** Skew-mitigation utilities (SURVEY.md §4.2/§4.4: "skewed keys → salting
  * or AQE skew-join").
  *
  * AQE's skew-join splitting handles sort-merge joins after the fact; the
  * salting pattern below is the explicit, planner-independent form — the
  * tool to reach for when one key dominates (the reference corpus analog:
  * a handful of states own most county rows, SURVEY.md §4.2). A hot key's
  * rows scatter across `salts` shuffle partitions instead of one.
  */
object Skew {

  /** Equi-join with a salted key: `big`'s rows get a DETERMINISTIC salt
    * (hash of `saltBy`, not rand() — reruns and the oracle must agree),
    * `small` is replicated once per salt, and the join key becomes
    * (key, salt). Result is row-identical to the plain join; only the
    * shuffle distribution changes. `small` grows ×salts, so keep salts
    * modest (8–64) and the small side genuinely small — at 100 TB this is
    * the fact⋈mid-size-dim case where broadcast doesn't fit but one hot
    * key would otherwise pin a single reducer. */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
                 salts: Int, saltBy: Seq[Column]): DataFrame = {
    val salted = big.withColumn("__salt", pmod(hash(saltBy: _*), lit(salts)))
    val replicated = small.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    salted.join(replicated, Seq(key, "__salt")).drop("__salt")
  }

  // ---- q46: salted fact⋈dim join, oracle = the plain join --------------
  // lineitem⋈supplier on suppkey: ~10 suppliers per sf unit → every key is
  // hot by construction. The salted plan must produce exactly the rows of
  // the unsalted join (the oracle SQL is the PLAIN join — salting is a
  // physical rewrite, not a semantic one).
  def q46SaltedJoin(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_suppkey").as("suppkey"), col("l_orderkey"),
        col("l_linenumber"), col("l_extendedprice"))
    val sup = Tables.supplier(s, d)
      .select(col("s_suppkey").as("suppkey"), col("s_name"))
    saltedJoin(li, sup, "suppkey", salts = 16,
      saltBy = Seq(col("l_orderkey"), col("l_linenumber")))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("n_lines"),
        moneySum(col("l_extendedprice")).as("revenue"))
      .orderBy(col("s_name"))
  }

  val q46Sql: String = s"""
    SELECT s_name, COUNT(*) AS n_lines,
      ${sqlMoneySum("l_extendedprice")} AS revenue
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY s_name ORDER BY s_name"""

  // ---- q185: bucketed co-located join, oracle = the plain join ---------
  // The third physical co-location tool next to q46's salting and the
  // broadcast dims: both sides of a repeated big⋈big equi-join are
  // written ONCE as bucketed+sorted catalog tables on the join key, and
  // every subsequent join on that key plans as a zero-exchange, zero-sort
  // sort-merge join — the classic warehouse answer to "this fact⋈fact
  // join runs every day; stop paying its shuffle every day". At 100 TB
  // the two sides here are the document metadata table and a
  // per-document derived attribute table (token counts): exactly the
  // Dolma-attributes join q133 runs, which neither broadcasts (both
  // corpus-sized) nor wants re-shuffled per query. Bucketing is a
  // PHYSICAL rewrite only, so the oracle is the plain join over the raw
  // parquet — the gate proves row-identity, PlanSpec pins the
  // no-exchange plan shape.
  //
  // The bucketed pair is built at most once per (session, dataset
  // version) — the StageCache invalidation discipline, keyed through the
  // session catalog: a regenerated fixture gets fresh versioned table
  // names, a re-run within the session hits `tableExists` and pays
  // nothing. 16 buckets ≪ 32 shuffle partitions is deliberate: bucket
  // count is a LAYOUT constant that must match across all writers of the
  // co-location group, not a per-query parallelism knob (Spark splits
  // bucket files by row-group for read parallelism).
  /** Create `name` if this session's catalog doesn't know it yet. The
    * in-memory catalog dies with the JVM but the warehouse DIRECTORY
    * survives, so a fresh session re-creating the same versioned name
    * would hit LOCATION_ALREADY_EXISTS — clear the orphaned location
    * first (`mode(overwrite)` only covers catalog-registered tables).
    * At cluster scale the catalog is durable (metastore) and this
    * branch never fires; it is the single-JVM-app equivalent of
    * CREATE TABLE IF NOT EXISTS against a shared metastore. */
  /** Orphan directories younger than this are left alone — they may be
    * a concurrent JVM's live table (test override via private[graft]). */
  private[graft] var orphanGcAgeMs: Long = 60L * 60 * 1000

  private def ensureTable(s: SparkSession, name: String)(
      write: => Unit): Unit =
    if (!s.catalog.tableExists(name)) {
      val p = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"), name)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
      // GC orphaned versions: same table family, different version hash,
      // NOT in this session's catalog (catalog-registered siblings are
      // alive — a multi-dataset session legitimately holds several).
      // Orphans are dead JVMs' leftovers; without this every fixture
      // regeneration leaks a table directory forever. AGE-GATED: a
      // directory a *concurrent* JVM sharing this warehouse just wrote
      // is absent from OUR catalog too, and must not be collected out
      // from under it — only directories untouched for orphanGcAgeMs
      // qualify (a dead JVM's leftover stops changing; a live writer's
      // mtime is fresh). The bounded cost of the gate is that a
      // same-session fixture regeneration leaks its old directory for
      // at most the gate window instead of zero.
      val family = name.substring(0, name.lastIndexOf('_') + 1)
      val cutoff = System.currentTimeMillis() - orphanGcAgeMs
      Option(fs.globStatus(new org.apache.hadoop.fs.Path(
        p.getParent, family + "*")))
        .getOrElse(Array.empty)
        .filter(st => st.getPath.getName != name
          && !s.catalog.tableExists(st.getPath.getName)
          && st.getModificationTime < cutoff)
        .foreach(st => fs.delete(st.getPath, true))
      write
    }

  private def bucketedDocTables(
      s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val ver = java.lang.Long.toHexString(StageCache.version(d))
    val docsT = s"graft_docs_b_$ver"
    val toksT = s"graft_toks_b_$ver"
    ensureTable(s, docsT) {
      Tables.documents(s, d).select("doc_id", "source", "n_chars")
        .write.mode("overwrite")
        .bucketBy(16, "doc_id").sortBy("doc_id").saveAsTable(docsT)
    }
    ensureTable(s, toksT) {
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(filter(TextOps.toks(col("text")), t => t =!= lit("")))
            .cast("long").as("n_tokens"))
        .write.mode("overwrite")
        .bucketBy(16, "doc_id").sortBy("doc_id").saveAsTable(toksT)
    }
    (s.table(docsT), s.table(toksT))
  }

  def q185BucketJoin(s: SparkSession, d: String): DataFrame = {
    val (docs, toks) = bucketedDocTables(s, d)
    docs.join(toks, Seq("doc_id"))
      .filter(col("n_tokens") >= 1L)
      .withColumn("cpt_x100", expr("n_chars * 100 div n_tokens"))
      .withColumn("band",
        when(col("cpt_x100") < 550L, "terse")
          .when(col("cpt_x100") < 700L, "typical")
          .otherwise("verbose"))
      .groupBy(col("source"), col("band"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("sum_tokens"),
        sum(col("n_chars")).as("sum_chars"))
      .withColumn("mean_cpt_x100", expr("sum_chars * 100 div sum_tokens"))
      .orderBy(col("source"), col("band"))
  }

  val q185Sql: String = """
    WITH pd AS (
      SELECT doc_id, source, n_chars,
        CAST(length(list_filter(
          string_split_regex(trim(lower(text)), '[ \t\n\r\f]+'),
          t -> t <> '')) AS BIGINT) AS n_tokens
      FROM documents),
    b AS (
      SELECT source, n_chars, n_tokens,
        CASE WHEN n_chars * 100 // n_tokens < 550 THEN 'terse'
             WHEN n_chars * 100 // n_tokens < 700 THEN 'typical'
             ELSE 'verbose' END AS band
      FROM pd WHERE n_tokens >= 1)
    SELECT source, band, CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
      CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      CAST(SUM(n_chars) * 100 // SUM(n_tokens) AS BIGINT) AS mean_cpt_x100
    FROM b GROUP BY 1, 2 ORDER BY 1, 2"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q46_salted_join" -> q46SaltedJoin _,
    "q185_bucket_join" -> q185BucketJoin _)

  val oracles: Map[String, String] = Map(
    "q46_salted_join" -> q46Sql,
    "q185_bucket_join" -> q185Sql)
}
