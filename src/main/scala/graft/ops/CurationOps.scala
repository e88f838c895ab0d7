package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Corpus-curation operators for a large-scale training-data pipeline
  * (SURVEY.md §2.12 [N] extension surface): PII redaction, eval-set
  * contamination detection, boilerplate-segment removal, TF-IDF term
  * scoring, sequence packing (chunk ownership q74 + boundary-splitting
  * spans q83), and source-mixture resampling.
  *
  * These are the steps a pretraining-data pipeline runs between raw
  * ingest and tokenization (the reference engine's implied downstream
  * workload, generalized per BASELINE.json north_star). Every operator
  * is per-row Column work + blocking equi-joins/aggregates only — no
  * UDFs, no driver-side loops, no cross joins — so each scales with the
  * corpus: per-row stages are embarrassingly parallel, and the shuffles
  * are all keyed by high-cardinality hashes (gram/segment md5) that
  * distribute evenly.
  *
  * Oracle parity (SURVEY.md §7.3.1): counts/ranks are integers; the only
  * doubles emitted are single IEEE divisions of identical integers; md5
  * digests of identical strings compare bit-equal in both engines.
  */
object CurationOps {

  /** Whitespace tokens of lowercased text — same class as TextOps.toks
    * (the Java/RE2 intersection; Java \s would include \x0B, RE2 not). */
  private def toks(c: Column): Column =
    split(trim(lower(c)), "[ \\t\\n\\r\\f]+")

  private val sqlToks =
    """string_split_regex(trim(lower(text)), '[ \t\n\r\f]+')"""

  // ---- q70: PII redaction (regex scrub pass) ---------------------------
  // The standard pre-release scrub: mask emails / IPv4s / phone-shaped
  // strings. The corpus is synthetic and contains no PII, so the query
  // PLANTS deterministic PII derived from doc_id, then counts and
  // redacts it — the op under test is the regex scrub itself, which is
  // pure per-row codegen'd work (regexp_count + chained regexp_replace),
  // shuffle-free until the final ORDER BY. Patterns stay inside the
  // Java∩RE2 dialect (explicit classes, no lookaround/backrefs).
  // Replacement order (email → ip → phone) is part of the contract: a
  // later pattern must not match inside an earlier placeholder.
  private val emailRe = "[a-z0-9._]+@[a-z0-9.]+"
  private val ipRe = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
  private val phoneRe = "555-[0-9]{4}"

  /** The scrub pass as a reusable Column transform (email → ip → phone,
    * the q70 order contract). */
  private def scrub(c: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(c,
      emailRe, "<EMAIL>"), ipRe, "<IP>"), phoneRe, "<PHONE>")

  def q70PiiRedaction(s: SparkSession, d: String): DataFrame = {
    val synth = Tables.documents(s, d).withColumn("t",
      concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@mail.example now"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" cc admin"), col("doc_id").cast("string"),
            lit("@corp.example"))).otherwise(lit("")),
        lit(" call 555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" from 10."), (col("doc_id") % 200).cast("string"),
        lit(".0.1")))
    synth
      .withColumn("n_email", regexp_count(col("t"), lit(emailRe)).cast("long"))
      .withColumn("n_ip", regexp_count(col("t"), lit(ipRe)).cast("long"))
      .withColumn("n_phone", regexp_count(col("t"), lit(phoneRe)).cast("long"))
      .withColumn("redacted", scrub(col("t")))
      .select(col("doc_id"), col("n_email"), col("n_ip"), col("n_phone"),
        length(col("redacted")).cast("long").as("red_len"),
        md5(col("redacted")).as("red_md5"))
      .orderBy(col("doc_id"))
  }

  val q70Sql: String = raw"""
    WITH synth AS (
      SELECT doc_id,
        text || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example now'
             || CASE WHEN doc_id % 3 = 0
                     THEN ' cc admin' || CAST(doc_id AS VARCHAR) || '@corp.example'
                     ELSE '' END
             || ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
             || ' from 10.' || CAST(doc_id % 200 AS VARCHAR) || '.0.1' AS t
      FROM documents)
    SELECT doc_id,
      CAST(len(regexp_extract_all(t, '[a-z0-9._]+@[a-z0-9.]+')) AS BIGINT) AS n_email,
      CAST(len(regexp_extract_all(t,
        '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS BIGINT) AS n_ip,
      CAST(len(regexp_extract_all(t, '555-[0-9]{4}')) AS BIGINT) AS n_phone,
      CAST(length(regexp_replace(regexp_replace(regexp_replace(t,
        '[a-z0-9._]+@[a-z0-9.]+', '<EMAIL>', 'g'),
        '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g'),
        '555-[0-9]{4}', '<PHONE>', 'g')) AS BIGINT) AS red_len,
      md5(regexp_replace(regexp_replace(regexp_replace(t,
        '[a-z0-9._]+@[a-z0-9.]+', '<EMAIL>', 'g'),
        '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g'),
        '555-[0-9]{4}', '<PHONE>', 'g')) AS red_md5
    FROM synth ORDER BY doc_id"""

  // ---- q71: eval-set contamination (shared 8-gram detection) -----------
  // Decontamination: flag training docs sharing any 8-token gram with the
  // held-out eval shard (source = 'src9' plays the eval set). 8-gram keys
  // are md5 digests — high-cardinality, evenly distributed — so the
  // train⋈eval equi-join shuffles on a well-spread key; the eval side is
  // the small one in practice and AQE broadcast-picks it at runtime (no
  // hint, per the round-1 lesson on fixed-size broadcast assumptions).
  // list_distinct per doc first: a gram repeated inside one doc must not
  // inflate the shared-gram count.
  def q71Contamination(s: SparkSession, d: String): DataFrame = {
    val grams = Tables.documents(s, d)
      .withColumn("t", toks(col("text")))
      .filter(size(col("t")) >= 8)
      .select(col("doc_id"), col("source"),
        array_distinct(transform(
          sequence(lit(1), size(col("t")) - 7),
          i => md5(concat_ws(" ", slice(col("t"), i, lit(8)))))).as("gs"))
    // explode_outer, not explode: gs is provably non-empty (len(t) >= 8
    // guarantees ≥1 gram), and plain explode triggers
    // InferFiltersFromGenerate, which re-inlines the whole md5-transform
    // tree into a per-row Filter below the generate (the q30 lesson —
    // 3× the necessary cost for identical semantics)
    val tg = grams.filter(col("source") =!= "src9")
      .select(col("doc_id"), explode_outer(col("gs")).as("g"))
    val eg = grams.filter(col("source") === "src9")
      .select(col("doc_id").as("eval_id"), explode_outer(col("gs")).as("g"))
    tg.join(eg, "g")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("g")).as("n_shared_grams"),
        countDistinct(col("eval_id")).as("n_eval_docs"))
      .withColumn("contaminated", col("n_shared_grams") >= 3)
      .orderBy(col("doc_id"))
  }

  val q71Sql: String = raw"""
    WITH toks AS (
      SELECT doc_id, source, $sqlToks AS t FROM documents),
    grams AS (
      SELECT doc_id, source,
        list_distinct(list_transform(range(1, len(t) - 6),
          i -> md5(array_to_string(t[i:i+7], ' ')))) AS gs
      FROM toks WHERE len(t) >= 8),
    tg AS (SELECT doc_id, unnest(gs) AS g FROM grams WHERE source <> 'src9'),
    eg AS (SELECT doc_id AS eval_id, unnest(gs) AS g FROM grams WHERE source = 'src9')
    SELECT tg.doc_id,
      CAST(COUNT(DISTINCT tg.g) AS BIGINT) AS n_shared_grams,
      CAST(COUNT(DISTINCT eg.eval_id) AS BIGINT) AS n_eval_docs,
      COUNT(DISTINCT tg.g) >= 3 AS contaminated
    FROM tg JOIN eg ON tg.g = eg.g
    GROUP BY tg.doc_id ORDER BY tg.doc_id"""

  // ---- q194: decontamination n-sensitivity sweep ------------------------
  // q71 checks one n (8); this is the audit that JUSTIFIES the choice:
  // the same train-vs-eval overlap measured at n ∈ {4, 8, 13} (the
  // spread the published decontamination recipes argue over). Small n
  // over-flags (natural phrase collisions), large n under-flags
  // (paraphrase slips through) — the sweep shows where the corpus's
  // contamination verdict is stable and where it is an artifact of the
  // threshold. Per n: eligible train docs, docs with ≥1 shared gram,
  // docs over q71's ≥3 rule, shared-gram mass, and the contamination
  // rate in exact ppm.
  //
  // Scale shape: ONE corpus scan builds all three per-doc distinct gram
  // arrays map-side (array_distinct before the generate — the q71
  // discipline), tagged (n, gram) so the train⋈eval overlap is a single
  // equi-join on (n, g) against the DISTINCT eval gram set; everything
  // after the per-(n, doc) count is a ≤3-row frame. explode_outer, not
  // explode (the q71/q30 InferFiltersFromGenerate lesson).
  private val SweepNs = Seq(4, 8, 13)

  def q194ContaminationSweep(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d).withColumn("t", toks(col("text")))
    val perNArrays = SweepNs.map { n =>
      when(size(col("t")) >= n,
        array_distinct(transform(
          sequence(lit(1), size(col("t")) - (n - 1)),
          i => struct(lit(n).as("n"),
            md5(concat_ws(" ", slice(col("t"), i, lit(n)))).as("g")))))
        .otherwise(expr("array()").cast("array<struct<n:int,g:string>>"))
    }
    val tagged = base
      .select(col("doc_id"), col("source"),
        explode_outer(concat(perNArrays: _*)).as("ng"))
      .filter(col("ng").isNotNull)
      .select(col("doc_id"), col("source"),
        col("ng.n").as("n"), col("ng.g").as("g"))
    val tg = tagged.filter(col("source") =!= "src9")
    val eg = tagged.filter(col("source") === "src9")
      .select(col("n"), col("g")).distinct()
    val hits = tg.join(eg, Seq("n", "g"))
      .groupBy(col("n"), col("doc_id"))
      .agg(count(lit(1)).as("shared")) // per-doc arrays are distinct
    val perN = hits.groupBy(col("n"))
      .agg(count(lit(1)).as("docs_with_hits"),
        sum(when(col("shared") >= 3L, 1L).otherwise(0L))
          .as("contaminated_docs"),
        sum(col("shared")).as("shared_gram_mass"))
    val elig = base.filter(col("source") =!= "src9")
      // coalesce: SUM over a 0-doc corpus is NULL, the oracle's COUNT
      // is 0 — agree at SF=0
      .select(SweepNs.map(n =>
        coalesce(sum(when(size(col("t")) >= n, 1L).otherwise(0L)),
          lit(0L)).as(s"e$n")): _*)
      .selectExpr(s"stack(${SweepNs.length}, " +
        SweepNs.map(n => s"$n, e$n").mkString(", ") + ") as (n, eligible)")
    broadcast(elig).join(perN, Seq("n"), "left")
      .na.fill(0L,
        Seq("docs_with_hits", "contaminated_docs", "shared_gram_mass"))
      // NULL ppm when nothing is eligible, matching DuckDB's `// 0`
      .withColumn("contaminated_ppm",
        when(col("eligible") > 0,
          expr("contaminated_docs * 1000000 div eligible")))
      .select(col("n").cast("long").as("n"), col("eligible"),
        col("docs_with_hits"), col("contaminated_docs"),
        col("shared_gram_mass"), col("contaminated_ppm"))
      .orderBy(col("n"))
  }

  val q194Sql: String = {
    def gramsFor(n: Int) = s"""
      SELECT doc_id, source, $n AS n,
        list_distinct(list_transform(range(1, len(t) - ${n - 2}),
          i -> md5(array_to_string(t[i:i+${n - 1}], ' ')))) AS gs
      FROM toks WHERE len(t) >= $n"""
    raw"""
    WITH toks AS (
      SELECT doc_id, source, $sqlToks AS t FROM documents),
    tagged AS (
      SELECT doc_id, source, n, unnest(gs) AS g FROM (
        ${SweepNs.map(gramsFor).mkString("\n        UNION ALL\n")})),
    eg AS (SELECT DISTINCT n, g FROM tagged WHERE source = 'src9'),
    hits AS (
      SELECT t.n, t.doc_id, CAST(COUNT(*) AS BIGINT) AS shared
      FROM tagged t JOIN eg ON t.n = eg.n AND t.g = eg.g
      WHERE t.source <> 'src9'
      GROUP BY 1, 2),
    per_n AS (
      SELECT n, CAST(COUNT(*) AS BIGINT) AS docs_with_hits,
        CAST(SUM(CASE WHEN shared >= 3 THEN 1 ELSE 0 END) AS BIGINT)
          AS contaminated_docs,
        CAST(SUM(shared) AS BIGINT) AS shared_gram_mass
      FROM hits GROUP BY 1),
    elig AS (
      ${SweepNs.map(n =>
        s"""SELECT $n AS n, CAST(COUNT(*) AS BIGINT) AS eligible
      FROM toks WHERE source <> 'src9' AND len(t) >= $n""")
        .mkString("\n      UNION ALL\n      ")})
    SELECT CAST(e.n AS BIGINT) AS n, e.eligible,
      COALESCE(p.docs_with_hits, 0) AS docs_with_hits,
      COALESCE(p.contaminated_docs, 0) AS contaminated_docs,
      COALESCE(p.shared_gram_mass, 0) AS shared_gram_mass,
      COALESCE(p.contaminated_docs, 0) * 1000000 // e.eligible
        AS contaminated_ppm
    FROM elig e LEFT JOIN per_n p ON p.n = e.n
    ORDER BY 1"""
  }

  // ---- q72: boilerplate-segment removal (corpus-wide segment dedup) ----
  // The paragraph-dedup step of CCNet/Dolma-style pipelines, on aligned
  // 10-token segments (this corpus has no newlines, so alignment stands
  // in for paragraph boundaries). A segment seen in ≥2 distinct docs is
  // boilerplate; each doc is rebuilt without its boilerplate segments.
  // Two shuffles total: segment-hash aggregate (find boilerplate) and the
  // rebuild groupBy doc_id. The rebuild sorts segments inside the
  // aggregate (array_sort over (j, seg) structs) — collect_list order is
  // not deterministic across retries, the sort makes the result so.
  def q72SegmentDedup(s: SparkSession, d: String): DataFrame = {
    val segs = Tables.documents(s, d)
      .withColumn("t", toks(col("text")))
      .withColumn("nseg", (size(col("t")) / 10).cast("int"))
      .filter(col("nseg") >= 1)
      .select(col("doc_id"),
        posexplode_outer(transform(sequence(lit(0), col("nseg") - 1),
          j => concat_ws(" ", slice(col("t"), j * 10 + 1, lit(10))))))
      .withColumnRenamed("pos", "j").withColumnRenamed("col", "seg")
      .withColumn("seg_md5", md5(col("seg")))
    val bp = segs.groupBy(col("seg_md5"))
      .agg(countDistinct(col("doc_id")).as("ndocs"))
      .filter(col("ndocs") >= 2)
      .select(col("seg_md5"), lit(true).as("is_bp"))
    segs.join(bp, Seq("seg_md5"), "left")
      .withColumn("is_bp", coalesce(col("is_bp"), lit(false)))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_segs"),
        sum(when(col("is_bp"), 1L).otherwise(0L)).as("n_dup_segs"),
        md5(array_join(transform(
          filter(array_sort(collect_list(struct(col("j"), col("seg"),
            col("is_bp")))), x => !x.getField("is_bp")),
          x => x.getField("seg")), " ")).as("clean_md5"))
      .orderBy(col("doc_id"))
  }

  val q72Sql: String = raw"""
    WITH toks AS (
      SELECT doc_id, $sqlToks AS t FROM documents),
    segs AS (
      SELECT doc_id, j,
        array_to_string(t[10*j+1 : 10*j+10], ' ') AS seg,
        md5(array_to_string(t[10*j+1 : 10*j+10], ' ')) AS seg_md5
      FROM toks, unnest(range(len(t) // 10)) AS u(j)
      WHERE len(t) >= 10),
    bp AS (
      SELECT seg_md5 FROM segs GROUP BY seg_md5
      HAVING COUNT(DISTINCT doc_id) >= 2)
    SELECT s.doc_id,
      CAST(COUNT(*) AS BIGINT) AS n_segs,
      CAST(SUM(CASE WHEN bp.seg_md5 IS NOT NULL THEN 1 ELSE 0 END)
        AS BIGINT) AS n_dup_segs,
      md5(COALESCE(array_to_string(
        list(s.seg ORDER BY s.j) FILTER (WHERE bp.seg_md5 IS NULL), ' '),
        '')) AS clean_md5
    FROM segs s LEFT JOIN bp ON s.seg_md5 = bp.seg_md5
    GROUP BY s.doc_id ORDER BY s.doc_id"""

  // ---- q73: TF-IDF top terms per document ------------------------------
  // Term scoring with LINEAR idf (tf/df) rather than log idf: the ranking
  // this produces is what downstream keyword extraction needs, and the
  // score stays a single IEEE division of two exact integers — log-idf
  // would hinge on ln() being bit-identical across engines, which neither
  // guarantees (both are ≤1-ulp libm implementations, not correctly
  // rounded). Plan: one explode + two keyed aggregates + a per-doc top-3
  // window; df re-joins on term (low cardinality here, high in real
  // corpora — either way an equi-join Catalyst can broadcast or shuffle
  // as stats dictate).
  def q73Tfidf(s: SparkSession, d: String): DataFrame = {
    // (doc, term, tf) feeds BOTH the df aggregate and the scoring join —
    // persist so tokenize+explode+count runs once (no cross-subtree CSE
    // in Spark). Crossover A/B in BASELINE.md round 9: the cache write
    // costs ~0.4 s at sf0.1 but wins 23% at the sf1 drive and flattens
    // the unit's scaling band — kept for the scale side, where the
    // re-derivation is a second full corpus scan.
    val tf = Tables.documents(s, d)
      .select(col("doc_id"), explode(toks(col("text"))).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .persist()
    val df = tf.groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val scored = tf.join(df, "term")
      .withColumn("score", col("tf").cast("double") / col("df"))
      .withColumn("rk", row_number().over(Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("term").asc)).cast("long"))
    scored.filter(col("rk") <= 3)
      .select(col("doc_id"), col("rk"), col("term"), col("tf"), col("df"),
        col("score"))
      .orderBy(col("doc_id"), col("rk"))
  }

  val q73Sql: String = raw"""
    WITH toks AS (
      SELECT doc_id, $sqlToks AS t FROM documents),
    tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest(t) AS term FROM toks)
      WHERE term <> '' GROUP BY doc_id, term),
    df AS (
      SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
      FROM tf GROUP BY term),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, df.df,
        CAST(tf.tf AS DOUBLE) / df.df AS score,
        row_number() OVER (PARTITION BY tf.doc_id
          ORDER BY CAST(tf.tf AS DOUBLE) / df.df DESC, tf.term ASC) AS rk
      FROM tf JOIN df USING (term))
    SELECT doc_id, rk, term, tf, df, score FROM scored WHERE rk <= 3
    ORDER BY doc_id, rk"""

  // ---- q74: sequence packing (concat-and-chunk into token windows) -----
  // GPT-style packing: concatenate docs in doc_id order, cut every 512
  // tokens; a doc belongs to the chunk its first token lands in, and
  // boundary docs (spanning a cut) are counted per chunk. The naive plan
  // is a GLOBAL running sum — one window over an unpartitioned ORDER BY,
  // i.e. a single task at 100 TB. This implementation computes the same
  // prefix sum in two partitioned levels: intra-bucket running sums
  // (windows partitioned by doc_id div 1024) plus a cross-bucket offset
  // cumsum whose window runs over #buckets rows (n/1024 — itself
  // bucketable into a third level if ever needed). Bucketing by doc_id
  // ranges preserves the global order, so the result is identical to the
  // single-window plan while every window stays partition-parallel.
  private val chunkTokens = 512
  private val bucketWidth = 1024

  /** Per-doc chunk assignment via the THREE-level bucketed prefix sum:
    * the input must carry (doc_id, n_tok); the result adds `start` (the
    * doc's first-token offset in the doc_id-ordered concatenation) and
    * `chunk_id` (= start div chunkTokens). Shared by q74/q83.
    *
    * Levels: local_start within a width-W doc_id bucket (window
    * partitioned by bucket), bucket offsets within a W² super-bucket
    * (window over W bucket-total rows each), and super-bucket offsets
    * through the one unpartitioned window — which now runs over n/W²
    * rows, so the single-task stage stays trivial to ~1e12 docs
    * (W=1024); a fourth level is mechanical if corpora ever outgrow
    * that. The extra level costs one aggregate + one tiny join over
    * bucket totals — nothing corpus-sized. */
  private[graft] def assignChunks(nt0: DataFrame, chunkTok: Int = chunkTokens,
      width: Int = bucketWidth): DataFrame = {
    val nt = nt0.withColumn("bucket", (col("doc_id") / width).cast("long"))
    val intra = Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val withLocal = nt.withColumn("local_start",
      coalesce(sum(col("n_tok")).over(intra), lit(0L)))
    val bucketTotals = nt.groupBy(col("bucket"))
      .agg(sum(col("n_tok")).as("btot"))
      .withColumn("b2", (col("bucket") / width).cast("long"))
    val intra2 = Window.partitionBy(col("b2")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val bucketOffsets = bucketTotals.withColumn("off1",
      coalesce(sum(col("btot")).over(intra2), lit(0L)))
    val superOffsets = bucketTotals.groupBy(col("b2"))
      .agg(sum(col("btot")).as("b2tot"))
      .withColumn("off2",
        coalesce(sum(col("b2tot")).over(Window.orderBy(col("b2"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("b2"), col("off2"))
    val offsets = bucketOffsets.join(superOffsets, "b2")
      .select(col("bucket"), (col("off1") + col("off2")).as("offset"))
    withLocal.join(offsets, "bucket")
      .withColumn("start", col("offset") + col("local_start"))
      .withColumn("chunk_id", expr(s"start div $chunkTok"))
      .drop("bucket", "local_start", "offset")
  }

  /** Token count of a text column under the engine's whitespace
    * tokenizer (empty tokens excluded). */
  private def tokenCount(c: Column): Column =
    size(filter(toks(c), x => x =!= "")).cast("long")

  def q74SeqPacking(s: SparkSession, d: String): DataFrame =
    assignChunks(Tables.documents(s, d)
      .select(col("doc_id"), tokenCount(col("text")).as("n_tok")))
      .groupBy(col("chunk_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"),
        sum(when(expr(s"start div $chunkTokens") =!=
          expr(s"(start + greatest(n_tok, 1) - 1) div $chunkTokens"), 1L).otherwise(0L))
          .as("n_boundary_docs"))
      .orderBy(col("chunk_id"))

  val q74Sql: String = raw"""
    WITH toks AS (
      SELECT doc_id,
        CAST(len(list_filter($sqlToks, x -> x <> '')) AS BIGINT) AS n_tok
      FROM documents),
    pos AS (
      SELECT doc_id, n_tok,
        COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
      FROM toks)
    SELECT CAST(start // $chunkTokens AS BIGINT) AS chunk_id,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
      CAST(MIN(doc_id) AS BIGINT) AS first_doc,
      CAST(MAX(doc_id) AS BIGINT) AS last_doc,
      CAST(SUM(CASE WHEN start // $chunkTokens <>
          (start + GREATEST(n_tok, 1) - 1) // $chunkTokens THEN 1 ELSE 0 END)
        AS BIGINT) AS n_boundary_docs
    FROM pos GROUP BY 1 ORDER BY 1"""

  // ---- q83: pack spans (boundary-splitting sequence packing) -----------
  // q74 assigns each doc to the chunk its first token lands in; this is
  // the full tokenizer-facing contract: a doc straddling chunk cuts is
  // SPLIT, emitting one span per chunk it touches with the exact token
  // interval — what the training loader actually consumes. Pure integer
  // interval arithmetic over the same two-level prefix sum; the generate
  // explodes each doc into (last_chunk - first_chunk + 1) rows, which is
  // 1 + tokens/512 — output stays linear in corpus tokens. Invariant
  // (spec-pinned): every chunk except the last carries exactly 512 span
  // tokens.
  def q83PackSpans(s: SparkSession, d: String): DataFrame = {
    val ct = chunkTokens
    assignChunks(Tables.documents(s, d)
      .select(col("doc_id"), tokenCount(col("text")).as("n_tok")))
      .withColumn("c", explode_outer(sequence(
        expr(s"start div $ct"),
        expr(s"(start + greatest(n_tok, 1) - 1) div $ct"))))
      .select(col("c").as("chunk_id"), col("doc_id"),
        greatest(col("c") * ct - col("start"), lit(0L)).as("doc_offset"),
        (least((col("c") + 1) * ct, col("start") + col("n_tok"))
          - greatest(col("c") * ct, col("start"))).as("span_len"))
      .orderBy(col("chunk_id"), col("doc_id"))
  }

  val q83Sql: String = raw"""
    WITH toks AS (
      SELECT doc_id,
        CAST(len(list_filter($sqlToks, x -> x <> '')) AS BIGINT) AS n_tok
      FROM documents),
    pos AS (
      SELECT doc_id, n_tok,
        COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
      FROM toks)
    SELECT c AS chunk_id, doc_id,
      CAST(GREATEST(c * $chunkTokens - start, 0) AS BIGINT) AS doc_offset,
      CAST(LEAST((c + 1) * $chunkTokens, start + n_tok)
        - GREATEST(c * $chunkTokens, start) AS BIGINT) AS span_len
    FROM pos, unnest(generate_series(CAST(start // $chunkTokens AS BIGINT),
      CAST((start + GREATEST(n_tok, 1) - 1) // $chunkTokens AS BIGINT))) AS u(c)
    ORDER BY chunk_id, doc_id"""

  // ---- q93: sliding-window pack spans (overlapping chunks) -------------
  // q83's chunks tile the token stream disjointly; context-window
  // training often wants OVERLAPPING windows instead — window W = 512,
  // stride S = 256, so every token (except the first/last S) appears in
  // exactly W/S = 2 windows and no boundary token loses its left
  // context. Window w covers token interval [w·S, w·S + W); a doc
  // emits one span per window it intersects — fan-out 2 + tokens/S,
  // linear in corpus tokens. Same three-level prefix sum for `start`;
  // the first-window formula guards the start < W case explicitly
  // because Spark's integer div truncates toward zero while DuckDB's
  // // floors — they disagree on negative operands, so the arithmetic
  // never goes negative on either engine. The end bound clamps n_tok
  // at 1 for the same reason (shared by q74/q83/q128): a zero-token
  // doc would otherwise drive start + n_tok - 1 below start, where the
  // engines' div semantics AND their sequence/generate_series
  // descending behaviors both diverge; clamped, it emits the
  // zero-length span at its own position on both engines.
  private val slideW = 512
  private val slideS = 256

  def q93SlidingSpans(s: SparkSession, d: String): DataFrame = {
    val (w0, st) = (slideW, slideS)
    assignChunks(Tables.documents(s, d)
      .select(col("doc_id"), tokenCount(col("text")).as("n_tok")))
      .withColumn("w", explode_outer(sequence(
        expr(s"CASE WHEN start < $w0 THEN CAST(0 AS BIGINT)" +
          s" ELSE (start - $w0) div $st + 1 END"),
        expr(s"(start + greatest(n_tok, 1) - 1) div $st"))))
      .select(col("w").as("window_id"), col("doc_id"),
        greatest(col("w") * st - col("start"), lit(0L)).as("doc_offset"),
        (least(col("w") * st + w0, col("start") + col("n_tok"))
          - greatest(col("w") * st, col("start"))).as("span_len"))
      .orderBy(col("window_id"), col("doc_id"))
  }

  val q93Sql: String = raw"""
    WITH toks AS (
      SELECT doc_id,
        CAST(len(list_filter($sqlToks, x -> x <> '')) AS BIGINT) AS n_tok
      FROM documents),
    pos AS (
      SELECT doc_id, n_tok,
        COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
      FROM toks)
    SELECT w AS window_id, doc_id,
      CAST(GREATEST(w * $slideS - start, 0) AS BIGINT) AS doc_offset,
      CAST(LEAST(w * $slideS + $slideW, start + n_tok)
        - GREATEST(w * $slideS, start) AS BIGINT) AS span_len
    FROM pos, unnest(generate_series(
      CAST(CASE WHEN start < $slideW THEN 0
        ELSE (start - $slideW) // $slideS + 1 END AS BIGINT),
      CAST((start + GREATEST(n_tok, 1) - 1) // $slideS AS BIGINT))) AS u(w)
    ORDER BY window_id, doc_id"""

  // ---- q75: source-mixture resampling ----------------------------------
  // Rebalance the corpus toward target per-source weights (the "data
  // mixture" step before training): the limiting source caps the total,
  // every source downsamples to its target count, and membership is
  // decided by ranking docs on a salted hash — a deterministic,
  // partition-independent, unbiased subsample (same property as
  // q53/q54). All sizing arithmetic is integer (scaled by 1e4) so both
  // engines compute identical targets; the only window partitions by
  // source and orders by (md5, doc_id) — a total order.
  private val mixWeights = Seq(
    "src0" -> 4, "src1" -> 6, "src2" -> 8, "src3" -> 10, "src4" -> 12,
    "src5" -> 10, "src6" -> 10, "src7" -> 14, "src8" -> 14, "src9" -> 12)

  def q75SourceMixing(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val w = mixWeights.toDF("source", "w")
    val cnt = docs.groupBy(col("source")).agg(count(lit(1)).as("n_orig"))
    val lim = cnt.join(w, "source")
      .agg(min(expr("n_orig * 10000 div w")).as("k"))
    val tgt = cnt.join(w, "source").crossJoin(broadcast(lim))
      .select(col("source"), col("n_orig"),
        expr("w * k div 10000").as("n_target"))
    val ranked = docs.withColumn("rk",
      row_number().over(Window.partitionBy(col("source"))
        .orderBy(md5(concat(lit("mix:"), col("doc_id").cast("string"))),
          col("doc_id"))))
    ranked.join(tgt, "source")
      .groupBy(col("source"), col("n_orig"), col("n_target"))
      .agg(sum(when(col("rk") <= col("n_target"), 1L).otherwise(0L))
        .as("n_kept"),
        sum(when(col("rk") <= col("n_target"), col("doc_id"))
          .otherwise(0L)).as("kept_id_sum"))
      .orderBy(col("source"))
  }

  val q75Sql: String = {
    val values = mixWeights
      .map { case (s0, w0) => s"('$s0',$w0)" }.mkString(",")
    raw"""
    WITH w(source, w) AS (VALUES $values),
    cnt AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_orig
      FROM documents GROUP BY source),
    lim AS (
      SELECT MIN(n_orig * 10000 // w) AS k FROM cnt JOIN w USING (source)),
    tgt AS (
      SELECT source, n_orig, w * k // 10000 AS n_target
      FROM cnt JOIN w USING (source) CROSS JOIN lim),
    ranked AS (
      SELECT d.source, d.doc_id,
        row_number() OVER (PARTITION BY d.source
          ORDER BY md5('mix:' || CAST(d.doc_id AS VARCHAR)), d.doc_id) AS rk
      FROM documents d)
    SELECT t.source, t.n_orig, CAST(t.n_target AS BIGINT) AS n_target,
      CAST(SUM(CASE WHEN r.rk <= t.n_target THEN 1 ELSE 0 END)
        AS BIGINT) AS n_kept,
      CAST(SUM(CASE WHEN r.rk <= t.n_target THEN r.doc_id ELSE 0 END)
        AS BIGINT) AS kept_id_sum
    FROM ranked r JOIN tgt t USING (source)
    GROUP BY t.source, t.n_orig, t.n_target ORDER BY t.source"""
  }

  // ---- q86: mixture upsampling (epochs with replacement) ---------------
  // q75 caps the mixture at the limiting source (pure downsample); real
  // training mixtures also UPSAMPLE scarce high-weight sources — docs
  // repeat across epochs. Target per source is w_s · F · N / Σw (exact
  // integer arithmetic, F = epochFactor total epochs); each doc gets
  // ⌊target/n⌋ copies plus one more for the (target mod n) docs ranked
  // first on a salted hash — so per-source emitted counts hit the target
  // EXACTLY, deterministically, partition-independently. The explode is
  // linear in OUTPUT rows (sequence(1, copies) per doc — there is no
  // candidate blow-up), and the only window is q75's per-source hash
  // rank. A doc with zero copies drops out via explode-of-null, which
  // also sidesteps Spark's descending-sequence trap (sequence(1, 0)
  // counts DOWN, it is not empty). Emitted rows aggregate to a
  // per-source contract row: n_emitted must equal n_target.
  private val epochFactor = 2

  def q86UpsampleMix(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val w = mixWeights.toDF("source", "w")
    val cnt = docs.groupBy(col("source")).agg(count(lit(1)).as("n_orig"))
    val tot = docs.agg(count(lit(1)).as("n_total"))
    val tgt = cnt.join(w, "source").crossJoin(broadcast(tot))
      .select(col("source"), col("n_orig"),
        expr(s"w * $epochFactor * n_total div 100").as("n_target"))
    val ranked = docs.withColumn("rk",
      row_number().over(Window.partitionBy(col("source"))
        .orderBy(md5(concat(lit("epoch:"), col("doc_id").cast("string"))),
          col("doc_id"))).cast("long"))
    ranked.join(tgt, "source")
      .withColumn("copies", expr(
        "n_target div n_orig + (CASE WHEN rk <= n_target % n_orig" +
          " THEN 1 ELSE 0 END)"))
      .select(col("source"), col("n_orig"), col("n_target"), col("doc_id"),
        explode(when(col("copies") > 0,
          sequence(lit(1L), col("copies")))).as("copy_id"))
      .groupBy(col("source"), col("n_orig"), col("n_target"))
      .agg(count(lit(1)).as("n_emitted"),
        sum(col("doc_id")).as("emitted_id_sum"),
        max(col("copy_id")).as("max_copies"))
      .orderBy(col("source"))
  }

  val q86Sql: String = {
    val values = mixWeights
      .map { case (s0, w0) => s"('$s0',$w0)" }.mkString(",")
    raw"""
    WITH w(source, w) AS (VALUES $values),
    cnt AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_orig
      FROM documents GROUP BY source),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM documents),
    tgt AS (
      SELECT source, n_orig, w * $epochFactor * n_total // 100 AS n_target
      FROM cnt JOIN w USING (source) CROSS JOIN tot),
    ranked AS (
      SELECT source, doc_id,
        CAST(row_number() OVER (PARTITION BY source
          ORDER BY md5('epoch:' || CAST(doc_id AS VARCHAR)), doc_id)
          AS BIGINT) AS rk
      FROM documents),
    em AS (
      SELECT r.source, t.n_orig, t.n_target, r.doc_id, u.copy_id
      FROM ranked r JOIN tgt t USING (source),
        unnest(generate_series(1, t.n_target // t.n_orig +
          CASE WHEN r.rk <= t.n_target % t.n_orig THEN 1 ELSE 0 END))
          AS u(copy_id))
    SELECT source, n_orig, CAST(n_target AS BIGINT) AS n_target,
      CAST(COUNT(*) AS BIGINT) AS n_emitted,
      CAST(SUM(doc_id) AS BIGINT) AS emitted_id_sum,
      CAST(MAX(copy_id) AS BIGINT) AS max_copies
    FROM em GROUP BY 1, 2, 3 ORDER BY source"""
  }

  // ---- q100: curation summary (the whole pipeline as ONE plan) ---------
  // The dashboard a data curator reads before a training run, and the
  // composition proof for the operator family: quality gate (q25's
  // posture), deterministic split (q91's gate), exact-dup detection
  // (q29's md5 grouping), and token accounting (q27) all fuse into a
  // single Catalyst plan — one scan of documents, one md5 groupBy, one
  // broadcast-back join, one final aggregate. Nothing materializes
  // between stages; at 100 TB this is one pass over the corpus plus a
  // dup-key shuffle, not four pipeline jobs.
  def q100CurationSummary(s: SparkSession, d: String): DataFrame = {
    graft.expressions.Hash60.register(s)
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("text"))
      .withColumn("tok_cnt", tokenCount(col("text")))
      .withColumn("split",
        expr("CASE WHEN h60(concat('split:', cast(doc_id as string)))" +
          " % 100 < 90 THEN 'train' WHEN h60(concat('split:'," +
          " cast(doc_id as string))) % 100 < 95 THEN 'val'" +
          " ELSE 'test' END"))
      .withColumn("h", md5(col("text")))
    val dupCounts = docs.groupBy(col("h"))
      .agg(count(lit(1)).as("n_copies"))
    docs.join(dupCounts, "h")
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("tok_cnt")).as("n_tokens"),
        sum(when(col("tok_cnt").between(10, 1000), 1L).otherwise(0L))
          .as("n_quality_pass"),
        sum(when(col("n_copies") > 1, 1L).otherwise(0L)).as("n_dup_docs"))
      .orderBy(col("source"), col("split"))
  }

  val q100Sql: String = raw"""
    WITH d AS (
      SELECT doc_id, source, text,
        CAST(len(list_filter($sqlToks, x -> x <> '')) AS BIGINT) AS tok_cnt,
        CASE WHEN CAST('0x' || substring(md5('split:' ||
            CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 < 90
          THEN 'train'
          WHEN CAST('0x' || substring(md5('split:' ||
            CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 < 95
          THEN 'val' ELSE 'test' END AS split,
        md5(text) AS h
      FROM documents),
    dup AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS n_copies FROM d GROUP BY h)
    SELECT source, split, CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(tok_cnt) AS BIGINT) AS n_tokens,
      CAST(SUM(CASE WHEN tok_cnt BETWEEN 10 AND 1000 THEN 1 ELSE 0 END)
        AS BIGINT) AS n_quality_pass,
      CAST(SUM(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_dup_docs
    FROM d JOIN dup USING (h)
    GROUP BY 1, 2 ORDER BY 1, 2"""

  // ---- q101: importance-weighted subsampling ---------------------------
  // Quality-weighted data selection (the DSIR/DoReMi-family primitive):
  // every doc gets an acceptance probability PROPORTIONAL TO A PER-ROW
  // WEIGHT — here length-derived, w = min(n_chars, 512), p = w/512 — not
  // the per-stratum constant rate of q53/q54. Membership is a pure row
  // property (salted-h60 gate, integer compare: h60 % 512 < w), so the
  // sample is deterministic under reruns, repartitioning, and corpus
  // growth, and the op is a shuffle-free per-row filter until the final
  // G-row accounting aggregate — embarrassingly parallel at 100 TB.
  // kept_chars / expected_chars audits the estimator: E[kept w] = Σw²/512
  // exactly in integers, so the contract row shows realized vs expected
  // intake per source with no floating point until the final division.
  /** The q101 acceptance gate as a reusable row-local predicate (needs
    * `doc_id` and `n_chars` columns; caller registers Hash60). Because it
    * is a pure row property — no state, no shuffle, no corpus statistics
    * — the SAME expression gates any slicing of the input identically
    * (CurationOpsSpec's q101 recount pins membership row by row), so a
    * backfill and each later batch share one code path. */
  private[graft] def importanceGate: Column =
    expr("h60(concat('iw:', cast(doc_id as string))) % 512") <
      least(col("n_chars"), lit(512L))

  def q101WeightedSample(s: SparkSession, d: String): DataFrame = {
    graft.expressions.Hash60.register(s)
    Tables.documents(s, d)
      .withColumn("w", least(col("n_chars"), lit(512L)))
      .withColumn("keep", importanceGate)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("keep"), col("doc_id")).otherwise(0L))
          .as("kept_id_sum"),
        sum(when(col("keep"), col("w")).otherwise(0L)).as("kept_w"),
        sum(col("w") * col("w")).as("w_sq_sum"))
      .withColumn("expected_w", expr("w_sq_sum div 512"))
      .drop("w_sq_sum")
      .orderBy(col("source"))
  }

  val q101Sql: String = raw"""
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      CAST(SUM(CASE WHEN keep THEN doc_id ELSE 0 END) AS BIGINT)
        AS kept_id_sum,
      CAST(SUM(CASE WHEN keep THEN w ELSE 0 END) AS BIGINT) AS kept_w,
      CAST(SUM(w * w) // 512 AS BIGINT) AS expected_w
    FROM (
      SELECT source, doc_id, LEAST(n_chars, 512) AS w,
        CAST('0x' || substring(md5('iw:' || CAST(doc_id AS VARCHAR)),
          1, 15) AS BIGINT) % 512 < LEAST(n_chars, 512) AS keep
      FROM documents)
    GROUP BY source ORDER BY source"""

  // ---- q107: duplicate-span detection (substring-level exact dedup) ----
  // The span-granular form of exact dedup (Lee et al., "Deduplicating
  // Training Data Makes Language Models Better", ACL'22): doc-level
  // dedup (q29) misses a boilerplate paragraph pasted into otherwise-
  // distinct pages, segment dedup (q72) only sees fixed 10-token
  // alignment. Here every 8-token rolling gram (position-preserving —
  // NOT array_distinct'ed like q71: positions are the output) that
  // occurs >= 2 times anywhere in the corpus (cross-doc or repeated
  // within one doc) marks its 8-token window duplicated, and per doc the
  // marked windows merge into MAXIMAL spans (overlapping or adjacent
  // coverage, i.e. next gram start <= prev start + 8).
  //
  // Scale shape: one shuffle on the 60-bit gram hash (high-cardinality,
  // even; an 8-byte long, not the 32-char md5 hex — 4× less shuffle
  // payload and integer compares) to find duplicated grams, one join
  // back (AQE picks the build side), and the island-merge window
  // partitions BY doc_id — per-doc state only, never a global sort. At
  // 100 TB the gram table is ~n_tokens rows; the duplicated subset that
  // reaches the window is a small fraction of it (and bounded by corpus
  // redundancy, the thing being measured).
  private val SpanGram = 8

  /** Island-merge kernel: window-start positions (doc_id, i), each
    * covering tokens [i, i+k-1], merge into MAXIMAL spans per doc
    * (positions whose coverage overlaps or touches — gap > k starts a
    * new island). Windows partition by doc_id only: per-doc state,
    * never a global sort. Shared by q107; property-tested against a
    * driver-side interval-merge reference. */
  private[graft] def mergeSpans(positions: DataFrame, k: Int): DataFrame = {
    val wOrd = Window.partitionBy(col("doc_id")).orderBy(col("i"))
    positions
      .withColumn("brk",
        when(col("i") - lag(col("i"), 1).over(wOrd) > k, 1L).otherwise(0L))
      .withColumn("island", sum(col("brk")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("i")).as("span_start"),
        (max(col("i")) + (k - 1)).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_len"))
  }

  def q107DupSpans(s: SparkSession, d: String): DataFrame = {
    graft.expressions.Hash60.register(s)
    val k = SpanGram
    val grams = Tables.documents(s, d)
      .withColumn("t", toks(col("text")))
      .filter(size(col("t")) >= k)
      .select(col("doc_id"), posexplode_outer(expr(
        s"transform(sequence(1, size(t) - ${k - 1})," +
          s" i -> h60(concat_ws(' ', slice(t, i, $k))))")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("i"),
        col("col").as("g"))
      // the dup aggregate and the membership join both read the gram
      // stream; unpersisted, each re-ran the tokenize+hash pass (3
      // integer cols per gram — far smaller than the text it derives
      // from)
      .persist()
    val dup = grams.groupBy(col("g"))
      .agg(count(lit(1)).as("cnt")).filter(col("cnt") >= 2)
      .select(col("g"))
    mergeSpans(grams.join(dup, "g").select(col("doc_id"), col("i")),
        SpanGram)
      .orderBy(col("doc_id"), col("span_start"))
  }

  val q107Sql: String = {
    val k = SpanGram
    raw"""
    WITH toks AS (
      SELECT doc_id, $sqlToks AS t FROM documents),
    grams AS (
      SELECT doc_id, CAST(i AS BIGINT) AS i,
        CAST('0x' || substring(md5(array_to_string(t[i:i+${k - 1}], ' ')),
          1, 15) AS BIGINT) AS g
      FROM toks, unnest(range(1, len(t) - ${k - 2})) AS u(i)
      WHERE len(t) >= $k),
    dup AS (SELECT g FROM grams GROUP BY g HAVING COUNT(*) >= 2),
    marked AS (
      SELECT doc_id, i,
        CASE WHEN i - lag(i) OVER (PARTITION BY doc_id ORDER BY i) > $k
          THEN 1 ELSE 0 END AS brk
      FROM grams JOIN dup USING (g)),
    isl AS (
      SELECT doc_id, i,
        SUM(brk) OVER (PARTITION BY doc_id ORDER BY i) AS island
      FROM marked)
    SELECT doc_id, CAST(MIN(i) AS BIGINT) AS span_start,
      CAST(MAX(i) + ${k - 1} AS BIGINT) AS span_end,
      CAST(MAX(i) + ${k - 1} - MIN(i) + 1 AS BIGINT) AS span_len
    FROM isl GROUP BY doc_id, island
    ORDER BY doc_id, span_start"""
  }

  // ---- q113: deterministic epoch reshuffle + sharding -------------------
  // Training dataloaders need a DIFFERENT document order every epoch and
  // the SAME order on re-run/resume (seekable, reproducible shuffles).
  // The salted-hash trick gives both without a global permutation table:
  // epoch e orders doc x by h60("ep:e:" + doc_id) — a fixed pseudo-random
  // permutation per epoch — and shards by that hash mod Shards, so a
  // shard's read order is just its hash-sorted slice. Output pins the
  // contract per (epoch, shard): member count, token sum, and a
  // position-weighted checksum (sum pos·doc_id) that any reordering or
  // membership change would break.
  //
  // Scale shape: shard assignment is per-row arithmetic on the hash; the
  // only shuffle is the (epoch, shard) window+aggregate — Epochs×Shards
  // balanced partitions, each sorting its own ~n/Shards slice (exactly
  // the sort a shard materialization performs anyway). Nothing global:
  // no corpus-wide row_number, no permutation table join.
  private val Epochs = 3
  private val ShardCount = 8

  def q113EpochShuffle(s: SparkSession, d: String): DataFrame = {
    graft.expressions.Hash60.register(s)
    val w = Window.partitionBy(col("epoch"), col("shard"))
      .orderBy(col("h"), col("doc_id"))
    Tables.documents(s, d)
      .select(col("doc_id"), tokenCount(col("text")).as("n_tok"))
      .withColumn("epoch", explode(sequence(lit(0L), lit(Epochs - 1L))))
      .withColumn("h", expr(
        "h60(concat('ep:', cast(epoch as string), ':'," +
          " cast(doc_id as string)))"))
      .withColumn("shard", col("h") % ShardCount)
      .withColumn("pos", row_number().over(w).cast("long"))
      .groupBy(col("epoch"), col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("tok_sum"),
        sum(col("pos") * col("doc_id")).as("perm_sig"))
      .orderBy(col("epoch"), col("shard"))
  }

  val q113Sql: String = raw"""
    WITH docs AS (
      SELECT doc_id,
        CAST(len(list_filter($sqlToks, x -> x <> '')) AS BIGINT) AS n_tok
      FROM documents),
    x AS (
      SELECT doc_id, n_tok, e AS epoch,
        CAST('0x' || substring(md5('ep:' || CAST(e AS VARCHAR) || ':' ||
          CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
      FROM docs CROSS JOIN (SELECT unnest(range(0, $Epochs)) AS e)),
    p AS (
      SELECT epoch, doc_id, n_tok, h % $ShardCount AS shard,
        ROW_NUMBER() OVER (PARTITION BY epoch, h % $ShardCount
          ORDER BY h, doc_id) AS pos
      FROM x)
    SELECT CAST(epoch AS BIGINT) AS epoch, CAST(shard AS BIGINT) AS shard,
      COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS tok_sum,
      CAST(SUM(pos * doc_id) AS BIGINT) AS perm_sig
    FROM p GROUP BY 1, 2 ORDER BY 1, 2"""

  // ---- q153: shuffle mixing quality (adjacent same-source rate) --------
  // The dataloader health check on q113's epoch shuffle: in each epoch's
  // shard read order, how often do ADJACENT documents share a source,
  // vs the without-replacement independence expectation Σc·(c−1)/t·(t−1)?
  // A clumped shuffle feeds the trainer long same-source runs (gradient
  // correlation, the thing epoch shuffling exists to prevent); a healthy
  // salted-hash permutation sits at the expectation. Both rates are
  // exact integer ppm, and the band compares the two ppm integers
  // directly. The expectation runs on Decimal(38,0): Σc(c−1) overflows
  // Long at a single ~3e9-doc source and t(t−1) at t ≈ 3e9 docs total,
  // while DuckDB's SUM is HUGEINT — decimal keeps the engines exact-
  // identical to ~1e19 docs (c² ≤ 1e38), far past any real corpus.
  //
  // Scale shape: q113's exact partitioning — the lag window runs per
  // (epoch, shard) over each shard's own slice (the sort the shard
  // materialization performs anyway), aggregates collapse to |epochs|
  // rows, and the 1-row corpus expectation attaches via broadcast.
  def q153ShuffleMixing(s: SparkSession, d: String): DataFrame = {
    graft.expressions.Hash60.register(s)
    val w = Window.partitionBy(col("epoch"), col("shard"))
      .orderBy(col("h"), col("doc_id"))
    val adj = Tables.documents(s, d)
      .select(col("doc_id"), col("source"))
      .withColumn("epoch", explode(sequence(lit(0L), lit(Epochs - 1L))))
      .withColumn("h", expr(
        "h60(concat('ep:', cast(epoch as string), ':'," +
          " cast(doc_id as string)))"))
      .withColumn("shard", col("h") % ShardCount)
      .withColumn("prev_src", lag(col("source"), 1).over(w))
      .filter(col("prev_src").isNotNull)
      .groupBy(col("epoch"))
      .agg(count(lit(1)).as("n_adj"),
        sum(when(col("source") === col("prev_src"), 1L).otherwise(0L))
          .as("n_same"))
    val exp = Tables.documents(s, d)
      .groupBy(col("source")).agg(count(lit(1)).as("c"))
      .agg(sum(col("c").cast("decimal(38,0)") * (col("c") - 1L))
          .as("pairs_num"),
        sum(col("c")).cast("decimal(38,0)").as("t"))
      // div on decimal operands is exact integral division returning
      // BIGINT — the same Long exp_ppm column type as before
      .select(expr("pairs_num * 1000000 div (t * (t - 1))").as("exp_ppm"))
    adj.crossJoin(broadcast(exp))
      .withColumn("same_ppm", expr("n_same * 1000000 div n_adj"))
      .withColumn("mixing_band",
        when(col("same_ppm") > col("exp_ppm") * 2L, "clumped")
          .when(col("same_ppm") * 2L < col("exp_ppm"), "anti_clumped")
          .otherwise("mixed"))
      .select(col("epoch").cast("long").as("epoch"), col("n_adj"),
        col("n_same"), col("same_ppm"), col("exp_ppm"),
        col("mixing_band"))
      .orderBy(col("epoch"))
  }

  val q153Sql: String = raw"""
    WITH x AS (
      SELECT doc_id, source, e AS epoch,
        CAST('0x' || substring(md5('ep:' || CAST(e AS VARCHAR) || ':' ||
          CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
      FROM documents CROSS JOIN (SELECT unnest(range(0, $Epochs)) AS e)),
    p AS (
      SELECT epoch, source,
        LAG(source) OVER (PARTITION BY epoch, h % $ShardCount
          ORDER BY h, doc_id) AS prev_src
      FROM x),
    adj AS (
      SELECT CAST(epoch AS BIGINT) AS epoch,
        CAST(COUNT(*) AS BIGINT) AS n_adj,
        CAST(SUM(CASE WHEN source = prev_src THEN 1 ELSE 0 END)
          AS BIGINT) AS n_same
      FROM p WHERE prev_src IS NOT NULL GROUP BY 1),
    exp AS (
      SELECT CAST(SUM(c * (c - 1)) * 1000000 // (SUM(c) * (SUM(c) - 1))
        AS BIGINT) AS exp_ppm
      FROM (SELECT CAST(COUNT(*) AS BIGINT) AS c
            FROM documents GROUP BY source))
    SELECT epoch, n_adj, n_same,
      n_same * 1000000 // n_adj AS same_ppm, exp_ppm,
      CASE WHEN n_same * 1000000 // n_adj > exp_ppm * 2 THEN 'clumped'
           WHEN (n_same * 1000000 // n_adj) * 2 < exp_ppm
             THEN 'anti_clumped'
           ELSE 'mixed' END AS mixing_band
    FROM adj CROSS JOIN exp ORDER BY epoch"""

  // ---- q114: per-doc novelty (first-occurrence gram attribution) -------
  // The dedup-aware VALUE of a document: what fraction of its 8-gram
  // content appears nowhere earlier in the corpus (ingestion order =
  // doc_id)? q107 locates duplicated text; q114 prices each doc by how
  // much it adds — the score a curation pipeline sorts on when trimming
  // to a token budget (near-zero novelty ≈ pure re-statement, safe to
  // drop first). Each distinct gram is attributed to its minimum doc_id
  // (its first occurrence); a doc's novelty = owned grams / its grams.
  //
  // Scale shape: same family as q107 — gram explode, ONE groupBy on the
  // 60-bit gram hash taking min(doc_id) (partial-aggregates map-side),
  // one join back, one per-doc aggregate. All shuffles keyed by
  // high-cardinality hashes or doc_id; nothing global, nothing
  // iterative.
  def q114Novelty(s: SparkSession, d: String): DataFrame = {
    graft.expressions.Hash60.register(s)
    val k = SpanGram
    val grams = Tables.documents(s, d)
      .withColumn("t", toks(col("text")))
      .filter(size(col("t")) >= k)
      .select(col("doc_id"), explode_outer(expr(
        s"array_distinct(transform(sequence(1, size(t) - ${k - 1})," +
          s" i -> h60(concat_ws(' ', slice(t, i, $k)))))")).as("g"))
      // owner aggregate + membership join both read the gram stream —
      // 2 longs per gram, the profitable persist case (q107 pattern)
      .persist()
    val owner = grams.groupBy(col("g")).agg(min(col("doc_id")).as("owner"))
    grams.join(owner, "g")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("doc_id") === col("owner"), 1L).otherwise(0L))
          .as("n_first"))
      .withColumn("novelty",
        col("n_first").cast("double") / col("n_grams"))
      .orderBy(col("doc_id"))
  }

  val q114Sql: String = {
    val k = SpanGram
    raw"""
    WITH toks AS (
      SELECT doc_id, $sqlToks AS t FROM documents),
    grams AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
        range(1, len(t) - ${k - 2}),
        i -> CAST('0x' || substring(md5(array_to_string(t[i:i+${k - 1}],
          ' ')), 1, 15) AS BIGINT)))) AS g
      FROM toks WHERE len(t) >= $k),
    own AS (SELECT g, MIN(doc_id) AS owner FROM grams GROUP BY g)
    SELECT doc_id, COUNT(*) AS n_grams,
      CAST(SUM(CASE WHEN doc_id = owner THEN 1 ELSE 0 END) AS BIGINT)
        AS n_first,
      CAST(SUM(CASE WHEN doc_id = owner THEN 1 ELSE 0 END) AS DOUBLE)
        / COUNT(*) AS novelty
    FROM grams JOIN own USING (g)
    GROUP BY doc_id ORDER BY doc_id"""
  }

  // ---- q128: sequence packing on REAL BPE token counts -----------------
  // q74 packs on whitespace-token counts; a training dataloader packs on
  // TOKENIZER-output lengths — the boundary where q126's encode meets the
  // packing family. Per-doc length = Σ over token occurrences of the
  // word's post-merge symbol count, computed INLINE by one aggregate()
  // HOF that runs the q126 merge fold on each occurrence: no vocab-table
  // join (a corpus vocabulary is itself big at 100 TB), no shuffle — the
  // count is a per-row projection, and the chunk assignment is q74's
  // bucketed two-level prefix sum unchanged (512-token budget, now real
  // subword tokens).
  def q128BpePack(s: SparkSession, d: String): DataFrame = {
    val spaced = "concat(' ', regexp_replace(w, '(.)', '$1  '))"
    val nBpe = s"aggregate(filter(tokens, w -> w != ''), 0L, (acc, w) ->" +
      s" acc + size(split(trim(${TextOps.mergeFold(spaced)}), ' +')))"
    val docTok = Tables.documents(s, d)
      .withColumn("tokens", toks(col("text")))
      .select(col("doc_id"), expr(nBpe).cast("long").as("n_tok"))
    assignChunks(docTok)
      .groupBy(col("chunk_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_bpe_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"),
        sum(when(expr(s"start div $chunkTokens") =!=
          expr(s"(start + greatest(n_tok, 1) - 1) div $chunkTokens"), 1L).otherwise(0L))
          .as("n_boundary_docs"))
      .orderBy(col("chunk_id"))
  }

  val q128Sql: String = {
    val spaced = raw"' ' || regexp_replace(w, '(.)', '\1  ', 'g')"
    raw"""
    WITH toks AS (
      SELECT doc_id,
        CAST(COALESCE(list_sum(list_transform(
          list_filter($sqlToks, x -> x <> ''),
          w -> len(string_split_regex(trim(${TextOps.mergeFold(spaced)}),
            ' +')))), 0) AS BIGINT) AS n_tok
      FROM documents),
    pos AS (
      SELECT doc_id, n_tok,
        COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
      FROM toks)
    SELECT CAST(start // $chunkTokens AS BIGINT) AS chunk_id,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(n_tok) AS BIGINT) AS n_bpe_tokens,
      CAST(MIN(doc_id) AS BIGINT) AS first_doc,
      CAST(MAX(doc_id) AS BIGINT) AS last_doc,
      CAST(SUM(CASE WHEN start // $chunkTokens
        <> (start + GREATEST(n_tok, 1) - 1) // $chunkTokens THEN 1 ELSE 0 END)
        AS BIGINT) AS n_boundary_docs
    FROM pos GROUP BY 1 ORDER BY 1"""
  }

  // ---- q139: curriculum ordering (staged difficulty, sharded order) ----
  // Curriculum training consumes the corpus easy→hard: stage = fixed
  // integer difficulty band (milli-mean-word-length, exact ⌊Σlen·1000/n⌋
  // — positive, so Spark `div` and DuckDB `//` coincide), and within a
  // stage the read order is a salted-hash permutation — q113's seekable
  // reproducible-shuffle trick, here keyed "cur:" so the curriculum
  // permutation is independent of every epoch permutation.
  //
  // Scale shape: difficulty and stage are per-row projections; the only
  // shuffle is the (stage, shard) window — Stages×Shards balanced
  // partitions each sorting its own slice (the dataloader's shard sort).
  // No global row_number: the curriculum order is the lexicographic
  // (stage, shard, pos) triple, which is exactly how a sharded loader
  // consumes it.
  private val CurShards = 4

  def q139Curriculum(s: SparkSession, d: String): DataFrame = {
    graft.expressions.Hash60.register(s)
    val w = Window.partitionBy(col("stage"), col("shard"))
      .orderBy(col("h"), col("doc_id"))
    Tables.documents(s, d)
      .withColumn("t", filter(toks(col("text")), x => x =!= lit("")))
      .withColumn("difficulty", expr(
        "aggregate(t, 0L, (a, x) -> a + length(x)) * 1000 div size(t)"))
      .withColumn("stage",
        when(col("difficulty") < 4400, 1L)
          .when(col("difficulty") < 4510, 2L)
          .when(col("difficulty") < 4620, 3L).otherwise(4L))
      .withColumn("h",
        expr("h60(concat('cur:', cast(doc_id as string)))"))
      .withColumn("shard", col("h") % CurShards)
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col("doc_id"), col("difficulty"), col("stage"),
        col("shard"), col("pos"))
      .orderBy(col("doc_id"))
  }

  val q139Sql: String = raw"""
    WITH s AS (
      SELECT doc_id,
        CAST(list_sum(list_transform(list_filter($sqlToks, x -> x <> ''),
          x -> length(x))) AS BIGINT) * 1000
          // len(list_filter($sqlToks, x -> x <> '')) AS difficulty,
        CAST('0x' || substring(md5('cur:' || CAST(doc_id AS VARCHAR)),
          1, 15) AS BIGINT) AS h
      FROM documents),
    st AS (
      SELECT doc_id, difficulty,
        CASE WHEN difficulty < 4400 THEN 1
             WHEN difficulty < 4510 THEN 2
             WHEN difficulty < 4620 THEN 3 ELSE 4 END AS stage,
        h, h % $CurShards AS shard
      FROM s)
    SELECT doc_id, difficulty, CAST(stage AS BIGINT) AS stage,
      CAST(shard AS BIGINT) AS shard,
      CAST(ROW_NUMBER() OVER (PARTITION BY stage, shard
        ORDER BY h, doc_id) AS BIGINT) AS pos
    FROM st ORDER BY doc_id"""

  // ---- q140: temperature-scaled source sampling (T = 2) ----------------
  // The multilingual/multi-source mixing rule: draw probability ∝ n^(1/T)
  // flattens the source distribution so small sources aren't drowned
  // (Conneau & Lample 2019 style). T = 2 means weights = √tokens — kept
  // EXACT by an integer sqrt: s₀ = ⌊sqrt(double)⌋ then ±1 correction by
  // integer cross-check, so a one-ulp libm difference between engines
  // cannot change the weight. Draw quotas allocate a fixed budget by
  // largest remainder (floor quota + top-deficit ranks get one extra),
  // summing to the budget exactly — deterministic, no float shares.
  //
  // Scale shape: one map-side token-count aggregate to |sources| rows;
  // everything after is arithmetic on that tiny table (the two scalar
  // attaches are 1-row broadcasts).
  private val DrawBudget = 1000L

  def q140TemperatureMix(s: SparkSession, d: String): DataFrame = {
    val cnt = Tables.documents(s, d)
      .withColumn("t", filter(toks(col("text")), x => x =!= lit("")))
      .groupBy(col("source"))
      .agg(sum(size(col("t")).cast("long")).as("n_tok"))
    val s0 = expr("cast(floor(sqrt(cast(n_tok as double))) as bigint)")
    val weighted = cnt.withColumn("s0", s0)
      .withColumn("w", col("s0")
        - when(col("s0") * col("s0") > col("n_tok"), 1L).otherwise(0L)
        + when((col("s0") + 1) * (col("s0") + 1) <= col("n_tok"), 1L)
          .otherwise(0L))
    val tot = weighted.agg(sum(col("w")).as("w_sum"))
    val quotas = weighted.crossJoin(broadcast(tot))
      .withColumn("share_ppm", expr("w * 1000000 div w_sum"))
      .withColumn("f", expr(s"$DrawBudget * w div w_sum"))
      .withColumn("rem", lit(DrawBudget) * col("w") - col("f") * col("w_sum"))
    val deficit = quotas.agg((lit(DrawBudget) - sum(col("f")))
      .as("deficit"))
    quotas.crossJoin(broadcast(deficit))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("rem").desc, col("source"))).cast("long"))
      .withColumn("quota",
        col("f") + when(col("rk") <= col("deficit"), 1L).otherwise(0L))
      .select(col("source"), col("n_tok"), col("w"), col("share_ppm"),
        col("quota"))
      .orderBy(col("source"))
  }

  val q140Sql: String = raw"""
    WITH cnt AS (
      SELECT source,
        CAST(SUM(len(list_filter($sqlToks, x -> x <> ''))) AS BIGINT)
          AS n_tok
      FROM documents GROUP BY source),
    wt AS (
      SELECT source, n_tok,
        CAST(FLOOR(SQRT(CAST(n_tok AS DOUBLE))) AS BIGINT)
          - (CASE WHEN CAST(FLOOR(SQRT(CAST(n_tok AS DOUBLE))) AS BIGINT)
               * CAST(FLOOR(SQRT(CAST(n_tok AS DOUBLE))) AS BIGINT) > n_tok
             THEN 1 ELSE 0 END)
          + (CASE WHEN (CAST(FLOOR(SQRT(CAST(n_tok AS DOUBLE))) AS BIGINT)
               + 1) * (CAST(FLOOR(SQRT(CAST(n_tok AS DOUBLE))) AS BIGINT)
               + 1) <= n_tok THEN 1 ELSE 0 END) AS w
      FROM cnt),
    tot AS (SELECT SUM(w) AS w_sum FROM wt),
    q AS (
      SELECT source, n_tok, w,
        w * 1000000 // w_sum AS share_ppm,
        $DrawBudget * w // w_sum AS f,
        $DrawBudget * w - ($DrawBudget * w // w_sum) * w_sum AS rem
      FROM wt CROSS JOIN tot),
    dfc AS (SELECT $DrawBudget - SUM(f) AS deficit FROM q)
    SELECT source, n_tok, CAST(w AS BIGINT) AS w,
      CAST(share_ppm AS BIGINT) AS share_ppm,
      CAST(f + (CASE WHEN ROW_NUMBER() OVER (ORDER BY rem DESC, source)
        <= deficit THEN 1 ELSE 0 END) AS BIGINT) AS quota
    FROM q CROSS JOIN dfc ORDER BY source"""

  // ---- q145: RAG-style document chunking (token windows + stride) ------
  // Split every document into fixed-width token windows advanced by a
  // stride < width, the retrieval-prep step an embedding pipeline runs
  // before chunk-level encoding: start positions 0, S, 2S, … while the
  // start still lands inside the document; each chunk keeps `width`
  // tokens (the tail chunks run short). Case is PRESERVED (unlike the
  // lowercased analysis `toks` — chunks feed an embedder, which wants
  // the original surface form); the split regex stays the proven
  // Java/RE2-identical character class. Per-row map + explode only —
  // no shuffle besides the gate's deterministic ORDER BY — so the op
  // is embarrassingly parallel at any corpus size, and `chunk_md5`
  // gives downstream chunk-level dedup (q72-style) a join key without
  // re-tokenizing.
  private val chunkWidth = 32
  private val chunkStride = 24

  /** Un-ordered chunk lattice — q145's builder, also consumed by
    * [[graft.RagIndexJob]] (which must not inherit the gate's global
    * sort). */
  private[graft] def docChunks(s: SparkSession, d: String): DataFrame = {
    val (w, st) = (chunkWidth, chunkStride)
    Tables.documents(s, d)
      // coalesce pins the NULL-text edge to the empty-text behavior on
      // BOTH engines (Spark alone would emit n_toks = -1 / md5('') rows
      // where DuckDB null-propagates — latent until a nullable-text
      // fixture appears)
      .withColumn("t",
        split(trim(coalesce(col("text"), lit(""))), "[ \\t\\n\\r\\f]+"))
      .select(col("doc_id"), col("lang"), col("t"),
        posexplode(sequence(lit(0L),
          greatest(size(col("t")) - 1, lit(0)).cast("long"),
          lit(st.toLong))))
      .withColumn("chunk", slice(col("t"), col("col").cast("int") + 1, lit(w)))
      .withColumn("chunk_text", concat_ws(" ", col("chunk")))
      .select(col("doc_id"), col("lang"),
        col("pos").cast("long").as("chunk_idx"),
        col("col").as("start_tok"),
        size(col("chunk")).cast("long").as("n_toks"),
        md5(col("chunk_text")).as("chunk_md5"),
        col("chunk_text"))
  }

  def q145DocChunks(s: SparkSession, d: String): DataFrame =
    docChunks(s, d).orderBy(col("doc_id"), col("chunk_idx"))

  val q145Sql: String = raw"""
    WITH t AS (
      SELECT doc_id, lang,
        string_split_regex(trim(coalesce(text, '')), '[ \t\n\r\f]+') AS toks
      FROM documents),
    c AS (
      SELECT doc_id, lang, CAST(st AS BIGINT) AS start_tok,
        list_slice(toks, st + 1, st + $chunkWidth) AS chunk
      FROM t, unnest(generate_series(CAST(0 AS BIGINT),
        CAST(GREATEST(len(toks) - 1, 0) AS BIGINT),
        CAST($chunkStride AS BIGINT))) AS u(st))
    SELECT doc_id, lang, start_tok // $chunkStride AS chunk_idx, start_tok,
      CAST(len(chunk) AS BIGINT) AS n_toks,
      md5(array_to_string(chunk, ' ')) AS chunk_md5,
      array_to_string(chunk, ' ') AS chunk_text
    FROM c ORDER BY doc_id, chunk_idx"""

  // ---- q147: per-domain document cap (histogram accounting) ------------
  // The RefinedWeb/C4-class anti-spam control: no single domain/source
  // may contribute more than CapK documents, priority to the longest
  // (n_chars DESC, doc_id ASC — a total order, doc_id is unique). The
  // report is the per-source admission accounting a curation run logs:
  // docs and char mass kept vs dropped by the cap.
  //
  // Scale shape — deliberately NOT a row_number over the corpus: a
  // per-source window sorts each domain in ONE task, and domains are the
  // canonical skewed key (a crawl's biggest domain is millions of docs).
  // Instead the cap is resolved on the (source, n_chars) HISTOGRAM — the
  // q122 move: n_chars has a bounded domain, so the histogram is a tiny
  // frame; the running count locates the admission boundary per source,
  // and the boundary level admits `CapK - cum_above` of its docs. Docs
  // at one level all carry the same char mass, so the accounting needs
  // no per-doc tiebreak at all: one map-side-combining aggregate over
  // the corpus, then window + arithmetic on the histogram rows only.
  private val CapK = 15L

  def q147DomainCap(s: SparkSession, d: String): DataFrame = {
    val hist = Tables.documents(s, d)
      .groupBy(col("source"), col("n_chars"))
      .agg(count(lit(1)).as("cnt"))
    val above = Window.partitionBy(col("source"))
      .orderBy(col("n_chars").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    hist
      .withColumn("cum_above", coalesce(sum(col("cnt")).over(above),
        lit(0L)))
      .withColumn("kept_here",
        greatest(lit(0L), least(col("cnt"), lit(CapK) - col("cum_above"))))
      .groupBy(col("source"))
      .agg(sum(col("cnt")).as("n_docs"),
        sum(col("kept_here")).as("kept_docs"),
        (sum(col("cnt")) - sum(col("kept_here"))).as("dropped_docs"),
        sum(col("kept_here") * col("n_chars")).as("kept_chars"),
        (sum(col("cnt") * col("n_chars"))
          - sum(col("kept_here") * col("n_chars"))).as("dropped_chars"))
      .orderBy(col("source"))
  }

  val q147Sql: String = raw"""
    WITH hist AS (
      SELECT source, n_chars, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM documents GROUP BY source, n_chars),
    lev AS (
      SELECT source, n_chars, cnt,
        COALESCE(SUM(cnt) OVER (PARTITION BY source ORDER BY n_chars DESC
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          AS cum_above
      FROM hist),
    adm AS (
      SELECT source, n_chars, cnt,
        GREATEST(0, LEAST(cnt, $CapK - cum_above)) AS kept_here
      FROM lev)
    SELECT source,
      CAST(SUM(cnt) AS BIGINT) AS n_docs,
      CAST(SUM(kept_here) AS BIGINT) AS kept_docs,
      CAST(SUM(cnt) - SUM(kept_here) AS BIGINT) AS dropped_docs,
      CAST(SUM(kept_here * n_chars) AS BIGINT) AS kept_chars,
      CAST(SUM(cnt * n_chars) - SUM(kept_here * n_chars) AS BIGINT)
        AS dropped_chars
    FROM adm GROUP BY source ORDER BY source"""

  // ---- q157: token-budget admission by quality-score histogram ---------
  // The curation endgame: a training run has a TOKEN budget, not a doc
  // budget — admit the highest-quality token mass until the budget is
  // spent. Quality score = stopword per-mille (q25's naturalness signal,
  // quantized to a BOUNDED 0..1000 domain); budget = 1/BudgetDiv of the
  // corpus token mass. The admission cutoff is resolved on the
  // (score, token-mass) HISTOGRAM — the q147/q122 bounded-domain move:
  // never a corpus-wide quality sort or row_number. Output is the
  // per-band admission ledger (full / partial / dropped with masses);
  // a pipeline then admits `score > cutoff` as a per-row filter plus a
  // deterministic tiebreak inside the one partial band.
  //
  // Scale shape: zero corpus text scans — the score derives from the
  // PINNED q25 attribute table's (n_stop, n_tokens) integers (its
  // tokenization: whitespace split of trimmed lowercase, a blank doc is
  // the single empty token, so n_tokens ≥ 1 always), then one
  // map-side-combining groupBy onto ≤1001 rows, a window over that
  // bounded frame (unpartitioned is safe: the frame IS the domain, not
  // the corpus), and the 1-row budget scalar attaches via broadcast.
  // Zero corpus-sized shuffles, zero global sorts.
  private val BudgetDiv = 4L

  def q157BudgetAdmission(s: SparkSession, d: String): DataFrame = {
    val scored = TextOps.attrHeuristic(s, d)
      .withColumn("score", expr("n_stop * 1000 div n_tokens"))
      .select(col("score"), col("n_tokens").as("n_tok"))
    val hist = scored.groupBy(col("score"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tok_mass"))
    val total = scored.agg(
      expr(s"sum(n_tok) div $BudgetDiv").as("budget"))
    val above = Window.orderBy(col("score").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    hist.crossJoin(broadcast(total))
      .withColumn("cum_above",
        coalesce(sum(col("tok_mass")).over(above), lit(0L)))
      .withColumn("admitted_here",
        greatest(lit(0L),
          least(col("tok_mass"), col("budget") - col("cum_above"))))
      .withColumn("band_status",
        when(col("admitted_here") === col("tok_mass"), "full")
          .when(col("admitted_here") > 0L, "partial")
          .otherwise("dropped"))
      .select(col("score"), col("n_docs"), col("tok_mass"),
        col("cum_above"), col("admitted_here"), col("band_status"))
      .orderBy(col("score").desc)
  }

  val q157Sql: String = raw"""
    WITH h AS (${TextOps.q25Sql}),
    sc AS (
      SELECT n_stop * 1000 // n_tokens AS score, n_tokens AS n_tok
      FROM h),
    hist AS (
      SELECT score, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(n_tok) AS BIGINT) AS tok_mass
      FROM sc GROUP BY score),
    tot AS (SELECT CAST(SUM(n_tok) AS BIGINT) // $BudgetDiv AS budget
            FROM sc),
    lev AS (
      SELECT score, n_docs, tok_mass,
        CAST(COALESCE(SUM(tok_mass) OVER (ORDER BY score DESC
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          AS BIGINT) AS cum_above
      FROM hist)
    SELECT score, n_docs, tok_mass, cum_above,
      CAST(GREATEST(0, LEAST(tok_mass, budget - cum_above)) AS BIGINT)
        AS admitted_here,
      CASE WHEN GREATEST(0, LEAST(tok_mass, budget - cum_above))
             = tok_mass THEN 'full'
           WHEN GREATEST(0, LEAST(tok_mass, budget - cum_above)) > 0
             THEN 'partial'
           ELSE 'dropped' END AS band_status
    FROM lev CROSS JOIN tot ORDER BY score DESC"""

  // ---- q238: context-window budget sweep --------------------------------
  // The capacity-planning read before fixing a training config: for each
  // candidate context length L, how many sequences the corpus yields
  // under doc-boundary packing (Σ ceil(tok_d / L) — q74's semantics) and
  // what fraction of the resulting token budget is padding — the
  // LENGTH-SWEEP generalization of q150's single-config padding-waste
  // report. Chopped-concat (ceil(Σtok / L) — q83's span semantics, zero
  // pad) rides along as the floor each config is judged against. All
  // exact integers: ceil(a/b) = (a + L − 1) div L on nonnegative longs,
  // waste as staged ppm. Scale shape: ONE tokenize scan collapses the
  // corpus to per-doc token counts; the 3-row config frame crosses the
  // 1-row corpus totals.
  private val CtxLens = Seq(512L, 2048L, 8192L)

  def q238ContextBudget(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
      .select(size(filter(toks(col("text")), x => x =!= lit("")))
        .cast("long").as("tok"))
      .filter(col("tok") > 0)
      .persist() // the per-L aggregate re-reads this narrow frame
    val lens = CtxLens.toDF("ctx_len")
    docs.crossJoin(broadcast(lens))
      .groupBy(col("ctx_len"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("tok")).as("n_tokens"),
        sum(expr("(tok + ctx_len - 1) div ctx_len")).as("n_seqs_packed"))
      .withColumn("n_seqs_chopped",
        expr("(n_tokens + ctx_len - 1) div ctx_len"))
      .withColumn("pad_waste_ppm", expr(
        "cast((cast(n_seqs_packed as decimal(38,0)) * ctx_len - n_tokens)" +
          " * 1000000 div (cast(n_seqs_packed as decimal(38,0)) * ctx_len)" +
          " as bigint)"))
      .select(col("ctx_len"), col("n_docs"), col("n_tokens"),
        col("n_seqs_packed"), col("n_seqs_chopped"), col("pad_waste_ppm"))
      .orderBy(col("ctx_len"))
  }

  val q238Sql: String = s"""
    WITH docs AS (
      SELECT CAST(len(list_filter($sqlToks, x -> x <> '')) AS BIGINT)
        AS tok
      FROM documents),
    nz AS (SELECT tok FROM docs WHERE tok > 0),
    lens AS (SELECT CAST(unnest([${CtxLens.mkString(", ")}]) AS BIGINT)
             AS ctx_len),
    g AS (
      SELECT ctx_len, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(tok) AS BIGINT) AS n_tokens,
        CAST(SUM((tok + ctx_len - 1) // ctx_len) AS BIGINT)
          AS n_seqs_packed
      FROM nz CROSS JOIN lens GROUP BY 1)
    SELECT ctx_len, n_docs, n_tokens, n_seqs_packed,
      CAST((n_tokens + ctx_len - 1) // ctx_len AS BIGINT) AS n_seqs_chopped,
      CAST((CAST(n_seqs_packed AS HUGEINT) * ctx_len - n_tokens) * 1000000
        // (CAST(n_seqs_packed AS HUGEINT) * ctx_len) AS BIGINT)
        AS pad_waste_ppm
    FROM g ORDER BY ctx_len"""

  // ---- q246: largest-remainder sample-budget apportionment --------------
  // The fair-quota problem every mixture builder hits after the RATES are
  // decided: a fixed budget of B sample slots must land on sources in
  // proportion to their token mass, in WHOLE slots, with the totals
  // adding up exactly. Pure proportional flooring under-allocates by up
  // to |sources|−1 slots; this is Hamilton's largest-remainder method —
  // floor every quota, then hand the leftover slots to the largest
  // fractional remainders (ties by source name). The same arithmetic
  // apportions shard counts, worker quotas, and stratified-sample sizes.
  //
  // Exactness: quotas stay as the integer pair (B·m_i div M, remainder
  // B·m_i mod M) on Decimal(38,0) <-> HUGEINT — no floats anywhere, and
  // the invariant sum(alloc) = B holds exactly (spec-pinned).
  //
  // Scale shape: one tokenize scan -> map-side-combining per-source mass
  // rollup; everything after lives on the |sources|-row frame (two
  // windows: the Σfloor running total and the remainder rank).
  private val ApportionBudget = 100000L

  def q246Apportionment(s: SparkSession, d: String): DataFrame = {
    val mass = Tables.documents(s, d)
      .select(col("source"),
        size(filter(toks(col("text")), x => x =!= lit(""))).cast("long")
          .as("tok"))
      .groupBy(col("source")).agg(sum(col("tok")).as("n_tokens"))
    val wAll = Window.partitionBy()
    val rankW = Window.orderBy(col("rem").desc, col("source").asc)
    mass
      .withColumn("m_total", sum(col("n_tokens")).over(wAll))
      .withColumn("floor_alloc", expr(
        s"cast(cast(n_tokens as decimal(38,0)) * $ApportionBudget" +
          " div m_total as bigint)"))
      .withColumn("rem", expr(
        s"cast(cast(n_tokens as decimal(38,0)) * $ApportionBudget" +
          " % m_total as bigint)"))
      .withColumn("leftover",
        lit(ApportionBudget) - sum(col("floor_alloc")).over(wAll))
      .withColumn("rnk", row_number().over(rankW).cast("long"))
      .withColumn("extra", when(col("rnk") <= col("leftover"), 1L)
        .otherwise(0L))
      .withColumn("alloc", col("floor_alloc") + col("extra"))
      .select(col("source"), col("n_tokens"), col("floor_alloc"),
        col("extra"), col("alloc"))
      .orderBy(col("source"))
  }

  val q246Sql: String = s"""
    WITH mass AS (
      SELECT source, CAST(SUM(len(list_filter($sqlToks, x -> x <> '')))
        AS BIGINT) AS n_tokens
      FROM documents GROUP BY 1),
    q AS (
      SELECT source, n_tokens,
        CAST(CAST(n_tokens AS HUGEINT) * $ApportionBudget
          // SUM(n_tokens) OVER () AS BIGINT) AS floor_alloc,
        CAST(CAST(n_tokens AS HUGEINT) * $ApportionBudget
          % SUM(n_tokens) OVER () AS BIGINT) AS rem
      FROM mass),
    r AS (
      SELECT *, $ApportionBudget - SUM(floor_alloc) OVER () AS leftover,
        CAST(row_number() OVER (ORDER BY rem DESC, source) AS BIGINT)
          AS rnk
      FROM q)
    SELECT source, n_tokens, floor_alloc,
      CAST(CASE WHEN rnk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS extra,
      floor_alloc + CASE WHEN rnk <= leftover THEN 1 ELSE 0 END AS alloc
    FROM r ORDER BY source"""

  // ---- q272: Neyman-allocated stratified sample budget -------------------
  // q246 splits a budget by MASS; the statistically optimal split for
  // estimating a corpus mean (doc length here) is Neyman allocation —
  // slots ∝ N_h·σ_h per stratum, so high-variance sources get the
  // sample depth their spread demands and a constant-length source
  // (σ = 0) wastes none. The minimum-variance classic for QA sampling,
  // labeling budgets, and eval-set sizing.
  //
  // Exactness: the weight is N_h·σ_h = √(N_h·Σx² − (Σx)²) — the
  // population identity N²σ² = N·Σx² − (Σx)², so NO per-stratum
  // division ever happens; the radicand is exact Decimal(38,0) ↔
  // HUGEINT (≥ 0 by Cauchy-Schwarz) and the root is the double-seeded
  // integer sqrt REFINED by two integer Newton steps
  // (s ← (s + w2 div s) div 2) before the q250-style ±1 correction.
  // The refinement matters in-domain: at radicands near 1e36 the
  // double seed alone is off by up to ~1 ulp ≈ 200, far beyond what a
  // ±1 correction can repair; one Newton step collapses that to
  // |error| ≤ 1 (e²/2√w2 ≈ 2e-14 plus integer-flooring ±1), the second
  // is belt-and-braces, and the ±1 correction then lands the exact
  // floor — making w_sigma_n the exact isqrt for the FULL stated
  // radicand bound, independent of seed rounding in either engine.
  // Slots then apportion by q246's largest-remainder method (floor
  // quotas + remainder rank, ties by source). If EVERY stratum is
  // constant-length (ΣW = 0) the weights fall back to N_h —
  // proportional allocation, never a zero-filled report.
  // Radicand ≤ N·Σx² ≈ 1e36 at 1e12 docs × 1e6-char bound.
  //
  // Scale shape: one map-side-combining per-source moment rollup;
  // everything after lives on the |sources|-row frame.
  private val NeymanBudget = 10000L

  def q272NeymanAlloc(s: SparkSession, d: String): DataFrame = {
    val wAll = Window.partitionBy()
    val rankW = Window.orderBy(col("rem").desc, col("source").asc)
    val m = Tables.documents(s, d)
      .select(col("source"), col("n_chars").as("x"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(expr("cast(x as decimal(38,0))")).as("sx"),
        sum(expr("cast(x as decimal(38,0)) * x")).as("sxx"))
      .withColumn("w2", expr("n_docs * sxx - sx * sx"))
      .withColumn("w0", expr(
        "cast(floor(sqrt(cast(w2 as double))) as decimal(38,0))"))
      .withColumn("w1", expr(
        "case when w0 <= 0 then w0 else" +
          " cast((w0 + w2 div w0) div 2 as decimal(38,0)) end"))
      .withColumn("wn", expr(
        "case when w1 <= 0 then w1 else" +
          " cast((w1 + w2 div w1) div 2 as decimal(38,0)) end"))
      .withColumn("w_sigma_n", expr(
        "cast(case when (wn + 1) * (wn + 1) <= w2 then wn + 1" +
          " when wn * wn > w2 then wn - 1 else wn end as bigint)"))
      .withColumn("w_total", sum(col("w_sigma_n")).over(wAll))
      // all-constant corpus: σ ≡ 0 everywhere → proportional fallback
      .withColumn("w_eff", expr(
        "case when w_total > 0 then w_sigma_n else n_docs end"))
      .withColumn("t_all", sum(col("w_eff")).over(wAll))
    m.withColumn("floor_alloc", expr(
        s"cast(cast(w_eff as decimal(38,0)) * $NeymanBudget" +
          " div nullif(t_all, 0) as bigint)"))
      .withColumn("rem", expr(
        s"cast(cast(w_eff as decimal(38,0)) * $NeymanBudget" +
          " % nullif(t_all, 0) as bigint)"))
      .withColumn("leftover",
        lit(NeymanBudget) - sum(col("floor_alloc")).over(wAll))
      .withColumn("rnk", row_number().over(rankW).cast("long"))
      .withColumn("extra", when(col("rnk") <= col("leftover"), 1L)
        .otherwise(0L))
      .withColumn("alloc", col("floor_alloc") + col("extra"))
      .select(col("source"), col("n_docs"), col("w_sigma_n"),
        col("floor_alloc"), col("extra"), col("alloc"))
      .orderBy(col("source"))
  }

  val q272Sql: String = s"""
    WITH m AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        SUM(CAST(n_chars AS HUGEINT)) AS sx,
        SUM(CAST(n_chars AS HUGEINT) * n_chars) AS sxx
      FROM documents GROUP BY 1),
    w2 AS (SELECT *, n_docs * sxx - sx * sx AS w2 FROM m),
    w0 AS (
      SELECT *, CAST(FLOOR(SQRT(CAST(w2 AS DOUBLE))) AS HUGEINT) AS w0
      FROM w2),
    w1 AS (
      SELECT *, CASE WHEN w0 <= 0 THEN w0
        ELSE (w0 + w2 // w0) // 2 END AS w1
      FROM w0),
    wn AS (
      SELECT *, CASE WHEN w1 <= 0 THEN w1
        ELSE (w1 + w2 // w1) // 2 END AS wn
      FROM w1),
    ws AS (
      SELECT source, n_docs,
        CAST(CASE WHEN (wn + 1) * (wn + 1) <= w2 THEN wn + 1
                  WHEN wn * wn > w2 THEN wn - 1 ELSE wn END AS BIGINT)
          AS w_sigma_n
      FROM wn),
    we AS (
      SELECT *,
        CASE WHEN SUM(w_sigma_n) OVER () > 0 THEN w_sigma_n
             ELSE n_docs END AS w_eff
      FROM ws),
    q AS (
      SELECT *,
        CAST(CAST(w_eff AS HUGEINT) * $NeymanBudget
          // nullif(SUM(w_eff) OVER (), 0) AS BIGINT) AS floor_alloc,
        CAST(CAST(w_eff AS HUGEINT) * $NeymanBudget
          % nullif(SUM(w_eff) OVER (), 0) AS BIGINT) AS rem
      FROM we),
    r AS (
      SELECT *, $NeymanBudget - SUM(floor_alloc) OVER () AS leftover,
        CAST(row_number() OVER (ORDER BY rem DESC, source) AS BIGINT)
          AS rnk
      FROM q)
    SELECT source, n_docs, w_sigma_n, floor_alloc,
      CAST(CASE WHEN rnk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS extra,
      floor_alloc + CASE WHEN rnk <= leftover THEN 1 ELSE 0 END AS alloc
    FROM r ORDER BY source"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q272_neyman_alloc" -> q272NeymanAlloc _,
    "q246_apportionment" -> q246Apportionment _,
    "q238_context_budget" -> q238ContextBudget _,
    "q157_budget_admission" -> q157BudgetAdmission _,
    "q70_pii_redaction" -> q70PiiRedaction _,
    "q71_contamination" -> q71Contamination _,
    "q194_contamination_sweep" -> q194ContaminationSweep _,
    "q72_segment_dedup" -> q72SegmentDedup _,
    "q73_tfidf"         -> q73Tfidf _,
    "q74_seq_packing"   -> q74SeqPacking _,
    "q75_source_mixing" -> q75SourceMixing _,
    "q83_pack_spans"    -> q83PackSpans _,
    "q86_upsample_mix"  -> q86UpsampleMix _,
    "q93_sliding_spans" -> q93SlidingSpans _,
    "q100_curation_summary" -> q100CurationSummary _,
    "q101_weighted_sample" -> q101WeightedSample _,
    "q107_dup_spans"    -> q107DupSpans _,
    "q113_epoch_shuffle" -> q113EpochShuffle _,
    "q114_novelty"      -> q114Novelty _,
    "q128_bpe_pack"     -> q128BpePack _,
    "q139_curriculum"   -> q139Curriculum _,
    "q140_temperature_mix" -> q140TemperatureMix _,
    "q145_doc_chunks"   -> q145DocChunks _,
    "q147_domain_cap"   -> q147DomainCap _,
    "q153_shuffle_mixing" -> q153ShuffleMixing _)

  val oracles: Map[String, String] = Map(
    "q272_neyman_alloc" -> q272Sql,
    "q246_apportionment" -> q246Sql,
    "q238_context_budget" -> q238Sql,
    "q157_budget_admission" -> q157Sql,
    "q70_pii_redaction" -> q70Sql,
    "q71_contamination" -> q71Sql,
    "q194_contamination_sweep" -> q194Sql,
    "q72_segment_dedup" -> q72Sql,
    "q73_tfidf"         -> q73Sql,
    "q74_seq_packing"   -> q74Sql,
    "q75_source_mixing" -> q75Sql,
    "q83_pack_spans"    -> q83Sql,
    "q86_upsample_mix"  -> q86Sql,
    "q93_sliding_spans" -> q93Sql,
    "q100_curation_summary" -> q100Sql,
    "q101_weighted_sample" -> q101Sql,
    "q107_dup_spans"    -> q107Sql,
    "q113_epoch_shuffle" -> q113Sql,
    "q114_novelty"      -> q114Sql,
    "q128_bpe_pack"     -> q128Sql,
    "q139_curriculum"   -> q139Sql,
    "q140_temperature_mix" -> q140Sql,
    "q145_doc_chunks"   -> q145Sql,
    "q147_domain_cap"   -> q147Sql,
    "q153_shuffle_mixing" -> q153Sql)
}
