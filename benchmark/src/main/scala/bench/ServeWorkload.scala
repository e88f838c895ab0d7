package bench

import java.util.concurrent.{Callable, Executors}

import scala.collection.mutable
import scala.io.Source

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.{BenchStages, RagIndexJob, SparkEntry, Verify}
import graft.ops.StageCache

/** rag_serve: the retrieval index (`RagIndexJob`) serving lookups between
  * refresh cycles, over a generated corpus (the repository's ten-table
  * fixture schema at sf0.01, corpus seed 42; the index is built from its
  * documents).
  *
  * The corpus is generated once; set-up (twice) builds the index from it.
  * The first, throw-away index then takes the warm-up (every timed path
  * once), which also pays the JVM's cold start. The timed
  * phase runs whole rounds, as many as fit and at least one. In a round `Clients` client threads each
  * send `LookupsPerClient` seeded lookups in a closed loop (the next leaves
  * when the previous returned): exact chunk texts, perturbed texts,
  * out-of-corpus texts, 1 in 4 multi-probe. Then comes the refresh cycle:
  * the registry batch (registry_units.tsv: StageCache stages derived afresh,
  * then registry queries fetching their results), an index update with a
  * seeded batch of novel, re-submitted and partly overlapping documents, and
  * maintenance.
  *
  * Checks: every lookup returns at most k rows in cosine order and an exact
  * chunk text finds its chunk; each registry query's first result matches
  * its pinned digest; recall@10 of the first round's lookups, which run on
  * the freshly built index, is measured against brute-force cosine. */
object ServeWorkload {
  val CorpusSeed = 42L
  val SetupReps = 2
  val Clients = 2
  val LookupsPerClient = 8

  final case class Unit_(name: String, module: String, digest: Option[(String, Long)])

  /** The registry batch: StageCache stages first, then queries. */
  def units(): Seq[Unit_] = {
    val src = Source.fromResource("registry_units.tsv")
    try src.getLines().filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(n, m, d, r) = l.split("\t")
      Unit_(n, m, if (d == "-") None else Some((d, r.toLong)))
    }.toList finally src.close()
  }

  /** Runs one registry unit; a query's result is fetched with its columns
    * in name order (the canonical form its digest is taken over). */
  private def runUnit(spark: SparkSession, dir: String, name: String): Array[Row] =
    if (name.startsWith("stage_")) { BenchStages.builders(name)(spark, dir); Array.empty }
    else {
      val df = SparkEntry.queries(name)(spark, dir)
      val rows = df.select(df.columns.sorted.map(col).toIndexedSeq: _*).collect()
      spark.catalog.clearCache()
      rows
    }

  /** graft.Verify.canonicalDigest over rows already fetched. */
  private def digest(rows: Array[Row]): (String, Long) = {
    val lines = rows.map(_.toSeq.map(Verify.render).mkString("\u0001"))
    val md = java.security.MessageDigest.getInstance("MD5")
    (md.digest(lines.sorted.mkString("\n").getBytes("UTF-8")).map(b => f"$b%02x").mkString,
      lines.length.toLong)
  }

  /** A corpus with its index. */
  final case class Deployment(dir: String, index: String, docs: IndexedSeq[Gen.Doc])

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val rec = ctx.record
    val tr = ctx.tracer
    val all = units()
    val (stages, queries) = all.partition(_.name.startsWith("stage_"))
    val pool = Executors.newFixedThreadPool(Clients)

    /** One serving round: every client sends its lookups in a closed loop.
      * Returns (query, rows, ms) per lookup, or the first error. */
    def serve(dep: Deployment, first: Long, kind: String, perClient: Int = LookupsPerClient)
        : Seq[Either[String, (Rag.Query, Array[Row], Double, Long)]] =
      (0 until Clients).map { c =>
        pool.submit(new Callable[Seq[Either[String, (Rag.Query, Array[Row], Double, Long)]]] {
          def call() = (0 until perClient).map { i =>
            val q = Rag.query(ctx.seed, first + c * perClient + i, dep.docs)
            try {
              val ((rows, files), ms) = tr.span(kind, q.kind) {
                val df = RagIndexJob.lookup(spark, dep.index, q.text, Rag.K, q.multiProbe)
                val rows = df.collect()
                (rows, if (tr.enabled) PlanStats.scans(df)._1 else 0L)
              }
              Right((q, rows, ms, files))
            } catch { case e: Exception => Left(s"lookup ${q.kind}: $e") }
          }
        })
      }.flatMap(_.get())

    // the corpus, generated once; set-up, repeated, builds the index from
    // it. The first repetition's index is throw-away and takes the warm-up
    // (every timed path once); the last is served.
    val corpus = ctx.phase("corpus") {
      val d = ctx.dir("corpus")
      Gen.corpus(spark, CorpusSeed, if (ctx.tiny) 0.001 else 0.01, d)
      d.toString
    }
    val docs = Gen.documents(CorpusSeed, Gen.rows(if (ctx.tiny) 0.001 else 0.01)("documents").toInt)
    val setupS = new Samples("setup_s")
    var dep: Deployment = null
    (0 until SetupReps).foreach { r =>
      dep = ctx.phase(s"setup-$r") {
        val t0 = System.nanoTime()
        val index = ctx.tmp.resolve(s"index-$r").toString
        RagIndexJob.build(spark, corpus, index)
        setupS += (System.nanoTime() - t0) / 1e9
        Deployment(corpus, index, docs)
      }
      if (r == 0) ctx.phase("warmup") {
        serve(dep, 1000000L, "warmup", perClient = 3)
        StageCache.clearAll()
        all.foreach(u => runUnit(spark, dep.dir, u.name))
        val b = ctx.dir("warmup-batch")
        Gen.writeDocuments(spark, Rag.batch(ctx.seed + 17, 0, dep.docs, 1000000L), b)
        RagIndexJob.update(spark, b.toString, dep.index)
        RagIndexJob.maintain(spark, dep.index)
      }
    }

    // the built index's vectors: brute-force truth for the first round's
    // lookups, which run before any update (so recall@10 is deterministic
    // for a seed)
    val truth = Rag.indexVectors(spark, dep.index)
    val firstRound = mutable.ArrayBuffer.empty[(Rag.Query, Array[Row])]

    val unitMs = mutable.LinkedHashMap.empty[String, Samples]
    (all.map(_.name) ++ Seq("rag_update", "rag_maintain")).foreach(n => unitMs(n) = new Samples(n))
    val lookupMs = new Samples("lookup_ms")
    val cycleS = new Samples("refresh_cycle_s")
    val novelFrac = new Samples("novel_frac")
    val indexFiles = new Samples("index_files")
    val lookupFiles = new Samples("lookup_files")
    val firstRows = mutable.LinkedHashMap.empty[String, Array[Row]]
    var ops = 0L
    var nextQuery = 0L
    var nextId = 10000000L
    var round = 0
    var broken = false
    var cycleMs = 0.0

    /** One step of the refresh cycle. */
    def step[T](kind: String, name: String)(f: => T): Option[T] =
      if (broken) None
      else {
        rec.attempted()
        try {
          val (r, ms) = tr.span(kind, name)(f)
          unitMs(if (kind == "unit") name else kind) += ms
          cycleMs += ms
          ops += 1
          Some(r)
        } catch { case e: Exception => rec.failed(s"$name: $e"); broken = true; None }
      }

    val deadline = ctx.deadline
    val t0 = System.nanoTime()
    // whole rounds, at least one; another starts if the last would still fit
    var roundS = 0.0
    def fits = round == 0 || System.nanoTime() + (roundS * 1e9).toLong <= deadline
    while (!broken && fits) {
      val r0 = System.nanoTime()
      serve(dep, nextQuery, "lookup").foreach { r =>
        rec.attempted()
        r match {
          case Right((q, rows, ms, files)) =>
            lookupMs += ms; ops += 1
            if (round == 0) firstRound += ((q, rows))
            if (tr.enabled) lookupFiles += files.toDouble
            Rag.checkLookup(q, rows).foreach(b => rec.failed(s"lookup ${q.kind}: $b"))
          case Left(e) => rec.failed(e)
        }
      }
      nextQuery += Clients * LookupsPerClient

      // the refresh cycle; landing the update batch is the feed's work, not
      // the cycle's
      cycleMs = 0.0
      StageCache.clearAll()
      all.foreach { u =>
        step("unit", u.name)(runUnit(spark, dep.dir, u.name)).foreach { rows =>
          if (!u.name.startsWith("stage_") && !firstRows.contains(u.name)) firstRows(u.name) = rows
        }
      }
      val b = ctx.dir(s"batch-$round")
      val bd = Rag.batch(ctx.seed, round, dep.docs, nextId)
      nextId += bd.size
      Gen.writeDocuments(spark, bd, b)
      step("rag_update", s"update-$round")(RagIndexJob.update(spark, b.toString, dep.index))
        .foreach(added => if (tr.enabled)
          novelFrac += added.toDouble / bd.map(d => Rag.chunks(d.text).size).sum)
      step("rag_maintain", s"maintain-$round")(RagIndexJob.maintain(spark, dep.index))
      if (!broken) cycleS += cycleMs / 1e3
      if (tr.enabled) indexFiles += Rag.indexDataFiles(dep.index).toDouble
      round += 1
      roundS = (System.nanoTime() - r0) / 1e9
    }
    val loopS = (System.nanoTime() - t0) / 1e9
    rec.phases("timed") = loopS
    pool.shutdown()

    val recall = Rag.recallAt10(truth, firstRound.toSeq)
    rec.e2e("setup_s", setupS.median, "s")
    rec.e2e("request_ms.p50", lookupMs.median, "ms")
    rec.e2e("refresh_s.p50", cycleS.median, "s")
    rec.e2e("ops_per_s", ops / loopS, "1/s")
    rec.steady(lookupMs)
    rec.detail("samples") = Map("rounds" -> round, "lookups" -> lookupMs.size,
      "refresh_cycles" -> cycleS.size)
    rec.detail("setup_reps_s") = setupS.values
    rec.detail("recall_at_10") = recall
    rec.detail("unit_ms") = unitMs.map { case (k, v) => k -> v.median }

    // output check: every registry query's first result against its pin
    val digests = firstRows.map { case (k, rows) => k -> digest(rows) }
    firstRows.clear()
    if (!ctx.tiny) queries.foreach { u =>
      for (want <- u.digest; got <- digests.get(u.name))
        if (got != want) rec.failed(s"${u.name}: digest $got, pinned $want")
    }
    rec.detail("digests") = digests.map { case (k, (h, n)) => k -> Seq(h, n.toString) }

    if (tr.enabled) {
      tr.drain()
      val rounds = math.max(1, round)
      all.groupBy(_.module).toSeq.sortBy(_._1).foreach { case (m, us) =>
        rec.layer(s"family.${m}_s", us.map(u => unitMs(u.name).sum).sum / 1e3 / rounds, "s")
      }
      stages.foreach(u => rec.layer(s"stage.${u.name.stripPrefix("stage_")}_s",
        unitMs(u.name).median / 1e3, "s"))
      val jobs = tr.jobs(tr.spans("unit"))
      rec.layer("registry.batch_s", all.map(u => unitMs(u.name).sum).sum / 1e3 / rounds, "s")
      rec.layer("registry.scan_bytes", jobs.map(_.inputBytes).sum.toDouble / rounds, "B")
      rec.layer("registry.shuffle_bytes", jobs.map(_.shuffleWriteBytes).sum.toDouble / rounds, "B")
      rec.layer("registry.spill_bytes", jobs.map(_.spillBytes).sum.toDouble / rounds, "B")
      rec.layer("registry.gc_s", jobs.map(_.gcMs).sum / 1e3 / rounds, "s")
      rec.layer("registry.tasks", jobs.map(_.tasks).sum.toDouble / rounds, "count")

      val ls = tr.spans("lookup")
      def med(f: Span => Double) = if (ls.isEmpty) 0.0 else Samples.pct(ls.map(f), 0.5)
      rec.layer("lookup.recall_at_10", recall, "ratio")
      rec.layer("lookup.jobs", med(s => tr.jobs(s).size.toDouble), "count")
      rec.layer("lookup.driver_ms", med(s => s.durMs - tr.coveredMs(s)), "ms")
      rec.layer("lookup.scan_ms", med(s => tr.jobs(s).map(_.runMs).sum.toDouble), "ms")
      rec.layer("lookup.rows_scanned", med(s => tr.jobs(s).map(_.inputRecords).sum.toDouble), "count")
      rec.layer("lookup.files_scanned", lookupFiles.median, "count")
      rec.layer("lookup.sched_wait_ms", med(s => tr.jobs(s)
        .filter(_.firstLaunchMs != Long.MaxValue).map(j => j.firstLaunchMs - j.submitMs).sum.toDouble), "ms")
      val us = tr.spans("rag_update")
      def updMed(site: String) = if (us.isEmpty) 0.0 else Samples.pct(us.map(s =>
        tr.jobs(s).filter(_.callSite.startsWith(site)).map(_.durMs).sum.toDouble), 0.5)
      // an update is one count of the novel chunks (chunking, canonical
      // dedup and the ledger probe in one job), then the encode-and-append
      rec.layer("update.probe_ms", updMed("count at"), "ms")
      rec.layer("update.write_ms", updMed("parquet at"), "ms")
      rec.layer("update.novel_frac", novelFrac.median, "ratio")
      rec.layer("index.files", indexFiles.median, "count")
      rec.layer("maintain_ms", unitMs("rag_maintain").median, "ms")
    }
  }
}
