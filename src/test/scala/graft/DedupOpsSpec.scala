package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import ops.DedupOps

class DedupOpsSpec extends AnyFunSuite {
  import SparkTestSession._

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("StageCache: a regenerated dataset can never serve stale pinned stages") {
    import ops.StageCache
    val dir = java.nio.file.Files.createTempDirectory("graft-stagecache-")
      .toFile
    try {
      def write(v: String): Unit = {
        java.nio.file.Files.writeString(
          new java.io.File(dir, "t.txt").toPath, v)
        // mtime resolution on some filesystems is 1s — force distinct
        new java.io.File(dir, "t.txt")
          .setLastModified(System.currentTimeMillis() +
            (if (v == "new") 5000 else 0)): Unit
      }
      import spark.implicits._
      write("old")
      var computes = 0
      def stage(): org.apache.spark.sql.DataFrame =
        StageCache.getOrCompute(spark, dir.getPath, "probe") {
          computes += 1
          Seq(computes).toDF("v").localCheckpoint(true)
        }
      assert(stage().head().getInt(0) == 1)
      // same dataset version: pinned, no recompute
      assert(stage().head().getInt(0) == 1 && computes == 1)
      // regenerate the fixture under the SAME path: version moves,
      // the stale pin is evicted, the stage re-derives
      write("new")
      assert(stage().head().getInt(0) == 2,
        "stale stage served after dataset regeneration")
      assert(computes == 2)
    } finally {
      dir.listFiles().foreach(_.delete()); dir.delete(): Unit
    }
  }

  test("StageCache: a stage builder may depend on another stage (no recursive-update)") {
    import ops.StageCache
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-sc-nest-")
      .toFile
    try {
      // the knn_edges -> ann_ivf_assign shape: the outer builder calls
      // getOrCompute for its upstream stage. With the builder running
      // inside ConcurrentHashMap.computeIfAbsent this threw "Recursive
      // update" whenever the two keys shared a hash bin (dataset-
      // dependent: it fired at sf0.1, not sf0.01). Probe MANY stage
      // names so some pair collides regardless of how Key hashes.
      var inner = 0
      for (i <- 0 until 64) {
        val outer = StageCache.getOrCompute(spark, dir.getPath, s"outer-$i") {
          val up = StageCache.getOrCompute(spark, dir.getPath, s"inner-$i") {
            inner += 1; Seq(i).toDF("v").localCheckpoint(true)
          }
          up.withColumn("w", col("v") * 2).localCheckpoint(true)
        }
        assert(outer.head().getInt(0) == i)
      }
      assert(inner == 64)
    } finally {
      dir.listFiles().foreach(_.delete()); dir.delete(): Unit
    }
  }

  test("q183 dedup recall: brute all-pairs truth recount over the eval prefix") {
    val shingles = Tables.documents(spark, sf)
      .filter(col("doc_id") < DedupOps.DedupEvalN)
      .select("doc_id", "text").collect()
      .flatMap { r =>
        val toks = r.getString(1).trim.toLowerCase
          .split("[ \t\n\r\f]+").toSeq
        if (toks.length < 3) None
        else Some(r.getLong(0) -> toks.sliding(3).map(_.mkString(" "))
          .toSeq.distinct.map(DedupOps.h60).toSet)
      }
    val truth = (for {
      (i, hi) <- shingles; (j, hj) <- shingles if i < j
      if hi.intersect(hj).size * 3 >= hi.size + hj.size
    } yield (i, j)).toSet
    val r = DedupOps.q183DedupRecall(spark, sf).collect().head
    assert(r.getAs[Long]("n_eval_docs") ==
      Tables.documents(spark, sf)
        .filter(col("doc_id") < DedupOps.DedupEvalN).count())
    assert(r.getAs[Long]("n_true_pairs") == truth.size.toLong)
    // verified candidates are exact-Jaccard-filtered, so containment in
    // the truth must be measured as total: found == cand_true
    assert(r.getAs[Long]("n_found") == r.getAs[Long]("n_cand_true"))
    assert(r.getAs[Long]("n_cand_true") <= r.getAs[Long]("n_candidates"))
    if (truth.nonEmpty)
      assert(r.getAs[Long]("recall_ppm") ==
        (BigInt(r.getAs[Long]("n_found")) * 1000000 / truth.size).toLong)
    // the fixture's planted dups give the 8-band scheme near-total
    // recall at j >= 0.5 (1-(1-j)^8 >= 0.996)
    assert(truth.nonEmpty && r.getAs[Long]("recall_ppm") >= 900000L)
  }

  test("exact dedup partitions the corpus (copies sum to row count)") {
    val d = DedupOps.q29ExactDedup(spark, sf)
    assert(d.agg(sum("n_copies")).head().getLong(0)
      == Tables.documents(spark, sf).count())
    assert(d.select("content_md5").distinct().count() == d.count())
  }

  test("minhash signatures: 8 seeds per doc, stable across runs") {
    val s1 = DedupOps.q30MinhashSig(spark, sf).collect()
    val s2 = DedupOps.q30MinhashSig(spark, sf).collect()
    assert(s1.sameElements(s2))
    assert(s1.length % 8 == 0)
  }

  test("minhash-LSH pairs are verified near-dups (j >= 0.5) and symmetric-free") {
    val p = DedupOps.q31MinhashPairs(spark, sf)
    assert(p.count() > 0, "corpus has planted near-dups; none found")
    assert(p.filter(col("jaccard") < 0.5).count() == 0)
    assert(p.filter(col("id1") >= col("id2")).count() == 0)
  }

  test("simhash hd<=5 pairs are a subset of minhash j>=0.5 near-dups") {
    val mh = pairs(DedupOps.q31MinhashPairs(spark, sf))
    val sh = pairs(DedupOps.q33SimhashPairs(spark, sf))
    assert(sh.nonEmpty)
    assert(sh.subsetOf(mh),
      s"simhash-only pairs not confirmed by minhash: ${sh.diff(mh)}")
  }

  test("SWAR simhash matches a direct per-bit computation on a 5000-shingle doc") {
    import spark.implicits._
    // large distinct vocabulary → per-bit popcounts ~2500, which overflowed
    // the previous 13-bit-slot packing's top counter (sign-bit corruption)
    val words = (0 until 5000).map(i => s"w$i")
    val text = words.mkString(" ")
    val df = Seq((1L, text)).toDF("doc_id", "text")
    val got = DedupOps.withSimhash(df).head().getAs[Long]("simhash")
    // reference: direct fold in Scala over the same shingle hashes
    val shingles = words.sliding(3).map(_.mkString(" ")).toSeq.distinct
      .take(DedupOps.MaxSimhashShingles)
    val hv = shingles.map(DedupOps.h60)
    val expected = (0 until 60).map { b =>
      val pop = hv.count(h => ((h >> b) & 1L) == 1L)
      if (2 * pop > hv.size) 1L << b else 0L
    }.sum
    assert(got == expected,
      f"simhash mismatch: got=$got%x expected=$expected%x")
  }

  test("char-ngram jaccard finds the same planted near-dup cluster") {
    val ng = pairs(DedupOps.q34NgramJaccard(spark, sf))
    val mh = pairs(DedupOps.q31MinhashPairs(spark, sf))
    assert(ng.nonEmpty)
    // the two measures agree on the overwhelming majority of planted pairs
    assert(ng.intersect(mh).size * 10 >= math.max(ng.size, mh.size) * 8,
      s"ngram=$ng vs minhash=$mh diverge")
  }

  test("q34 stop-bucket cap drops the clone farm but keeps ordinary near-dups") {
    import spark.implicits._
    // 60 byte-identical clones land in ONE (b1,b2) bucket — over the
    // 25-posting stop-bucket cap, so the C(60,2)=1770 clone pairs must
    // NOT be emitted (exact dedup's job, not the verifier's); the
    // ordinary 2-doc near-dup pair in its own bucket must survive.
    val dir = java.nio.file.Files.createTempDirectory("q34cap").toString
    val clone = "the same boilerplate template text repeated verbatim" +
      " across every single mirrored landing page of the clone farm"
    val docs =
      (1L to 60L).map(i => (i, clone, "en", "farm", clone.length.toLong)) ++
        Seq(
          (100L, "a genuinely unique document about spark shuffle" +
            " partitioning strategy and broadcast joins at scale",
            "en", "prose", 100L),
          (101L, "a genuinely unique document about spark shuffle" +
            " partitioning strategy and broadcast joins at scales",
            "en", "prose", 101L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val got = DedupOps.q34NgramJaccard(spark, dir).collect()
      .map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2"))).toSet
    assert(got == Set((100L, 101L)),
      s"expected only the near-dup pair to survive the cap, got $got")
    spark.catalog.clearCache()
  }

  test("connected components merge transitive chains the pair list never emitted") {
    import spark.implicits._
    // {1~2, 2~3} (A~C edge missing), {7~8}, and a 4-node path 10-11-12-13:
    // labels must converge to the component MIN across multiple hops
    val edges = Seq((2L, 3L), (1L, 2L), (7L, 8L),
      (11L, 10L), (11L, 12L), (12L, 13L)).toDF("id1", "id2")
    val cc = DedupOps.connectedComponents(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L))
  }

  test("connected components converge on a diameter-20 chain with bounded lineage") {
    import spark.implicits._
    // worst-case shape for label propagation: a pure path 0-1-…-20 needs
    // ~20 rounds, which without the periodic localCheckpoint builds a
    // 20-deep join lineage (re-analyzed each round, replayed on recompute)
    val chain = (0L until 20L).map(i => (i, i + 1)).toDF("id1", "id2")
    val cc = DedupOps.connectedComponents(chain, maxIter = 30)
    val rows = cc.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(rows == (0L to 20L).map(_ -> 0L).toMap)
    // the checkpoint actually cut the plan: the final frame's logical
    // plan roots at materialized blocks, not a 20-join tree
    // each iteration contributes 2 joins; at most ckptEvery-1 iterations
    // can sit above the last checkpoint (without the cut: ~40 joins here)
    val planDepth = cc.queryExecution.optimizedPlan.toString
      .linesIterator.count(_.contains("Join"))
    assert(planDepth <= 2 * DedupOps.CcCkptEvery,
      s"lineage not cut: $planDepth joins in the final plan")
  }

  test("star CC matches label propagation and converges in O(log d) rounds") {
    import spark.implicits._
    // a diameter-80 chain: label propagation needs ~80 rounds; the
    // alternating large-star/small-star halves height per round, so
    // maxIter=10 both PINS the O(log d) bound and would fail loudly on
    // a regression to linear convergence
    val chain = (0L until 80L).map(i => (i, i + 1)).toDF("id1", "id2")
    val star = DedupOps.connectedComponentsStar(chain, maxIter = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(star == (0L to 80L).map(_ -> 0L).toMap)
    // equivalence with min-label propagation on a mixed-shape graph
    val edges = Seq((2L, 3L), (1L, 2L), (7L, 8L), (11L, 10L), (11L, 12L),
      (12L, 13L), (20L, 21L), (22L, 21L), (23L, 22L), (23L, 20L))
      .toDF("id1", "id2")
    val a = DedupOps.connectedComponentsStar(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = DedupOps.connectedComponents(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b)
  }

  test("q60 groups cover exactly the docs in q31 pairs; canonical is the min") {
    val g = DedupOps.q60DedupGroups(spark, sf)
    val rows = g.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val p = pairs(DedupOps.q31MinhashPairs(spark, sf))
    val docsInPairs = p.flatMap(t => Seq(t._1, t._2))
    assert(rows.map(_._1).toSet == docsInPairs)
    // canonical id is a member of its own cluster and the minimum of it
    val byCanon = rows.groupBy(_._2)
    byCanon.foreach { case (canon, members) =>
      assert(members.map(_._1).min == canon)
      assert(members.forall(_._3 == members.length))
    }
  }

  test("q102 keeps the longest member of each q60 cluster, min-id on ties") {
    val groups = DedupOps.q60DedupGroups(spark, sf)
      .select(col("doc_id"), col("canon_id"), col("cluster_size"))
    val toks = Tables.documents(spark, sf).select(col("doc_id"),
      size(split(trim(lower(col("text"))), "[ \\t\\n\\r\\f]+"))
        .cast("long").as("nt"))
    val members = groups.join(toks, "doc_id")
      .collect()
      .map(r => (r.getAs[Long]("canon_id"),
        (r.getAs[Long]("doc_id"), r.getAs[Long]("nt"),
          r.getAs[Long]("cluster_size"))))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val kept = DedupOps.q102ClusterCanonical(spark, sf).collect()
    assert(kept.map(_.getAs[Long]("canon_id")).toSet == members.keySet)
    kept.foreach { r =>
      val ms = members(r.getAs[Long]("canon_id"))
      val maxNt = ms.map(_._2).max
      val want = ms.filter(_._2 == maxNt).map(_._1).min
      assert(r.getAs[Long]("kept_doc_id") == want)
      assert(r.getAs[Long]("kept_tokens") == maxNt)
      assert(r.getAs[Long]("cluster_size") == ms.head._3)
      assert(r.getAs[Long]("cluster_tokens") == ms.map(_._2).sum)
    }
  }

  test("q123: containment bounds hold; q31 near-dups are a subset") {
    val rows = DedupOps.q123ContainmentPairs(spark, sf).collect()
    spark.catalog.clearCache()
    rows.foreach { r =>
      val (inter, n1, n2) = (r.getAs[Long]("inter"),
        r.getAs[Long]("n1"), r.getAs[Long]("n2"))
      assert(inter >= 1 && inter <= math.min(n1, n2))
      assert(r.getAs[Double]("c1") == inter.toDouble / n1)
      assert(r.getAs[Double]("c2") == inter.toDouble / n2)
      // the 60% gate: at least one side passes in exact integers
      assert(inter * 5 >= n1 * 3 || inter * 5 >= n2 * 3, r.toString)
    }
    // j >= 0.5 implies max containment >= 2j/(1+j) >= 2/3 > 0.6, so
    // every verified q31 near-dup pair must appear here
    val cont = rows.map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2")))
      .toSet
    val nd = pairs(DedupOps.q31MinhashPairs(spark, sf))
    spark.catalog.clearCache()
    assert(nd.subsetOf(cont), s"missing: ${nd -- cont}")
  }

  test("q116: census matches a driver-side recount of the pair graph") {
    val row = DedupOps.q116TriadCensus(spark, sf).head()
    spark.catalog.clearCache()
    val edges = pairs(DedupOps.q31MinhashPairs(spark, sf))
    spark.catalog.clearCache()
    // recount everything from the collected edge list (test-SF small)
    val deg = edges.toSeq.flatMap(e => Seq(e._1, e._2))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val wedges = deg.values.map(d => d * (d - 1) / 2).sum
    val es = edges.toSet
    val tri = (for {
      (a, b) <- es; (b2, c) <- es if b2 == b && es.contains((a, c))
    } yield (a, b, c)).size.toLong
    assert(row.getAs[Long]("n_nodes") == deg.size)
    assert(row.getAs[Long]("n_edges") == edges.size)
    assert(row.getAs[Long]("n_wedges") == wedges)
    assert(row.getAs[Long]("n_triangles") == tri)
    assert(row.getAs[Double]("clustering") == 3.0 * tri / wedges)
    // the assumption q60's min-label CC rests on: closed triads exist or
    // components are tiny — either way 3T never exceeds the wedge count
    assert(3 * row.getAs[Long]("n_triangles") <= row.getAs[Long]("n_wedges"))
  }

  test("q110: overlap sketch matches an independent md5-route recount") {
    val r = DedupOps.q110CorpusOverlap(spark, sf)
    val k = DedupOps.OverlapSeeds
    // bounds + exact-division contract
    assert(r.filter(col("n_match") < 0 || col("n_match") > k).count() == 0)
    assert(r.filter(col("est_jaccard") =!=
      col("n_match").cast("double") / k).count() == 0)
    assert(r.filter(col("src_a") >= col("src_b")).count() == 0)
    // every unordered pair of shingle-bearing sources appears exactly once
    val srcs = Tables.documents(spark, sf)
      .withColumn("t", split(trim(lower(col("text"))), "[ \\t\\n\\r\\f]+"))
      .filter(size(col("t")) >= 3)
      .select(col("source")).distinct().count()
    assert(r.count() == srcs * (srcs - 1) / 2)
    // rebuild the per-source sketch through Spark's md5/conv built-ins
    // (NOT the Hash60 expression) and require identical match counts
    val sh = Tables.documents(spark, sf)
      .withColumn("t", split(trim(lower(col("text"))), "[ \\t\\n\\r\\f]+"))
      .filter(size(col("t")) >= 3)
      .select(col("source"), explode(expr(
        "array_distinct(transform(sequence(1, size(t) - 2)," +
          " i -> array_join(slice(t, i, 3), ' ')))")).as("sg"))
      .withColumn("h",
        conv(substring(md5(col("sg")), 1, 15), 16, 10).cast("long"))
    val mins = (0 until k).map(j => min(expr(
      s"h ^ ${DedupOps.h60(s"seed:$j")}L")).as(s"m$j"))
    val sk = sh.groupBy(col("source")).agg(mins.head, mins.tail: _*)
    val a = sk.select(col("source").as("src_a") +:
      (0 until k).map(j => col(s"m$j").as(s"a$j")): _*)
    val b = sk.select(col("source").as("src_b") +:
      (0 until k).map(j => col(s"m$j").as(s"b$j")): _*)
    val expect = a.crossJoin(b).filter(col("src_a") < col("src_b"))
      .withColumn("e_match", (0 until k).map(j =>
        when(col(s"a$j") === col(s"b$j"), 1L).otherwise(0L))
        .reduce(_ + _))
      .select(col("src_a"), col("src_b"), col("e_match"))
    assert(r.join(expect, Seq("src_a", "src_b"))
      .filter(col("n_match") =!= col("e_match")).count() == 0)
  }

  test("q154 winnowing: brute fingerprint recount reproduces every pair row") {
    val r = DedupOps.q154Winnowing(spark, sf).collect()
      .map(x => ((x.getAs[Long]("id1"), x.getAs[Long]("id2")),
        (x.getAs[Long]("n_fp1"), x.getAs[Long]("n_fp2"),
          x.getAs[Long]("n_shared"), x.getAs[Long]("contain_ppm"))))
      .toMap
    val (k, w) = (DedupOps.WinnowK, DedupOps.WinnowW)
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(x => (x.getLong(0), x.getString(1)))
    val fps: Map[Long, Set[Long]] = docs.flatMap { case (id, text) =>
      val t = text.trim.toLowerCase.split("[ \\t\\n\\r\\f]+")
        .filter(_.nonEmpty)
      if (t.length < k + w - 1) None
      else {
        val gh = t.sliding(k).map(g => DedupOps.h60(g.mkString(" "))).toArray
        Some(id -> gh.sliding(w).map(_.min).toSet)
      }
    }.toMap
    val df = fps.values.flatten.groupBy(identity).map { case (f, o) =>
      f -> o.size
    }
    val hot = df.filter(_._2 > 50).keySet
    val clean = fps.map { case (id, s) => id -> s.diff(hot) }
    val ids = clean.keys.toSeq.sorted
    val expected = (for {
      i <- ids; j <- ids if i < j
      shared = clean(i).intersect(clean(j)).size if shared >= 2
    } yield (i, j) -> (fps(i).size.toLong, fps(j).size.toLong,
      shared.toLong,
      shared.toLong * 1000000L / math.min(fps(i).size, fps(j).size)))
      .toMap
    assert(r == expected,
      s"spark ${r.size} rows vs brute ${expected.size}")
    // the winnowing guarantee is exercised: the corpus yields pairs
    assert(r.nonEmpty)
  }

  test("q156 tightness: recount from the q31 edge list and q60 labels") {
    val r = DedupOps.q156ClusterTightness(spark, sf).collect()
    val labels = DedupOps.q60DedupGroups(spark, sf)
      .select("doc_id", "canon_id").collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    val edges = DedupOps.q31MinhashPairs(spark, sf)
      .select("id1", "id2", "inter", "uni").collect()
      .map(x => (x.getLong(0), x.getLong(1),
        x.getLong(2) * 1000000L / x.getLong(3)))
    val members = labels.values.groupBy(identity).map { case (c, o) =>
      c -> o.size.toLong
    }
    val byCluster = edges.groupBy { case (id1, _, _) => labels(id1) }
    assert(r.length == byCluster.size)
    r.foreach { row =>
      val c = row.getAs[Long]("canon_id")
      val es = byCluster(c)
      val n = members(c)
      // both endpoints carry the same label (sanity on the CC itself)
      es.foreach { case (id1, id2, _) =>
        assert(labels(id1) == c && labels(id2) == c)
      }
      assert(row.getAs[Long]("n_members") == n)
      assert(row.getAs[Long]("n_edges") == es.length.toLong)
      assert(row.getAs[Long]("min_j_ppm") == es.map(_._3).min)
      assert(row.getAs[Long]("sum_j_ppm") == es.map(_._3).sum)
      val cov = es.length.toLong * 1000000L / (n * (n - 1) / 2)
      assert(row.getAs[Long]("edge_cov_ppm") == cov)
      val band = if (cov == 1000000L) "clique"
        else if (cov * 2 >= 1000000L) "dense" else "chained"
      assert(row.getAs[String]("tightness_band") == band)
    }
  }

  test("q162 split leakage: brute cell recount off q31's own pair set") {
    def splitOf(id: Long): String = {
      val g = DedupOps.h60(s"split:$id") % 100
      if (g < 90) "train" else if (g < 95) "val" else "test"
    }
    val pairs = DedupOps.q31MinhashPairs(spark, sf).collect()
      .map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2")))
    spark.catalog.clearCache()
    val cells = pairs.map { case (a, b) =>
      val (sa, sb) = (splitOf(a), splitOf(b))
      (Seq(sa, sb).min, Seq(sa, sb).max)
    }.groupBy(identity).map { case (k, xs) => k -> xs.length.toLong }
    val rows = DedupOps.q162SplitLeakage(spark, sf).collect()
    spark.catalog.clearCache()
    assert(rows.length == cells.size)
    val total = pairs.length.toLong
    rows.foreach { r =>
      val key = (r.getAs[String]("split_a"), r.getAs[String]("split_b"))
      assert(r.getAs[Long]("n_pairs") == cells(key), key.toString)
      assert(r.getAs[Long]("share_ppm") ==
        cells(key) * 1000000L / total, key.toString)
      assert(r.getAs[Boolean]("is_leak") == (key._1 != key._2))
      // unordered-cell normalization held
      assert(key._1 <= key._2)
    }
    // conservation: the ledger partitions q31's verified pair set
    assert(rows.map(_.getAs[Long]("n_pairs")).sum == total)
  }

  test("q163 cluster split: brute recount; canon-keyed split leaks zero pairs") {
    def splitOf(id: Long): String = {
      val g = DedupOps.h60(s"split:$id") % 100
      if (g < 90) "train" else if (g < 95) "val" else "test"
    }
    val labels = DedupOps.q60DedupGroups(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("canon_id")).toMap
    val pairs = DedupOps.q31MinhashPairs(spark, sf).collect()
      .map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2")))
    spark.catalog.clearCache()
    val docs = Tables.documents(spark, sf).select("doc_id").collect()
      .map(_.getLong(0))
    val canonOf = docs.map(id => id -> labels.getOrElse(id, id)).toMap
    // THE invariant q163 exists for: canon-keyed splitting cannot leak —
    // both endpoints of every verified pair share a canon, so a split
    // that is a function of canon assigns them together
    pairs.foreach { case (a, b) =>
      assert(canonOf(a) == canonOf(b))
      assert(splitOf(canonOf(a)) == splitOf(canonOf(b)))
    }
    val bySplit = docs.groupBy(id => splitOf(canonOf(id)))
    val rows = DedupOps.q163ClusterSplit(spark, sf).collect()
    spark.catalog.clearCache()
    assert(rows.length == bySplit.size)
    val total = docs.length.toLong
    rows.foreach { r =>
      val sp = r.getAs[String]("split")
      val ids = bySplit(sp)
      val ppm = ids.length.toLong * 1000000L / total
      val target = if (sp == "train") 900000L else 50000L
      assert(r.getAs[Long]("n_docs") == ids.length.toLong, sp)
      assert(r.getAs[Long]("n_clusters") ==
        ids.map(canonOf).distinct.length.toLong, sp)
      assert(r.getAs[Long]("doc_ppm") == ppm, sp)
      assert(r.getAs[Long]("target_ppm") == target, sp)
      assert(r.getAs[Long]("dev_ppm") == math.abs(ppm - target), sp)
      assert(r.getAs[String]("size_band") ==
        (if (math.abs(ppm - target) <= 20000L) "on_target" else "shifted"))
    }
    assert(rows.map(_.getAs[Long]("n_docs")).sum == total)
  }

  test("q164 source shrinkage: brute keep-best recount + conservation") {
    val labels = DedupOps.q60DedupGroups(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("canon_id")).toMap
    spark.catalog.clearCache()
    val docs = Tables.documents(spark, sf).select("doc_id", "source", "text")
      .collect().map { r =>
        val nTok = r.getString(2).trim.toLowerCase
          .split("[ \\t\\n\\r\\f]+").length.toLong
        (r.getLong(0), r.getString(1), nTok)
      }
    val tokOf = docs.map(d => d._1 -> d._3).toMap
    // keep-best per cluster: longest member, tie-broken to min doc_id
    val kept = labels.groupBy(_._2).map { case (canon, members) =>
      canon -> members.keys.maxBy(id => (tokOf(id), -id))
    }
    val bySrc = docs.groupBy(_._2)
    val rows = DedupOps.q164SourceShrinkage(spark, sf).collect()
    spark.catalog.clearCache()
    assert(rows.length == bySrc.size)
    rows.foreach { r =>
      val src = r.getAs[String]("source")
      val xs = bySrc(src)
      val clustered = xs.filter(d => labels.contains(d._1))
      val removed = clustered.filter(d => kept(labels(d._1)) != d._1)
      val nDocs = xs.length.toLong
      val tokTotal = xs.map(_._3).sum
      assert(r.getAs[Long]("n_docs") == nDocs, src)
      assert(r.getAs[Long]("n_clustered") == clustered.length.toLong, src)
      assert(r.getAs[Long]("n_removed") == removed.length.toLong, src)
      assert(r.getAs[Long]("shrink_ppm") ==
        removed.length.toLong * 1000000L / nDocs, src)
      assert(r.getAs[Long]("tok_shrink_ppm") ==
        removed.map(_._3).sum * 1000000L / tokTotal, src)
      val ppm = removed.length.toLong * 1000000L / nDocs
      val band = if (ppm >= 100000L) "heavy"
        else if (ppm >= 20000L) "moderate" else "light"
      assert(r.getAs[String]("shrink_band") == band, src)
    }
    // conservation: exactly one keeper survives per cluster
    assert(rows.map(r => r.getAs[Long]("n_clustered") -
      r.getAs[Long]("n_removed")).sum == kept.size.toLong)
  }

  test("q166 dup flow: brute keeper-attribution recount; totals match q164") {
    val labels = DedupOps.q60DedupGroups(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("canon_id")).toMap
    spark.catalog.clearCache()
    val docs = Tables.documents(spark, sf).select("doc_id", "source", "text")
      .collect().map { r =>
        (r.getLong(0), r.getString(1),
          r.getString(2).trim.toLowerCase
            .split("[ \\t\\n\\r\\f]+").length.toLong)
      }
    val srcOf = docs.map(d => d._1 -> d._2).toMap
    val tokOf = docs.map(d => d._1 -> d._3).toMap
    val kept = labels.groupBy(_._2).map { case (canon, members) =>
      canon -> members.keys.maxBy(id => (tokOf(id), -id))
    }
    val flows = labels.toSeq
      .filter { case (id, canon) => kept(canon) != id }
      .map { case (id, canon) => (srcOf(kept(canon)), srcOf(id)) }
      .groupBy(identity).map { case (k, xs) => k -> xs.length.toLong }
    val rows = DedupOps.q166DupFlow(spark, sf).collect()
    spark.catalog.clearCache()
    assert(rows.length == flows.size)
    val total = flows.values.sum
    rows.foreach { r =>
      val key = (r.getAs[String]("src_kept"), r.getAs[String]("src_removed"))
      assert(r.getAs[Long]("n_removed") == flows(key), key.toString)
      assert(r.getAs[Long]("share_ppm") ==
        flows(key) * 1000000L / total, key.toString)
      assert(r.getAs[String]("flow") ==
        (if (key._1 == key._2) "self" else "cross"))
    }
    // the flow matrix partitions exactly the q164 removed set
    assert(rows.map(_.getAs[Long]("n_removed")).sum == total)
  }

  test("q167 template skeleton: brute collapse recount") {
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "source", "n_chars", "text").collect()
      .map { r =>
        val sk = r.getString(3).toLowerCase
          .replaceAll("[a-z]+", "w").replaceAll("[0-9]+", "n")
          .replaceAll("[ \\t\\n\\r\\f]+", " ")
        (r.getLong(0), r.getString(1), r.getLong(2), sk)
      }
    val groups = docs.groupBy(_._4).filter(_._2.length >= 2)
    val rows = DedupOps.q167TemplateSkeleton(spark, sf).collect()
    assert(rows.length == groups.size)
    val bySize = rows.map(r => r.getAs[Long]("example_doc") -> r).toMap
    groups.foreach { case (_, xs) =>
      val row = bySize(xs.map(_._1).min)
      assert(row.getAs[Long]("n_docs") == xs.length.toLong)
      assert(row.getAs[Long]("n_sources") ==
        xs.map(_._2).distinct.length.toLong)
      assert(row.getAs[Long]("char_mass") == xs.map(_._3).sum)
      assert(row.getAs[String]("band") ==
        (if (xs.length >= 10) "template_farm" else "repeated_form"))
    }
  }

  test("q167 groups same-layout different-content docs, not different layouts") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("skeleton").toString
    Seq(
      (1L, "Name: Alice, Age: 30", "en", "forms", 20L),
      (2L, "Name: Bob, Age: 42", "en", "forms", 18L),
      (3L, "Name: Carol, Age: 7", "en", "mirror", 19L),
      (4L, "A plain sentence with no template shape at all", "en",
        "prose", 46L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val r = DedupOps.q167TemplateSkeleton(spark, dir).collect()
    assert(r.length == 1)
    assert(r.head.getAs[Long]("n_docs") == 3L)   // the three form docs
    assert(r.head.getAs[Long]("n_sources") == 2L)
    assert(r.head.getAs[Long]("example_doc") == 1L)
    assert(r.head.getAs[String]("band") == "repeated_form")
  }

  test("q174 threshold sweep: brute recount off the candidate pair set") {
    val cand = DedupOps.bandCandidates(spark, sf)
      .select("id1", "id2", "inter", "n1", "n2").collect()
      .map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2"),
        r.getAs[Long]("inter"), r.getAs[Long]("n1") + r.getAs[Long]("n2")
          - r.getAs[Long]("inter")))
    val corpus = Tables.documents(spark, sf).count()
    val rows = sortedByThreshold(DedupOps.q174ThresholdSweep(spark, sf)
      .collect())
    assert(rows.map(_.getAs[Int]("threshold_pct")).toSeq ==
      (50 to 95 by 5).toSeq)
    var prevPairs = Long.MaxValue
    var prevDocs = Long.MaxValue
    rows.foreach { r =>
      val t = r.getAs[Int]("threshold_pct")
      val pass = cand.filter { case (_, _, inter, uni) =>
        inter * 100 >= t.toLong * uni }
      val docs = pass.flatMap(p => Seq(p._1, p._2)).distinct.length.toLong
      assert(r.getAs[Long]("n_pairs") == pass.length.toLong, s"t=$t")
      assert(r.getAs[Long]("n_docs") == docs, s"t=$t")
      assert(r.getAs[Long]("doc_ppm") ==
        (BigInt(docs) * 1000000 / corpus).toLong, s"t=$t")
      // sweep must be monotone non-increasing in the threshold
      assert(r.getAs[Long]("n_pairs") <= prevPairs, s"t=$t")
      assert(r.getAs[Long]("n_docs") <= prevDocs, s"t=$t")
      prevPairs = r.getAs[Long]("n_pairs")
      prevDocs = r.getAs[Long]("n_docs")
    }
    // the fixture plants ~5% near-dups at j >= 0.5: the 50% level is
    // populated
    assert(rows.head.getAs[Long]("n_pairs") > 0)
  }

  test("q230 ledger is conserved against the cc and keeper stages") {
    import org.apache.spark.sql.functions.col
    val r = ops.DedupOps.q230DedupQualityUplift(spark, sf).collect()
    assert(r.nonEmpty)
    val keptTotal = r.map(_.getAs[Long]("n_kept")).sum
    val rowTotal = r.map(x =>
      x.getAs[Long]("n_kept") + x.getAs[Long]("n_removed")).sum
    // every clustered doc is accounted once; every keeper appears once
    assert(keptTotal == ops.DedupOps.clusterKeepers(spark, sf).count())
    assert(rowTotal == ops.DedupOps.ccLabels(spark, sf).count())
    r.foreach { x =>
      val (km, rm) = (x.getAs[Long]("kept_mean_milli"),
        x.getAs[Long]("removed_mean_milli"))
      val kmN = x.isNullAt(x.fieldIndex("kept_mean_milli"))
      val rmN = x.isNullAt(x.fieldIndex("removed_mean_milli"))
      if (kmN || rmN) {
        assert(x.getAs[String]("uplift_band") == "one_sided", x.toString)
      } else {
        assert(x.getAs[Long]("uplift_milli") == km - rm, x.toString)
        assert(km >= 0 && km <= 1000 && rm >= 0 && rm <= 1000, x.toString)
      }
    }
    spark.catalog.clearCache()
  }

  private def sortedByThreshold(
      rs: Array[org.apache.spark.sql.Row]): Array[org.apache.spark.sql.Row] =
    rs.sortBy(_.getAs[Int]("threshold_pct"))

  test("q256 SNM windows pair within blocks and verify only true near-dups") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("snm").toString
    // block 'the doc': doc1 ~ doc2 (near-dup, adjacent after sort),
    // doc3 same block but disjoint content (candidate, NOT verified);
    // block 'other words': doc4 = doc5 exactly; doc6 alone in its block.
    val rows = Seq(
      (1L, "the doc alpha beta gamma delta"),
      (2L, "the doc alpha beta gamma delta extra"),
      (3L, "the doc zzz yyy xxx www"),
      (4L, "other words p q r"),
      (5L, "other words p q r"),
      (6L, "lonely block m n o"))
      .map { case (i, t) => (i, t, "en", "s", t.length.toLong) }
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val r = DedupOps.q256SortedNeighborhood(spark, dir).collect()
      .map(x => x.getAs[Long]("delta") -> x).toMap
    // delta 1: (1,2), (2,3), (4,5) — two verified; delta 2: (1,3) only
    assert(r(1L).getAs[Long]("n_candidates") == 3L)
    assert(r(1L).getAs[Long]("n_verified") == 2L)
    assert(r(1L).getAs[Long]("precision_ppm") == 2000000L / 3L)
    assert(r(2L).getAs[Long]("n_candidates") == 1L)
    assert(r(2L).getAs[Long]("n_verified") == 0L)
    assert(!r.contains(3L)) // no block holds 4 members
  }

  test("q258 collision audit is exact on a planted cluster-size spectrum") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("inbatch").toString
    // one 3-clique + one 2-clique of exact dups + 5 unique docs: N=10,
    // Σ s(s−1) = 6 + 2 = 8 ordered same-cluster pairs of 90 total.
    val texts = Seq.fill(3)("dup aa bb cc dd ee") ++
      Seq.fill(2)("two xx yy zz ww vv") ++ Seq(
        "uniq one tok1 tok2 tok3", "uniq two tok4 tok5 tok6",
        "uniq three tok7 tok8 tok9", "uniq four tokA tokB tokC",
        "uniq five tokD tokE tokF")
    texts.zipWithIndex.map { case (t, i) =>
      (i.toLong + 1, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val r = DedupOps.q258InbatchCollisions(spark, dir).collect()
      .map(x => x.getAs[Long]("batch_size") -> x).toMap
    assert(r.keySet == Set(256L, 1024L, 4096L, 16384L))
    r.values.foreach { x =>
      assert(x.getAs[Long]("n_docs") == 10L)
      assert(x.getAs[Long]("p_same_ppm") == 8L * 1000000L / 90L)
    }
    assert(r(256L).getAs[Long]("exp_collisions_milli") ==
      255L * 8L * 1000L / 90L)
    assert(r(256L).getAs[String]("band") == "toxic")
    // brute cross-check against the engine's own cluster labels
    val sizes = DedupOps.ccLabels(spark, dir)
      .groupBy("canon_id").count().collect().map(_.getLong(1)).sorted
    assert(sizes.toSeq == Seq(2L, 3L))
  }

  test("q269 k-core isolates clique mass by family size") {
    import spark.implicits._
    // three exact-clone families → three cliques of sizes 4, 3, 2:
    // the k-core of a clique of size m survives exactly when m − 1 ≥ k,
    // so k=2 keeps the 4- and 3-cliques (7 nodes, 6+3 edges), k=3 only
    // the 4-clique, k=4 nothing; the 2-clique (a bare pair, degree 1)
    // peels immediately at k=2
    val dir = java.nio.file.Files.createTempDirectory("kcore").toString
    def fam(base: Long, n: Int, text: String) =
      (0 until n).map(i => (base + i, text, "en", "t", text.length.toLong))
    val docs =
      fam(10L, 4, "alpha beta gamma delta epsilon zeta eta theta") ++
        fam(20L, 3, "one two three four five six seven eight nine") ++
        fam(30L, 2, "red orange yellow green blue indigo violet umbra")
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val r = DedupOps.q269KCore(spark, dir).collect()
      .map(x => x.getAs[Long]("k") -> x).toMap
    assert(r.keySet == Set(2L, 3L, 4L))
    assert(r(2L).getAs[Long]("n_core_nodes") == 7L, r(2L).toString)
    assert(r(2L).getAs[Long]("n_core_edges") == 9L)
    assert(r(3L).getAs[Long]("n_core_nodes") == 4L)
    assert(r(3L).getAs[Long]("n_core_edges") == 6L)
    assert(r(4L).getAs[Long]("n_core_nodes") == 0L)
    assert(r(4L).getAs[Long]("n_core_edges") == 0L)
    assert(r.values.forall(_.getAs[Boolean]("converged")))
    spark.catalog.clearCache()
  }

  test("q280 PageRank hand-checks on clone-family cliques") {
    import spark.implicits._
    // same clique corpus as the q269 spec: families of 4, 3 and 2 exact
    // clones → cliques. Regular components converge to ~1e9 nano-rank;
    // the only separation is integer flooring of r/deg: deg 2 and 1
    // divide 1e9 exactly (stable 1e9 → 1000000 micro) while deg 3
    // floors 1e9 div 3 = 333333333 (Σ = 999999999 → stays 999999999 →
    // 999999 micro). So the 3-clique and the pair outrank the 4-clique,
    // ties broken by id.
    val dir = java.nio.file.Files.createTempDirectory("pagerank").toString
    def fam(base: Long, n: Int, text: String) =
      (0 until n).map(i => (base + i, text, "en", "t", text.length.toLong))
    val docs =
      fam(10L, 4, "alpha beta gamma delta epsilon zeta eta theta") ++
        fam(20L, 3, "one two three four five six seven eight nine") ++
        fam(30L, 2, "red orange yellow green blue indigo violet umbra")
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val r = DedupOps.q280Pagerank(spark, dir).collect()
    assert(r.length == 9)
    assert(r.forall(_.getAs[Long]("n_nodes") == 9L))
    assert(r.map(_.getAs[Long]("pos")).toSeq == (1L to 9L).toSeq)
    assert(r.map(_.getAs[Long]("id")).toSeq ==
      Seq(20L, 21L, 22L, 30L, 31L, 10L, 11L, 12L, 13L))
    assert(r.take(5).forall(_.getAs[Long]("rank_micro") == 1000000L))
    assert(r.drop(5).forall(_.getAs[Long]("rank_micro") == 999999L))
    spark.catalog.clearCache()
  }

  test("q282 assortativity recounts exactly on the clique corpus") {
    import spark.implicits._
    // cliques of 4/3/2: every directed edge pairs equal degrees
    // (3,3)x12, (2,2)x6, (1,1)x2 — perfectly assortative. n=20, Σx=50,
    // Σx²=134 → num=va=vb=20·134−2500=180, isqrt=13; the staged
    // quotient overshoots (180/169) and the |r|≤1 clamp pins 1e6.
    val dir = java.nio.file.Files.createTempDirectory("assort").toString
    def fam(base: Long, n: Int, text: String) =
      (0 until n).map(i => (base + i, text, "en", "t", text.length.toLong))
    val docs =
      fam(10L, 4, "alpha beta gamma delta epsilon zeta eta theta") ++
        fam(20L, 3, "one two three four five six seven eight nine") ++
        fam(30L, 2, "red orange yellow green blue indigo violet umbra")
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val r = DedupOps.q282Assortativity(spark, dir).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[Long]("n_directed_edges") == 20L)
    assert(row.getAs[Long]("sum_deg") == 50L)
    // cov_num is an exact-digit STRING since the r14 driver-red fix
    // (rendering-proof across compare layers, overflow-proof at scale)
    assert(row.getAs[String]("cov_num") == "180")
    assert(row.getAs[Long]("r_ppm") == 1000000L)
    assert(row.getAs[String]("band") == "assortative")
    spark.catalog.clearCache()
  }
}
