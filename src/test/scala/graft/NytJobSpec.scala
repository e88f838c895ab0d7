package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, lit, sum, when}
import org.scalatest.funsuite.AnyFunSuite

/** O1 end-to-end artifact: one NytJob.runOnce call reproduces the
  * reference's whole counties-then-states job over NYT-shaped fixtures —
  * incremental across firings, date-partitioned sink, JDBC mirror — with
  * the §1.6 bug fixes (true nulls, deterministic conflict winner).
  */
class NytJobSpec extends AnyFunSuite {
  import SparkTestSession._

  System.setProperty("derby.stream.error.file",
    Files.createTempDirectory("graft-derby-log2").resolve("derby.log").toString)

  test("NytJob runs counties-then-states incrementally into partitioned sinks + JDBC mirror") {
    val root = Files.createTempDirectory("graft-nyt")
    val src = root.resolve("src"); val sink = root.resolve("sink")
    val ckpt = root.resolve("ckpt")
    Files.createDirectories(src.resolve("counties"))
    Files.createDirectories(src.resolve("states"))
    val url = s"jdbc:derby:${root.resolve("db")};create=true"
    def drop(feed: String, name: String, lines: String*): Unit =
      Files.writeString(src.resolve(feed).resolve(name),
        lines.mkString("\n") + "\n")

    // firing 1: both feeds, overlapping duplicate key inside counties
    drop("counties", "c1.csv",
      "date,county,state,fips,cases,deaths",
      "2020-03-15,King,Washington,53033,387,26",
      "2020-03-15,King,Washington,53033,400,27", // same key → first wins
      "2020-03-15,Unknown,Guam,,3,0")            // null fips preserved
    drop("states", "s1.csv",
      "date,state,fips,cases,deaths",
      "2020-03-15,Washington,53,904,48")
    NytJob.runOnce(spark, src.toString, sink.toString, ckpt.toString,
      Some(url))

    val counties = spark.read.parquet(sink.resolve("counties").toString)
    assert(counties.count() == 2)
    assert(counties.filter(col("cases") === 387).count() == 1) // tiebreak winner
    assert(counties.filter(col("fips").isNull).count() == 1)   // no -1 sentinel
    assert(Files.isDirectory(
      sink.resolve("counties").resolve("date=2020-03-15")))    // partitioned
    assert(spark.read.jdbc(url, "counties", new java.util.Properties)
      .count() == 2)
    assert(spark.read.jdbc(url, "states", new java.util.Properties)
      .count() == 1)

    // firing 2: new day for states only; counties checkpoint skips c1.csv
    drop("states", "s2.csv",
      "date,state,fips,cases,deaths",
      "2020-03-15,Washington,53,999,99", // conflict → stored row wins
      "2020-03-16,Washington,53,1000,52")
    NytJob.runOnce(spark, src.toString, sink.toString, ckpt.toString,
      Some(url))
    val states = spark.read.parquet(sink.resolve("states").toString)
    assert(states.count() == 2)
    assert(states.filter(col("cases") === 904).count() == 1)
    val statesDb = spark.read.jdbc(url, "states", new java.util.Properties)
    assert(statesDb.count() == 2)
    assert(statesDb.filter(col("cases") === 904).count() == 1)
    // counties untouched by firing 2
    assert(spark.read.parquet(sink.resolve("counties").toString).count() == 2)

    // firing 3: nothing new anywhere → pure no-op
    NytJob.runOnce(spark, src.toString, sink.toString, ckpt.toString,
      Some(url))
    assert(spark.read.parquet(sink.resolve("states").toString).count() == 2)
    assert(spark.read.jdbc(url, "states", new java.util.Properties)
      .count() == 2)
  }

  /** Per date: rows, sum of cases, sum of deaths, NULL-fips rows. */
  private def perDate(df: DataFrame): Map[String, Seq[Long]] =
    df.groupBy(col("date").cast("string"))
      .agg(count(lit(1)), sum("cases"), sum("deaths"),
        sum(when(col("fips").isNull, 1).otherwise(0)))
      .collect().map(r => r.getString(0) -> (1 to 4).map(r.getLong)).toMap

  test("a revision of already-mirrored dates goes through the mirror; mirror = sink per date") {
    val root = Files.createTempDirectory("graft-nyt-rev")
    val src = root.resolve("src"); val sink = root.resolve("sink")
    val ckpt = root.resolve("ckpt")
    val url = s"jdbc:derby:${root.resolve("db")};create=true"
    val days = Seq("2020-03-10", "2020-03-11", "2020-03-12", "2020-03-13")
    // 20 counties plus a blank-fips "Unknown"; 6 states plus blank-fips Guam
    val counties = (1 to 20).map(i => s"C$i,Washington,${53000 + i}") :+
      "Unknown,Washington,"
    val states = (1 to 6).map(i => s"S$i,$i") :+ "Guam,"
    val late = 5 // the last 5 of each feed miss the first three days
    def drop(feed: String, name: String, geos: Seq[String], header: String,
             revision: Boolean): Unit = {
      val lines = for {
        (d, di) <- days.zipWithIndex
        if !revision || di < 3
        (g, gi) <- geos.zipWithIndex
        if revision || di == 3 || gi < geos.size - late
      } yield {
        val cases = 100L * (gi + 1) + di + (if (revision) 5000 else 0)
        s"$d,$g,$cases,${cases / 10}"
      }
      Files.createDirectories(src.resolve(feed))
      Files.writeString(src.resolve(feed).resolve(name),
        (header +: lines).mkString("\n") + "\n")
    }
    def fire(): Unit = NytJob.runOnce(spark, src.toString, sink.toString,
      ckpt.toString, Some(url))
    def mirror(t: String) = spark.read.jdbc(url, t, new java.util.Properties)

    drop("counties", "c1.csv", counties, "date,county,state,fips,cases,deaths", false)
    drop("states", "s1.csv", states, "date,state,fips,cases,deaths", false)
    fire()
    assert(mirror("counties").count() == 3 * (21 - late) + 21)

    // the revision restates every row of the first three (mirrored) days:
    // stored rows must win, the late reporters are inserted
    drop("counties", "c2.csv", counties, "date,county,state,fips,cases,deaths", true)
    drop("states", "s2.csv", states, "date,state,fips,cases,deaths", true)
    fire()

    for ((feed, geos) <- Seq("counties" -> counties, "states" -> states)) {
      val sunk = spark.read.parquet(sink.resolve(feed).toString)
      val bySink = perDate(sunk)
      assert(bySink.keySet == days.toSet)
      assert(bySink.values.forall(_.head == geos.size), s"$feed: $bySink")
      assert(perDate(mirror(feed)) == bySink, feed)
      // stored rows won: only the late rows carry revision values, and the
      // blank-fips late row arrived as NULL
      for (t <- Seq(sunk, mirror(feed))) {
        assert(t.filter(col("cases") >= 5000).count() == 3 * late, feed)
        assert(t.filter(col("fips").isNull).count() == days.size, feed)
      }
    }
  }

  /** The NYT-shaped fixture of the revision test, one file per feed. */
  private def dropDay(src: Path, name: String, day: String): Unit = {
    Files.createDirectories(src.resolve("counties"))
    Files.createDirectories(src.resolve("states"))
    Files.writeString(src.resolve("counties").resolve(s"c$name.csv"),
      ("date,county,state,fips,cases,deaths" +: ((1 to 5).map(i =>
        s"$day,C$i,Washington,${53000 + i},${100 * i},$i") :+
        s"$day,Unknown,Washington,,7,0")).mkString("\n") + "\n")
    Files.writeString(src.resolve("states").resolve(s"s$name.csv"),
      ("date,state,fips,cases,deaths" +: ((1 to 3).map(i =>
        s"$day,State$i,$i,${1000 * i},${10 * i}") :+ s"$day,Guam,,3,0"))
        .mkString("\n") + "\n")
  }

  /** Every file under `dir`: relative name → bytes. */
  private def files(dir: Path): Map[String, Seq[Byte]] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => dir.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    finally s.close()
  }

  test("a mirror failure after the publish is mirrored by the next firing") {
    val root = Files.createTempDirectory("graft-nyt-gap")
    val src = root.resolve("src"); val sink = root.resolve("sink")
    val ckpt = root.resolve("ckpt")
    val url = s"jdbc:derby:${root.resolve("db")};create=true"
    def fire(): Unit = NytJob.runOnce(spark, src.toString, sink.toString,
      ckpt.toString, Some(url))
    def mirror(t: String) = spark.read.jdbc(url, t, new java.util.Properties)
    def sunk(feed: String) = spark.read.parquet(sink.resolve(feed).toString)
    def sql(stmt: String): Unit = {
      val c = java.sql.DriverManager.getConnection(url)
      try c.createStatement().executeUpdate(stmt) finally c.close()
    }

    // a states table too narrow for the feed: the states mirror throws
    // after the states sink has been published
    sql("CREATE TABLE states (date DATE NOT NULL, state VARCHAR(4) NOT NULL, " +
      "fips INTEGER, cases BIGINT, deaths BIGINT)")
    dropDay(src, "1", "2020-03-15")
    dropDay(src, "2", "2020-03-16")
    intercept[Exception](fire())
    val stored = sunk("states").collect().map(_.toString).sorted.toSeq
    assert(perDate(sunk("states")).keySet == Set("2020-03-15", "2020-03-16"))
    assert(mirror("states").count() == 0)

    // no new files: the unrecorded states files merge again (no row
    // changes) and their dates reach the mirror
    sql("DROP TABLE states")
    fire()
    assert(sunk("states").collect().map(_.toString).sorted.toSeq == stored)
    for (feed <- Seq("counties", "states")) {
      val bySink = perDate(sunk(feed))
      assert(bySink.keySet == Set("2020-03-15", "2020-03-16"), feed)
      assert(perDate(mirror(feed)) == bySink, feed)
    }
  }

  test("a firing with no new files runs no Spark job and changes no sink file") {
    val root = Files.createTempDirectory("graft-nyt-idle")
    val src = root.resolve("src"); val sink = root.resolve("sink")
    val url = s"jdbc:derby:${root.resolve("db")};create=true"
    def fire(): Unit = NytJob.runOnce(spark, src.toString, sink.toString,
      root.resolve("ckpt").toString, Some(url))
    dropDay(src, "1", "2020-03-15")
    fire()
    val before = files(sink)
    assert(before.nonEmpty)

    val sc = spark.sparkContext
    val group = "nyt-job-spec-idle"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      ListenerBusDrain(sc)
      sc.setJobGroup(group, "idle firing")
      try fire() finally sc.clearJobGroup()
      ListenerBusDrain(sc)
      assert(jobs.get == 0)
    } finally sc.removeSparkListener(listener)
    assert(files(sink) == before)
  }
}
