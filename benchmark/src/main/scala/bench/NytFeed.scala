package bench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.LocalDate

import scala.collection.mutable

/** Seeded generator for the two NYT feeds (us-counties.csv, us-states.csv)
  * and the exact contents the job's sink must hold after any sequence of
  * firings.
  *
  * Shape per simulated day: every county of every state, plus one
  * "Unknown" row per state with a blank fips (NYT files carry these), and
  * one row per state in the states feed (two states have blank fips, like
  * Guam). The feed carries what breaks naive loaders:
  *  - duplicate keys inside one file (about 1 row in 200): the lowest
  *    (cases, deaths) must win;
  *  - late reporters: about 1 county-day in 100 is missing from its day's
  *    file and only arrives in the next revision file;
  *  - revision files restating the previous week: rows already in the
  *    sink must win over their corrected numbers, rows the sink lacks (the late reporters) are
  *    inserted.
  *
  * Counts are cumulative, so every county's series is a prefix sum of
  * seeded daily increments. Everything is a pure function of (seed, shape).
  */
final class NytFeed(seed: Long, val shape: NytFeed.Shape) {
  import NytFeed._

  val start: LocalDate = LocalDate.of(2020, 3, 1)

  val states: IndexedSeq[(String, Option[Int])] = (0 until shape.states).map { i =>
    (f"State $i%02d", if (i >= shape.states - 2 && shape.states > 2) None else Some(i + 1))
  }

  val counties: IndexedSeq[County] = states.indices.flatMap { s =>
    val n = shape.countiesFor(s, mix(seed, 11, s))
    (0 until n).map(k => County(f"County $k%03d", s, states(s)._2.map(_ * 1000 + k + 1))) :+
      County("Unknown", s, None)
  }.filter(c => shape.countyStates.isEmpty || shape.countyStates.contains(c.state))

  private val cases = mutable.ArrayBuffer.empty[Array[Long]]
  private val deaths = mutable.ArrayBuffer.empty[Array[Long]]
  private val growth: Array[Int] = counties.indices.map(c => 1 + (mix(seed, 5, c) % 40).toInt).toArray

  private def ensure(t: Int): Unit = while (cases.size <= t) {
    val d = cases.size
    val prevC = if (d == 0) new Array[Long](counties.size) else cases(d - 1)
    val prevD = if (d == 0) new Array[Long](counties.size) else deaths(d - 1)
    val c = new Array[Long](counties.size)
    val dd = new Array[Long](counties.size)
    var i = 0
    while (i < c.length) {
      val h = mix(seed, d, i)
      c(i) = prevC(i) + (h % (growth(i) * 4L + 1))
      dd(i) = prevD(i) + (if ((h >>> 20) % 50 == 0) 1 + (h >>> 30) % 3 else 0)
      i += 1
    }
    cases += c; deaths += dd
  }

  def date(t: Int): LocalDate = start.plusDays(t.toLong)
  def casesOf(c: Int, t: Int): Long = { ensure(t); cases(t)(c) }
  def deathsOf(c: Int, t: Int): Long = { ensure(t); deaths(t)(c) }

  /** County-day omitted from its day's file (a late reporter). */
  def late(c: Int, t: Int): Boolean = mix(seed, 7 * t + 3, c) % 100 == 0
  /** Offset of a duplicate row's cases inside the day file; 0 = no dup. */
  def dupDelta(kind: Int, i: Int, t: Int): Int = {
    val h = mix(seed, 13 * t + kind, i)
    if (h % 200 != 0) 0 else Seq(-2, -1, 1, 2)((h >>> 12).toInt & 3)
  }
  private val byState: Map[Int, IndexedSeq[Int]] =
    counties.indices.groupBy(counties(_).state).withDefaultValue(IndexedSeq.empty)
  def stateCases(s: Int, t: Int): Long = byState(s).map(casesOf(_, t)).sum + 10L * (s + 1)
  def stateDeaths(s: Int, t: Int): Long = byState(s).map(deathsOf(_, t)).sum

  /** The days a revision landed on day `d` restates: the week before it. */
  def revisedDays(d: Int): Range = math.max(0, d - 7) until d

  private def csvDate(t: Int) = date(t).toString
  private def fipsStr(f: Option[Int]) = f.map(_.toString).getOrElse("")

  def countyLines(t: Int): Seq[String] = counties.indices.flatMap { c =>
    if (late(c, t)) Nil
    else {
      val k = counties(c)
      val row = (cs: Long) =>
        s"${csvDate(t)},${k.name},${states(k.state)._1},${fipsStr(k.fips)},$cs,${deathsOf(c, t)}"
      val dup = dupDelta(0, c, t)
      if (dup == 0) Seq(row(casesOf(c, t)))
      else Seq(row(casesOf(c, t)), row(math.max(0L, casesOf(c, t) + dup)))
    }
  }
  def stateLines(t: Int): Seq[String] = states.indices.flatMap { s =>
    val row = (cs: Long) =>
      s"${csvDate(t)},${states(s)._1},${fipsStr(states(s)._2)},$cs,${stateDeaths(s, t)}"
    val dup = dupDelta(1, s, t)
    if (dup == 0) Seq(row(stateCases(s, t)))
    else Seq(row(stateCases(s, t)), row(math.max(0L, stateCases(s, t) + dup)))
  }
  /** Revision restating days `revisedDays(d)`: every state row, the late
    * county rows (true numbers, to be inserted) and 1 in 20 county rows with
    * corrected numbers (the sink already has them, so they must lose). */
  def revisionCountyLines(d: Int): Seq[String] = revisedDays(d).flatMap { t =>
    counties.indices.filter(c => late(c, t) || mix(seed, 17 * t + 5, c) % 20 == 0).map { c =>
      val k = counties(c)
      val (cs, ds) = if (late(c, t)) (casesOf(c, t), deathsOf(c, t))
                     else (casesOf(c, t) + 3, deathsOf(c, t) + 1)
      s"${csvDate(t)},${k.name},${states(k.state)._1},${fipsStr(k.fips)},$cs,$ds"
    }
  }
  def revisionStateLines(d: Int): Seq[String] = revisedDays(d).flatMap { t =>
    states.indices.map(s => s"${csvDate(t)},${states(s)._1},${fipsStr(states(s)._2)}," +
      s"${stateCases(s, t) + 5},${stateDeaths(s, t)}")
  }

  /** Writes day `d`'s files into
    * `srcRoot/{counties,states}` atomically: each file is written beside
    * the drop directory and renamed in, as a feed download would land.
    * Returns the bytes written. */
  def dropDay(srcRoot: Path, d: Int): Long =
    writeFile(srcRoot, "counties", f"day-$d%05d", CountyHeader, countyLines(d)) +
      writeFile(srcRoot, "states", f"day-$d%05d", StateHeader, stateLines(d))

  /** Writes the revision of days `revisedDays(d)`. */
  def dropRevision(srcRoot: Path, d: Int): Long =
    writeFile(srcRoot, "counties", f"rev-$d%05d", CountyHeader, revisionCountyLines(d)) +
      writeFile(srcRoot, "states", f"rev-$d%05d", StateHeader, revisionStateLines(d))

  /** The history a first deployment backfills: one file per feed holding
    * days 0 until `shape.history`, as published (no revisions). */
  def dropHistory(srcRoot: Path): Long =
    writeFile(srcRoot, "counties", "history", CountyHeader,
      (0 until shape.history).flatMap(countyLines)) +
      writeFile(srcRoot, "states", "history", StateHeader,
        (0 until shape.history).flatMap(stateLines))

  private def writeFile(root: Path, feed: String, name: String, header: String,
                        lines: Seq[String]): Long = {
    val dir = root.resolve(feed)
    val pending = root.resolve(s".pending-$feed")
    Files.createDirectories(dir); Files.createDirectories(pending)
    val sb = new java.lang.StringBuilder(header).append('\n')
    lines.foreach(l => sb.append(l).append('\n'))
    val bytes = sb.toString.getBytes(StandardCharsets.UTF_8)
    val tmp = pending.resolve(s"$name.csv")
    Files.write(tmp, bytes)
    Files.move(tmp, dir.resolve(s"$name.csv"), StandardCopyOption.ATOMIC_MOVE)
    bytes.length.toLong
  }

  // ---- expected sink contents -----------------------------------------

  /** Per-date (rows, sum cases, sum deaths, blank-fips rows) the sink must
    * hold, given which days have been restated by a revision firing. */
  def expectedCounties(t: Int, revised: Boolean): (Long, Long, Long, Long) = {
    var (n, cs, ds, nul) = (0L, 0L, 0L, 0L)
    counties.indices.foreach { c =>
      val present = !late(c, t) || revised
      if (present) {
        val dup = if (late(c, t)) 0 else dupDelta(0, c, t)
        n += 1
        cs += math.min(casesOf(c, t), math.max(0L, casesOf(c, t) + dup))
        ds += deathsOf(c, t)
        if (counties(c).fips.isEmpty) nul += 1
      }
    }
    (n, cs, ds, nul)
  }
  def expectedStates(t: Int): (Long, Long, Long, Long) = {
    var (n, cs, ds, nul) = (0L, 0L, 0L, 0L)
    states.indices.foreach { s =>
      val dup = dupDelta(1, s, t)
      n += 1
      cs += math.min(stateCases(s, t), math.max(0L, stateCases(s, t) + dup))
      ds += stateDeaths(s, t)
      if (states(s)._2.isEmpty) nul += 1
    }
    (n, cs, ds, nul)
  }
  /** Expected (state -> (cases, deaths)) of the county rows on day `t`. */
  def expectedStateTotals(t: Int, revised: Boolean): Map[String, (Long, Long)] =
    counties.indices.filter(c => !late(c, t) || revised).groupBy(counties(_).state).map {
      case (s, cs) => states(s)._1 -> cs.foldLeft((0L, 0L)) { case ((a, b), c) =>
        val dup = if (late(c, t)) 0 else dupDelta(0, c, t)
        (a + math.min(casesOf(c, t), math.max(0L, casesOf(c, t) + dup)), b + deathsOf(c, t))
      }
    }
}

object NytFeed {
  final case class County(name: String, state: Int, fips: Option[Int])

  val CountyHeader = "date,county,state,fips,cases,deaths"
  val StateHeader = "date,state,fips,cases,deaths"

  /** `countyStates` restricts the counties feed to some states (the
    * regional deployment); the states feed always covers every state. */
  final case class Shape(states: Int, minCounties: Int, spreadCounties: Int,
                         history: Int, countyStates: Set[Int] = Set.empty) {
    def countiesFor(s: Int, h: Long): Int =
      if (countyStates.nonEmpty) minCounties else minCounties + (h % (spreadCounties + 1)).toInt
  }

  /** SplitMix64 finalizer over (seed, a, b): non-negative. */
  def mix(seed: Long, a: Long, b: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + a * 0xBF58476D1CE4E5B9L + b * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    (z ^ (z >>> 31)) & Long.MaxValue
  }
}
