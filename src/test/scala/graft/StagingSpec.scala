package graft

import java.io.ByteArrayInputStream
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import ops.{Ingest, Staging}

/** S2 staging: fetch-to-local with atomic publication, driven by a mocked
  * transport (no egress in this sandbox), feeding the normal CSV ingest.
  */
class StagingSpec extends AnyFunSuite {
  import SparkTestSession._

  private val statesCsv =
    "date,state,fips,cases,deaths\n2020-03-15,Washington,53,904,48\n"

  test("stage downloads feeds atomically and the result feeds the CSV reader") {
    val dest = Files.createTempDirectory("graft-stage").toString
    var fetched = List.empty[String]
    val fake: Staging.Fetcher = { url =>
      fetched ::= url
      new ByteArrayInputStream(statesCsv.getBytes("UTF-8"))
    }
    val staged = Staging.stage(
      Map("us-states.csv" -> "https://example.invalid/us-states.csv"),
      dest, fake)
    assert(fetched == List("https://example.invalid/us-states.csv"))
    assert(staged.keySet == Set("us-states.csv"))
    // no temp debris; only the published file
    val listed = Files.list(Paths.get(dest)).iterator()
    val names = Iterator.continually(listed)
      .takeWhile(_.hasNext).map(_.next().getFileName.toString).toList
    assert(names == List("us-states.csv"))
    // the staged file is directly ingestible
    val df = Ingest.readCsv(spark, Ingest.statesSchema, staged("us-states.csv"))
    assert(df.count() == 1)
    assert(df.head().getLong(3) == 904L)
  }

  test("a failing transport leaves no partial files behind") {
    val dest = Files.createTempDirectory("graft-stage-fail").toString
    val boom: Staging.Fetcher = _ => new java.io.InputStream {
      private var n = 0
      override def read(): Int = {
        n += 1
        if (n > 10) throw new java.io.IOException("connection reset")
        'x'.toInt
      }
    }
    intercept[java.io.IOException] {
      Staging.stage(Map("feed.csv" -> "https://example.invalid/x"), dest, boom)
    }
    val listed = Files.list(Paths.get(dest)).iterator()
    assert(!listed.hasNext, "partial/temp file left in the drop directory")
  }
}
