package graft

import org.apache.spark.SparkConf
import org.scalatest.funsuite.AnyFunSuite

/** [[Session.conf]] fills only the keys that were not given, so a master
  * or setting from spark-submit or `-Dspark.*` always wins. The conf step
  * is pure, so no context is started here.
  */
class SessionSpec extends AnyFunSuite {
  // no defaults loaded: the test JVM's own -Dspark.* properties stay out
  private def empty = new SparkConf(false)

  test("a preset master and time zone are kept") {
    val c = Session.conf(empty.set("spark.master", "local[2]")
      .set("spark.sql.session.timeZone", "America/New_York"), Nil)
    assert(c.get("spark.master") == "local[2]")
    assert(c.get("spark.sql.session.timeZone") == "America/New_York")
    assert(c.get("spark.ui.enabled") == "false")
  }

  test("an empty conf gets local[*], UTC and no UI, and nothing else") {
    val c = Session.conf(empty, Nil)
    assert(c.getAll.toMap == Map("spark.master" -> "local[*]",
      "spark.sql.session.timeZone" -> "UTC", "spark.ui.enabled" -> "false",
      "spark.sql.warehouse.dir" ->
        s"${System.getProperty("java.io.tmpdir")}/graft-warehouse"))
  }

  test("a caller default applies only where the key is missing") {
    val c = Session.conf(empty.set("spark.sql.shuffle.partitions", "7"),
      Seq("spark.sql.shuffle.partitions" -> "4",
        "spark.master" -> "local[4]",
        "spark.graft.scan.autoParallelize" -> "true"))
    assert(c.get("spark.sql.shuffle.partitions") == "7")
    // a caller's master default wins over the built-in local[*]
    assert(c.get("spark.master") == "local[4]")
    assert(c.get("spark.graft.scan.autoParallelize") == "true")
  }

  test("the given conf itself is left unchanged") {
    val base = empty
    Session.conf(base, Seq("spark.master" -> "local[4]"))
    assert(base.getAll.isEmpty)
  }
}
