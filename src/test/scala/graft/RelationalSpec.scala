package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  lazy val spark: SparkSession = Session("graft-test",
    "spark.master" -> "local[4]",
    "spark.sql.shuffle.partitions" -> "4",
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft-wh").toString)
  val sf: String = "/root/testdata/sf0.001"
}

class RelationalSpec extends AnyFunSuite {
  import SparkTestSession._

  test("all relational queries run, are non-empty, and are deterministic") {
    ops.Relational.queries.foreach { case (name, fn) =>
      val a = fn(spark, sf).collect()
      val b = fn(spark, sf).collect()
      assert(a.nonEmpty, s"$name returned 0 rows")
      assert(a.sameElements(b), s"$name not deterministic across runs")
    }
  }

  test("q01 pricing summary groups are complete and counts add up") {
    val rows = ops.Relational.q01PricingSummary(spark, sf).collect()
    val total = rows.map(_.getAs[Long]("count_order")).sum
    val unfiltered = Tables.lineitem(spark, sf)
      .filter(org.apache.spark.sql.functions.col("l_shipdate") <=
        org.apache.spark.sql.functions.lit("1998-09-02").cast("timestamp"))
      .count()
    assert(total == unfiltered)
    assert(rows.map(r => (r.getString(0), r.getString(1))).distinct.length
      == rows.length)
  }

  test("q09 rollup grand total equals table count") {
    val rows = ops.Relational.q09Rollup(spark, sf).collect()
    val grand = rows.filter(_.getAs[Long]("gid") == 3L)
    assert(grand.length == 1)
    assert(grand.head.getAs[Long]("n") == Tables.orders(spark, sf).count())
  }

  test("q13 running total final value equals per-customer sum (W4 vs A1)") {
    import org.apache.spark.sql.functions._
    val rt = ops.Relational.q13RunningTotal(spark, sf)
      .groupBy(col("o_custkey"))
      .agg(max(col("running_spend")).as("final_rt"))
    val direct = Tables.orders(spark, sf)
      .groupBy(col("o_custkey"))
      .agg((sum(ops.Fx.toUnits(col("o_totalprice"))) / 100.0).as("direct"))
    val joined = rt.join(direct, "o_custkey")
      .filter(abs(col("final_rt") - col("direct")) > 1e-9)
    assert(joined.count() == 0)
  }

  test("q16 intersect/except partitions the customer-nation set") {
    val rows = ops.Relational.q16IntersectExcept(spark, sf).collect()
    val both = rows.filter(_.getString(0) == "both").map(_.getInt(1)).toSet
    val custOnly =
      rows.filter(_.getString(0) == "cust_only").map(_.getInt(1)).toSet
    assert((both & custOnly).isEmpty)
    val allCust = Tables.customer(spark, sf)
      .select("c_nationkey").distinct().collect().map(_.getInt(0)).toSet
    assert((both | custOnly) == allCust)
  }

  test("q111 market share: ratio consistent, bounded, one row per year") {
    val rows = ops.Relational.q111MarketShare(spark, sf).collect()
    // the 2-year date band admits exactly 1995 and 1996
    assert(rows.map(_.getAs[Long]("o_year")).toSeq == Seq(1995L, 1996L))
    rows.foreach { r =>
      val share = r.getAs[Long]("share_units")
      val total = r.getAs[Long]("total_units")
      assert(share >= 0 && share <= total)
      assert(r.getAs[Double]("mkt_share") == share.toDouble / total)
    }
    // the numerator nation is one of 25 uniform suppliers: its share
    // should be visibly fractional, not 0 or 1 (sanity on the join tree —
    // a dropped supplier⋈nation join would send every line to one bucket)
    assert(rows.forall(r => r.getAs[Double]("mkt_share") < 0.5))
  }
}
