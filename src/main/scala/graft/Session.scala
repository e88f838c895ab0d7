package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The one way a `main` (and the test suite) builds its session. Every
  * setting is a Spark property: `new SparkConf()` already holds
  * spark-submit's `--master`/`--conf` values and any `-Dspark.*` JVM
  * property, and the values here only fill keys that were not given, so
  * a cluster master is honoured and a local run needs no flags. */
object Session {

  /** A copy of `base` plus the caller's `defaults`, then `local[*]`, UTC,
    * no UI and a warehouse under the temp dir (not the start directory),
    * each set only where the key is still missing. */
  def conf(base: SparkConf, defaults: Seq[(String, String)]): SparkConf =
    (defaults ++ Seq("spark.master" -> "local[*]",
      "spark.sql.session.timeZone" -> "UTC", "spark.ui.enabled" -> "false",
      "spark.sql.warehouse.dir" ->
        s"${System.getProperty("java.io.tmpdir")}/graft-warehouse"))
      .foldLeft(base.clone) { case (c, (k, v)) => c.setIfMissing(k, v) }

  /** Unless `spark.sql.shuffle.partitions` was given, it follows the
    * master's `defaultParallelism`. */
  def apply(app: String, defaults: (String, String)*): SparkSession = {
    val c = conf(new SparkConf(), defaults).setIfMissing("spark.app.name", app)
    val spark = SparkSession.builder().config(c).getOrCreate()
    if (!c.contains("spark.sql.shuffle.partitions"))
      spark.conf.set("spark.sql.shuffle.partitions",
        spark.sparkContext.defaultParallelism.toLong)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
