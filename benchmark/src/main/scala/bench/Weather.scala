package bench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Weather stamp: two fixed probes shaped like graft.Bench's canaries, a
  * cache-resident hash reduction (CPU) and a string-building job (memory
  * bandwidth and allocator). Recorded before and after the timed phase as
  * diagnostics, never gated: a run slowed by other tenants of the machine
  * labels itself by probe times well above their idle values. */
object Weather {
  def stamp(spark: SparkSession): Map[String, Double] = {
    val n = spark.sparkContext.defaultParallelism
    def time(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6 }
    val cpu = time(spark.range(0, 1L << 23, 1, n)
      .select(bit_xor(xxhash64(col("id")))).write.mode("overwrite").format("noop").save())
    val alloc = time(spark.range(0, 100000, 1, n)
      .select(bit_xor(xxhash64(expr(
        "split(regexp_replace(concat('x', id, 'y', id), '(.)', '$1 '), ' ')[4]"))))
      .write.mode("overwrite").format("noop").save())
    Map("cpu_probe_ms" -> cpu, "alloc_probe_ms" -> alloc)
  }
}
