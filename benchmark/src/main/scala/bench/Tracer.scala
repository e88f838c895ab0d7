package bench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One benchmark call (a firing, a dashboard query, a lookup, an update, a
  * registry unit). Wall-clock bounds in epoch milliseconds so streaming
  * progress timestamps can be matched to it; duration from the nano clock. */
final case class Span(id: Long, kind: String, name: String,
                      startMs: Long, endMs: Long, durMs: Double)

/** A Spark job, the child of the span whose thread submitted it. `module`
  * is the program file named by the job's call site, e.g. `JdbcSink` for
  * `foreachPartition at JdbcSink.scala:119`. */
final class JobRec(val id: Int, val span: Long, val callSite: String,
                   val submitMs: Long) {
  var endMs: Long = submitMs
  var firstLaunchMs: Long = Long.MaxValue
  var tasks = 0
  var runMs = 0L
  var gcMs = 0L
  var inputRecords = 0L
  var inputBytes = 0L
  var outputRecords = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  def module: String = {
    val at = callSite.lastIndexOf(" at ")
    val file = if (at < 0) callSite else callSite.substring(at + 4)
    file.takeWhile(_ != '.')
  }
  def durMs: Long = endMs - submitMs
}

/** Micro-batch progress of a streaming query (the `durationMs` breakdown). */
final case class BatchRec(startMs: Long, durations: Map[String, Long])

/** Span recorder. Every call is timed whether or not tracing is on; with
  * tracing on, a SparkListener and a StreamingQueryListener attach each
  * Spark job and micro-batch to the span that caused it. Spans stay in
  * memory and are read after the timed phase. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val spansBuf = mutable.ArrayBuffer.empty[Span]
  private val jobsById = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageToJob = mutable.HashMap.empty[Int, JobRec]
  private val batchesBuf = mutable.ArrayBuffer.empty[BatchRec]
  private val SpanKey = "bench.span"
  private val sc = spark.sparkContext

  if (enabled) {
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        val span = props.flatMap(p => Option(p.getProperty(SpanKey)))
          .map(_.toLong).getOrElse(-1L)
        // a job's call site is the name of its result stage, the last one
        val site = if (e.stageInfos.isEmpty) "?" else e.stageInfos.maxBy(_.stageId).name
        Tracer.this.synchronized {
          val j = new JobRec(e.jobId, span, site, e.time)
          jobsById(e.jobId) = j
          e.stageIds.foreach(s => stageToJob(s) = j)
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Tracer.this.synchronized { jobsById.get(e.jobId).foreach(_.endMs = e.time) }
      override def onTaskStart(e: SparkListenerTaskStart): Unit =
        Tracer.this.synchronized {
          stageToJob.get(e.stageId).foreach(j =>
            j.firstLaunchMs = math.min(j.firstLaunchMs, e.taskInfo.launchTime))
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Tracer.this.synchronized {
          for (j <- stageToJob.get(e.stageId); m <- Option(e.taskMetrics)) {
            j.tasks += 1
            j.runMs += m.executorRunTime
            j.gcMs += m.jvmGCTime
            j.inputRecords += m.inputMetrics.recordsRead
            j.inputBytes += m.inputMetrics.bytesRead
            j.outputRecords += m.outputMetrics.recordsWritten
            j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            j.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
          }
        }
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        Tracer.this.synchronized { batchesBuf += BatchRec(start, d) }
      }
    })
  }

  /** Time `f` as one span of `kind`; returns its result and duration (ms). */
  def span[T](kind: String, name: String)(f: => T): (T, Double) = {
    val id = ids.incrementAndGet()
    val prev = sc.getLocalProperty(SpanKey)
    if (enabled) sc.setLocalProperty(SpanKey, id.toString)
    val wall0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val r = f
      val ms = (System.nanoTime() - t0) / 1e6
      synchronized {
        spansBuf += Span(id, kind, name, wall0, System.currentTimeMillis(), ms)
      }
      (r, ms)
    } finally if (enabled) sc.setLocalProperty(SpanKey, prev)
  }

  /** Waits until the listener bus has delivered every event so far. */
  def drain(): Unit = if (enabled) org.apache.spark.BenchBridge.drain(sc)

  def spans(kind: String): Seq[Span] = synchronized(spansBuf.filter(_.kind == kind).toSeq)
  def jobs(s: Span): Seq[JobRec] = synchronized(jobsById.values.filter(_.span == s.id).toSeq)
  def jobs(ss: Seq[Span]): Seq[JobRec] = {
    val set = ss.map(_.id).toSet
    synchronized(jobsById.values.filter(j => set(j.span)).toSeq)
  }
  def batches(s: Span): Seq[BatchRec] = synchronized(
    batchesBuf.filter(b => b.startMs >= s.startMs && b.startMs <= s.endMs).toSeq)

  /** Milliseconds of `s` covered by at least one of its jobs: the span's
    * self time is its duration minus this. */
  def coveredMs(s: Span): Long = Tracer.union(jobs(s).map(j => (j.submitMs, j.endMs)))
}

object Tracer {
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var (cs, ce) = (Long.MinValue, Long.MinValue)
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > ce) { if (ce > cs) total += ce - cs; cs = a; ce = b }
      else ce = math.max(ce, b)
    }
    if (ce > cs) total += ce - cs
    total
  }
}
