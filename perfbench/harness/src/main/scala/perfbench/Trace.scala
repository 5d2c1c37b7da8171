package perfbench

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The traced run's recorder: a SparkListener for jobs, stages and
  * tasks, plus spans that the harness opens around its calls into the
  * program's public functions. Everything stays in memory; `report`
  * turns it into per-layer figures once the traced window has ended.
  *
  * Times are epoch milliseconds, the clock Spark stamps its events
  * with. Spans and probes are opened only on the harness thread and
  * never nest, so each Spark job belongs to the span or probe during
  * which it started.
  *
  * A probe is work the harness adds to measure a layer that the
  * untraced run never does (a noop materialisation, reading the log).
  * Its time, jobs and GC are reported under its own layer and left out
  * of everything else: the window (`wall_s`), the Spark totals, the self
  * times and the pass times the harness records.
  */
final class Trace(spark: SparkSession) extends SparkListener {
  import Trace._

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val probes = mutable.ArrayBuffer.empty[Span]
  private var probeGc = 0.0
  private val counts = mutable.LinkedHashMap.empty[String, Double]
  private var windowStart = 0.0
  private var gcStart = 0.0

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = Job(e.jobId, e.time.toDouble, Double.NaN, new TaskSums)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    for (j <- stageJob.get(e.stageId).flatMap(jobs.get) if m != null) {
      val s = j.tasks
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.diskBytesSpilled
      s.input += m.inputMetrics.bytesRead
    }
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(this)
    windowStart = nowMs()
    gcStart = gcSeconds()
  }

  /** Times `f` as one span of `layer`; `tag` names the unit of work
    * (a query) whose spans are also totalled on their own.
    */
  def span[T](layer: String, tag: String = "")(f: => T): T = {
    val t0 = nowMs()
    try f finally spans += Span(layer, tag, t0, nowMs())
  }

  /** Runs `f` as a probe of `layer` (or of no layer, for bookkeeping
    * that only feeds counters).
    */
  def probe[T](layer: String = "")(f: => T): T = {
    val gc0 = gcSeconds()
    val t0 = nowMs()
    try f finally {
      probes += Span(layer, "", t0, nowMs())
      probeGc += gcSeconds() - gc0
    }
  }

  /** Seconds spent in probes so far. */
  def probeSeconds: Double = probes.map(p => p.end - p.start).sum / 1000.0

  /** Adds to a per-layer counter (files, bytes, replayed commits). */
  def count(name: String, v: Double): Unit =
    counts(name) = counts.getOrElse(name, 0.0) + v

  /** Ends the window and returns every figure divided by `passes`. */
  def report(passes: Int, cores: Int): Map[String, Double] = {
    val end = nowMs()
    val gc = gcSeconds() - gcStart - probeGc
    PerfbenchBridge.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    synchronized {
      val window = jobs.values.filter(_.start >= windowStart).toSeq
      window.foreach(j => if (j.end.isNaN) j.end = end)
      def within(s: Span)(j: Job) = j.start >= s.start && j.start < s.end
      val (probed, all) = window.partition(j => probes.exists(p => within(p)(j)))
      val out = mutable.LinkedHashMap.empty[String, Double]
      def add(k: String, v: Double): Unit = out(k) = out.getOrElse(k, 0.0) + v

      // probes: their own layer's figures, and out of the window
      for (p <- probes if p.layer.nonEmpty) {
        val mine = probed.filter(within(p))
        val jobS = union(mine.map(j => (j.start, j.end min p.end))) / 1000.0
        add(s"${p.layer}.jobs", mine.size)
        add(s"${p.layer}.job_s", jobS)
        add(s"${p.layer}.driver_s", (p.end - p.start) / 1000.0 - jobS)
      }
      add("probe_s", probeSeconds)
      val wall = (end - windowStart) / 1000.0 - probeSeconds
      val busy = union(all.map(j => (j.start, j.end))) / 1000.0
      add("wall_s", wall)
      add("spark.jobs", all.size)
      add("driver_serial_s", wall - busy)
      val run = all.map(_.tasks.runMs).sum / 1000.0
      add("spark.executor_run_s", run)
      add("spark.executor_cpu_s", all.map(_.tasks.cpuNs).sum / 1e9)
      add("spark.shuffle_write_bytes", all.map(_.tasks.shuffleWrite).sum.toDouble)
      add("spark.spill_bytes", all.map(_.tasks.spill).sum.toDouble)
      add("spark.input_bytes", all.map(_.tasks.input).sum.toDouble)
      add("jvm.gc_s", gc)

      // per-layer: jobs started inside the layer's spans
      var inSpans = 0.0
      var jobInSpans = 0.0
      for (s <- spans) {
        val mine = all.filter(within(s))
        val jobS = union(all.map(j => (j.start max s.start, j.end min s.end))
          .filter { case (a, b) => b > a }) / 1000.0
        val dur = (s.end - s.start) / 1000.0
        inSpans += dur
        jobInSpans += jobS
        add(s"${s.layer}.jobs", mine.size)
        add(s"${s.layer}.job_s", jobS)
        add(s"${s.layer}.driver_s", dur - jobS)
        add(s"${s.layer}.shuffle_bytes", mine.map(_.tasks.shuffleWrite).sum.toDouble)
        add(s"self.${s.layer}_s", dur - jobS)
        if (s.tag.nonEmpty) {
          add(s"tag.${s.tag}.s", dur)
          add(s"tag.${s.tag}.jobs", mine.size)
        }
      }
      // self times: each instant of the window goes to exactly one of
      // the span's layer (driver side), "spark" (a job is running), or
      // "unattributed" (no span open and no job running)
      val outside = busy - jobInSpans
      add("self.spark_s", jobInSpans + outside)
      add("self.unattributed_s", wall - inSpans - outside)

      counts.foreach { case (k, v) => add(k, v) }
      // parallelism: task run time per core-second during which a job ran
      add("spark.parallelism", if (busy > 0) run / (busy * cores) else 0.0)
      out.map { case (k, v) =>
        k -> (if (k == "spark.parallelism") v else v / passes)
      }.toMap
    }
  }
}

object Trace {
  final class TaskSums {
    var runMs = 0L
    var cpuNs = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var input = 0L
  }
  final case class Job(id: Int, start: Double, var end: Double, tasks: TaskSums)
  final case class Span(layer: String, tag: String, start: Double, end: Double)

  private val t0Nanos = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble

  /** Epoch milliseconds with nanosecond-clock resolution. */
  def nowMs(): Double = t0Ms + (System.nanoTime() - t0Nanos) / 1e6

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0

  /** Total length covered by a set of intervals. */
  def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    for ((a, b) <- iv.sortBy(_._1)) {
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}
