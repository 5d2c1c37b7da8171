package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import graft.SparkEntry
import graft.core.{Config, DataDirConfig, LoadType, TableDef, TableType}
import graft.lake.{LakeTable, TransactionLog}
import graft.runner.Runner
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Runs one perfbench workload in this JVM and writes its raw
  * measurements as JSON; `run.py` generates the inputs beforehand and
  * checks outputs and derives the metrics afterwards.
  *
  * Usage: `perfbench.Harness <spec.json> <result.json>`
  *
  * Untraced operations call the program exactly as a user would. In a
  * traced run the first half of the window stays untraced, then a
  * [[Trace]] listener is registered and the same work is repeated with
  * spans around each call into a module's public functions. Work that
  * only the traced run does (probes) runs outside the timed operations
  * and is left out of the traced pass times.
  */
object Harness {
  val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val spec = mapper.readTree(Files.readString(Paths.get(args(0))))
    val out = mapper.createObjectNode()
    val cores = spec.get("cores").asInt
    val spark = SparkEntry.configure(
      SparkSession.builder()
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", cores.toString))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    out.put("ready_ms", System.currentTimeMillis())
    val (steal, busy) = cpuTicks()
    out.putArray("ready_ticks").add(steal).add(busy)
    hostProbe() // untimed: lets the probe's own code compile first
    hostSpeed(out)
    try spec.get("workload").asText match {
      case "lake_ingest" => new Lake(spark, spec, out).run()
      case _             => new Train(spark, spec, out).run()
    } finally {
      out.put("gc_s", Trace.gcSeconds())
      out.put("peak_rss_kb", peakRssKb())
      Files.writeString(Paths.get(args(1)), mapper.writeValueAsString(out))
      spark.stop()
    }
  }

  /** CPU ticks of all CPUs since boot from /proc/stat: (stolen by the
    * hypervisor for other guests, busy in this guest).
    */
  def cpuTicks(): (Long, Long) = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").tail.map(_.toLong)
    (f(7), f(0) + f(1) + f(2) + f(5) + f(6))
  }

  /** Wall seconds of an interval, and the share of the CPU time runnable
    * in it that the hypervisor gave to other guests.
    */
  final case class Interval(secs: Double, stolen: Double)

  def interval[T](f: => T): (T, Interval) = {
    val (s0, b0) = cpuTicks()
    val t0 = System.nanoTime()
    val r = f
    val secs = (System.nanoTime() - t0) / 1e9
    val (s1, b1) = cpuTicks()
    val ticks = (s1 - s0) + (b1 - b0)
    (r, Interval(secs, if (ticks > 0) (s1 - s0).toDouble / ticks else 0.0))
  }

  /** The interval `f` took, or its failure. */
  def timed(f: => Unit): (Interval, Option[Throwable]) = {
    val (err, iv) = interval(try { f; None } catch { case e: Throwable => Some(e) })
    (iv, err)
  }

  def addInterval(arr: ArrayNode, iv: Interval): Unit =
    arr.addObject().put("s", iv.secs).put("stolen", iv.stolen)

  def record(ops: ArrayNode, kind: String, pass: Int, step: Int,
      iv: Interval, err: Option[Throwable]): ObjectNode = {
    val o = ops.addObject()
    o.put("kind", kind).put("pass", pass).put("step", step)
      .put("s", iv.secs).put("stolen", iv.stolen)
    err.foreach { e =>
      o.put("error", s"${e.getClass.getName}: ${e.getMessage}".take(500))
    }
    o
  }

  def putTrace(out: ObjectNode, m: Map[String, Double]): Unit = {
    val t = out.putObject("trace")
    m.toSeq.sortBy(_._1).foreach { case (k, v) => t.put(k, v) }
  }

  /** Heap still in use after a full collection, appended to the
    * result's `live_heap_mb`, then host probes; called between
    * operations, untimed.
    */
  def liveHeap(out: ObjectNode): Unit = {
    System.gc()
    val used = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    val arr = Option(out.get("live_heap_mb")).map(_.asInstanceOf[ArrayNode])
      .getOrElse(out.putArray("live_heap_mb"))
    arr.add(used / 1048576.0)
    hostSpeed(out)
  }

  /** The interval of a fixed CPU and memory task that runs no program
    * code, on one thread per core: each thread fills an array with a
    * fixed pseudo-random sequence and sorts it. run.py scales the run's
    * times by how fast the host ran it.
    */
  def hostProbe(): Interval = interval {
    val threads = (0 until Runtime.getRuntime.availableProcessors).map { c =>
      new Thread(() => {
        val a = new Array[Long](1 << 20)
        var x = 88172645463325252L + c
        var i = 0
        while (i < a.length) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; a(i) = x; i += 1 }
        java.util.Arrays.sort(a)
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
  }._2

  /** Appends three host probes to the result's `host`; untimed. */
  def hostSpeed(out: ObjectNode): Unit = {
    val arr = Option(out.get("host")).map(_.asInstanceOf[ArrayNode])
      .getOrElse(out.putArray("host"))
    (0 until 3).foreach(_ => addInterval(arr, hostProbe()))
  }

  private def peakRssKb(): Long =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
    catch { case _: Exception => 0L }
}

/** lake_ingest: Keboola jobs through `Runner.run`, each commit followed
  * by a latest-version read-back through `LakeTable.read`.
  *
  * A pass replays the whole datadir sequence into fresh tables, so every
  * pass does identical work and reaches identical table states. After the
  * cold job and an untimed warm-up pass (pass -2), passes repeat until
  * the window is spent.
  */
final class Lake(spark: SparkSession, spec: JsonNode, out: ObjectNode) {
  import Harness._

  private val input = Paths.get(spec.get("input").asText)
  private val tables = Paths.get(spec.get("tables").asText)
  private val checksumSql = spec.get("checksum_sql").asText
  private val plan = mapper.readTree(Files.readString(input.resolve("plan.json")))
  private val ops = out.putArray("ops")

  def run(): Unit = {
    val seconds = spec.get("seconds").asDouble
    val traced = spec.get("trace").asBoolean
    // the cold first job of a fresh JVM, which every one-shot run pays
    val coldDest = tables.resolve("cold")
    val (cs, ce) = timed(Runner.run(spark, config(input.resolve("cold")), input.resolve("cold"), coldDest))
    record(ops, "cold", -1, 0, cs, ce)
    readBack("read_cold", -1, 0, coldDest)
    liveHeap(out)
    // an untimed pass lets the append, merge and read paths' JIT settle
    // before the window
    onePass(-2, None)

    val passes = out.putArray("passes")
    val window = if (traced) seconds / 2 else seconds
    val t0 = System.nanoTime()
    var pass = 0
    while (pass < 2 || (System.nanoTime() - t0) / 1e9 < window) {
      addInterval(passes, onePass(pass, None))
      liveHeap(out)
      pass += 1
    }
    if (traced) {
      val tr = new Trace(spark)
      tr.start()
      addInterval(out.putArray("traced_passes"), onePass(pass, Some(tr)))
      putTrace(out, tr.report(1, spec.get("cores").asInt))
    }
  }

  private def config(dd: Path): Config = DataDirConfig.load(dd).config

  /** One pass; traced, its interval leaves out the probes' time. */
  private def onePass(pass: Int, tr: Option[Trace]): Interval = {
    val probed = tr.fold(0.0)(_.probeSeconds)
    val iv = interval(onePassSteps(pass, tr))._2
    iv.copy(secs = iv.secs - (tr.fold(0.0)(_.probeSeconds) - probed))
  }

  private def onePassSteps(pass: Int, tr: Option[Trace]): Unit = {
    val dest = tables.resolve(s"p$pass")
    plan.get("steps").elements().asScala.zipWithIndex.foreach { case (step, j) =>
      for (kind <- Seq("append", "upsert")) {
        val dd = input.resolve(step.get(kind).get("dir").asText)
        val table = dest.resolve(kind)
        val before = tr.map(_.probe()(
          if (TransactionLog.tableExists(table)) TransactionLog.latestVersion(table) else -1L))
        val (s, e) = timed(tr match {
          case None    => Runner.run(spark, config(dd), dd, table)
          case Some(t) => tracedJob(t, dd, table)
        })
        record(ops, kind, pass, j, s, e)
        readBack(s"read_$kind", pass, j, table, tr)
        tr.foreach { t =>
          // a noop materialisation of the staged and cast input
          t.probe("sources.scan_cast")(
            Runner.loadInput(spark, dd).write.format("noop").mode("overwrite").save())
          logFigures(t, table, before.get)
        }
      }
    }
  }

  /** A copy of `Runner.run`'s dispatch with a span around each public
    * call it makes. It copies only the branches these datadirs take; a
    * configuration that would take another (dedup columns, bucketing, a
    * native mode other than upsert) fails the job instead of running
    * something `Runner.run` would not.
    */
  private def tracedJob(tr: Trace, dd: Path, table: Path): Unit = {
    val cfg = config(dd)
    val d = cfg.destination
    require(d.dedupColumns.isEmpty && d.bucketBy.isEmpty,
      "the traced copy of Runner.run has no dedup or bucketing branch")
    val codec = Config.sparkCompression(d.compression)
    d.tableType match {
      case TableType.External =>
        cfg.validateExternalMode()
        val df = tr.span("runner.load_input")(Runner.loadInput(spark, dd, keepStage = cfg.keepStage))
        tr.span("lake.write")(new LakeTable(spark, table)
          .write(df, d.mode.toString, d.partitionBy, mergeSchema = true, codec))
      case TableType.Native =>
        cfg.validateNativeMode()
        require(d.mode == LoadType.Upsert, "the traced copy of Runner.run has only the native upsert branch")
        val t = TableDef.fromDataDir(dd).head
        t.requirePrimaryKey()
        val df = tr.span("runner.load_input")(Runner.loadInput(spark, dd, keepStage = cfg.keepStage))
        val lake = new LakeTable(spark, table)
        if (!lake.exists)
          tr.span("lake.write")(lake.write(df.limit(0), "append", d.partitionBy, mergeSchema = true, codec))
        tr.span("lake.merge")(lake.merge(df, t.primaryKey))
    }
  }

  /** Log-layer figures after a traced commit, all probes. */
  private def logFigures(tr: Trace, table: Path, before: Long): Unit = {
    if (!tr.probe()(TransactionLog.tableExists(table))) return
    val snap = tr.probe("log.snapshot")(TransactionLog.snapshot(table))
    tr.probe("log.history")(TransactionLog.history(table))
    tr.probe() {
      val v = snap.version
      tr.count("log.snapshots", 1)
      tr.count("log.replay_commits", v - TransactionLog.lastCheckpointVersion(table, v).getOrElse(-1L))
      val op = if (table.getFileName.toString == "append") "lake.write" else "lake.merge"
      for (ver <- before + 1 to v) {
        val adds = Files.readAllLines(TransactionLog.logDir(table).resolve(f"$ver%020d.json"))
          .asScala.map(mapper.readTree).filter(_.has("add")).map(_.get("add"))
        tr.count(s"$op.files_added", adds.size)
        tr.count(s"$op.bytes_added", adds.map(_.get("size").asLong).sum.toDouble)
      }
    }
  }

  /** Timed latest-version read of every column, reduced to the
    * checksum tuple that run.py compares with the generator's expected
    * state (the comparison itself runs after the window).
    */
  private def readBack(kind: String, pass: Int, step: Int, table: Path,
      tr: Option[Trace] = None): Unit = {
    var row: Option[org.apache.spark.sql.Row] = None
    var read: Option[DataFrame] = None
    val (s, e) = timed {
      def go(): Unit = {
        val df = new LakeTable(spark, table).read()
        read = Some(df)
        df.createOrReplaceTempView("t")
        row = Some(spark.sql(checksumSql).collect().head)
      }
      tr match {
        case None    => go()
        case Some(t) => t.span("lake.read")(go())
      }
    }
    val o = record(ops, kind, pass, step, s, e)
    row.foreach { r =>
      val a = o.putArray("check")
      (0 until r.length).foreach(i => if (r.isNullAt(i)) a.addNull() else a.add(r.getLong(i)))
    }
    for (t <- tr; df <- read)
      t.probe()(t.count("lake.read.files_scanned", df.inputFiles.length))
  }
}

/** train_small / train_large: a fixed list of `SparkEntry.queries`.
  * The cold pass (pass -1), the first work of the fresh JVM, writes
  * every result to parquet for run.py's oracle check; the passes after
  * it, an untimed warm-up (pass -2) and the measured ones, write through
  * the noop sink.
  */
final class Train(spark: SparkSession, spec: JsonNode, out: ObjectNode) {
  import Harness._

  private val sfDir = spec.get("input").asText
  private val names = spec.get("queries").elements().asScala.map(_.asText).toSeq
  private val results = Paths.get(spec.get("results").asText)
  private val ops = out.putArray("ops")

  def run(): Unit = {
    val seconds = spec.get("seconds").asDouble
    val traced = spec.get("trace").asBoolean
    val oracle = out.putObject("oracle_sql")
    names.foreach(n => SparkEntry.oracleSql.get(n).foreach(oracle.put(n, _)))
    addInterval(out.putArray("cold"), onePass(-1, None))
    // one more untimed pass lets the JIT settle before the window
    onePass(-2, None)
    val passes = out.putArray("passes")
    val window = if (traced) seconds / 2 else seconds
    var pass = 0
    val t0 = System.nanoTime()
    while (pass < 3 || (System.nanoTime() - t0) / 1e9 < window) {
      addInterval(passes, onePass(pass, None))
      pass += 1
    }
    if (traced) {
      val tr = new Trace(spark)
      tr.start()
      val tp = out.putArray("traced_passes")
      val t1 = System.nanoTime()
      var n = 0
      while (n < 2 || (System.nanoTime() - t1) / 1e9 < window) {
        addInterval(tp, onePass(pass + n, Some(tr)))
        n += 1
      }
      putTrace(out, tr.report(n, spec.get("cores").asInt))
    }
  }

  private def onePass(pass: Int, tr: Option[Trace]): Interval = {
    val (_, iv) = interval(names.zipWithIndex.foreach { case (name, i) =>
      val fn = SparkEntry.queries(name)
      def sink(df: DataFrame): Unit =
        if (pass == -1) df.write.mode("overwrite").parquet(results.resolve(name).toString)
        else df.write.format("noop").mode("overwrite").save()
      val (s, e) = timed(tr match {
        case None => sink(fn(spark, sfDir))
        case Some(t) =>
          val df = t.span("queries.build", name)(fn(spark, sfDir))
          t.span("queries.run", name)(sink(df))
      })
      record(ops, name, pass, i, s, e)
    })
    // between passes, outside the timings: drop cached frames so one
    // pass's working set does not pressure the next
    tr match {
      case None    => spark.catalog.clearCache(); liveHeap(out)
      case Some(t) => t.probe() { spark.catalog.clearCache(); System.gc() }
    }
    iv
  }
}
