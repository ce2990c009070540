package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Values a run reports: end-to-end metrics (measured with tracing off),
  * per-layer metrics (from the traced phase), recorded fields that are not
  * metrics, and the operation tally behind `failed_ratio`. */
final class Report {
  val endToEnd = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  val recorded = mutable.LinkedHashMap.empty[String, String] // name → JSON value
  private val attemptedN = new java.util.concurrent.atomic.AtomicLong
  private val failedN = new java.util.concurrent.atomic.AtomicLong
  private val firstFailures = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  def attempted: Long = attemptedN.get
  def failed: Long = failedN.get
  /** Count one operation; a false `ok` counts it failed. */
  def op(ok: Boolean, what: => String = ""): Unit = {
    attemptedN.incrementAndGet()
    if (!ok) {
      failedN.incrementAndGet()
      if (firstFailures.size < 20) firstFailures.add(what)
    }
  }
  def failures: Seq[String] = firstFailures.iterator.asScala.toSeq

  private val t0 = System.nanoTime()
  private val marks = mutable.ArrayBuffer.empty[(String, Double)]
  /** Note how far into the run a step ended (recorded as `timeline_s`). */
  def mark(step: String): Unit = marks.synchronized(marks += step -> (System.nanoTime() - t0) / 1e9)

  def e2e(name: String, value: Double, unit: String): Unit = endToEnd(name) = (value, unit)
  def layer(name: String, value: Double, unit: String): Unit = layers(name) = (value, unit)
  def record(name: String, json: String): Unit = recorded(name) = json

  def json: String = {
    record("timeline_s", marks.map { case (k, v) => s""""$k": ${Json.num(v)}""" }.mkString("{", ", ", "}"))
    def metrics(m: mutable.LinkedHashMap[String, (Double, String)]) = m.map { case (k, (v, u)) =>
      s""""$k": {"value": ${Json.num(v)}, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
    val fails = failures.map(Json.str).mkString("[", ", ", "]")
    s"""{"attempted": $attempted, "failed": $failed, "end_to_end": ${metrics(endToEnd)}, """ +
      s""""per_layer": ${metrics(layers)}, "recorded": ${recorded.map { case (k, v) =>
        s""""$k": $v""" }.mkString("{", ", ", "}")}, "failures": $fails}"""
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
}

object Stats {
  def quantile(xs: Array[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs.toArray, 0.5)
  /** The highest of the usual percentiles that has at least ten samples
    * above it, with its value: (percentile, value). */
  def tail(xs: Array[Double]): (Double, Double) = {
    val p = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
      .find(p => xs.length * (1 - p / 100) >= 10).getOrElse(50.0)
    (p, quantile(xs, p / 100))
  }
}

/** Everything a workload needs: the session, the seeded inputs' seed, the
  * measuring window, the work directory and the report. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
    val trace: Boolean, val work: Path, val benchDir: Path, val cpus: Int,
    val report: Report, tracing: Boolean = false) {
  val tracer = new Tracer(spark.sparkContext, tracing)
  /** The same context with spans and the Spark listener switched on. */
  lazy val traced: Ctx = new Ctx(spark, seed, seconds, trace, work, benchDir, cpus, report,
    tracing = true)

  /** Directory under the work dir, emptied first. */
  def freshDir(name: String): Path = {
    val p = work.resolve(name)
    Main.deleteTree(p)
    Files.createDirectories(p)
  }
  def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }
  /** Repeat the workload's set-up `SetupReps` times in fresh directories and
    * record the median as `setup_s`; the state of the last one is used. */
  def setup[A](f: Int => A): A = {
    report.mark("inputs")
    val runs = (0 until Main.SetupReps).map(i => time(f(i)))
    report.mark("setup")
    report.e2e("setup_s", Stats.median(runs.map(_._2)), "s")
    report.record("setup_runs_s", runs.map(r => Json.num(r._2)).mkString("[", ", ", "]"))
    runs.last._1
  }
  /** Live driver heap: with the listener queues drained, full collections
    * until the heap they leave settles, and the smallest reading. A reading
    * is the usage the last collection left, summed over the heap pools; it
    * leaves out what other threads allocate after the collection, fresh
    * TLABs included. The first collections clear weak references that the
    * context cleaner then acts on in the background (broadcast blocks,
    * shuffle state), so the heap only settles after two or three of them,
    * later on a loaded host: collect at least `HeapReadings` times, then
    * until two readings in a row agree within `HeapSettledMb`, at most
    * `HeapMaxReadings` times. Every reading is recorded. */
  def heapRetainedMb(): Double = {
    report.mark("measured")
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == MemoryType.HEAP && p.getCollectionUsage != null).toSeq
    def reading(): Double = {
      System.gc()
      Thread.sleep(100)
      pools.map(_.getCollectionUsage.getUsed).sum / (1024.0 * 1024.0)
    }
    val mb = mutable.ArrayBuffer.fill(Main.HeapReadings)(reading())
    while (math.abs(mb.last - mb(mb.length - 2)) > Main.HeapSettledMb &&
        mb.length < Main.HeapMaxReadings) mb += reading()
    report.record("heap_readings_mb", mb.map(Json.num).mkString("[", ", ", "]"))
    mb.min
  }
  /** Tracing overhead: how much slower the traced phase's headline metric
    * was than the untraced phase's, in percent. */
  def traceOverhead(metric: String, untraced: Double, traced: Double): Unit = {
    report.layer("trace.overhead_pct", (traced - untraced) / untraced * 100, "%")
    report.record("trace_overhead", s"""{"metric": "$metric", "untraced": ${Json.num(untraced)}, "traced": ${Json.num(traced)}}""")
  }
}

trait Workload {
  def run(ctx: Ctx): Unit
}

object Main {
  val SetupReps = 3
  val HeapReadings = 5
  val HeapMaxReadings = 20
  val HeapSettledMb = 0.1
  val Workloads: Map[String, Workload] = Map(
    "ingest" -> Ingest, "pipeline" -> Pipeline)

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally walk.close()
  }

  def session(cpus: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    def arg(name: String): String = args.sliding(2).collectFirst { case Array(`name`, v) => v }
      .getOrElse(throw new IllegalArgumentException(s"missing $name"))
    val workload = Workloads.getOrElse(arg("--workload"),
      throw new IllegalArgumentException(s"unknown workload ${arg("--workload")}"))
    val work = Paths.get(arg("--work")).toAbsolutePath
    deleteTree(work)
    Files.createDirectories(work.resolve("tmp")) // java.io.tmpdir points here
    val cpus = arg("--cpus").toInt
    val report = new Report
    val (spark, sessionS) = {
      val t0 = System.nanoTime()
      val s = session(cpus, work)
      (s, (System.nanoTime() - t0) / 1e9)
    }
    report.record("session_start_s", Json.num(sessionS))
    report.mark("session")
    val ctx = new Ctx(spark, arg("--seed").toLong, arg("--seconds").toDouble,
      arg("--trace") == "1", work, Paths.get(arg("--bench-dir")).toAbsolutePath, cpus, report)
    try workload.run(ctx)
    finally spark.stop()
    report.mark("end")
    println("PERFBENCH_RESULT " + report.json)
  }
}
