package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{PerfbenchBus, SparkContext, Success}
import org.apache.spark.scheduler._

/** One timed call into a layer, recorded by the benchmark around the call.
  * Times are `System.nanoTime`. */
final case class Span(id: Int, parent: Int, thread: Long, name: String,
    layer: String, start: Long, end: Long) {
  def seconds: Double = (end - start) / 1e9
}

/** Spark work attributed to a set of spans. Times in seconds, sizes in bytes. */
final case class SparkWork(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    failedTasks: Long = 0, taskRunS: Double = 0, taskCpuS: Double = 0,
    gcS: Double = 0, schedulerDelayS: Double = 0, shuffleReadBytes: Long = 0,
    shuffleWriteBytes: Long = 0, spillBytes: Long = 0, outputBytes: Long = 0) {
  def +(o: SparkWork): SparkWork = SparkWork(jobs + o.jobs, stages + o.stages,
    tasks + o.tasks, failedTasks + o.failedTasks, taskRunS + o.taskRunS,
    taskCpuS + o.taskCpuS, gcS + o.gcS, schedulerDelayS + o.schedulerDelayS,
    shuffleReadBytes + o.shuffleReadBytes, shuffleWriteBytes + o.shuffleWriteBytes,
    spillBytes + o.spillBytes, outputBytes + o.outputBytes)
}

/** Spans kept in memory plus a SparkListener that attributes every job,
  * stage and task to the span whose thread submitted it. Attribution rides
  * the job group: a span sets `spark.jobGroup.id` to its own id on the
  * calling thread (threads started inside inherit it, as Spark's local
  * properties are inheritable) and restores the enclosing span's group on
  * exit. With tracing off, `span` is a plain call: no listener, no job
  * group, no allocation. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val GroupKey = "spark.jobGroup.id"
  private val Prefix = "perfbench-"
  private val ids = new AtomicInteger(1)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val current = new InheritableThreadLocal[Integer] {
    override def initialValue(): Integer = 0
  }
  // nanoTime → epoch-ms offset, to compare span bounds with listener times
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  private final class Acc {
    var w = SparkWork()
    val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)] // epoch ms
  }
  private val accs = new ConcurrentHashMap[Int, Acc]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val jobStart = new ConcurrentHashMap[Int, (Int, Long)]()
  private def acc(span: Int): Acc = accs.computeIfAbsent(span, _ => new Acc)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty(GroupKey)))
      val span = g.filter(_.startsWith(Prefix)).map(_.drop(Prefix.length).toInt).getOrElse(0)
      e.stageIds.foreach(stageSpan.put(_, span))
      jobStart.put(e.jobId, (span, e.time))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (span, t0) =>
        val a = acc(span)
        a.synchronized {
          a.jobIntervals += ((t0, e.time))
          a.w = a.w.copy(jobs = a.w.jobs + 1)
        }
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val a = acc(stageSpan.getOrDefault(e.stageInfo.stageId, 0))
      a.synchronized { a.w = a.w.copy(stages = a.w.stages + 1) }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val a = acc(stageSpan.getOrDefault(e.stageId, 0))
      val m = e.taskMetrics
      val info = e.taskInfo
      val one =
        if (m == null) SparkWork(tasks = 1, failedTasks = if (e.reason == Success) 0 else 1)
        else {
          val delayMs = info.duration - m.executorRunTime - m.executorDeserializeTime -
            m.resultSerializationTime - info.gettingResultTime
          SparkWork(tasks = 1, failedTasks = if (e.reason == Success) 0 else 1,
            taskRunS = m.executorRunTime / 1e3, taskCpuS = m.executorCpuTime / 1e9,
            gcS = m.jvmGCTime / 1e3, schedulerDelayS = math.max(0L, delayMs) / 1e3,
            shuffleReadBytes = m.shuffleReadMetrics.totalBytesRead,
            shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
            spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled,
            outputBytes = m.outputMetrics.bytesWritten)
        }
      a.synchronized { a.w = a.w + one }
    }
  }
  if (enabled) sc.addSparkListener(listener)

  def span[A](name: String, layer: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = ids.getAndIncrement()
      val parent: Int = current.get
      val prevGroup = sc.getLocalProperty(GroupKey)
      current.set(id)
      sc.setLocalProperty(GroupKey, Prefix + id)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        spans.add(Span(id, parent, Thread.currentThread.getId, name, layer, t0, t1))
        current.set(parent)
        sc.setLocalProperty(GroupKey, prevGroup)
      }
    }

  /** Deliver every pending listener event; call before reading Spark work. */
  def drain(): Unit = if (enabled) PerfbenchBus.drain(sc)

  /** Every span, by start time. Read only after the traced phase. */
  lazy val all: Seq[Span] = spans.asScala.toSeq.sortBy(_.start)
  def named(name: String): Seq[Span] = all.filter(_.name == name)

  private lazy val childrenOf: Map[Int, Seq[Span]] = all.groupBy(_.parent)
  /** The span and every span below it. Call only after the traced phase. */
  def subtree(s: Span): Seq[Span] = {
    val out = mutable.ArrayBuffer(s)
    var frontier = Seq(s)
    while (frontier.nonEmpty) {
      frontier = frontier.flatMap(f => childrenOf.getOrElse(f.id, Nil))
      out ++= frontier
    }
    out.toSeq
  }

  /** Spark work of the span's whole subtree. */
  def work(s: Span): SparkWork =
    subtree(s).flatMap(x => Option(accs.get(x.id))).foldLeft(SparkWork())((w, a) => w + a.w)
  def work(ss: Seq[Span]): SparkWork = ss.map(work).foldLeft(SparkWork())(_ + _)
  /** Jobs that started inside the span's interval under no span at all (e.g.
    * submitted from a thread pool created before the span began). */
  def unattributedJobs(s: Span): Int = Option(accs.get(0)).toSeq.flatMap(_.jobIntervals)
    .count { case (a, _) => a * 1000000L - epochOffsetNs >= s.start && a * 1000000L - epochOffsetNs <= s.end }

  /** Span wall minus the union of the job intervals of its subtree: time the
    * call spent with no Spark job running. */
  def driverOnlyS(s: Span): Double = {
    val jobs = subtree(s).flatMap(x => Option(accs.get(x.id)).toSeq.flatMap(_.jobIntervals))
      .map { case (a, b) => (a * 1000000L - epochOffsetNs, b * 1000000L - epochOffsetNs) }
    math.max(0.0, s.seconds - Tracer.unionNs(jobs, s.start, s.end) / 1e9)
  }

  /** Span duration minus the part of it its direct children cover. */
  def selfS(s: Span): Double = {
    val kids = childrenOf.getOrElse(s.id, Nil).filter(_.thread == s.thread).map(k => (k.start, k.end))
    math.max(0.0, s.seconds - Tracer.unionNs(kids, s.start, s.end) / 1e9)
  }
}

object Tracer {
  /** Length of the union of intervals, clipped to [lo, hi]. */
  def unionNs(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(p => p._2 > p._1)
      .sortBy(_._1).foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
    if (curE > curS) total += curE - curS
    total
  }
}
