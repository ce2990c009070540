package graft.perfbench

/** Per-layer metrics derived from a traced phase. */
object Layers {
  /** The `spark` layer: all Spark work under the phase's root span. */
  def spark(ctx: Ctx, tr: Tracer, top: Span): Unit = {
    val w = tr.work(top)
    val r = ctx.report
    r.layer("spark.jobs", w.jobs, "count")
    r.layer("spark.stages", w.stages, "count")
    r.layer("spark.tasks", w.tasks, "count")
    r.layer("spark.failed_tasks", w.failedTasks, "count")
    r.layer("spark.task_run_s", w.taskRunS, "s")
    r.layer("spark.task_cpu_s", w.taskCpuS, "s")
    r.layer("spark.gc_s", w.gcS, "s")
    r.layer("spark.scheduler_delay_s", w.schedulerDelayS, "s")
    r.layer("spark.shuffle_read_bytes", w.shuffleReadBytes, "bytes")
    r.layer("spark.shuffle_write_bytes", w.shuffleWriteBytes, "bytes")
    r.layer("spark.spill_bytes", w.spillBytes, "bytes")
    r.layer("spark.output_bytes", w.outputBytes, "bytes")
    r.layer("spark.driver_only_s", tr.driverOnlyS(top), "s")
    r.layer("spark.core_occupancy", w.taskRunS / (top.seconds * ctx.cpus), "ratio")
    r.layer("spark.unattributed_jobs", tr.unattributedJobs(top), "count")
  }

  /** The serving part of `core`: lookup latency by path and the Spark jobs
    * the lookups launched (a reader that arrives first after a commit
    * rebuilds the driver cache with one). */
  def serving(ctx: Ctx, tr: Tracer): Unit = {
    val r = ctx.report
    def p50us(name: String): Double = {
      val ss = tr.named(name)
      if (ss.isEmpty) 0.0 else Stats.quantile(ss.map(_.seconds * 1e6).toArray, 0.5)
    }
    r.layer("core.get.cached_p50_us", p50us("core.get.cached"), "us")
    r.layer("core.get.kv_p50_us", p50us("core.get.kv"), "us")
    r.layer("core.batch_get.cached_p50_us", p50us("core.batch_get.cached"), "us")
    r.layer("core.batch_get.kv_p50_us", p50us("core.batch_get.kv"), "us")
    val gets = Seq("core.get.cached", "core.get.kv", "core.batch_get.cached",
      "core.batch_get.kv").flatMap(tr.named)
    r.layer("core.get.spark_jobs", tr.work(gets).jobs, "count")
  }

  /** How much of the phase's measured wall the span tree accounts for: the
    * self times of the spans on the blocking thread (the root's included)
    * summed, over the wall measured without the tracer; and the share of
    * that wall spent inside layer calls. */
  def accounted(ctx: Ctx, tr: Tracer, top: Span, wall: Double): Unit = {
    val mine = tr.subtree(top).filter(_.thread == top.thread)
    ctx.report.layer("trace.accounted_ratio", mine.map(tr.selfS).sum / wall, "ratio")
    ctx.report.layer("trace.layer_share",
      mine.filter(_.layer != "bench").map(tr.selfS).sum / wall, "ratio")
  }
}
