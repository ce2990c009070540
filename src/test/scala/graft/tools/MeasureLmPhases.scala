package graft.tools

import org.apache.spark.sql.functions._

/** Phase-level timing of the q202_lm_unlearn lifecycle (guide §1): build →
  * unlearn → serve(pending) → purge → serve(purged), each timed separately,
  * plus the Spark job count per phase (fixed per-job overhead is a prime
  * suspect at sf0.1 — the suite's LM family is many small jobs, not one big
  * one).
  *
  *   sbt "Test/runMain graft.tools.MeasureLmPhases /root/testdata/sf0.1"
  */
object MeasureLmPhases {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.local(graft.GraftSession.cpus, Some(sfDir))
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val tasks = new java.util.concurrent.atomic.AtomicInteger(0)
    val taskNs = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (t.taskMetrics != null)
          taskNs.addAndGet(t.taskMetrics.executorRunTime * 1000000L): Unit
      }
      override def onStageCompleted(
          s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val i = s.stageInfo
        val m = i.taskMetrics
        if (m != null && m.executorRunTime > 300)
          println(f"    [stage ${i.stageId}%4d] run=${m.executorRunTime / 1e3}%7.2f s " +
            f"gc=${m.jvmGCTime / 1e3}%5.2f deser=${m.executorDeserializeTime / 1e3}%5.2f " +
            f"tasks=${i.numTasks}%-4d ${i.name.takeWhile(_ != '(').take(40)} " +
            i.details.linesIterator.filter(_.contains("graft")).take(1).mkString.takeRight(60))
      }
    })

    def phase[T](label: String)(body: => T): T = {
      val (j0, k0, n0) = (jobs.get(), tasks.get(), taskNs.get())
      val t0 = System.nanoTime()
      val r = body
      println(f"[phase] $label%-22s ${(System.nanoTime() - t0) / 1e9}%6.2f s  " +
        f"jobs=${jobs.get() - j0}%-3d tasks=${tasks.get() - k0}%-5d " +
        f"taskTime=${(taskNs.get() - n0) / 1e9}%6.2f s")
      r
    }

    (1 to 2).foreach { rep =>
      println(s"--- rep $rep")
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .repartition(spark.sparkContext.defaultParallelism)
        .withColumn("bucket", graft.functions.GraftFunctions.hashSplitBucket(col("doc_id"), 100))
      val train = docs.filter(col("bucket") < 80)
      val idx = java.nio.file.Files.createTempDirectory("lmphase_").toString + "/idx"
      phase("buildLmIndex")(graft.functions.LmPerplexity.buildLmIndex(train, "doc_id", "text", idx))
      phase("deleteFromLmIndex")(graft.functions.LmPerplexity.deleteFromLmIndex(
        train.filter(pmod(col("doc_id"), lit(7)) === 0), "doc_id", "text", idx, "erase1"))
      val score = docs.filter(col("bucket") >= 90)
      val pending = phase("serve pending")(
        graft.functions.LmPerplexity.perplexityIndexed(spark, idx, score, "doc_id", "text")
          .collect().map(_.toSeq).toSet)
      phase("purgeLmIndex")(graft.functions.LmPerplexity.purgeLmIndex(spark, idx))
      val purged = phase("serve purged")(
        graft.functions.LmPerplexity.perplexityIndexed(spark, idx, score, "doc_id", "text"))
      phase("orderBy+noop")(
        purged.orderBy("doc_id").write.mode("overwrite").format("noop").save())
      require(purged.collect().map(_.toSeq).toSet == pending)
      graft.GraftSession.reset(spark)
    }
    spark.stop()
  }
}
