package graft.tools

import org.apache.spark.sql.functions._

/** q144 diagnosis (guide §1): time pagerankIntConverged on the q144 edge
  * set, report iteration count and per-iteration wall, and print one
  * prStep's executed plan to check the join strategy (a |V|-row score frame
  * sort-merge-joined per iteration would be the smell).
  *
  *   sbt "Test/runMain graft.tools.MeasurePagerank /root/testdata/sf0.1"
  */
object MeasurePagerank {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.local(graft.GraftSession.cpus, Some(sfDir))
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    })

    def edges = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .filter(pmod(col("l_orderkey"), lit(4)) === 0)
      .groupBy("l_orderkey").agg(sort_array(collect_set(col("l_partkey"))).as("parts"))
      .select(explode(expr(
        "flatten(transform(parts, (x, i) -> " +
          "transform(slice(parts, i + 2, size(parts)), y -> struct(x AS a, y AS b))))"))
        .as("pr"))
      .select(col("pr.a").as("a"), col("pr.b").as("b"))

    (1 to 2).foreach { rep =>
      val j0 = jobs.get()
      val t0 = System.nanoTime()
      val r = graft.operators.Graph.pagerankIntConverged(edges, maxIters = 40,
        dampNum = 1L, dampDen = 2L)
      r.scores.write.mode("overwrite").format("noop").save()
      println(f"[pr] rep $rep: ${(System.nanoTime() - t0) / 1e9}%6.2f s " +
        f"iters=${r.iters} converged=${r.converged} cycled=${r.cycled} " +
        f"jobs=${jobs.get() - j0}")
      graft.GraftSession.reset(spark)
    }
    spark.stop()
  }
}
