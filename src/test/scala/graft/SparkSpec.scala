package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one per forked test JVM). */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh_").toString)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)

  /** Spark jobs and tasks started while `f` runs (listener bus drained
    * before the read). */
  def sparkWorkDuring(f: => Unit): (Int, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val tasks = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
      override def onTaskStart(ts: org.apache.spark.scheduler.SparkListenerTaskStart): Unit =
        tasks.incrementAndGet(): Unit
    }
    org.apache.spark.GraftTestBridge.waitForListeners(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try { f; org.apache.spark.GraftTestBridge.waitForListeners(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(listener)
    (jobs.get(), tasks.get())
  }
}
