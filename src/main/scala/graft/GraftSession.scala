package graft

import org.apache.spark.sql.SparkSession

/** The one place a harness session is configured. Every main that runs,
  * times or explains the engine (Bench, Verify, Plans and the test-side
  * Measure* tools) starts its session here, so a tool measures and
  * explains the same program the bench times.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, else the machine size capped at 32, so a run that
    * leaves the variable unset still uses the host's cores (4 threads on a
    * 32-core host would 8× the wall time). */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(math.min(32, Runtime.getRuntime.availableProcessors))

  /** `local[cpus]` with the engine's Catalyst extensions. With a corpus
    * dir, the AQE pre-coalesce shuffle width scales with its volume
    * ([[GraftWidth]]). */
  def local(cpus: Int, sfDir: Option[String]): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      // corpus timestamps are naive-µs parquet — see Tables class doc
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
    sfDir.foreach { dir =>
      builder.config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        GraftWidth.volumeScaled(dir, cpus).toLong)
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Drops every cached frame and persisted RDD, so one query's leftover
    * materialized state cannot change the next query's measurement. */
  def reset(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }
}
