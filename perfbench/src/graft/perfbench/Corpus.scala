package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded tables with the schemas of the sf corpus (`events`, `documents`,
  * `embeddings`, `customer`). Every value is a hash of
  * (seed, row id, column salt), so a seed gives the same table regardless
  * of partitioning or core count. */
object Corpus {
  private def h(seed: Long, salt: Int, id: Column = col("id")): Column =
    xxhash64(lit(seed), id, lit(salt))
  private def uniform(seed: Long, salt: Int, n: Long, id: Column = col("id")): Column =
    pmod(h(seed, salt, id), lit(n))
  private def pick(seed: Long, salt: Int, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), (uniform(seed, salt, values.size.toLong) + 1).cast("int"))

  val EventTypes = Seq("view", "click", "purchase", "signup", "error")
  val EventsStartSec: Long = java.time.Instant.parse("2024-01-01T00:00:00Z").getEpochSecond
  val EventsSpanSec: Long = 30L * 86400

  /** `rows` events over users `0 until users`; every user has at least one
    * event, and `ts` strictly increases with `event_id` (latest-per-key is
    * unambiguous). */
  def events(spark: SparkSession, seed: Long, rows: Long, users: Long): DataFrame = {
    val strideUs = EventsSpanSec * 1000000L / rows
    spark.range(rows).select(
      col("id").as("event_id"),
      timestamp_micros(lit(EventsStartSec * 1000000L) + col("id") * strideUs +
        uniform(seed, 1, strideUs)).as("ts"),
      when(col("id") < users, col("id")).otherwise(uniform(seed, 2, users)).as("user_id"),
      pick(seed, 3, EventTypes).as("event_type"),
      (uniform(seed, 4, 100000L) / 100.0).as("value"),
      concat(lit("{\"k\": "), uniform(seed, 5, 100L).cast("string"), lit("}")).as("props"))
  }

  val Vocabulary = Seq("a", "the", "spark", "hash", "dup", "window", "merge", "scan",
    "filter", "join", "sort", "group", "agg", "value", "key", "row", "column", "table",
    "stream", "batch", "query", "vector", "data", "line", "part", "order", "customer",
    "fast", "slow", "big", "small", "index", "token", "model", "train", "serve",
    "feature", "store", "event", "time")

  /** Word-salad documents of 8–64 words; every tenth document from id 5 on is
    * a near-duplicate of the one five ids before it (last word replaced), so
    * the dedup and containment kernels find pairs. */
  def documents(spark: SparkSession, seed: Long, rows: Long): DataFrame = {
    val src = when(pmod(col("id"), lit(10)) === 5, col("id") - 5).otherwise(col("id"))
    val len = (uniform(seed, 21, 57L, src) + 8).cast("int")
    val vocab = array(Vocabulary.map(lit): _*)
    val words = transform(sequence(lit(1), len), j =>
      when(j === len && src =!= col("id"), lit("changed"))
        .otherwise(element_at(vocab,
          (pmod(xxhash64(lit(seed), src, j), lit(Vocabulary.size.toLong)) + 1).cast("int"))))
    spark.range(rows).withColumn("text", array_join(words, " ")).select(
      col("id").as("doc_id"), col("text"),
      pick(seed, 22, Seq("en", "de", "fr", "es", "zh")).as("lang"),
      concat(lit("src"), pmod(col("id"), lit(5)).cast("string")).as("source"),
      length(col("text")).cast("long").as("n_chars"))
  }

  /** 64-dim float vectors around `clusters` centroids, labelled by cluster. */
  def embeddings(spark: SparkSession, seed: Long, rows: Long, clusters: Int): DataFrame = {
    val label = pmod(col("id"), lit(clusters))
    spark.range(rows).select(
      col("id").as("vec_id"),
      transform(sequence(lit(1), lit(64)), j =>
        ((pmod(xxhash64(lit(seed), label, j), lit(2001L)) - 1000) / 1000.0 +
          (pmod(xxhash64(lit(seed), col("id"), j), lit(2001L)) - 1000) / 5000.0)
          .cast("float")).as("embedding"),
      label.cast("int").as("label"))
  }

  def customer(spark: SparkSession, seed: Long, rows: Long): DataFrame =
    spark.range(rows).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      uniform(seed, 31, 25L).cast("int").as("c_nationkey"),
      ((uniform(seed, 32, 1100000L) - 100000L) / 100.0).as("c_acctbal"),
      pick(seed, 33, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
        .as("c_mktsegment"))

  /** Write tables as `<dir>/<name>.parquet`, one file each (the sf corpus layout). */
  def write(dir: String, tables: (String, DataFrame)*): Unit =
    tables.foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
}
