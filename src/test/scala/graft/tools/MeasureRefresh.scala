package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{FType, FeatureDef, FeatureGroup, FeatureStore}

/** Measurement harness behind BASELINE.md's incremental-refresh table
  * (VERDICT r9 items 1–2 "done" evidence): shows that with the dirty-bucket
  * incremental commit, ingest cost tracks the BATCH, not the STORE — the
  * same small batch costs ~the same against a store 10× larger — while a
  * forced full rebuild scales with the store. Also measures the over-cap
  * serving-KV point-lookup p50 at both store sizes (bucket count derives
  * from key count, so per-bucket KV size — and therefore lookup latency —
  * should stay flat as the snapshot grows).
  *
  *   sbt "Test/runMain graft.tools.MeasureRefresh 1000000 10 64 1024"
  *       (bigKeys, shrinkFactor, batchKeys, targetKeysPerBucket)
  */
object MeasureRefresh {
  def main(args: Array[String]): Unit = {
    val bigKeys = args.headOption.map(_.toLong).getOrElse(1000000L)
    val factor = args.lift(1).map(_.toInt).getOrElse(10)
    val batchKeys = args.lift(2).map(_.toLong).getOrElse(64L)
    val target = args.lift(3).map(_.toLong).getOrElse(1024L)
    val spark = graft.GraftSession.local(graft.GraftSession.cpus, None)

    val group = FeatureGroup("RefreshBench", "user_id", "event_time", Seq(
      FeatureDef("user_id", FType.Integral),
      FeatureDef("event_time", FType.FTimestamp),
      FeatureDef("latest_value", FType.Fractional)))

    def frame(n: Long, tsBase: Long): DataFrame =
      spark.range(n).select(
        col("id").as("user_id"),
        timestamp_seconds(lit(tsBase) + pmod(col("id"), lit(86400L)))
          .as("event_time"),
        (pmod(col("id") * 7, lit(1000)) / lit(10.0)).as("latest_value"))

    // deterministic batch of EXISTING keys, later event time (a real
    // micro-batch: updates, not inserts); `round` offsets the keys so
    // successive batches touch different buckets
    def batch(n: Long, storeKeys: Long, round: Long): DataFrame =
      spark.range(n).select(
        pmod(col("id") * lit(math.max(storeKeys / math.max(n, 1L), 1L)) + lit(round * 17L),
          lit(storeKeys)).as("user_id"),
        timestamp_seconds(lit(1800000000L) + lit(round * 100000L) + col("id"))
          .as("event_time"),
        lit(-1.0).as("latest_value"))

    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }

    def measure(storeKeys: Long): Unit = {
      val dir = Files.createTempDirectory("graft_refreshbench_").toString
      val fs = new FeatureStore(spark, dir, targetKeysPerBucket = target)
      fs.createGroup(group)
      val (_, bootSec) = time(fs.ingest("RefreshBench", frame(storeKeys, 1700000000L)))
      val (_, incSec1) = time(fs.ingest("RefreshBench", batch(batchKeys, storeKeys, 1)))
      val (_, incSec2) = time(fs.ingest("RefreshBench", batch(batchKeys, storeKeys, 2)))
      val (_, fullSec) = time(fs.refreshOnline(group, None)) // forced full rebuild
      // over-cap serving path: p50 of 200 point lookups through the KV tier
      val cold = new FeatureStore(spark, dir, maxServingCacheRows = 10,
        targetKeysPerBucket = target)
      cold.getRecord("RefreshBench", 0L): Unit // warm the over-cap verdict
      val lat = (1 to 200).map { i =>
        val k = (i.toLong * 104729L) % storeKeys
        val t0 = System.nanoTime()
        require(cold.getRecord("RefreshBench", k).isDefined, s"key $k missing")
        System.nanoTime() - t0
      }.sorted
      println(f"[measure] keys=$storeKeys%d batch=$batchKeys%d " +
        f"bootstrap=$bootSec%.2f s incremental_ingest=$incSec1%.2f/$incSec2%.2f s " +
        f"full_rebuild=$fullSec%.2f s kv_p50_us=${lat(lat.size / 2) / 1000}%d " +
        f"kv_p99_us=${lat(lat.size * 99 / 100) / 1000}%d")
    }

    measure(bigKeys / factor)
    measure(bigKeys)
    spark.stop()
  }
}
