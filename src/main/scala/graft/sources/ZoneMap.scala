package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Coordination, IndexLifecycle, OptimisticPointer}
import graft.operators.Bloom

/** Zone-map data skipping — the read-side half of the parquet+manifest
  * table-format substitution (SURVEY §7: no Delta/Iceberg jars in this
  * environment, so their data-skipping statistics are re-expressed as an
  * explicit shard map). The write path range-shards on a key and records
  * per-shard (min, max) for the key AND any extra stats columns, plus an
  * optional per-shard BLOOM filter over a point-lookup column; the read
  * path consults the map FIRST (shards-count rows — driver-side by
  * construction) and turns the surviving shard list into a PARTITION
  * filter, so Spark's partition pruning skips the non-overlapping files
  * before any data I/O. At 100 TB a time-range query over a time-sharded
  * table reads only the shards the range touches — the difference between
  * a scan and a seek; a point lookup on a non-sorted column reads only
  * the shards whose Bloom admits the key (Iceberg's bloom column stats,
  * in the engine-portable ≤m-row-bit-table form of [[Bloom]]).
  *
  * Range sharding (not hash) is what makes the min/max map selective:
  * each shard owns a contiguous key interval. Correlated columns (a
  * z-order derivative, an event time that tracks the range key) inherit
  * selectivity through their own per-shard stats; uncorrelated
  * high-cardinality columns get it from the Bloom instead. The residual
  * filter always applies after pruning — the map is an optimization,
  * never a correctness dependence (a shard's stats BOUND its contents).
  *
  * TABLE CONFIGURATION IS PERSISTED: [[write]] records (key, statsCols,
  * bloomCol, bloomK, bloomM) at `<version>/meta`, and [[append]] /
  * [[appendBatch]] / [[compact]] / [[readPoint]] DERIVE it instead of
  * re-taking it as parameters — an append can therefore never silently
  * skip the bloom (creating shards a point lookup would wrongly prune).
  *
  * FULL REWRITES ARE VERSIONED AND CAS-COMMITTED: [[write]] (and therefore
  * [[compact]], which reuses shard ids) stages data+zonemap+bloom+meta into
  * a private `_staging_*` directory and promotes it as `v<N+1>` with ONE
  * [[OptimisticPointer.casSwap]] of the `CURRENT` pointer — a crash at any
  * point leaves the old version fully consistent (stats, bloom, and data
  * can never drift apart under reused shard ids), and two racing rewrites
  * cannot silently clobber each other (the loser fails loudly). Appends
  * mutate IN PLACE inside the current version (they allocate fresh shard
  * ids, never rewrite existing files) in the order data → bloom → zonemap:
  * the zonemap generation doubles as both the COMMIT RECORD and the shard-
  * id ALLOCATOR, so a crashed append leaves either invisible orphans or a
  * partial generation the retry overwrites on the same ids — never a shard
  * a reader would wrongly prune. Point reads intersect bloom admission
  * with the zonemap COMMIT RECORD, so a crashed append's orphans are
  * invisible on every read path. Writers (write/append/appendBatch/
  * compact) are SERIALIZED by the index writer lock
  * ([[graft.core.IndexLifecycle.withIndexWriter]]) — an append can no longer
  * write into a version a concurrent rewrite is flipping away from;
  * readers stay lock-free (quiet-reader during maintenance, the
  * documented no-Delta substitution contract); superseded versions are
  * GC'd by the next rewrite's commit.
  *
  * Layout: `<path>/CURRENT` (version pointer; absent ⇒ pre-versioning flat
  * layout at `<path>/` itself), `<path>/v<N>/data/__shard=*` (parquet
  * partitions — the pruning unit), `…/zonemap/batch=*` and `…/bloom/batch=*`
  * (per-generation map/bit rows — the batch partition is what lets a
  * replayed streaming generation SUPERSEDE itself via dynamic partition
  * overwrite), `…/meta` (one row).
  */
object ZoneMap {

  /** Streaming shard ids live at `STREAM_BASE + batchId·shardsPerBatch`,
    * disjoint from the base/append region below — [[write]]/[[append]]
    * enforce the boundary so the two id spaces can never collide. */
  private[graft] val StreamBase: Int = 1 << 20

  private case class Meta(key: String, statsCols: Seq[String],
      bloomCol: Option[String], bloomK: Int, bloomM: Long)

  private def currentVersion(path: String): Option[Long] =
    Coordination.readPointerFile(Paths.get(path, "CURRENT")).map(_.toLong)

  /** The table's ACTIVE root: `v<CURRENT>` under the versioned layout, the
    * path itself for pre-versioning tables. Readers resolve it ONCE per
    * call so one read is internally consistent against one version. */
  private[graft] def tableRoot(path: String): String =
    currentVersion(path).map(v => s"$path/v$v").getOrElse(path)

  private def writeMeta(spark: SparkSession, root: String, m: Meta): Unit = {
    import spark.implicits._
    Seq((m.key, m.statsCols, m.bloomCol, m.bloomK, m.bloomM))
      .toDF("key", "stats_cols", "bloom_col", "bloom_k", "bloom_m")
      .coalesce(1).write.mode("overwrite").parquet(s"$root/meta")
  }

  private def readMeta(spark: SparkSession, root: String): Meta = {
    require(Files.exists(Paths.get(s"$root/meta")),
      s"zone-mapped table at '$root' has no meta — was it written by ZoneMap.write?")
    val r = spark.read.parquet(s"$root/meta").first()
    Meta(r.getAs[String]("key"), r.getSeq[String](r.fieldIndex("stats_cols")),
      Option(r.getAs[String]("bloom_col")), r.getAs[Int]("bloom_k"),
      r.getAs[Long]("bloom_m"))
  }

  private def statsAgg(key: String, statsCols: Seq[String]) = {
    val stats = (key +: statsCols).distinct.flatMap(c =>
      Seq(min(col(c)).as(s"lo_$c"), max(col(c)).as(s"hi_$c")))
    (stats.head, stats.tail :+ count(lit(1)).as("rows"))
  }

  private def bloomBits(sharded: DataFrame, c: String, bloomK: Int,
      bloomM: Long): DataFrame =
    sharded.filter(col(c).isNotNull)
      .select(col("__shard"),
        explode(array((1 to bloomK).map(i =>
          Bloom.bitPos(col(c), i, bloomM)): _*)).as("pos"))
      .distinct()

  /** Write `df` range-sharded on `key` as a NEW table version: data under
    * `v<N+1>/data/__shard=*`, the min/max map for `key` and `statsCols` at
    * `…/zonemap`, per-shard Bloom bit tables at `…/bloom` (when `bloomCol`
    * is set), and the table configuration at `…/meta` — staged privately
    * and committed by ONE compare-and-swap of the `CURRENT` pointer, so a
    * crash mid-rewrite leaves the previous version fully consistent and a
    * rewrite with `bloomCol = None` atomically retires any prior bloom
    * (data and bloom can never drift apart under reused shard ids).
    * Superseded versions (and a pre-versioning flat layout) are GC'd after
    * the flip. */
  def write(df: DataFrame, key: String, path: String, shards: Int,
      statsCols: Seq[String] = Nil,
      bloomCol: Option[String] = None,
      bloomK: Int = 5, bloomM: Long = 1L << 20): Unit =
      IndexLifecycle.withIndexWriter(path) {
    // writer serialization (the index-family rule): an append resolving v<N>
    // while a rewrite flips to v<N+1> and GCs v<N> would write rows into a
    // deleted dir — enforce the documented single-writer contract instead
    // of trusting it
    require(shards >= 1 && shards < StreamBase,
      s"shards must be in [1, $StreamBase), got $shards")
    val spark = df.sparkSession
    val expected = currentVersion(path) // the version this rewrite derives from
    val next = expected.getOrElse(0L) + 1
    Files.createDirectories(Paths.get(path))
    val finalDir = Paths.get(path, s"v$next")
    val staging = OptimisticPointer.stagingFor(finalDir)
    val sharded = df.repartitionByRange(shards, col(key))
      .withColumn("__shard", spark_partition_id())
      .persist()
    sharded.count(): Unit // one range shuffle feeds the data AND the maps
    sharded.write.partitionBy("__shard")
      .option("partitionOverwriteMode", "static")
      .mode("overwrite").parquet(s"$staging/data")
    val (s0, sN) = statsAgg(key, statsCols)
    sharded.groupBy("__shard").agg(s0, sN: _*)
      .withColumn("batch", lit("base"))
      .coalesce(1)
      .write.partitionBy("batch")
      .option("partitionOverwriteMode", "static")
      .mode("overwrite").parquet(s"$staging/zonemap")
    bloomCol.foreach { c =>
      // per-shard set-bit tables — mergeable, portable, ≤ m rows each
      bloomBits(sharded, c, bloomK, bloomM)
        .withColumn("batch", lit("base"))
        .write.partitionBy("batch")
        .option("partitionOverwriteMode", "static")
        .mode("overwrite").parquet(s"$staging/bloom")
    }
    writeMeta(spark, staging.toString, Meta(key, statsCols, bloomCol, bloomK, bloomM))
    sharded.unpersist(false): Unit
    // commit: promote the staged version and flip CURRENT in one critical
    // section; a racing rewrite that already advanced the pointer makes
    // this one fail loudly instead of silently superseding its rows
    OptimisticPointer.casSwap(Paths.get(path), "CURRENT",
      expected = expected.map(_.toString), next = next.toString,
      stage = Some(staging -> finalDir))
    // retention GC (the ONE shared rule, IndexLifecycle.sweepSuperseded):
    // keep the immediately superseded version for in-flight lock-free
    // readers, VACUUM everything older — v<next−1> survives one rewrite
    // cycle; the pre-versioning flat layout counts as the generation before
    // v1 and is swept once next ≥ 2. Best-effort: a crash here leaves
    // orphans the next rewrite's GC (or [[vacuum]]) collects.
    IndexLifecycle.sweepSuperseded(Paths.get(path), next,
      IndexLifecycle.versionOf("v"), FlatLegacyNames)
  }

  private val FlatLegacyNames: String => Boolean =
    Set("data", "zonemap", "bloom", "meta")

  /** Drop every SUPERSEDED version of a zone-mapped table NOW, keeping
    * only the current one — the table-format face of
    * [[graft.core.IndexLifecycle.vacuumIndex]], and the explicit final step of a
    * GDPR erase: a rewrite with the purged frame erases the SERVING
    * version immediately, but retention keeps the previous version (and
    * its erased bytes) one more cycle unless this is called. */
  def vacuum(path: String): Unit =
    IndexLifecycle.withIndexWriter(path) {
      currentVersion(path).foreach(cur =>
        // keep = 0: an explicit vacuum sweeps to the current generation,
        // whatever the configured retentionCycles policy keeps at commits
        IndexLifecycle.sweepSuperseded(Paths.get(path), cur,
          IndexLifecycle.versionOf("v"), FlatLegacyNames, keep = 0))
    }

  /** Append a new batch: the batch is range-sharded AMONG ITSELF into
    * `shards` NEW shard ids (offset past the existing maximum — existing
    * files are never rewritten, the cheap-append property every table
    * format guarantees), its map rows and bloom bits land alongside the
    * existing ones under a fresh `batch=a<offset>` generation. The
    * sharding key, stats columns, and bloom configuration come from the
    * table's persisted meta — an append can never create shards the
    * readers would mis-prune. Write order is data → bloom → zonemap: the
    * zonemap generation is both the commit record and the id allocator,
    * so a crashed append's retry re-derives the SAME offset and its
    * dynamic overwrites replace the partial attempt in place. Appended
    * shards overlap the old key ranges, so range reads now touch old+new
    * shards for the same window — the documented drift that [[compact]]
    * repairs by re-sharding the whole table back to disjoint ranges. */
  def append(df: DataFrame, path: String, shards: Int): Unit =
      IndexLifecycle.withIndexWriter(path) {
    require(shards >= 1, s"shards must be >= 1, got $shards")
    val spark = df.sparkSession
    val root = tableRoot(path)
    val meta = readMeta(spark, root)
    val maxBase = spark.read.parquet(s"$root/zonemap")
      .filter(col("__shard") < StreamBase)
      .agg(max(col("__shard"))).first()
    val offset = if (maxBase.isNullAt(0)) 0 else maxBase.getInt(0) + 1
    require(offset + shards <= StreamBase,
      s"append would cross into the streaming shard-id region " +
        s"([$offset, ${offset + shards}) vs base cap $StreamBase) — compact first")
    val sharded = df.repartitionByRange(shards, col(meta.key))
      .withColumn("__shard", spark_partition_id() + lit(offset))
      .persist()
    sharded.count(): Unit
    sharded.write.partitionBy("__shard")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite").parquet(s"$root/data")
    meta.bloomCol.foreach { c =>
      bloomBits(sharded, c, meta.bloomK, meta.bloomM)
        .withColumn("batch", lit(s"a$offset"))
        .write.partitionBy("batch")
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite").parquet(s"$root/bloom")
    }
    val (s0, sN) = statsAgg(meta.key, meta.statsCols)
    sharded.groupBy("__shard").agg(s0, sN: _*)
      .withColumn("batch", lit(s"a$offset"))
      .coalesce(1)
      .write.partitionBy("batch")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite").parquet(s"$root/zonemap")
    sharded.unpersist(false): Unit
  }

  /** Replay-idempotent per-batch append — the streaming ingest primitive
    * ([[graft.streaming.StreamingZoneMap]]). Shard ids derive from the
    * MICRO-BATCH ID (`StreamBase + batchId·shardsPerBatch + p`), not from
    * the map's current maximum, so a batch re-delivered after checkpoint
    * recovery lands on the SAME ids: its data partitions overwrite
    * dynamically (stale shard dirs from the prior attempt are swept
    * first — a replay whose range boundaries shifted leaves nothing
    * behind), and its map/bloom rows supersede their own `batch=b<id>`
    * generation instead of appending a duplicate one — effectively-once,
    * the `batch=` discipline every other streaming op here uses. Write
    * order is data → bloom → zonemap ([[append]]'s crash rule).
    *
    * ONE stream per table: batch ids are the id-space coordinate, so two
    * concurrent streams would collide on them (the single-writer contract
    * every streaming index here shares); `shardsPerBatch` must also stay
    * fixed for a checkpoint's lifetime — changing it re-bases the id
    * arithmetic under ids the old generations already own. */
  def appendBatch(df: DataFrame, path: String, shardsPerBatch: Int,
      batchId: Long): Unit =
      IndexLifecycle.withIndexWriter(path) {
    require(shardsPerBatch >= 1, s"shardsPerBatch must be >= 1, got $shardsPerBatch")
    require(batchId >= 0, s"batchId must be >= 0, got $batchId")
    val offsetL = StreamBase.toLong + batchId * shardsPerBatch
    require(offsetL + shardsPerBatch <= Int.MaxValue,
      s"batchId $batchId × shardsPerBatch $shardsPerBatch overflows the shard-id space")
    val offset = offsetL.toInt
    val spark = df.sparkSession
    val root = tableRoot(path)
    val meta = readMeta(spark, root)
    val sharded = df.repartitionByRange(shardsPerBatch, col(meta.key))
      .withColumn("__shard", spark_partition_id() + lit(offset))
      .persist()
    sharded.count(): Unit
    // sweep the id range before writing: dynamic overwrite only replaces
    // partitions the NEW write produces rows for — if a replay's range
    // boundaries shifted and left some shard of the prior attempt empty,
    // its stale rows would otherwise survive
    (offset until offset + shardsPerBatch).foreach(i =>
      Coordination.deleteRecursively(Paths.get(s"$root/data/__shard=$i")))
    sharded.write.partitionBy("__shard")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite").parquet(s"$root/data")
    meta.bloomCol.foreach { c =>
      bloomBits(sharded, c, meta.bloomK, meta.bloomM)
        .withColumn("batch", lit(s"b$batchId"))
        .write.partitionBy("batch")
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite").parquet(s"$root/bloom")
    }
    val (s0, sN) = statsAgg(meta.key, meta.statsCols)
    sharded.groupBy("__shard").agg(s0, sN: _*)
      .withColumn("batch", lit(s"b$batchId"))
      .coalesce(1)
      .write.partitionBy("batch")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite").parquet(s"$root/zonemap")
    sharded.unpersist(false): Unit
  }

  /** Re-shard the whole table back to disjoint key ranges (append drift
    * repair): one full read + [[write]] under the PERSISTED configuration
    * — key, stats columns, and bloom all come from meta, so a compaction
    * can never drop the bloom or mis-prune against stale bits. The table
    * format's OPTIMIZE. Crash-atomic for free: the rewrite lands in a new
    * staged version and commits by [[write]]'s pointer CAS — the source
    * files are never touched in place (no lineage cut needed; the old
    * version is GC'd only after the new one is fully committed). */
  def compact(spark: SparkSession, path: String, shards: Int): Unit =
      IndexLifecycle.withIndexWriter(path) {
    // the full read happens under the lock; the inner write() re-enters it
    val root = tableRoot(path)
    val meta = readMeta(spark, root)
    val all = spark.read.parquet(s"$root/data").drop("__shard")
    write(all, meta.key, path, shards, meta.statsCols, meta.bloomCol,
      meta.bloomK, meta.bloomM)
  }

  /** Conjunctive multi-column range scan: each (column, lo, hi) bound is
    * inclusive and must have per-shard stats recorded at write time.
    * Returns (rows, shardsRead, shardsTotal). */
  def readRanges(spark: SparkSession, path: String,
      ranges: Seq[(String, Any, Any)]): (DataFrame, Int, Int) = {
    require(ranges.nonEmpty, "need at least one range predicate")
    val root = tableRoot(path) // resolve ONCE: one read, one version
    val zmap = spark.read.parquet(s"$root/zonemap")
    ranges.foreach { case (c, _, _) =>
      require(zmap.columns.contains(s"lo_$c"),
        s"no per-shard stats recorded for column '$c'") }
    val total = zmap.count().toInt
    val overlap = ranges.map { case (c, lo, hi) =>
      col(s"hi_$c") >= lit(lo) && col(s"lo_$c") <= lit(hi)
    }.reduce(_ && _)
    val survivors = zmap.filter(overlap)
      .select(col("__shard")).collect().map(_.getInt(0)).toSeq
    val residual = ranges.map { case (c, lo, hi) =>
      col(c) >= lit(lo) && col(c) <= lit(hi)
    }.reduce(_ && _)
    val pruned = spark.read.parquet(s"$root/data")
      .filter(col("__shard").isInCollection(survivors)) // partition pruning
      .filter(residual)
      .drop("__shard")
    (pruned, survivors.size, total)
  }

  /** Inclusive range scan `[lo, hi]` on one column (usually the sharding
    * key). Returns (rows, shardsRead, shardsTotal). */
  def readRange(spark: SparkSession, path: String, key: String,
      lo: Any, hi: Any): (DataFrame, Int, Int) =
    readRanges(spark, path, Seq((key, lo, hi)))

  /** Point lookup through the per-shard Bloom filters: only shards whose
    * Bloom admits the key are read (one-sided: a shard holding the key is
    * NEVER skipped; a false-positive shard is read and filtered). The
    * bloom column and (k, m) come from the table's persisted meta — the
    * exact configuration every shard was built with — and the probe's bit
    * positions are computed engine-side on a one-row frame, the same md5
    * algebra the build used. */
  def readPoint(spark: SparkSession, path: String,
      value: Any): (DataFrame, Int, Int) = {
    val root = tableRoot(path) // resolve ONCE: one read, one version
    val meta = readMeta(spark, root)
    val bloomCol = meta.bloomCol.getOrElse(throw new IllegalArgumentException(
      s"zone-mapped table at '$path' has no bloom column configured — " +
        "write it with bloomCol = Some(...) to serve point lookups"))
    // the zonemap is the COMMIT RECORD (appends write data → bloom →
    // zonemap): a crashed append can leave data+bloom rows for shards the
    // zonemap never committed, so bloom admission alone would serve the
    // uncommitted phantom rows readRanges correctly prunes. Survivors must
    // be bloom-admitted AND zonemap-committed. (Shard-count rows — the
    // collect is driver-bounded by construction, and the frame is already
    // read for the total.)
    val committedRows = spark.read.parquet(s"$root/zonemap")
      .select(col("__shard")).collect()
    val total = committedRows.length
    val committed = committedRows.map(_.getInt(0)).toSet
    val positions = spark.range(1).select(
        array((1 to meta.bloomK).map(i =>
          Bloom.bitPos(lit(value), i, meta.bloomM)): _*).as("ps"))
      .first().getSeq[Long](0).distinct
    val survivors = spark.read.parquet(s"$root/bloom")
      .filter(col("pos").isInCollection(positions))
      .groupBy(col("__shard")).agg(countDistinct(col("pos")).as("n"))
      .filter(col("n") === positions.size)
      .select(col("__shard")).collect().map(_.getInt(0)).toSeq
      .filter(committed)
    val pruned = spark.read.parquet(s"$root/data")
      .filter(col("__shard").isInCollection(survivors)) // partition pruning
      .filter(col(bloomCol) === lit(value))              // residual
      .drop("__shard")
    (pruned, survivors.size, total)
  }
}
