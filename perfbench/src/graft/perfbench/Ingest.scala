package graft.perfbench

import java.nio.file.{Files, Path}
import java.nio.file.attribute.BasicFileAttributes
import java.util.concurrent.atomic.{AtomicBoolean, AtomicReference}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{FType, FeatureDef, FeatureGroup, FeatureStore}

/** Writes beside reads: one writer commits event-time-ordered micro-batches
  * (with a delete, an online GC and an offline compaction at fixed points)
  * while `cpus - 1` closed-loop readers look up the keys being written. The
  * group is opened by two store instances: the writer's, whose driver cache
  * holds every key and is rebuilt after each commit, and one whose cache cap
  * is below the key count, so its lookups read the on-disk serving-KV files.
  * Each reader request picks an instance at random. */
object Ingest extends Workload {
  val Users = 1500L
  /** Keys that only appear in the bootstrap rows; deletes draw from these,
    * so a deleted key never comes back in a later batch. */
  val Churned = 64L
  val BootRows = 5000L
  val BatchRows = 64
  val MaxBatches = 64
  val MinCommits = 5
  // maintenance points, by commit number within the phase
  val DeleteAt = 2     // deleteRecords
  val GcAt = 3         // gcOnline(keep = 2)
  val CompactAt = 4    // compactOffline
  val DeleteKeys = 4
  val KvCap = 512      // below the key count: the second instance reads the KV files
  val BatchKeys = 32
  val BatchShare = 0.1 // share of reader requests that are batchGetRecords

  val Group = FeatureGroup("user_stream", "user_id", "ts", Seq(
    FeatureDef("event_id", FType.Integral), FeatureDef("ts", FType.FTimestamp),
    FeatureDef("user_id", FType.Integral), FeatureDef("event_type", FType.FString),
    FeatureDef("value", FType.Fractional)))
  /** One user byte per byte of the declared schema's default sizes. */
  val RowBytes: Long = Group.schema.fields.map(_.dataType.defaultSize.toLong).sum

  /** What a correct answer carries, independent of the store: the latest
    * row's event id and event time (the wire format renders whole seconds). */
  def fingerprint(eventId: String, eventTime: String): Int = (eventId + "|" + eventTime).hashCode
  def wireTime(epochSec: Long): String = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'").withZone(java.time.ZoneOffset.UTC)
    .format(java.time.Instant.ofEpochSecond(epochSec))
  def answerPrint(a: Option[Map[String, String]]): Int =
    a.map(m => fingerprint(m("event_id"), m("ts"))).getOrElse(0)

  /** Latest row per user with plain Spark (no graft code): key → fingerprint. */
  def expected(events: DataFrame): Map[Long, Int] =
    events.withColumn("_rn", row_number().over(Window.partitionBy("user_id").orderBy(col("ts").desc)))
      .filter(col("_rn") === 1)
      .select(col("user_id"), col("event_id").cast("string"), unix_seconds(col("ts")))
      .collect().map(r => r.getLong(0) -> fingerprint(r.getString(1), wireTime(r.getLong(2)))).toMap

  def source(ctx: Ctx, rows: Long): DataFrame = {
    val ev = Corpus.events(ctx.spark, ctx.seed, rows, Users)
    ev.withColumn("user_id",
      when(col("event_id") < BootRows && pmod(col("event_id"), lit(50)) === 7,
        lit(Users) + pmod(col("event_id") / 50, lit(Churned)).cast("long"))
        .otherwise(col("user_id")))
  }

  /** inode → size of every regular file under `root`. */
  def files(root: Path): Map[Any, Long] = {
    val out = mutable.HashMap.empty[Any, Long]
    val walk = Files.walk(root)
    try walk.iterator().asScala.foreach { p =>
      val a = Files.readAttributes(p, classOf[BasicFileAttributes])
      if (a.isRegularFile) out(a.fileKey()) = a.size()
    } finally walk.close()
    out.toMap
  }

  final class Phase {
    val commitS = mutable.ArrayBuffer.empty[Double]
    val phases = mutable.ArrayBuffer.empty[Seq[(String, Double)]]
    val rebuildS = mutable.ArrayBuffer.empty[Double]
    val maint = mutable.LinkedHashMap("delete" -> 0.0, "compact" -> 0.0, "gc_online" -> 0.0)
    var compactBytes = 0L
    var filesAfterCompact = 0L
    var rows = 0L
    var newBytes = 0L
    var wall = 0.0
    val cachedGets = new LongBuf
    val kvGets = new LongBuf
    val batchGets = new LongBuf
    var keys = 0L
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val src = ctx.freshDir("source").toString
    val totalRows = BootRows + MaxBatches.toLong * BatchRows
    Corpus.write(src, "events" -> source(ctx, totalRows))
    val events = spark.read.parquet(s"$src/events.parquet")
    val boot = events.filter(col("event_id") < BootRows)
    val rnd = new java.util.Random(ctx.seed)
    val deletes = Iterator.continually(
      (0 until DeleteKeys).map(_ => Users + rnd.nextInt(Churned.toInt).toLong).distinct)

    val (fs, kv, root) = ctx.setup { i =>
      val root = ctx.freshDir(s"store$i")
      val fs = new FeatureStore(spark, root.toString)
      fs.createGroup(Group)
      fs.ingest(Group.name, boot)
      val kv = new FeatureStore(spark, root.toString, maxServingCacheRows = KvCap)
      // first lookups build the driver cache and settle the over-cap verdict
      fs.getRecord(Group.name, 0L)
      kv.getRecord(Group.name, 0L)
      (fs, kv, root)
    }
    // micro-batches as driver-local frames, in event-time order
    val schema = events.schema
    val rest = events.filter(col("event_id") >= BootRows).orderBy("event_id").collect()
    val batches = rest.grouped(BatchRows).map(rs =>
      spark.createDataFrame(rs.toSeq.asJava, schema)).toIndexedSeq
    var next = 0
    val deleted = mutable.LinkedHashSet.empty[Long]

    def phase(c: Ctx, seconds: Double, minCommits: Int): Phase = {
      val p = new Phase
      val tr = c.tracer
      val writing = new AtomicBoolean(true)
      val hot = new AtomicReference[Array[Long]](Array(0L))
      val readers = (1 until math.max(2, c.cpus)).map { r =>
        new Thread(() => {
          val rr = new java.util.Random(c.seed * 31 + r)
          val seen = mutable.HashMap.empty[Long, String]
          val (cached, onKv, batch) = (new LongBuf, new LongBuf, new LongBuf)
          var keys = 0L
          // event time never goes backwards, and a key never vanishes, for a
          // reader that has seen it (hot keys are never deleted)
          def fresh(k: Long, ans: Option[Map[String, String]]): Boolean = {
            val ts = ans.map(_("ts"))
            val ok = ts.exists(t => seen.get(k).forall(_ <= t))
            ts.foreach(seen(k) = _)
            ok
          }
          while (writing.get) try {
            val hotKeys = hot.get
            val useKv = rr.nextBoolean()
            val store = if (useKv) kv else fs
            val a = System.nanoTime()
            if (rr.nextDouble() < BatchShare) {
              val ks = Seq.fill(BatchKeys)(hotKeys(rr.nextInt(hotKeys.length)))
              val ans = tr.span(if (useKv) "core.batch_get.kv" else "core.batch_get.cached", "core")(
                store.batchGetRecords(Group.name, ks))
              batch.add(System.nanoTime() - a)
              keys += BatchKeys
              c.report.op(ks.distinct.forall(k => fresh(k, ans.getOrElse(k.toString, None))),
                "batchGetRecords answered a key older than already seen, or not at all")
            } else {
              val k = hotKeys(rr.nextInt(hotKeys.length))
              val ans = tr.span(if (useKv) "core.get.kv" else "core.get.cached", "core")(
                store.getRecord(Group.name, k))
              (if (useKv) onKv else cached).add(System.nanoTime() - a)
              keys += 1
              c.report.op(fresh(k, ans), s"getRecord key $k went back in time or vanished")
            }
          } catch { case e: Exception => c.report.op(ok = false, s"reader: $e") }
          p.synchronized {
            cached.toSeq.foreach(p.cachedGets.add); onKv.toSeq.foreach(p.kvGets.add)
            batch.toSeq.foreach(p.batchGets.add); p.keys += keys
          }
        }, s"reader-$r")
      }
      val known = mutable.HashMap.empty[Any, Long] ++ files(root)
      def newBytes(): Long = {
        val now = files(root)
        val fresh = now.filter { case (k, _) => !known.contains(k) }
        known ++= fresh
        fresh.values.sum
      }
      readers.foreach(_.start())
      val t0 = System.nanoTime()
      val deadline = t0 + (seconds * 1e9).toLong
      try {
        var n = 0
        while ((System.nanoTime() < deadline || n < minCommits) && next < batches.length) {
          val b = batches(next)
          next += 1
          val (_, s) = c.time(tr.span("core.ingest", "core")(fs.ingest(Group.name, b)))
          p.commitS += s
          p.phases += fs.lastCommitPhases(Group.name)
          p.rows += BatchRows
          n += 1
          // the first lookup after a commit rebuilds the serving cache; the
          // traced phase times it on the writer (readers may get there first)
          if (tr.enabled) p.rebuildS += c.time(tr.span("core.get.cache_rebuild", "core")(
            fs.getRecord(Group.name, 0L)))._2
          hot.set(rest.slice((next - 1) * BatchRows, next * BatchRows)
            .map(_.getAs[Long]("user_id")))
          p.newBytes += newBytes()
          if (n == DeleteAt) {
            val ks = deletes.next()
            deleted ++= ks
            p.maint("delete") += c.time(tr.span("core.maint.delete", "core")(
              fs.deleteRecords(Group.name, ks)))._2
          }
          if (n == CompactAt) {
            val (files, s) = c.time(tr.span("core.maint.compact", "core")(
              fs.compactOffline(Group.name)))
            p.maint("compact") += s
            p.filesAfterCompact = files
            val b = newBytes()
            p.compactBytes += b
            p.newBytes += b
          }
          if (n == GcAt) p.maint("gc_online") += c.time(
            tr.span("core.maint.gc_online", "core")(fs.gcOnline(Group.name, keep = 2)))._2
          p.newBytes += newBytes()
        }
      } finally {
        writing.set(false)
        readers.foreach(_.join())
      }
      p.wall = (System.nanoTime() - t0) / 1e9
      p
    }

    val p = phase(ctx, ctx.seconds, MinCommits)
    val r = ctx.report
    val commitsMs = p.commitS.map(_ * 1e3).toArray
    val (tailPct, tailMs) = Stats.tail(commitsMs)
    def p50us(b: LongBuf) = Stats.quantile(b.toSeq.map(_ / 1e3).toArray, 0.5)
    val getsUs = (p.cachedGets.toSeq ++ p.kvGets.toSeq).map(_ / 1e3).toArray
    r.e2e("op_p50_ms", Stats.quantile(commitsMs, 0.5), "ms")
    r.e2e("items_per_s", p.keys / p.wall, "1/s")
    r.e2e("commit_p50_ms", Stats.quantile(commitsMs, 0.5), "ms")
    r.e2e("commit_tail_ms", tailMs, "ms")
    r.record("commit_tail_percentile", Json.num(tailPct))
    r.record("commits", commitsMs.length.toString)
    r.e2e("ingest_rows_per_s", p.rows / p.wall, "rows/s")
    r.e2e("maintenance_s", p.maint.values.sum, "s")
    r.e2e("write_amp", p.newBytes.toDouble / (p.rows * RowBytes), "ratio")
    r.e2e("get_p50_us", Stats.quantile(getsUs, 0.5), "us")
    r.e2e("get_p99_us", Stats.quantile(getsUs, 0.99), "us")
    r.e2e("get_cached_p50_us", p50us(p.cachedGets), "us")
    r.e2e("get_kv_p50_us", p50us(p.kvGets), "us")
    r.e2e("batch_get_p50_us", p50us(p.batchGets), "us")
    r.e2e("lookups_per_s", p.keys / p.wall, "keys/s")
    r.record("reader_samples", s"""{"cached_gets": ${p.cachedGets.size}, "kv_gets": ${p.kvGets.size}, "batch_gets": ${p.batchGets.size}, "readers": ${math.max(1, ctx.cpus - 1)}}""")
    r.e2e("heap_retained_mb", ctx.heapRetainedMb(), "MiB")

    if (ctx.trace) {
      val t = ctx.traced
      val tp = t.tracer.span("ingest.timed", "bench")(phase(t, ctx.seconds, MinCommits))
      // against an untraced phase run after it, so the first phase's cold
      // commits do not read as tracing overhead
      ctx.traceOverhead("commit_p50_ms",
        Stats.quantile(phase(ctx, ctx.seconds, MinCommits).commitS.map(_ * 1e3).toArray, 0.5),
        Stats.quantile(tp.commitS.map(_ * 1e3).toArray, 0.5))
      val tr = t.tracer
      tr.drain()
      val top = tr.named("ingest.timed").head
      Layers.spark(ctx, tr, top)
      val commits = tr.named("core.ingest")
      val names = tp.phases.flatMap(_.map(_._1)).distinct
      names.foreach { n =>
        val per = tp.phases.map(_.filter(_._1 == n).map(_._2).sum).toArray
        r.layer(s"core.ingest.${n}_s", Stats.quantile(per, 0.5), "s")
      }
      r.record("commit_phase_share", names.map { n =>
        s""""$n": ${Json.num(tp.phases.map(_.filter(_._1 == n).map(_._2).sum).sum / tp.commitS.sum)}"""
      }.mkString("{", ", ", "}"))
      r.layer("core.ingest.jobs_per_commit", tr.work(commits).jobs.toDouble / commits.size, "count")
      r.layer("core.ingest.driver_only_s", Stats.median(commits.map(tr.driverOnlyS)), "s")
      r.layer("core.ingest.bytes_written_per_commit", tp.newBytes.toDouble / commits.size, "bytes")
      r.layer("core.get.cache_rebuild_ms", Stats.median(tp.rebuildS.map(_ * 1e3).toSeq), "ms")
      r.layer("core.get.cache_rebuilds", tp.rebuildS.size, "count")
      r.layer("core.maint.delete_s", tp.maint("delete"), "s")
      r.layer("core.maint.compact_s", tp.maint("compact"), "s")
      r.layer("core.maint.gc_online_s", tp.maint("gc_online"), "s")
      r.layer("core.maint.bytes_rewritten", tp.compactBytes, "bytes")
      r.layer("core.maint.files_after_compact", tp.filesAfterCompact, "count")
      Layers.serving(ctx, tr)
      Layers.accounted(ctx, tr, top, tp.wall)
    }

    // restart check: a fresh instance on the same root, no instance cache
    val ingested = events.filter(col("event_id") < BootRows + next.toLong * BatchRows)
    val live = ingested.filter(!col("user_id").isin(deleted.toSeq: _*))
    val want = expected(live)
    val fresh = new FeatureStore(spark, root.toString)
    (0L until Users + Churned + 8).foreach { k =>
      r.op(answerPrint(fresh.getRecord(Group.name, k)) == want.getOrElse(k, 0),
        s"after restart, key $k does not match latest-per-key")
    }
    val liveRows = live.count()
    r.op(fresh.offline(Group.name).count() == liveRows, "offline row count after restart")
    val onDisk = files(root).values.sum
    r.e2e("space_amp", onDisk.toDouble / (liveRows * RowBytes), "ratio")
  }
}

/** Growable primitive buffer for latency samples (no boxing in the loop). */
final class LongBuf {
  private var a = new Array[Long](1 << 12)
  private var n = 0
  def add(v: Long): Unit = {
    if (n == a.length) a = java.util.Arrays.copyOf(a, n * 2)
    a(n) = v; n += 1
  }
  def size: Int = n
  def toSeq: Seq[Long] = a.take(n).toSeq
}
