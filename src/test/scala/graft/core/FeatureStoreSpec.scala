package graft.core

import java.nio.file.Files

import graft.SparkSpec

class FeatureStoreSpec extends SparkSpec {

  private def newStore(): FeatureStore =
    new FeatureStore(spark, Files.createTempDirectory("fs_spec_").toString)

  private val group = FeatureGroup("tx", "customer_id", "event_time", Seq(
    FeatureDef("customer_id", FType.Integral),
    FeatureDef("event_time", FType.FTimestamp),
    FeatureDef("amount", FType.Fractional),
    FeatureDef("note", FType.FString)))

  private def batch(rows: (Long, String, Double, String)*) = {
    import spark.implicits._
    rows.toDF("customer_id", "event_time", "amount", "note")
      .select(
        org.apache.spark.sql.functions.col("customer_id"),
        org.apache.spark.sql.functions.to_timestamp(
          org.apache.spark.sql.functions.col("event_time")).as("event_time"),
        org.apache.spark.sql.functions.col("amount"),
        org.apache.spark.sql.functions.col("note"))
  }

  private def jobsDuring(f: => Unit): Int = sparkWorkDuring(f)._1

  private def listed(d: java.nio.file.Path): List[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val ls = Files.list(d)
    try ls.iterator().asScala.toList finally ls.close()
  }

  private def metaLines(root: String, group: String, v: Long): List[String] =
    new String(Files.readAllBytes(
      java.nio.file.Paths.get(root, group, "online", s"v$v", "_meta"))).linesIterator.toList

  /** Rewrite committed online version `v` of `groupName` in the parquet
    * format earlier builds wrote, keeping its rows: parquet partitioned by
    * `_key_bucket`, and a `_meta` of `buckets`/`counts`/`cols`/`fp` lines
    * (those in `dropLines` left out). With `withServing` it also gets the
    * earlier `_serving` dir of GKV2 wire-string files — holding the value
    * "stale" in every field, so a build that read them would answer
    * wrong. */
  private def toParquetFormat(root: String, groupName: String, v: Long,
      withServing: Boolean, dropLines: Set[String] = Set.empty): Unit = {
    import org.apache.spark.sql.functions.{col, crc32, lit, pmod}
    import scala.jdk.CollectionConverters._
    val vd = java.nio.file.Paths.get(root, groupName, "online", s"v$v")
    val meta = metaLines(root, groupName, v)
    def line(k: String) = meta.find(_.startsWith(k + "=")).get.drop(k.length + 1)
    val buckets = line("buckets").toLong
    val keyCol = new FeatureStore(spark, root).describeGroup(groupName).keyCol
    val frame = new FeatureStore(spark, root).onlineAt(groupName, v)
    val rows = frame.collect().toSeq
    val written = java.nio.file.Paths.get(root, s"parquet_v$v")
    spark.createDataFrame(rows.asJava, frame.schema)
      .withColumn(EngineColumns.KeyBucket, pmod(crc32(col(keyCol).cast("string")), lit(buckets)))
      .repartition(col(EngineColumns.KeyBucket))
      .write.partitionBy(EngineColumns.KeyBucket).parquet(written.toString)
    val walk = Files.walk(vd)
    try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(p => Files.delete(p))
    finally walk.close()
    Files.move(written, vd)
    val keys = rows.map(r => r.get(r.fieldIndex(keyCol))).filter(_ != null).map(_.toString)
    val byBucket = keys.groupBy(FeatureStore.keyBucketOf(_, buckets))
    val body = Seq(
      "buckets" -> buckets.toString,
      "counts" -> byBucket.toSeq.sortBy(_._1).map { case (b, ks) => s"$b:${ks.size}" }.mkString(","),
      "cols" -> frame.columns.sorted.mkString(","),
      "fp" -> line("kvfp"))
      .filterNot(l => dropLines(l._1)).map { case (k, x) => s"$k=$x\n" }.mkString
    Files.write(vd.resolve("_meta"), body.getBytes)
    if (withServing) {
      Files.createDirectories(vd.resolve("_serving"))
      byBucket.foreach { case (b, ks) =>
        val out = new java.io.DataOutputStream(Files.newOutputStream(
          vd.resolve("_serving").resolve(s"bucket=$b.kv")))
        def str(x: String): Unit = {
          val bytes = x.getBytes("UTF-8"); out.writeInt(bytes.length); out.write(bytes)
        }
        try {
          out.writeInt(0x474B5632) // "GKV2"
          out.writeInt(frame.columns.length - 1) // every feature, not the ingest seq
          frame.columns.init.foreach(str)
          out.writeInt(ks.size)
          val blocks = ks.sorted(FeatureStore.Utf8Ordering).grouped(64).map { block =>
            val off = out.size()
            block.foreach { k => str(k); frame.columns.init.foreach { _ => out.writeBoolean(true); str("stale") } }
            (block.head, off, block.size)
          }.toList
          val indexStart = out.size()
          blocks.foreach { case (k, off, n) => str(k); out.writeLong(off.toLong); out.writeInt(n) }
          out.writeLong(indexStart.toLong); out.writeInt(blocks.size); out.writeInt(0x474B4958)
        } finally out.close()
      }
    }
  }

  /** The online layout invariant of version `v`, whatever the write width:
    * the version holds only `_meta` and `_serving/bucket=<b>.kv` files (no
    * `_key_bucket=` dir, no parquet file), one `.kv` per non-empty bucket,
    * and the `_meta` counts equal the KV header counts and the per-bucket
    * key counts of the version's rows. Returns the `_meta` counts. */
  private def assertOnlineLayout(root: String, v: Long): Map[Long, Long] = {
    def kvHeaderCount(f: java.nio.file.Path): Long = {
      val in = new java.io.DataInputStream(Files.newInputStream(f))
      try {
        assert(in.readInt() == FeatureStore.KvMagic, s"v$v: $f is not typed KV")
        (1 to 2 * in.readInt()).foreach(_ => in.skipNBytes(in.readInt().toLong))
        in.readInt().toLong
      } finally in.close()
    }
    val vd = java.nio.file.Paths.get(root, "tx", "online", s"v$v")
    assert(listed(vd).map(_.getFileName.toString).toSet == Set("_meta", "_serving"),
      s"v$v holds ${listed(vd)}")
    val lines = metaLines(root, "tx", v)
    val meta = lines.find(_.startsWith("counts=")).get
      .drop(7).split(",").filter(_.nonEmpty)
      .map { kv => val Array(b, c) = kv.split(":"); b.toLong -> c.toLong }.toMap
    val buckets = lines.find(_.startsWith("buckets=")).get.drop(8).toLong
    val fs = new FeatureStore(spark, root)
    val keyCol = fs.describeGroup("tx").keyCol
    val rows = fs.onlineAt("tx", v).select(keyCol).collect().map(_.get(0)).filter(_ != null)
      .groupBy(k => FeatureStore.keyBucketOf(k.toString, buckets)).map { case (b, ks) => b -> ks.length.toLong }
    val kvFiles = listed(vd.resolve("_serving")).map(_.getFileName.toString)
    assert(kvFiles.forall(_.endsWith(".kv")), s"v$v: stray serving files $kvFiles")
    val kv = kvFiles.map { n =>
      n.stripPrefix("bucket=").stripSuffix(".kv").toLong ->
        kvHeaderCount(vd.resolve("_serving").resolve(n))
    }.filter(_._1 >= 0).toMap
    assert(meta == rows, s"v$v: _meta counts disagree with the version's rows")
    assert(meta == kv, s"v$v: _meta counts disagree with the KV headers")
    assert(meta.values.forall(_ > 0), s"v$v: _meta lists an empty bucket")
    meta
  }

  test("create → ingest → online keeps max event_time per key; manifest round-trips") {
    val fs = newStore()
    fs.createGroup(group)
    assert(fs.describeGroup("tx") == group)

    fs.ingest("tx", batch(
      (1L, "2024-01-01 10:00:00", 10.0, "a"),
      (1L, "2024-01-03 10:00:00", 30.0, "c"),
      (1L, "2024-01-02 10:00:00", 20.0, "b"),
      (2L, "2024-01-01 09:00:00", 5.0, "x")))

    val online = fs.online("tx").collect()
      .map(r => r.getAs[Long]("customer_id") -> r.getAs[Double]("amount")).toMap
    assert(online == Map(1L -> 30.0, 2L -> 5.0))
  }

  test("second ingest with same event_time wins by ingest seq (last-writer)") {
    val fs = newStore()
    fs.createGroup(group)
    fs.ingest("tx", batch((1L, "2024-01-01 10:00:00", 10.0, "first")))
    fs.ingest("tx", batch((1L, "2024-01-01 10:00:00", 99.0, "second")))
    assert(fs.online("tx").collect().head.getAs[Double]("amount") == 99.0)
    // offline retains FULL history (append-only)
    assert(fs.offline("tx").count() == 2)
  }

  test("getRecord returns stringly map with ISO-8601 event time; absent key → None") {
    val fs = newStore()
    fs.createGroup(group)
    fs.ingest("tx", batch((7L, "2024-06-15 12:30:45", 42.5, "hello")))
    val rec = fs.getRecord("tx", 7L).get
    assert(rec("customer_id") == "7")
    assert(rec("amount") == "42.5")
    assert(rec("event_time") == "2024-06-15T12:30:45Z")
    assert(fs.getRecord("tx", 999L).isEmpty)
  }

  test("historicalQuery applies inclusive BETWEEN and projection") {
    val fs = newStore()
    fs.createGroup(group)
    fs.ingest("tx", batch(
      (1L, "2024-01-01 00:00:00", 1.0, "in-start"),
      (1L, "2024-01-31 23:59:59", 2.0, "in-end"),
      (1L, "2024-02-01 00:00:00", 3.0, "out")))
    val rows = fs.historicalQuery("tx", Seq("customer_id", "amount"),
      "2024-01-01 00:00:00", "2024-01-31 23:59:59").collect()
    assert(rows.map(_.getAs[Double]("amount")).sorted.toSeq == Seq(1.0, 2.0))
    assert(rows.head.schema.fieldNames.toSeq == Seq("customer_id", "amount"))
  }

  test("pointInTime attaches latest feature at or before each entity timestamp") {
    import spark.implicits._
    val fs = newStore()
    fs.createGroup(group)
    fs.ingest("tx", batch(
      (1L, "2024-01-01 00:00:00", 10.0, "v1"),
      (1L, "2024-01-05 00:00:00", 50.0, "v2"),
      (1L, "2024-01-09 00:00:00", 90.0, "v3")))

    val entities = Seq(
      (1L, ts("2024-01-04 12:00:00")), // between v1 and v2 → v1
      (1L, ts("2024-01-05 00:00:00")), // exactly v2 (inclusive) → v2
      (1L, ts("2024-02-01 00:00:00")), // after all → v3
      (2L, ts("2024-01-06 00:00:00"))) // unknown entity → null
      .toDF("customer_id", "label_ts")

    val got = fs.pointInTime("tx", entities, "label_ts")
      .select("customer_id", "label_ts", "asof_amount").collect()
      .map(r => (r.getAs[java.sql.Timestamp]("label_ts"), r.getAs[Long]("customer_id")) ->
        Option(r.get(r.fieldIndex("asof_amount"))).map(_.asInstanceOf[Double])).toMap
    assert(got((ts("2024-01-04 12:00:00"), 1L)).contains(10.0))
    assert(got((ts("2024-01-05 00:00:00"), 1L)).contains(50.0))
    assert(got((ts("2024-02-01 00:00:00"), 1L)).contains(90.0))
    assert(got((ts("2024-01-06 00:00:00"), 2L)).isEmpty)

    // bounded staleness: 1 day tolerance nulls the month-later lookup
    val bounded = fs.pointInTime("tx", entities, "label_ts", tolerance = Some("1 DAY"))
      .select("customer_id", "label_ts", "asof_amount").collect()
      .map(r => (r.getAs[java.sql.Timestamp]("label_ts"), r.getAs[Long]("customer_id")) ->
        Option(r.get(r.fieldIndex("asof_amount")))).toMap
    assert(bounded((ts("2024-02-01 00:00:00"), 1L)).isEmpty)
    assert(bounded((ts("2024-01-05 00:00:00"), 1L)).isDefined)
  }

  test("historicalQuery prunes offline partitions via derived _ingest_date filter") {
    val fs = newStore()
    fs.createGroup(group)
    fs.ingest("tx", batch(
      (1L, "2024-01-01 10:00:00", 1.0, "jan"),
      (1L, "2024-02-01 10:00:00", 2.0, "feb"),
      (1L, "2024-03-01 10:00:00", 3.0, "mar")))
    val q = fs.historicalQuery("tx", Seq("customer_id", "amount"),
      "2024-02-01 00:00:00", "2024-02-28 23:59:59")
    assert(q.collect().map(_.getAs[Double]("amount")).toSeq == Seq(2.0))
    val physical = q.queryExecution.executedPlan.toString
    assert(physical.contains("PartitionFilters") && physical.contains("_ingest_date"),
      s"expected partition pruning on _ingest_date in:\n$physical")
  }

  test("streaming batch replay guard: same batchId ingests once") {
    val fs = newStore()
    fs.createGroup(group)
    assert(fs.ingest("tx", batch((1L, "2024-01-01 10:00:00", 1.0, "a")), Some(0L)) >= 0)
    assert(fs.ingest("tx", batch((1L, "2024-01-01 10:00:00", 1.0, "a")), Some(0L)) == -1L)
    assert(fs.offline("tx").count() == 1)
  }

  test("compactOffline collapses per-batch files to one per date, data intact") {
    val fs = newStore()
    fs.createGroup(group)
    // three ingests on the same event date → three file sets in one partition
    for (i <- 1 to 3)
      fs.ingest("tx", batch((i.toLong, "2024-05-01 10:00:00", i * 1.0, s"b$i")))
    val before = fs.offline("tx").collect().map(r =>
      (r.getAs[Long]("customer_id"), r.getAs[Double]("amount"), r.getAs[Long]("_ingest_seq"))).toSet
    val nFiles = fs.compactOffline("tx")
    assert(nFiles == 1, s"expected 1 file per date, got $nFiles")
    val after = fs.offline("tx").collect().map(r =>
      (r.getAs[Long]("customer_id"), r.getAs[Double]("amount"), r.getAs[Long]("_ingest_seq"))).toSet
    assert(after == before, "compaction must not change data (incl. ingest seq)")
    assert(fs.online("tx").count() == 3)

    // versioned commit: ingest-after-compact lands in the new version;
    // a second compaction GCs the superseded dir and data stays intact
    fs.ingest("tx", batch((9L, "2024-05-02 10:00:00", 9.0, "late")))
    assert(fs.compactOffline("tx") == 2, "one file per date after recompaction")
    assert(fs.offline("tx").count() == 4)
    assert(fs.online("tx").count() == 4)
  }

  test("a crashed compaction attempt (partial next version) is safely retried") {
    val root = Files.createTempDirectory("fs_crash_").toString
    val fs = new FeatureStore(spark, root)
    fs.createGroup(group)
    fs.ingest("tx", batch((1L, "2024-05-01 10:00:00", 1.0, "a")))
    fs.ingest("tx", batch((2L, "2024-05-01 11:00:00", 2.0, "b")))
    // simulate a crash mid-rewrite: partial v2 exists, CURRENT never flipped
    val partial = java.nio.file.Paths.get(root, "tx", "offline", "v2")
    Files.createDirectories(partial)
    Files.write(partial.resolve("_garbage"), "partial".getBytes)
    // the store still serves the committed version
    assert(fs.offline("tx").count() == 2)
    // the retry overwrites the partial dir and commits atomically
    fs.compactOffline("tx")
    assert(fs.offline("tx").count() == 2)
    assert(!Files.exists(partial.resolve("_garbage")), "retry must overwrite the partial attempt")
  }

  test("invalid names and unknown types are rejected explicitly") {
    intercept[IllegalArgumentException] {
      FeatureGroup("""bad"name""", "k", "t", Seq(FeatureDef("k", FType.Integral), FeatureDef("t", FType.FTimestamp)))
    }
    intercept[IllegalArgumentException] { FType.fromName("NotAType") }
  }

  test("putRecord stringly upsert round-trips through getRecord (ISO and plain ts)") {
    val fs = newStore()
    fs.createGroup(group)
    fs.putRecord("tx", Map(
      "customer_id" -> "29", "event_time" -> "2022-06-01T08:30:00Z",
      "amount" -> "12.5", "note" -> "wire"))
    fs.putRecord("tx", Map(
      "customer_id" -> "29", "event_time" -> "2022-07-01 09:00:00",
      "amount" -> "99.9", "note" -> "newer"))
    val rec = fs.getRecord("tx", 29L).get
    assert(rec("amount") == "99.9")
    assert(rec("event_time") == "2022-07-01T09:00:00Z")
    assert(fs.offline("tx").count() == 2)
    intercept[IllegalArgumentException] {
      fs.putRecord("tx", Map("customer_id" -> "1"))
    }
  }

  test("getRecord serves from the driver cache: zero Spark jobs after warm-up; ingest invalidates") {
    val fs = newStore()
    fs.createGroup(group)
    fs.ingest("tx", batch(
      (1L, "2024-01-01 10:00:00", 10.0, "a"),
      (2L, "2024-01-01 11:00:00", 20.0, "b")))
    fs.getRecord("tx", 1L) // warm-up: builds the snapshot cache (one read job)

    val jobs = jobsDuring {
      assert(fs.getRecord("tx", 2L).get("amount") == "20.0")
      assert(fs.getRecord("tx", 2).get("amount") == "20.0",
        "Int key must hit the stored Long key (string-normalized)")
      assert(fs.getRecord("tx", "2").get("amount") == "20.0")
      assert(fs.getRecord("tx", 999L).isEmpty)
    }
    assert(jobs == 0, "cached point lookups must not launch Spark jobs")

    // a new ingest flips the snapshot version → cache invalidated, new value visible
    fs.ingest("tx", batch((2L, "2024-02-01 11:00:00", 99.0, "newer")))
    assert(fs.getRecord("tx", 2L).get("amount") == "99.0")
  }

  test("over-cap snapshot is never collected: lookups fall through to bucket-pruned reads") {
    import org.apache.spark.sql.functions.{col, crc32, lit, pmod}
    val root = Files.createTempDirectory("fs_cap_").toString
    val fs = new FeatureStore(spark, root, maxServingCacheRows = 3)
    fs.createGroup(group)
    fs.ingest("tx", batch((1L to 10L).map(i =>
      (i, f"2024-01-01 10:00:$i%02d", i * 1.0, s"n$i")): _*))

    // every key resolves correctly through the fall-through path
    assert(fs.getRecord("tx", 1L).get("amount") == "1.0")
    assert(fs.getRecord("tx", 10L).get("amount") == "10.0")
    assert(fs.getRecord("tx", "7").get("amount") == "7.0")
    assert(fs.getRecord("tx", 999L).isEmpty)

    // over-cap lookups launch NO jobs and build no driver map: they read
    // the key's serving KV file directly (one small file per bucket,
    // committed with the snapshot)
    val jobs = jobsDuring {
      assert(fs.getRecord("tx", 5L).get("amount") == "5.0")
      assert(fs.getRecord("tx", 888L).isEmpty, "absence is authoritative from the KV file")
    }
    assert(jobs == 0,
      "over-cap lookups must read the serving KV file without a Spark job")

    // a NEW version costs the over-cap instance no job either: the verdict
    // comes from v2's `_meta` key total (11 > 3), not a limit(cap+1) probe
    fs.ingest("tx", batch((11L, "2024-01-02 10:00:00", 11.0, "n11")))
    val newVersionJobs = jobsDuring {
      assert(fs.getRecord("tx", 11L).get("amount") == "11.0")
      assert(fs.getRecord("tx", 4L).get("amount") == "4.0")
      assert(fs.batchGetRecords("tx", Seq(1L, 11L, 888L))("888").isEmpty)
    }
    assert(newVersionJobs == 0,
      s"an over-cap store must decide a new version's verdict without a job: $newVersionJobs")

    // driver-side CRC32 bucket mirrors Spark's crc32 expression bit-for-bit
    spark.range(1, 11)
      .select(col("id"), pmod(crc32(col("id").cast("string")),
        lit(FeatureStore.OnlineKeyBuckets)).as("b"))
      .collect()
      .foreach(r => assert(r.getAs[Long]("b") ==
        FeatureStore.keyBucketOf(r.getAs[Long]("id").toString,
          FeatureStore.OnlineKeyBuckets)))
  }

  test("deleteRecords: online removal, offline tombstone filter, re-ingest resurrects, compaction purges") {
    val fs = newStore()
    fs.createGroup(group)
    fs.ingest("tx", batch(
      (1L, "2024-01-01 10:00:00", 10.0, "a"),
      (1L, "2024-01-02 10:00:00", 20.0, "b"),
      (2L, "2024-01-01 09:00:00", 5.0, "x"),
      (3L, "2024-01-01 09:30:00", 7.0, "y")))

    fs.deleteRecords("tx", Seq(1L, 3L))
    // online: gone immediately, cache invalidated
    assert(fs.getRecord("tx", 1L).isEmpty && fs.getRecord("tx", 3L).isEmpty)
    assert(fs.getRecord("tx", 2L).isDefined)
    assert(fs.online("tx").count() == 1)
    // offline: the deleted keys' FULL history is hidden (GDPR view)
    assert(fs.offline("tx").count() == 1)
    assert(fs.historicalQuery("tx", Seq("customer_id", "amount"),
      "2024-01-01 00:00:00", "2024-12-31 00:00:00").count() == 1)

    // re-ingest AFTER deletion: seq > deleted_seq → the key resurfaces,
    // with only its post-deletion history
    fs.ingest("tx", batch((1L, "2024-02-01 10:00:00", 77.0, "back")))
    assert(fs.getRecord("tx", 1L).get("amount") == "77.0")
    assert(fs.offline("tx").count() == 2) // key 2's row + key 1's new row
    assert(fs.getRecord("tx", 3L).isEmpty, "3 stays deleted")

    // compaction materializes the filter: rows physically absent, markers
    // cleared, every view unchanged
    fs.compactOffline("tx")
    assert(fs.offline("tx").count() == 2)
    // pre-compaction data lives in offline/v1; the compaction rewrote into v2
    val rawRows = spark.read.parquet(
      java.nio.file.Paths.get(fs.modelDir("tx")).getParent
        .resolve("offline").resolve("v2").toString)
    assert(rawRows.count() == 2, "purged rows must be physically gone from the files")
    assert(fs.getRecord("tx", 1L).get("amount") == "77.0")
    assert(fs.getRecord("tx", 3L).isEmpty)
  }

  test("time travel: pinned frame reproducible across later ingests and compaction; timestamp resolves; GDPR wins") {
    val fs = newStore()
    fs.createGroup(group)
    assert(fs.ingestSeqAt("tx", java.time.Instant.now()).isEmpty,
      "no committed ingest yet → no resolvable point in time")

    val pin = fs.ingest("tx", batch(
      (1L, "2024-01-01 10:00:00", 10.0, "a"),
      (2L, "2024-01-01 09:00:00", 5.0, "x")))
    val afterPin = java.time.Instant.now()
    def pinned() = fs.offlineAsOf("tx", pin)
      .orderBy("customer_id", "event_time").collect().toSeq
    val frame0 = pinned()
    assert(frame0.size == 2)

    Thread.sleep(5) // strict marker ordering for the timestamp resolution below
    val seq2 = fs.ingest("tx", batch(
      (1L, "2024-01-02 10:00:00", 20.0, "b"),
      (3L, "2024-01-01 09:30:00", 7.0, "y")))

    // the pinned view is bit-stable while the live view moved on
    assert(pinned() == frame0, "later ingests must not leak into a pinned frame")
    assert(fs.offline("tx").count() == 4)
    assert(fs.historicalQueryAsOf("tx", Seq("customer_id", "amount"),
      "2024-01-01 00:00:00", "2024-12-31 00:00:00", asOfSeq = pin).count() == 2)

    // pinned pointInTime: the training frame rebuilds against batch-1 history
    val entity = batch((1L, "2024-06-01 00:00:00", 0.0, "-"))
      .select("customer_id", "event_time")
    def amountAsOf(s: Option[Long]) = fs.pointInTime("tx", entity, "event_time",
      Seq("amount"), asOfSeq = s).collect().head.getAs[Double]("asof_amount")
    assert(amountAsOf(None) == 20.0 && amountAsOf(Some(pin)) == 10.0,
      "the pin must reproduce the batch-1 training frame")

    // wall-clock resolution: just after the first commit → pin; now → seq2
    assert(fs.ingestSeqAt("tx", afterPin).contains(pin))
    assert(fs.ingestSeqAt("tx", java.time.Instant.now()).contains(seq2))

    // compaction rewrites files, never rows — the pin still reproduces
    fs.compactOffline("tx")
    assert(pinned() == frame0, "_ingest_seq must survive compaction")

    // GDPR wins over reproducibility: deletion hides the key in EVERY
    // read, pinned or not — time travel never resurrects erased history
    fs.deleteRecords("tx", Seq(1L))
    assert(fs.offlineAsOf("tx", pin).filter("customer_id = 1").count() == 0)
    assert(fs.offlineAsOf("tx", pin).count() == 1)
  }

  test("getRecordFresh: staleness gate under a pinned clock — fresh serves, stale reads as absent") {
    val fixed = java.time.Instant.parse("2024-06-15T00:00:00Z")
    val fs = new FeatureStore(spark,
      Files.createTempDirectory("fs_ttl_").toString, clock = () => fixed)
    fs.createGroup(group)
    fs.ingest("tx", batch(
      (1L, "2024-06-14 12:00:00", 10.0, "fresh"),   // 12 h old
      (2L, "2024-06-01 00:00:00", 20.0, "stale")))  // 14 d old
    val day = java.time.Duration.ofDays(1)
    assert(fs.getRecordFresh("tx", 1L, day).isDefined)
    assert(fs.getRecordFresh("tx", 2L, day).isEmpty, "14-day-old record must read as absent")
    assert(fs.getRecordFresh("tx", 2L, java.time.Duration.ofDays(30)).isDefined)
    assert(fs.getRecord("tx", 2L).isDefined, "the ungated lookup still serves it")
    assert(fs.getRecordFresh("tx", 99L, day).isEmpty, "absent key stays absent")
    // boundary: exactly maxStaleness old is still fresh (inclusive)
    assert(fs.getRecordFresh("tx", 1L, java.time.Duration.ofHours(12)).isDefined)
  }

  test("expireStale sweeps old records out of serving; a newer re-ingest resurfaces the key") {
    val fixed = java.time.Instant.parse("2024-06-15T00:00:00Z")
    val fs = new FeatureStore(spark,
      Files.createTempDirectory("fs_sweep_").toString, clock = () => fixed)
    fs.createGroup(group)
    fs.ingest("tx", batch(
      (1L, "2024-06-14 12:00:00", 10.0, "fresh"),   // 12 h old
      (2L, "2024-06-01 00:00:00", 20.0, "stale"),   // 14 d old
      (3L, "2024-05-20 00:00:00", 30.0, "stale")))  // 26 d old
    assert(fs.expireStale("tx", java.time.Duration.ofDays(1)) == 2L)
    assert(fs.getRecord("tx", 1L).isDefined, "fresh record survives the sweep")
    assert(fs.getRecord("tx", 2L).isEmpty && fs.getRecord("tx", 3L).isEmpty,
      "swept keys read as absent")
    assert(fs.online("tx").count() == 1)
    // idempotent when nothing qualifies
    assert(fs.expireStale("tx", java.time.Duration.ofDays(1)) == 0L)
    // TTL expiry must not block a genuine update: a NEWER event resurfaces
    fs.ingest("tx", batch((2L, "2024-06-14 23:00:00", 21.0, "back")))
    assert(fs.getRecord("tx", 2L).isDefined, "re-ingested key serves again")
    assert(fs.online("tx").count() == 2)
  }

  test("dropGroup removes everything; groupExists reflects it") {
    val fs = newStore()
    fs.createGroup(group)
    assert(fs.groupExists("tx"))
    fs.ingest("tx", batch((1L, "2024-01-01 10:00:00", 10.0, "old")))
    assert(fs.getRecord("tx", 1L).get("note") == "old") // cache warm on v1
    fs.dropGroup("tx")
    assert(!fs.groupExists("tx"))
    // the same instance recreates the group, whose first commit is v1 again:
    // the lookup must serve the new incarnation, not the cached old v1
    fs.createGroup(group)
    fs.ingest("tx", batch((1L, "2023-01-01 10:00:00", 20.0, "new")))
    assert(fs.getRecord("tx", 1L).map(r => (r("amount"), r("note"))).contains(("20.0", "new")))
  }

  test("addFeature: old history reads NULL, new batches carry the column, serving defaults") {
    import org.apache.spark.sql.functions.col
    val fs = newStore()
    fs.createGroup(group)
    fs.ingest("tx", batch((1L, "2024-01-01 10:00:00", 10.0, "a"),
                          (2L, "2024-01-01 11:00:00", 20.0, "b")))

    fs.addFeature("tx", FeatureDef("score", FType.Fractional))
    assert(fs.describeGroup("tx").featureNames.contains("score"))
    intercept[IllegalArgumentException](fs.addFeature("tx", FeatureDef("score", FType.Fractional)))

    // declared-schema read: pre-evolution files surface a NULL score column
    val hist = fs.offline("tx")
    assert(hist.columns.contains("score"))
    assert(hist.filter(col("score").isNotNull).count() == 0)

    // pre-refresh serving: the old snapshot has no score field → null value
    assert(fs.getRecord("tx", 1L).get("score") == null)

    // post-evolution ingest carries the new column; old key keeps null
    import spark.implicits._
    val b2 = Seq((2L, "2024-01-02 11:00:00", 21.0, "b2", 0.9))
      .toDF("customer_id", "event_time", "amount", "note", "score")
      .select(col("customer_id"), org.apache.spark.sql.functions.to_timestamp(
        col("event_time")).as("event_time"), col("amount"), col("note"), col("score"))
    fs.ingest("tx", b2)
    val online = fs.online("tx").collect()
      .map(r => r.getAs[Long]("customer_id") -> Option(r.getAs[java.lang.Double]("score"))).toMap
    assert(online(2L).contains(0.9), "updated key serves the new feature")
    assert(online(1L).isEmpty, "stale key serves a typed null, not a dropped column")
    assert(fs.getRecord("tx", 1L).get("score") == null)
    assert(fs.getRecord("tx", 2L).get("score") == "0.9")

    // compaction materializes the evolved schema into the rewritten files
    fs.compactOffline("tx")
    assert(fs.offline("tx").columns.contains("score") && fs.offline("tx").count() == 3)
  }

  test("dropFeature: metadata-only drop, every read face projects the declared view at once, re-add gets fresh nulls") {
    import org.apache.spark.sql.functions.col
    val sd = Files.createTempDirectory("fs_drop_").toString
    val fs = new FeatureStore(spark, sd)
    fs.createGroup(group)
    fs.ingest("tx", batch((1L, "2024-01-01 10:00:00", 10.0, "secret_a"),
                          (2L, "2024-01-01 11:00:00", 20.0, "secret_b")))

    // contract: key/event-time cannot drop; unknown features fail loudly
    intercept[IllegalArgumentException](fs.dropFeature("tx", "customer_id"))
    intercept[IllegalArgumentException](fs.dropFeature("tx", "event_time"))
    intercept[IllegalArgumentException](fs.dropFeature("tx", "nope"))

    fs.dropFeature("tx", "note")
    assert(!fs.describeGroup("tx").featureNames.contains("note"))
    // history reads: the column is gone IMMEDIATELY (declared-schema read),
    // even though the bytes still sit in the pre-drop parquet
    assert(!fs.offline("tx").columns.contains("note"))
    // online serve: the pre-drop snapshot still carries the column —
    // the read face must project it away without waiting for a commit
    assert(!fs.online("tx").columns.contains("note"))
    assert(!fs.getRecord("tx", 1L).get.contains("note"),
      "point lookup serves declared features only")

    // RE-ADD with fresh nulls: the old 'secret_a'/'secret_b' bytes exist in
    // parquet, but a re-declared column must not resurrect them
    fs.addFeature("tx", FeatureDef("note", FType.FString))
    assert(fs.offline("tx").filter(col("note").isNotNull).count() == 0,
      "pre-re-add history reads NULL, not the orphaned bytes")
    assert(fs.online("tx").filter(col("note").isNotNull).count() == 0)
    assert(fs.getRecord("tx", 1L).get("note") == null,
      "serving must not resurrect the dropped bytes")

    // a post-re-add ingest carries real values; older keys stay null
    fs.ingest("tx", batch((2L, "2024-01-02 11:00:00", 21.0, "fresh")))
    assert(fs.getRecord("tx", 2L).get("note") == "fresh")
    assert(fs.getRecord("tx", 1L).get("note") == null)
    val onl = fs.online("tx").collect()
      .map(r => r.getAs[Long]("customer_id") -> Option(r.getAs[String]("note"))).toMap
    assert(onl(2L).contains("fresh") && onl(1L).isEmpty)

    // compaction physically erases the dropped-era bytes: post-compaction
    // files hold NULL where the mask used to apply (the GDPR column story)
    fs.compactOffline("tx")
    assert(fs.offline("tx").filter(col("note").isNotNull).count() == 1)
    // the manifest round-trips `since` — a fresh store handle agrees
    val fs2 = new FeatureStore(spark, sd)
    assert(fs2.getRecord("tx", 1L).get("note") == null)
    assert(fs2.getRecord("tx", 2L).get("note") == "fresh")
  }

  test("renameFeature: era-exact reads across renames, serving, ingest under the new name, compaction, orphan-byte immunity") {
    import org.apache.spark.sql.functions.col
    val sd = Files.createTempDirectory("fs_rename_").toString
    val fs = new FeatureStore(spark, sd)
    fs.createGroup(group)
    fs.ingest("tx", batch((1L, "2024-01-01 10:00:00", 10.0, "old_note_1"),
                          (2L, "2024-01-01 11:00:00", 20.0, "old_note_2")))

    // contract: key/event-time not renameable, target must be fresh
    intercept[IllegalArgumentException](fs.renameFeature("tx", "customer_id", "cid"))
    intercept[IllegalArgumentException](fs.renameFeature("tx", "note", "amount"))
    intercept[IllegalArgumentException](fs.renameFeature("tx", "nope", "x"))

    fs.renameFeature("tx", "note", "comment")
    assert(fs.describeGroup("tx").featureNames.contains("comment")
      && !fs.describeGroup("tx").featureNames.contains("note"))
    // pre-rename HISTORY serves under the new name immediately
    val hist = fs.offline("tx").select("customer_id", "comment").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(hist == Map(1L -> "old_note_1", 2L -> "old_note_2"),
      s"pre-rename history must surface under the new name: $hist")
    assert(fs.getRecord("tx", 1L).get("comment") == "old_note_1",
      "point lookup era-resolves the pre-rename snapshot")
    assert(!fs.getRecord("tx", 1L).get.contains("note"))

    // new ingests carry the new name; the old name is rejected loudly
    intercept[IllegalArgumentException](
      fs.ingest("tx", batch((3L, "2024-01-02 10:00:00", 30.0, "x"))))
    import spark.implicits._
    fs.ingest("tx", Seq((3L, "2024-01-02 10:00:00", 30.0, "new_c"))
      .toDF("customer_id", "event_time", "amount", "comment")
      .selectExpr("customer_id", "to_timestamp(event_time) AS event_time",
        "amount", "comment"))
    assert(fs.getRecord("tx", 3L).get("comment") == "new_c")
    assert(fs.getRecord("tx", 1L).get("comment") == "old_note_1",
      "post-refresh snapshot must keep the era-resolved old values")

    // rename CHAIN: comment -> remark; all eras still read
    fs.renameFeature("tx", "comment", "remark")
    val all = fs.offline("tx").select("customer_id", "remark").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(all == Map(1L -> "old_note_1", 2L -> "old_note_2", 3L -> "new_c"),
      s"two-deep rename chain must read every era: $all")

    // compaction materializes the history under the current name; the
    // adaptive era rule keeps reads correct on the rewritten files
    fs.compactOffline("tx")
    val compacted = fs.offline("tx").select("customer_id", "remark").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(compacted == all, "post-compaction reads unchanged")
    assert(!fs.offline("tx").columns.contains("note"))
    // manifest round-trip: a fresh handle agrees
    val fs2 = new FeatureStore(spark, sd)
    assert(fs2.getRecord("tx", 1L).get("remark") == "old_note_1")

    // ORPHAN-BYTE immunity: drop 'remark' (bytes remain... compacted away
    // above, so plant fresh orphans), then try to claim 'remark' for the
    // Fractional 'amount'. While String orphans linger the claim is
    // REFUSED — the next ingest would write double bytes next to string
    // bytes under ONE column name, unmergeable forever (round-12 review:
    // rename targets wedge exactly like re-adds). Compaction erases the
    // orphans and unblocks the claim; era-exact reads then serve the
    // amount lineage under the new name.
    fs.ingest("tx", Seq((4L, "2024-01-03 10:00:00", 40.0, "orphan_tbd"))
      .toDF("customer_id", "event_time", "amount", "remark")
      .selectExpr("customer_id", "to_timestamp(event_time) AS event_time",
        "amount", "remark"))
    fs.dropFeature("tx", "remark") // orphan 'remark' String bytes in history
    val refused = intercept[IllegalArgumentException](
      fs.renameFeature("tx", "amount", "remark"))
    assert(refused.getMessage.contains("compactOffline"), refused.getMessage)
    fs.compactOffline("tx")
    fs.renameFeature("tx", "amount", "remark")
    val asRemark = fs.offline("tx").select("customer_id", "remark").collect()
      .map(r => r.getLong(0) -> Option(r.get(1)))
      .toMap
    assert(asRemark == Map(1L -> Some(10.0), 2L -> Some(20.0),
      3L -> Some(30.0), 4L -> Some(40.0)),
      s"renamed 'remark' must read the amount lineage, never the orphaned strings: $asRemark")
  }

  test("widenFeature: Integral->Fractional materializes through one rewrite; reads correct before, during, and after; narrows rejected") {
    import org.apache.spark.sql.functions.col
    val sd = Files.createTempDirectory("fs_widen_").toString
    val fs = new FeatureStore(spark, sd)
    fs.createGroup(FeatureGroup("w", "k", "t", Seq(
      FeatureDef("k", FType.Integral),
      FeatureDef("t", FType.FTimestamp),
      FeatureDef("n", FType.Integral))))
    import spark.implicits._
    def b(rows: (Long, String, Long)*) = rows.toDF("k", "t", "n")
      .selectExpr("k", "to_timestamp(t) AS t", "n")
    fs.ingest("w", b((1L, "2024-01-01 10:00:00", 10L), (2L, "2024-01-01 11:00:00", 20L)))

    // contract: narrows and key/event-time widens fail loudly
    intercept[IllegalArgumentException](fs.widenFeature("w", "k", FType.Fractional))
    intercept[IllegalArgumentException](fs.widenFeature("w", "t", FType.FString))

    fs.widenFeature("w", "n", FType.Fractional)
    // history reads in the new type, values preserved
    val hist = fs.offline("w").select("k", "n").as[(Long, Double)].collect().toMap
    assert(hist == Map(1L -> 10.0, 2L -> 20.0), s"widened history: $hist")
    assert(fs.offline("w").schema("n").dataType
      == org.apache.spark.sql.types.DoubleType)
    // the rewrite materialized the type INTO the files (fast path reads it)
    assert(fs.describeGroup("w").features.forall(_.renames.isEmpty),
      "aliases cleared after the materializing rewrite")
    // serving in the new type immediately (snapshot was rebuilt)
    assert(fs.getRecord("w", 1L).get("n") == "10.0", s"got ${fs.getRecord("w", 1L)}")

    // post-widen ingests carry doubles; a narrow back is rejected
    fs.ingest("w", b((3L, "2024-01-02 10:00:00", 30L))) // long input casts to declared double
    assert(fs.getRecord("w", 3L).get("n") == "30.0")
    intercept[IllegalArgumentException](fs.widenFeature("w", "n", FType.Integral))

    // idempotent recovery: re-running the same widen completes cleanly
    fs.widenFeature("w", "n", FType.Fractional)
    assert(fs.offline("w").select("n").as[Double].collect().sorted.toSeq
      == Seq(10.0, 20.0, 30.0))

    // Integral -> FString on a fresh handle (manifest round-trip en route)
    val fs2 = new FeatureStore(spark, sd)
    fs2.widenFeature("w", "n", FType.FString)
    assert(fs2.offline("w").select("n").as[String].collect().sorted.toSeq
      == Seq("10.0", "20.0", "30.0"))
    assert(fs2.getRecord("w", 2L).get("n") == "20.0")
  }

  test("serving-KV path honors evolution: drop + re-add of the same name cannot serve the orphaned wire rows (fingerprint gate)") {
    import org.apache.spark.sql.functions.col
    val sd = Files.createTempDirectory("fs_kvgate_").toString
    // cap 1 < row count forces every lookup onto the over-cap KV/job path —
    // the round-12 review found the drop/re-add contract was only enforced
    // on the driver-cache path
    val fs = new FeatureStore(spark, sd, maxServingCacheRows = 1)
    fs.createGroup(group)
    fs.ingest("tx", batch((1L, "2024-01-01 10:00:00", 10.0, "kv_secret_1"),
                          (2L, "2024-01-01 11:00:00", 20.0, "kv_secret_2")))
    assert(fs.getRecord("tx", 1L).get("note") == "kv_secret_1",
      "sanity: the KV path serves the committed wire rows")

    fs.dropFeature("tx", "note")
    assert(!fs.getRecord("tx", 1L).get.contains("note"),
      "post-drop the stale KV rendering must not serve the column")
    fs.addFeature("tx", FeatureDef("note", FType.FString))
    // the column-NAME set now matches the pre-drop snapshot again — only
    // the fingerprint (since) can see the re-add
    assert(fs.getRecord("tx", 1L).get("note") == null,
      "re-added name must serve fresh null on the KV path, not the orphaned bytes")
    assert(fs.batchGetRecords("tx", Seq(1L, 2L)).values.flatten
      .forall(_("note") == null), "batch face agrees")

    // a DELETE landing inside the evolution window must not stamp the
    // current fingerprint onto a stale-view version: the rewrite conforms
    // + masks, so the orphan stays invisible afterwards too
    fs.deleteRecords("tx", Seq(999L)) // absent key — still a snapshot rewrite
    assert(fs.getRecord("tx", 1L).get("note") == null,
      "the delete-path rewrite must conform and mask, not launder the orphan")

    // the next commit re-renders: fingerprints align and KV is trusted again
    fs.ingest("tx", batch((2L, "2024-01-02 11:00:00", 21.0, "fresh_kv")))
    assert(fs.getRecord("tx", 2L).get("note") == "fresh_kv")
    assert(fs.getRecord("tx", 1L).get("note") == null,
      "the re-rendered KV layout materializes the mask, not the orphan")
  }

  test("a crash-stranded widen blocks ingest with the recovery step named; re-running the widen completes it") {
    import spark.implicits._
    val sd = Files.createTempDirectory("fs_widencrash_").toString
    val fs = new FeatureStore(spark, sd)
    fs.createGroup(FeatureGroup("w", "k", "t", Seq(
      FeatureDef("k", FType.Integral),
      FeatureDef("t", FType.FTimestamp),
      FeatureDef("n", FType.Integral))))
    def b(rows: (Long, String, Long)*) = rows.toDF("k", "t", "n")
      .selectExpr("k", "to_timestamp(t) AS t", "n")
    fs.ingest("w", b((1L, "2024-01-01 10:00:00", 10L)))

    // simulate the crash window: the metadata flip landed (new type +
    // self-alias + the armed `widening` flag) but the materializing
    // rewrite never ran — exactly what widenFeature's step 1 writes
    val mf = java.nio.file.Paths.get(sd, "w", "manifest.json")
    val json = new String(Files.readAllBytes(mf))
    val crashed = json.replace("""{"name":"n","type":"Integral"}""",
      """{"name":"n","type":"Fractional","was":"n:1"}""")
      .replace(""""nextSeq":""", """"widening":"n","nextSeq":""")
    assert(crashed != json, "surgery must hit the manifest entry")
    Files.write(mf, crashed.getBytes)

    val fs2 = new FeatureStore(spark, sd)
    // reads stay correct through the pending window (cast-on-read)
    assert(fs2.offline("w").select("n").as[Double].collect().toSeq == Seq(10.0))
    // but ingest fails FAST with the recovery step, instead of writing
    // double-typed files next to long-typed ones (unmergeable forever)
    val e = intercept[IllegalArgumentException] {
      fs2.ingest("w", b((2L, "2024-01-02 10:00:00", 20L)))
    }
    assert(e.getMessage.contains("widenFeature"), s"recovery must be named: ${e.getMessage}")
    // the documented recovery: re-run the same widen; then ingest flows
    fs2.widenFeature("w", "n", FType.Fractional)
    assert(fs2.describeGroup("w").features.forall(_.renames.isEmpty))
    fs2.ingest("w", b((2L, "2024-01-02 10:00:00", 20L)))
    assert(fs2.offline("w").select("n").as[Double].collect().sorted.toSeq
      == Seq(10.0, 20.0))

    // the no-history variant of the same crash: re-run clears the alias
    val sd2 = Files.createTempDirectory("fs_widencrash0_").toString
    val fsn = new FeatureStore(spark, sd2)
    fsn.createGroup(FeatureGroup("w0", "k", "t", Seq(
      FeatureDef("k", FType.Integral),
      FeatureDef("t", FType.FTimestamp),
      FeatureDef("n", FType.Integral))))
    val mf2 = java.nio.file.Paths.get(sd2, "w0", "manifest.json")
    Files.write(mf2, new String(Files.readAllBytes(mf2)).replace(
      """{"name":"n","type":"Integral"}""",
      """{"name":"n","type":"Fractional","was":"n:0"}""")
      .replace(""""nextSeq":""", """"widening":"n","nextSeq":""").getBytes)
    val fsn2 = new FeatureStore(spark, sd2)
    fsn2.widenFeature("w0", "n", FType.Fractional) // same-type re-run = recovery
    assert(fsn2.describeGroup("w0").features.forall(_.renames.isEmpty),
      "a same-type re-run on a no-history group must clear the stranded alias")
  }

  test("a pending widen blocks every other schema mutator — the rename-away-and-back attack cannot disarm the ingest guard") {
    import spark.implicits._
    val sd = Files.createTempDirectory("fs_widenlock_").toString
    val fs = new FeatureStore(spark, sd)
    fs.createGroup(FeatureGroup("w", "k", "t", Seq(
      FeatureDef("k", FType.Integral),
      FeatureDef("t", FType.FTimestamp),
      FeatureDef("n", FType.Integral),
      FeatureDef("other", FType.FString))))
    def b(rows: (Long, String, Long, String)*) = rows.toDF("k", "t", "n", "other")
      .selectExpr("k", "to_timestamp(t) AS t", "n", "other")
    fs.ingest("w", b((1L, "2024-01-01 10:00:00", 10L, "x")))

    // open the crash window exactly as widenFeature's step 1 writes it
    val mf = java.nio.file.Paths.get(sd, "w", "manifest.json")
    Files.write(mf, new String(Files.readAllBytes(mf)).replace(
      """{"name":"n","type":"Integral"}""",
      """{"name":"n","type":"Fractional","was":"n:1"}""")
      .replace(""""nextSeq":""", """"widening":"n","nextSeq":""").getBytes)

    val fs2 = new FeatureStore(spark, sd)
    // the review's attack: rename the pending feature away (which would
    // disarm any self-alias-shape guard), then back — every step must
    // refuse while the widening flag is armed
    val r = intercept[IllegalArgumentException](fs2.renameFeature("w", "n", "m"))
    assert(r.getMessage.contains("unfinished widenFeature"), r.getMessage)
    val d = intercept[IllegalArgumentException](fs2.dropFeature("w", "other"))
    assert(d.getMessage.contains("unfinished widenFeature"), d.getMessage)
    val a = intercept[IllegalArgumentException](
      fs2.addFeature("w", FeatureDef("fresh", FType.Fractional)))
    assert(a.getMessage.contains("unfinished widenFeature"), a.getMessage)
    val w = intercept[IllegalArgumentException](
      fs2.widenFeature("w", "other", FType.FString))
    assert(w.getMessage.contains("unfinished widenFeature"), w.getMessage)
    // deletes alone stay legal in the window: GDPR never waits on a
    // crashed widen, and a tombstone carries no feature columns
    fs2.deleteRecords("w", Seq(999L))

    // the documented recovery re-opens everything
    fs2.widenFeature("w", "n", FType.Fractional)
    fs2.renameFeature("w", "n", "m")
    fs2.ingest("w", b((2L, "2024-01-02 10:00:00", 20L, "y"))
      .withColumnRenamed("n", "m"))
    assert(fs2.offline("w").select("m").as[Double].collect().sorted.toSeq
      == Seq(10.0, 20.0))
  }

  test("drop + re-add at a DIFFERENT type is refused while orphaned bytes remain; compaction erases and unblocks") {
    val fs = newStore()
    fs.createGroup(group)
    fs.ingest("tx", batch((1L, "2024-01-01 10:00:00", 10.0, "orphan_note")))
    fs.dropFeature("tx", "note") // FString bytes now orphaned in history

    // a different-type re-add would make the explicit-schema offline read
    // (and compactOffline, the only erase path) throw on the parquet type
    // conversion — the guard refuses up front with the recovery named
    val e = intercept[IllegalArgumentException](
      fs.addFeature("tx", FeatureDef("note", FType.Integral)))
    assert(e.getMessage.contains("compactOffline"), e.getMessage)

    // same-type re-add stays legal (since-masking covers the orphans) and
    // clears the registry entry; drop again to re-record it
    fs.addFeature("tx", FeatureDef("note", FType.FString))
    assert(fs.online("tx").collect().head.getAs[String]("note") == null)
    fs.dropFeature("tx", "note")

    // compaction physically erases the orphan bytes → the re-add unblocks
    fs.compactOffline("tx")
    fs.addFeature("tx", FeatureDef("note", FType.Integral))
    fs.ingest("tx", batch((2L, "2024-01-02 10:00:00", 20.0, "7"))) // casts "7" → 7L
    val recs = fs.online("tx").collect()
      .map(r => r.getAs[Long]("customer_id") -> r.get(r.fieldIndex("note"))).toMap
    assert(recs(1L) == null, "pre-re-add history reads fresh null")
    assert(recs(2L) == 7L, "post-re-add rows carry the new Integral type")
    // the offline explicit-schema fast path must read cleanly too
    assert(fs.offline("tx").count() == 2)
  }

  test("claiming a rename-vacated name at a conflicting type is refused until compaction") {
    val fs = newStore()
    fs.createGroup(group)
    fs.ingest("tx", batch((1L, "2024-01-01 10:00:00", 10.0, "n1")))
    // the rename vacates 'note' — its String bytes stay in history files;
    // re-claiming the name at Integral would make the next ingest write
    // long bytes next to them under one column (unmergeable forever), so
    // the claim is refused with the erase step named (round-12 review:
    // the original guard saw only DROPPED names, not rename-vacated ones)
    fs.renameFeature("tx", "note", "comment")
    val e1 = intercept[IllegalArgumentException](
      fs.addFeature("tx", FeatureDef("note", FType.Integral)))
    assert(e1.getMessage.contains("compactOffline"), e1.getMessage)
    // a SAME-type claim is legal — era-exact reads keep the old bytes with
    // their owning feature, since-masking keeps them out of the new one
    fs.addFeature("tx", FeatureDef("note", FType.FString))
    assert(fs.online("tx").collect().head.getAs[String]("note") == null)
    fs.dropFeature("tx", "note")
    // compaction erases the vacated bytes: the conflicting claim unblocks
    fs.compactOffline("tx")
    fs.addFeature("tx", FeatureDef("note", FType.Integral))
    assert(fs.offline("tx").count() == 1)
    assert(fs.getRecord("tx", 1L).get("comment") == "n1",
      "the renamed owner still serves its lineage")
  }

  test("concurrent ingest storm: every batch claims a unique _ingest_seq and no offline rows are lost") {
    val fs = newStore()
    fs.createGroup(group)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    val losers = new java.util.concurrent.atomic.AtomicInteger
    try {
      val tasks = (1 to 16).map { i =>
        pool.submit(new Runnable {
          def run(): Unit =
            try { fs.ingest("tx", batch((100L + i, "2024-01-02 10:00:00", i.toDouble, s"c$i"))): Unit }
            catch { // online CAS loser — loud by contract, rows still appended
              case _: java.util.ConcurrentModificationException =>
                losers.incrementAndGet(): Unit
            }
        })
      }
      tasks.foreach(_.get())
    } finally pool.shutdown()
    // the arbitrated seq claim + serialized append guarantee: all 16
    // batches landed in offline history, each under its own seq —
    // regardless of how many online snapshot CAS races were lost (their
    // rows surface at the group's next commit)
    val seqs = fs.offline("tx").select(EngineColumns.IngestSeq)
      .collect().map(_.getLong(0)).toSeq
    assert(seqs.length == 16, s"offline must hold every batch's row, got ${seqs.length}")
    assert(seqs.distinct.length == 16, s"duplicate _ingest_seq claimed: ${seqs.sorted}")
    info(s"online CAS losers (loud by contract): ${losers.get()}")
  }

  test("validate-at-append: an evolution landing mid-ingest fails the batch loudly and un-claims its streaming batch id") {
    val sd = Files.createTempDirectory("fs_vaa_").toString
    val fs = new FeatureStore(spark, sd)
    fs.createGroup(group)
    fs.ingest("tx", batch((1L, "2024-01-01 10:00:00", 1.0, "a")), batchId = Some(1L))
    val mf = java.nio.file.Paths.get(sd, "tx", "manifest.json")
    def manifestNum(k: String) = ("\"" + k + "\":(-?\\d+)").r
      .findFirstMatchIn(new String(Files.readAllBytes(mf))).get.group(1).toLong
    @volatile var err: Throwable = null
    // hold the APPEND lock so the next ingest's claim lands but its append
    // job waits behind us — the deterministic stand-in for "the append
    // queued behind a compaction while an evolution committed"
    val appendRoot = java.nio.file.Paths.get(sd, "tx", "offline")
    LocalFsCoordination.withWriterLock(appendRoot, "append.lock") {
      val t = new Thread(() => {
        try { fs.ingest("tx", batch((2L, "2024-01-02 10:00:00", 2.0, "b")),
          batchId = Some(2L)): Unit }
        catch { case e: Throwable => err = e }
      })
      t.start()
      // the claim is visible as the seq bump; the batch id deliberately is
      // NOT recorded yet (it records only after the append commits)
      val deadline = System.currentTimeMillis + 30000
      while (manifestNum("nextSeq") != 2L && System.currentTimeMillis < deadline)
        Thread.sleep(20)
      assert(manifestNum("nextSeq") == 2L, "the claim must land while the append waits")
      fs.dropFeature("tx", "note") // the evolution the stale batch must not survive
    }
    var waited = 0
    while (err == null && waited < 30000) { Thread.sleep(20); waited += 20 }
    assert(err != null && err.getMessage.contains("evolved while ingest"),
      s"stale append must fail loudly, got: $err")
    // the batch id was never claimed (it records post-append), so
    // foreachBatch's retry of the same micro-batch is NOT a replay — it
    // lands under the evolved schema; with claim-time recording the retry
    // would be silently dropped (permanent row loss)
    assert(manifestNum("lastBatchId") == 1L, "failed batch id must stay unrecorded")
    fs.ingest("tx", batch((2L, "2024-01-02 10:00:00", 2.0, "b")), batchId = Some(2L))
    assert(fs.offline("tx").count() == 2,
      "the retried micro-batch's rows must be present exactly once")
  }

  test("a delete landing after an evolution keeps the base version's bucket count (no 64-bucket floor rewrite)") {
    val sd = Files.createTempDirectory("fs_delbuckets_").toString
    // targetKeysPerBucket=1 so 100 keys size to 128 buckets (floor is 64)
    val fs = new FeatureStore(spark, sd, targetKeysPerBucket = 1L)
    fs.createGroup(group)
    fs.ingest("tx", batch((1L to 100L).map(i =>
      (i, "2024-01-01 10:00:00", i.toDouble, s"n$i")): _*))
    def bucketsOf(v: Long): Long = {
      val meta = new String(Files.readAllBytes(
        java.nio.file.Paths.get(sd, "tx", "online", s"v$v", "_meta")))
      meta.linesIterator.find(_.startsWith("buckets=")).get.drop(8).trim.toLong
    }
    assert(bucketsOf(1L) == 128L, "sanity: the ingest sized above the floor")

    // evolution flips the fingerprint → the next delete takes the full-
    // rewrite fallback; it must re-derive buckets from the base version's
    // meta, not fall to the 64 floor (which would rewrite a large store
    // into 64 buckets and force a second O(store) rebucket on next ingest)
    fs.dropFeature("tx", "note")
    fs.deleteRecords("tx", Seq(50L))
    assert(bucketsOf(2L) == 128L,
      "the post-evolution delete rewrite must keep the derived bucket count")
    assert(fs.getRecord("tx", 50L).isEmpty && fs.getRecord("tx", 49L).nonEmpty)
  }

  test("onlineAt time travel: every refresh is an immutable readable version; gc keeps newest") {
    val fs = newStore()
    fs.createGroup(group)
    fs.ingest("tx", batch((1L, "2024-01-01 10:00:00", 10.0, "v1")))
    fs.ingest("tx", batch((1L, "2024-01-02 10:00:00", 20.0, "v2")))
    fs.ingest("tx", batch((1L, "2024-01-03 10:00:00", 30.0, "v3")))
    assert(fs.onlineVersions("tx") == Seq(1L, 2L, 3L))

    def amountAt(v: Long): Double =
      fs.onlineAt("tx", v).collect().head.getAs[Double]("amount")
    assert(amountAt(1L) == 10.0 && amountAt(2L) == 20.0 && amountAt(3L) == 30.0)
    assert(fs.online("tx").collect().head.getAs[Double]("amount") == 30.0)

    fs.gcOnline("tx", keep = 2)
    assert(fs.onlineVersions("tx") == Seq(2L, 3L), "v1 collected, serving versions kept")
    assert(amountAt(2L) == 20.0, "retained versions still read intact")
    intercept[IllegalArgumentException](fs.onlineAt("tx", 1L))
  }

  test("onlineDiff: change data feed between snapshot versions (added/changed, stable keys silent)") {
    val fs = newStore()
    fs.createGroup(group)
    fs.ingest("tx", batch((1L, "2024-01-01 10:00:00", 10.0, "stable"),
                          (2L, "2024-01-01 10:00:00", 5.0, "will-change")))
    fs.ingest("tx", batch((2L, "2024-01-02 10:00:00", 6.5, "changed"),
                          (3L, "2024-01-02 10:00:00", 7.0, "new-key")))
    val diff = fs.onlineDiff("tx", 1L, 2L).collect()
      .map(r => r.getAs[Long]("customer_id") ->
        (r.getAs[String]("change_type"), r.getAs[String]("note"))).toMap
    assert(diff.keySet == Set(2L, 3L), s"key 1 is unchanged and must be silent: $diff")
    assert(diff(2L) == ("changed", "changed"))
    assert(diff(3L) == ("added", "new-key"))
  }

  test("every key deleted: online, onlineAt, onlineDiff and expireStale read the empty version; a later ingest serves again") {
    // the empty version has no bucket file: it must read as zero rows of
    // the declared columns
    Seq(3L, 200L).foreach { n =>
      val fs = newStore()
      fs.createGroup(group)
      fs.ingest("tx", batch((1L to n).map(i =>
        (i, "2024-01-01 10:00:00", i * 1.0, s"n$i")): _*))
      fs.deleteRecords("tx", 1L to n)
      assert(fs.onlineVersions("tx") == Seq(1L, 2L))
      val declaredTypes = group.features.map(f => f.name -> f.ftype.spark) :+
        (EngineColumns.IngestSeq -> org.apache.spark.sql.types.LongType)
      Seq("online" -> fs.online("tx"), "onlineAt" -> fs.onlineAt("tx", 2L)).foreach {
        case (face, df) =>
          assert(df.schema.map(f => f.name -> f.dataType) == declaredTypes, s"$n keys: $face schema")
          assert(df.count() == 0L, s"$n keys: $face rows")
      }
      val diff = fs.onlineDiff("tx", 1L, 2L).collect()
        .map(r => r.getAs[Long]("customer_id") -> r.getAs[String]("change_type")).toMap
      assert(diff == (1L to n).map(_ -> "removed").toMap, s"$n keys: every key removed")
      assert(fs.expireStale("tx", java.time.Duration.ofDays(1)) == 0L)
      fs.ingest("tx", batch((7L, "2024-02-01 10:00:00", 70.0, "back")))
      assert(fs.getRecord("tx", 7L).get("amount") == "70.0")
      assert(fs.online("tx").count() == 1L)
    }
  }

  test("online and onlineAt build a matching version's frame with no job; across an evolution onlineAt keeps the version's columns, online the declared view") {
    val root = Files.createTempDirectory("fs_reader_").toString
    val fs = new FeatureStore(spark, root)
    fs.createGroup(group)
    fs.ingest("tx", batch((1L to 200L).map(i =>
      (i, "2024-01-01 10:00:00", i * 1.0, s"n$i")): _*))
    // more than 32 bucket files: a spark.read of that many paths would list
    // them with a job
    val bucketFiles = listed(java.nio.file.Paths.get(root, "tx", "online", "v1", "_serving")).size
    assert(bucketFiles > 32, s"$bucketFiles bucket files")
    var frames = Seq.empty[org.apache.spark.sql.DataFrame]
    val jobs = jobsDuring { frames = Seq(fs.online("tx"), fs.onlineAt("tx", 1L)) }
    assert(jobs == 0, s"building the online and onlineAt frames launched $jobs jobs")
    assert(frames.map(_.count()) == Seq(200L, 200L))

    // evolved but not recommitted: v1 reads exactly as it was served, the
    // latest view in the declared schema (renamed column era-resolved, the
    // added one null)
    val served = fs.onlineAt("tx", 1L).collect().toSet
    fs.addFeature("tx", FeatureDef("score", FType.Fractional))
    fs.renameFeature("tx", "note", "memo")
    val at1 = fs.onlineAt("tx", 1L)
    assert(at1.columns.toSeq == group.featureNames :+ EngineColumns.IngestSeq)
    assert(at1.collect().toSet == served, "onlineAt must return v1 exactly as served")
    val latest = fs.online("tx")
    assert(latest.columns.toSeq ==
      fs.describeGroup("tx").featureNames :+ EngineColumns.IngestSeq)
    val view = latest.collect().map(r => r.getAs[Long]("customer_id") ->
      (r.getAs[String]("memo"), Option(r.getAs[java.lang.Double]("score")))).toMap
    assert(view == (1L to 200L).map(i => i -> (s"n$i", None)).toMap)
  }

  test("ingest observes rows / null keys / null event times on the append job") {
    import org.apache.spark.sql.functions.{col, lit, when}
    val fs = newStore()
    fs.createGroup(group)
    assert(fs.lastIngestMetrics("tx").isEmpty, "no metrics before the first ingest")

    val dirty = batch(
        (1L, "2024-01-01 10:00:00", 10.0, "ok"),
        (2L, "2024-01-02 10:00:00", 20.0, "null-key"),
        (3L, "2024-01-03 10:00:00", 30.0, "null-ts"),
        (4L, "2024-01-04 10:00:00", 40.0, "ok"))
      .withColumn("customer_id",
        when(col("note") === "null-key", lit(null)).otherwise(col("customer_id")))
      .withColumn("event_time",
        when(col("note") === "null-ts", lit(null)).otherwise(col("event_time")))
    fs.ingest("tx", dirty)
    assert(fs.lastIngestMetrics("tx").contains(IngestMetrics(4L, 1L, 1L)))

    // a clean batch overwrites; a replayed (skipped) batch does not
    fs.ingest("tx", batch((5L, "2024-01-05 10:00:00", 50.0, "ok")), batchId = Some(7L))
    assert(fs.lastIngestMetrics("tx").contains(IngestMetrics(1L, 0L, 0L)))
    fs.ingest("tx", dirty, batchId = Some(7L)) // replay — skipped
    assert(fs.lastIngestMetrics("tx").contains(IngestMetrics(1L, 0L, 0L)))
  }

  test("batchGetRecords equals per-key getRecord on every path; KV path launches no jobs") {
    import org.apache.spark.sql.functions.{col, lit, to_timestamp, when}
    val root = Files.createTempDirectory("fs_batch_").toString
    val fs = new FeatureStore(spark, root, maxServingCacheRows = 3) // force over-cap
    fs.createGroup(group)
    fs.ingest("tx", batch(((1L to 10L).map(i =>
        (i, f"2024-01-01 10:00:$i%02d", i * 1.0, s"n$i")) :+
        ((11L, "2024-01-01 10:00:11", 11.0, "null-key"))): _*)
      .withColumn("customer_id",
        when(col("note") === "null-key", lit(null)).otherwise(col("customer_id"))))
    val keys: Seq[Any] = Seq(1L, 5L, "7", 10L, 999L, 5L) // dup + miss + string form
    val single = keys.map(k => String.valueOf(k) -> fs.getRecord("tx", k)).toMap
    // a null key is not addressable: neither null nor "null" answers the
    // null-key row
    def assertNullKeyUnaddressable(s: FeatureStore, path: String): Unit = {
      val b = s.batchGetRecords("tx", Seq(null, "null", 1L))
      assert(s.getRecord("tx", null).isEmpty && s.getRecord("tx", "null").isEmpty &&
        b == Map("null" -> None, "1" -> single("1")), s"$path path answers a null key: $b")
    }
    // KV path, zero Spark jobs for the whole batch
    var viaKv = Map.empty[String, Option[Map[String, String]]]
    val jobs = jobsDuring { viaKv = fs.batchGetRecords("tx", keys) }
    assert(jobs == 0, "batch KV lookups must not launch Spark jobs")
    assert(viaKv == single, s"batch must equal per-key answers: $viaKv")
    assert(viaKv("999").isEmpty && viaKv("5").exists(_("amount") == "5.0"))
    assertNullKeyUnaddressable(fs, "KV")
    // cached path (fresh store, cap high enough): same answers
    val cachedFs = new FeatureStore(spark, root)
    assert(cachedFs.batchGetRecords("tx", keys) == single, "cached path must agree")
    assertNullKeyUnaddressable(cachedFs, "cached")
    // evolved path (the fingerprint distrusts v1's entries until the next
    // commit rewrites them): one pruned job over v1's own schema, declared
    // view
    fs.addFeature("tx", FeatureDef("score", FType.Fractional))
    val declared = single.map { case (k, r) => k -> r.map(_ + ("score" -> null)) }
    def perKey(s: FeatureStore) = keys.map(k => String.valueOf(k) -> s.getRecord("tx", k)).toMap
    assert(perKey(fs) == declared && fs.batchGetRecords("tx", keys) == declared,
      "evolved path must agree")
    // corrupt `_meta` (a fresh instance, so no cached bucket count): one
    // unpruned job, same answers
    Files.write(java.nio.file.Paths.get(root, "tx", "online", "v1", "_meta"),
      "buckets=not-a-number".getBytes)
    val corrupt = new FeatureStore(spark, root, maxServingCacheRows = 3)
    assert(perKey(corrupt) == declared && corrupt.batchGetRecords("tx", keys) == declared,
      "corrupt-meta path must agree")

    // a string-keyed group holding both a real key "null" and a null-key
    // row: every path answers the real row, and null asks for "null"
    import spark.implicits._
    val sroot = Files.createTempDirectory("fs_batch_null_").toString
    val capped = new FeatureStore(spark, sroot, maxServingCacheRows = 1) // over-cap
    capped.createGroup(FeatureGroup("sx", "id", "ts", Seq(FeatureDef("id", FType.FString),
      FeatureDef("ts", FType.FTimestamp), FeatureDef("v", FType.FString))))
    capped.ingest("sx", Seq[(String, String)](("null", "real"), (null, "null-key"), ("a", "a"))
      .toDF("id", "v")
      .select(col("id"), to_timestamp(lit("2024-01-01 10:00:00")).as("ts"), col("v")))
    val real = Some(Map("id" -> "null", "ts" -> "2024-01-01T10:00:00Z", "v" -> "real"))
    def assertRealNull(s: FeatureStore, path: String): Unit = {
      val b = s.batchGetRecords("sx", Seq(null, "null", "a"))
      assert(s.getRecord("sx", "null") == real && s.getRecord("sx", null) == real &&
        b("null") == real && b("a").exists(_("v") == "a"), s"$path path: $b")
    }
    assertRealNull(capped, "KV")
    assertRealNull(new FeatureStore(spark, sroot), "cached")
  }

  test("incremental refresh: only touched buckets rewritten; untouched carry forward by hard link") {
    import org.apache.spark.sql.functions.col
    import scala.jdk.CollectionConverters._
    val root = Files.createTempDirectory("fs_incr_").toString
    val fs = new FeatureStore(spark, root)
    fs.createGroup(group)
    fs.ingest("tx", batch((1L to 10L).map(i =>
      (i, f"2024-01-01 10:00:$i%02d", i * 1.0, s"n$i")): _*)) // v1 (full)
    val b1 = FeatureStore.keyBucketOf("1", FeatureStore.OnlineKeyBuckets)
    val other = (2L to 10L).find(k =>
      FeatureStore.keyBucketOf(k.toString, FeatureStore.OnlineKeyBuckets) != b1).get
    val bOther = FeatureStore.keyBucketOf(other.toString, FeatureStore.OnlineKeyBuckets)
    fs.ingest("tx", batch((1L, "2024-02-01 10:00:00", 99.0, "upd"))) // v2 (incremental)

    def ino(p: java.nio.file.Path): Any = Files.getAttribute(p, "unix:ino")
    def bucketFile(v: Long, b: Long): java.nio.file.Path =
      java.nio.file.Paths.get(root, "tx", "online", s"v$v", "_serving", s"bucket=$b.kv")
    // untouched bucket: SAME inode in both versions (carried by link)
    assert(ino(bucketFile(1, bOther)) == ino(bucketFile(2, bOther)),
      "untouched bucket file must carry forward by link, not rewrite")
    // touched bucket: genuinely rewritten
    assert(ino(bucketFile(1, b1)) != ino(bucketFile(2, b1)),
      "touched bucket must be rewritten")
    // no attempt-temp debris survives the commit
    val sl = Files.list(java.nio.file.Paths.get(root, "tx", "online", "v2", "_serving"))
    val debris = try sl.iterator().asScala.map(_.getFileName.toString)
      .filterNot(_.endsWith(".kv")).toList finally sl.close()
    assert(debris.isEmpty, s"attempt temps must be renamed away: $debris")
    // correctness across rewritten and carried halves, every lookup path
    assert(fs.getRecord("tx", 1L).get("amount") == "99.0")
    assert(fs.getRecord("tx", other).get("amount") == s"$other.0")
    assert(fs.online("tx").count() == 10)
    val capped = new FeatureStore(spark, root, maxServingCacheRows = 3)
    assert(capped.getRecord("tx", 1L).get("amount") == "99.0")
    assert(capped.getRecord("tx", other).get("amount") == s"$other.0")
    // time travel intact: v1 still serves the pre-update value
    assert(fs.onlineAt("tx", 1L).filter(col("customer_id") === 1L)
      .collect().head.getAs[Double]("amount") == 1.0)
    // gc unlinks v1's names; the shared inodes keep v2 fully readable
    fs.gcOnline("tx", keep = 1)
    assert(capped.getRecord("tx", other).get("amount") == s"$other.0")
    assert(fs.online("tx").count() == 10)
    // deletes are incremental too: key `other` leaves, its bucket rewritten,
    // everything else carried — and the answers stay right
    fs.deleteRecords("tx", Seq(other))
    assert(fs.getRecord("tx", other).isEmpty)
    assert(fs.getRecord("tx", 1L).get("amount") == "99.0")
    assert(fs.online("tx").count() == 9)
  }

  test("bucket count: bootstrap sizes from key count; the growth commit rebuckets; lookups follow the meta") {
    def metaOf(root: String, v: Long): String = new String(Files.readAllBytes(
      java.nio.file.Paths.get(root, "tx", "online", s"v$v", "_meta")))
    val root = Files.createTempDirectory("fs_grow_").toString
    val fs = new FeatureStore(spark, root, targetKeysPerBucket = 1L)
    fs.createGroup(group)
    // v1: BOOTSTRAP derives the bucket count from the actual key count —
    // 300 keys at target 1 → 512, not the 64-bucket floor (the floor would
    // make the very next commit a guaranteed full rebucketing rewrite)
    fs.ingest("tx", batch((1L to 300L).map(i =>
      (i, "2024-01-01 10:00:00", i * 1.0, s"n$i")): _*))
    assert(metaOf(root, 1).contains("buckets=512"),
      s"bootstrap must size from key count: ${metaOf(root, 1).linesIterator.next()}")
    // v2: a small ingest is INCREMENTAL at 512 (301 keys < 4·target·512)
    fs.ingest("tx", batch((301L, "2024-01-02 10:00:00", 301.0, "upd")))
    assert(metaOf(root, 2).contains("buckets=512"))
    // lookups hash with the modulus read from the version meta
    val capped = new FeatureStore(spark, root, maxServingCacheRows = 3)
    assert(capped.getRecord("tx", 301L).get("amount") == "301.0")
    assert(capped.getRecord("tx", 7L).get("amount") == "7.0")
    assert(capped.getRecord("tx", 9999L).isEmpty)
    // v3: a 2101-key batch still commits incrementally at 512 (the grow
    // check reads the PREVIOUS version's recorded total)
    fs.ingest("tx", batch((400L to 2500L).map(i =>
      (i, "2024-02-01 10:00:00", i * 1.0, s"n$i")): _*))
    assert(metaOf(root, 3).contains("buckets=512"))
    // v4: now 2402 recorded keys > 4·target·512 → this commit REBUCKETS
    fs.ingest("tx", batch((5L, "2024-03-01 10:00:00", 555.0, "upd")))
    assert(metaOf(root, 4).contains("buckets=4096"),
      s"expected rebucket to 4096, got: ${metaOf(root, 4).linesIterator.next()}")
    assert(fs.getRecord("tx", 5L).get("amount") == "555.0")
    // lookups hash with the NEW modulus: on the over-cap instance that last
    // resolved v2 at 512 buckets, and on a fresh one
    val capped2 = new FeatureStore(spark, root, maxServingCacheRows = 3)
    Seq(capped, capped2).foreach { s =>
      assert(s.getRecord("tx", 2500L).get("amount") == "2500.0")
      assert(s.getRecord("tx", 301L).get("amount") == "301.0")
    }
    // v5: the next small ingest is incremental again, at the grown count
    fs.ingest("tx", batch((6L, "2024-03-02 10:00:00", 666.0, "upd")))
    assert(metaOf(root, 5).contains("buckets=4096"))
    assert(fs.getRecord("tx", 6L).get("amount") == "666.0")
    // v6: an incremental delete
    fs.deleteRecords("tx", Seq(7L, 2500L))
    assert(fs.getRecord("tx", 7L).isEmpty)

    // every version's recorded counts equal the keys its parquet holds per
    // bucket AND the entry counts its KV files' headers record — full
    // rewrites, incremental ingests and the delete alike
    (1L to 6L).foreach { v =>
      assert(assertOnlineLayout(root, v).values.sum ==
        Seq(300L, 301L, 2402L, 2402L, 2402L, 2400L)(v.toInt - 1), s"v$v key total")
    }
  }

  test("write width: one task per target rows, at least one, at most one per bucket written") {
    val t = FeatureStore.DefaultTargetKeysPerBucket
    assert(FeatureStore.writeTasks(1064L, t, 40L) == 1)
    assert(FeatureStore.writeTasks(40L * t, t, 40L) == 40)
    assert(FeatureStore.writeTasks(t + 1, t, 40L) == 2)
    assert(FeatureStore.writeTasks(0L, t, 40L) == 1)
    assert(FeatureStore.writeTasks(40L * t + 1, t, 40L) == 40)
    assert(FeatureStore.writeTasks(Long.MaxValue, t, 40L) == 40)
  }

  test("several buckets per writer task: one KV file per non-empty bucket, counts agree") {
    Seq(FeatureStore.DefaultTargetKeysPerBucket, 4L).foreach { target =>
      val root = Files.createTempDirectory("fs_width_").toString
      val fs = new FeatureStore(spark, root, targetKeysPerBucket = target)
      fs.createGroup(group)
      // v1 bootstrap: 300 keys in 64 buckets write with one task at the
      // default target; at target 4, 128 buckets over ~75 tasks
      fs.ingest("tx", batch((1L to 300L).map(i =>
        (i, "2024-01-01 10:00:00", i * 1.0, s"n$i")): _*))
      // v2 incremental: 91 rows, 51 of them updates
      fs.ingest("tx", batch((250L to 340L).map(i =>
        (i, "2024-02-01 10:00:00", i * 2.0, s"u$i")): _*))
      assert(fs.lastCommitPhases("tx").map(_._1).contains("link_untouched"),
        s"target $target: v2 must be incremental")
      // v3 incremental delete
      val deleted = 1L to 300L by 7
      fs.deleteRecords("tx", deleted)
      val totals = (1L to 3L).map(v => assertOnlineLayout(root, v).values.sum)
      assert(totals == Seq(300L, 340L, 340L - deleted.size), s"target $target: $totals")
      val capped = new FeatureStore(spark, root, maxServingCacheRows = 3,
        targetKeysPerBucket = target)
      Seq(fs, capped).foreach { s =>
        assert(s.getRecord("tx", 8L).isEmpty, s"target $target: deleted key served")
        assert(s.getRecord("tx", 9L).get("amount") == "9.0")
        assert(s.getRecord("tx", 262L).get("note") == "u262")
        assert(s.getRecord("tx", 340L).get("amount") == "680.0")
      }
      assert(fs.online("tx").count() == 340L - deleted.size)
    }
  }

  test("incremental refresh into a previously EMPTY bucket: direct-path read misses nothing") {
    // 10 keys over 64 buckets leave most buckets without a file; a batch
    // whose key hashes into one of those must commit incrementally
    // (readVersion reads only EXISTING touched files) and serve right
    val root = Files.createTempDirectory("fs_emptyb_").toString
    val fs = new FeatureStore(spark, root)
    fs.createGroup(group)
    fs.ingest("tx", batch((1L to 10L).map(i =>
      (i, "2024-01-01 10:00:00", i * 1.0, s"n$i")): _*))
    val occupied = (1L to 10L)
      .map(k => FeatureStore.keyBucketOf(k.toString, FeatureStore.OnlineKeyBuckets)).toSet
    val newKey = (11L to 500L).find(k =>
      !occupied(FeatureStore.keyBucketOf(k.toString, FeatureStore.OnlineKeyBuckets))).get
    fs.ingest("tx", batch((newKey, "2024-02-01 10:00:00", 77.0, "new")))
    // the commit was incremental (untouched buckets carried by link) …
    def ino(p: java.nio.file.Path): Any = Files.getAttribute(p, "unix:ino")
    val bOld = FeatureStore.keyBucketOf("1", FeatureStore.OnlineKeyBuckets)
    def bucketFile(v: Long, b: Long): java.nio.file.Path =
      java.nio.file.Paths.get(root, "tx", "online", s"v$v", "_serving", s"bucket=$b.kv")
    assert(ino(bucketFile(1, bOld)) == ino(bucketFile(2, bOld)),
      "commit into an empty bucket must still carry untouched buckets by link")
    // … and every key serves, through cache and KV paths alike
    assert(fs.getRecord("tx", newKey).get("amount") == "77.0")
    assert(fs.getRecord("tx", 1L).get("amount") == "1.0")
    val capped = new FeatureStore(spark, root, maxServingCacheRows = 3)
    assert(capped.getRecord("tx", newKey).get("amount") == "77.0")
    assert(capped.getRecord("tx", 1L).get("amount") == "1.0")
    assert(fs.online("tx").count() == 11)
  }

  test("serving-KV sparse index: multi-block buckets, unicode keys, long values — KV equals cache") {
    val root = Files.createTempDirectory("fs_kvfmt_").toString
    // ONE bucket (targetKeysPerBucket default, 64 floor; force all keys into
    // few buckets is hash-luck — instead use enough keys that busy buckets
    // span multiple 64-entry index blocks)
    val g2 = FeatureGroup("kv", "name", "event_time", Seq(
      FeatureDef("name", FType.FString),
      FeatureDef("event_time", FType.FTimestamp),
      FeatureDef("payload", FType.FString)))
    val fs = new FeatureStore(spark, root, maxServingCacheRows = 3) // force the KV path
    fs.createGroup(g2)
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, to_timestamp}
    // 9000 keys over 64 buckets ≈ 140/bucket → 3 index blocks per bucket;
    // unicode keys (incl. a supplementary char) exercise UTF-8 order; one
    // value exceeds 64 KiB (the writeUTF cap the format replaced)
    val rows = (1 to 9000).map { i =>
      val key = if (i % 100 == 0) s"ключ-𝕂-$i" else s"key-$i"
      val payload = if (i == 777) "x" * 70000 else s"p$i"
      (key, "2024-01-01 10:00:00", payload)
    }
    fs.ingest("kv", rows.toDF("name", "event_time", "payload")
      .select(col("name"), to_timestamp(col("event_time")).as("event_time"), col("payload")))
    // KV answers equal the cached-path answers for hits, misses, unicode
    val cached = new FeatureStore(spark, root) // default cap: driver cache
    val probes: Seq[Any] = Seq("key-1", "key-4501", "key-9000", "ключ-𝕂-100",
      "key-777", "nope", "ключ-𝕂-101")
    probes.foreach { k =>
      assert(fs.getRecord("kv", k) == cached.getRecord("kv", k), s"KV mismatch for $k")
    }
    assert(fs.getRecord("kv", "key-777").get("payload").length == 70000)
    // batch face crosses blocks and buckets in one call
    val batch = fs.batchGetRecords("kv", probes)
    probes.map(String.valueOf(_)).foreach { k =>
      assert(batch(k) == cached.getRecord("kv", k), s"batch KV mismatch for $k")
    }
    // and the whole key space round-trips (every block of every bucket)
    val all = fs.batchGetRecords("kv", rows.map(_._1))
    assert(all.size == 9000 && all.values.forall(_.isDefined),
      "every key must resolve through the sparse index")
  }

  test("a corrupted serving-KV bucket file degrades to the job path, never fails the lookup") {
    val root = Files.createTempDirectory("fs_corrupt_").toString
    val fs = new FeatureStore(spark, root, maxServingCacheRows = 3) // force the KV path
    fs.createGroup(group)
    val b5 = FeatureStore.keyBucketOf("5", FeatureStore.OnlineKeyBuckets)
    // a key sharing 5's bucket, whose second row arrives with an OLDER
    // event time: history's latest is still its first row
    val same = (11L to 10000L).find(k =>
      FeatureStore.keyBucketOf(k.toString, FeatureStore.OnlineKeyBuckets) == b5).get
    fs.ingest("tx", batch(((1L to 10L).map(i =>
      (i, f"2024-01-01 10:00:$i%02d", i * 1.0, s"n$i")) :+
      ((same, "2024-01-01 10:00:30", 1.0, "first"))): _*))
    fs.ingest("tx", batch((5L, "2024-01-02 10:00:00", 55.0, "later"),
      (same, "2023-12-31 10:00:00", 2.0, "older")))
    val f = java.nio.file.Paths.get(root, "tx", "online", "v2", "_serving", s"bucket=$b5.kv")
    val intact = Files.readAllBytes(f)
    Files.delete(f) // the file may be a link shared with v1: replace, never write through
    Files.write(f, Array[Byte](1, 2, 3, 4, 5)) // torn/garbage file
    // the version holds no second copy of the bucket: the lookup answers
    // the keys' latest rows in history, in ONE job (no tombstones, so no
    // broadcast job)
    val degradedJobs = jobsDuring(assert(fs.getRecord("tx", 5L).get("amount") == "55.0",
      "lookup must degrade to a job path on a bad KV file"))
    assert(degradedJobs == 1, s"degraded lookup launched $degradedJobs jobs")
    val batchJobs = jobsDuring {
      val answers = fs.batchGetRecords("tx", Seq(5L, same, 999L))
      assert(answers("5").get("note") == "later" && answers(same.toString).get("note") == "first" &&
        answers("999").isEmpty)
    }
    assert(batchJobs == 1, s"degraded batch lookup launched $batchJobs jobs")
    val other = (1L to 10L).find(k =>
      FeatureStore.keyBucketOf(k.toString, FeatureStore.OnlineKeyBuckets) != b5).get
    assert(fs.getRecord("tx", other).get("amount") == s"$other.0",
      "intact buckets keep serving through the KV file")
    // an under-cap instance: the cache load meets the torn file in a scan
    // task, and the version serves uncached — decided once, not per lookup
    val cached = new FeatureStore(spark, root)
    assert(cached.getRecord("tx", same).get("note") == "first")
    assert(jobsDuring(assert(cached.getRecord("tx", other).get("amount") == s"$other.0")) == 0,
      "a torn version must not retry its cache load")
    assert(jobsDuring(assert(cached.getRecord("tx", 5L).get("amount") == "55.0")) == 1)

    // corrupt BUCKET META is worse than a corrupt KV file: a guessed modulus
    // would answer present keys as authoritatively absent — so lookups must
    // drop ALL pruning and scan the snapshot (a fresh store, so no cached
    // bucket count hides the corruption); the KV file is intact again
    Files.write(f, intact)
    Files.write(java.nio.file.Paths.get(root, "tx", "online", "v2", "_meta"),
      "buckets=not-a-number".getBytes)
    val fs2 = new FeatureStore(spark, root, maxServingCacheRows = 3)
    assert(fs2.getRecord("tx", 5L).get("amount") == "55.0",
      "corrupt meta must degrade to an unpruned scan, not a wrong-bucket miss")
    assert(fs2.getRecord("tx", 999L).isEmpty)
    assert(fs2.batchGetRecords("tx", Seq(5L, 999L)).get("5").flatten
      .exists(_("amount") == "55.0"))
  }

  test("a bucket file missing although _meta counts keys in it reads as torn: online fails, lookups answer from history, an ingest into it loses no key") {
    val root = Files.createTempDirectory("fs_missing_kv_").toString
    val fs = new FeatureStore(spark, root)
    fs.createGroup(group)
    fs.ingest("tx", batch((1L to 200L).map(i => (i, "2024-01-01 10:00:00", i * 1.0, s"n$i")): _*))
    val buckets = metaLines(root, "tx", 1).find(_.startsWith("buckets=")).get.drop(8).toLong
    val b17 = FeatureStore.keyBucketOf("17", buckets)
    val sharing = (1L to 200L).filter(k => FeatureStore.keyBucketOf(k.toString, buckets) == b17)
    Files.delete(java.nio.file.Paths.get(root, "tx", "online", "v1", "_serving", s"bucket=$b17.kv"))

    // the version holds no second copy of the bucket: reading it fails as a
    // torn file does, instead of serving its keys as deleted
    val cached = new FeatureStore(spark, root)
    val capped = new FeatureStore(spark, root, maxServingCacheRows = 3)
    val e = intercept[Exception](cached.online("tx").count())
    assert(FeatureStore.isTornKv(e), s"online() failed with $e, not as a torn file")
    sharing.foreach { k =>
      val answer = cached.getRecord("tx", k)
      assert(answer.exists(_("amount") == s"$k.0"), s"cached lookup of $k: $answer")
      assert(capped.getRecord("tx", k) == answer, s"cached and over-cap lookups of $k differ")
    }

    // an ingest touching the bucket must not commit a version without its keys
    val added = (201L to 100000L).find(k => FeatureStore.keyBucketOf(k.toString, buckets) == b17).get
    scala.util.Try(cached.ingest("tx", batch((added, "2024-01-02 10:00:00", 7.0, "added"))))
      .failed.foreach(e => assert(FeatureStore.isTornKv(e), s"the ingest failed with $e"))
    Seq(new FeatureStore(spark, root), new FeatureStore(spark, root, maxServingCacheRows = 3))
      .foreach { s =>
        assert(s.getRecord("tx", 17L).exists(_("amount") == "17.0"), "key 17 lost")
        assert(s.getRecord("tx", added).exists(_("note") == "added"), "the ingested key lost")
      }
    // the rebuild from history restores a readable version
    cached.refreshOnline(cached.describeGroup("tx"), None)
    assert(new FeatureStore(spark, root).online("tx").count() == 201)
  }

  test("a steady-state incremental commit writes snapshot, serving KV and counts in one pass: at most 7 jobs, fewer tasks than touched buckets") {
    val root = Files.createTempDirectory("fs_jobs_").toString
    val fs = new FeatureStore(spark, root)
    fs.createGroup(group)
    fs.ingest("tx", batch((1L to 2000L).map(i =>
      (i, "2024-01-01 10:00:00", i * 1.0, s"n$i")): _*))
    def micro(from: Long, day: Int) = batch((from until from + 64L).map(i =>
      (i, f"2024-02-$day%02d 10:00:00", i * 2.0, s"m$i")): _*)
    fs.ingest("tx", micro(1L, 1)) // warm: the first incremental commit
    // 64 keys spread over most of the 64 buckets. The touched buckets hold
    // ~2,000 rows, far below one target's worth: the rewrite is one writer
    // task, which the driver runs, so the offline append is the one job
    val touched = (500L until 564L)
      .map(k => FeatureStore.keyBucketOf(k.toString, FeatureStore.OnlineKeyBuckets)).distinct.size
    val (jobs, tasks) = sparkWorkDuring(fs.ingest("tx", micro(500L, 2)))
    assert(fs.lastCommitPhases("tx").map(_._1).contains("link_untouched"),
      "the measured commit must be incremental")
    assert(jobs <= 1, s"steady-state incremental commit launched $jobs jobs")
    assert(tasks < touched, s"steady-state commit ran $tasks tasks for $touched touched buckets")
    assert(fs.getRecord("tx", 530L).get("amount") == "1060.0")
    val capped = new FeatureStore(spark, root, maxServingCacheRows = 3)
    assert(capped.getRecord("tx", 530L).get("amount") == "1060.0")
    assert(capped.getRecord("tx", 1999L).get("amount") == "1999.0")
    // an incremental delete of one writer task: the tombstone write is the
    // one job
    val delJobs = jobsDuring(fs.deleteRecords("tx", Seq(530L, 1999L)))
    assert(delJobs <= 1, s"incremental delete launched $delJobs jobs")
    assert(fs.getRecord("tx", 530L).isEmpty && capped.getRecord("tx", 1999L).isEmpty)
  }

  test("the writer's first lookups after its own small commit launch no job: its cache takes the touched buckets") {
    val root = Files.createTempDirectory("fs_patch_").toString
    val fs = new FeatureStore(spark, root)
    fs.createGroup(group)
    fs.ingest("tx", batch((1L to 2000L).map(i =>
      (i, "2024-01-01 10:00:00", i * 1.0, s"n$i")): _*))
    assert(fs.getRecord("tx", 1L).isDefined) // the cache of v1 is loaded
    val all = (1L to 2100L).map(_.toString)
    // each commit, then the writer's lookups: the same answers as a fresh
    // instance's rebuilt cache, and no job
    def check(what: String, probe: Long, want: Option[String]): Unit = {
      var one: Option[Map[String, String]] = None
      var many = Map.empty[String, Option[Map[String, String]]]
      val jobs = jobsDuring { one = fs.getRecord("tx", probe); many = fs.batchGetRecords("tx", all) }
      assert(jobs == 0, s"$what: the writer's lookups launched $jobs jobs")
      assert(one.map(_("note")) == want, s"$what: key $probe answered $one")
      assert(many == new FeatureStore(spark, root).batchGetRecords("tx", all), what)
    }
    // a late event loses to the stored row, a new key and an update land
    fs.ingest("tx", batch((5L, "2023-12-01 10:00:00", 0.5, "late"),
      (6L, "2024-02-01 10:00:00", 6.5, "upd"), (2050L, "2024-02-01 10:00:00", 1.0, "new")))
    check("ingest", 6L, Some("upd"))
    assert(fs.getRecord("tx", 5L).exists(_("note") == "n5"))
    fs.deleteRecords("tx", Seq(6L, 7L))
    check("delete", 6L, None)
    // a commit over the cache cap installs no map: the capped writer
    // answers from the KV files
    val capped = new FeatureStore(spark, root, maxServingCacheRows = 2010)
    assert(capped.getRecord("tx", 1L).isDefined)
    capped.ingest("tx", batch((2051L to 2070L).map(i =>
      (i, "2024-03-01 10:00:00", i * 1.0, s"c$i")): _*))
    assert(capped.getRecord("tx", 2070L).exists(_("note") == "c2070"))
    assert(capped.batchGetRecords("tx", all) == new FeatureStore(spark, root).batchGetRecords("tx", all))
  }

  test("a commit over the one-task threshold takes the Spark path and answers correctly") {
    val root = Files.createTempDirectory("fs_spark_path_").toString
    // a target of 8 keys per bucket: 300 keys stay at 64 buckets, and a
    // commit touching several buckets holds more than 8 rows
    val fs = new FeatureStore(spark, root, targetKeysPerBucket = 8L)
    fs.createGroup(group)
    fs.ingest("tx", batch((1L to 300L).map(i =>
      (i, "2024-01-01 10:00:00", i * 1.0, s"n$i")): _*))
    assert(fs.getRecord("tx", 1L).isDefined)
    val jobs = jobsDuring(fs.ingest("tx", batch((1L to 24L).map(i =>
      (i * 7, "2024-02-01 10:00:00", i * 7 + 0.5, s"m${i * 7}")): _*)))
    // the bounds are the Spark side's measured job counts
    assert(jobs > 1 && jobs <= 6, s"a commit over the threshold launched $jobs jobs: not the Spark side")
    val delJobs = jobsDuring(fs.deleteRecords("tx", (1L to 8L).map(_ * 11)))
    assert(delJobs > 1 && delJobs <= 3,
      s"a delete over the threshold launched $delJobs jobs: not the Spark side")
    // a batch within the target whose touched buckets hold more rows than it
    val fewJobs = jobsDuring(fs.ingest("tx", batch((1L to 4L).map(i =>
      (i * 13, "2024-03-01 10:00:00", i * 13 + 0.25, s"s${i * 13}")): _*)))
    // a collected batch needs no bucket probe
    assert(fewJobs > 1 && fewJobs <= 3,
      s"4 rows into full buckets launched $fewJobs jobs: not the Spark side")
    val want = (1L to 300L).map { k =>
      k.toString -> (if (k % 11 == 0 && k <= 88) None
        else if (k % 13 == 0 && k <= 52) Some(s"s$k")
        else if (k % 7 == 0 && k <= 168) Some(s"m$k") else Some(s"n$k"))
    }.toMap
    Seq(fs, new FeatureStore(spark, root), new FeatureStore(spark, root, maxServingCacheRows = 3))
      .foreach { s =>
        assert(s.batchGetRecords("tx", 1L to 300L).map { case (k, r) => k -> r.map(_("note")) } == want)
      }
    assert(fs.online("tx").count() == 292)
  }

  test("a fresh instance rebuilds the serving cache in one job; an evolved layout rebuilds from its files' own schema") {
    val root = Files.createTempDirectory("fs_rebuild_").toString
    val fs = new FeatureStore(spark, root)
    fs.createGroup(group)
    fs.ingest("tx", batch((1L to 2000L).map(i =>
      (i, "2024-01-01 10:00:00", i * 1.0, s"n$i")): _*))
    fs.ingest("tx", batch((1L, "2024-02-01 10:00:00", 99.0, "upd"))) // v2
    // 64 bucket files: no listing job, only the collect
    var answer: Option[Map[String, String]] = None
    val jobs = jobsDuring { answer = new FeatureStore(spark, root).getRecord("tx", 1L) }
    assert(jobs == 1, s"cache rebuild launched $jobs jobs")
    assert(answer.exists(_("amount") == "99.0"))
    // evolved but not recommitted: the rebuild must read the version's own
    // columns, or the renamed column would read as null
    assert(fs.getRecord("tx", 1L).exists(_("note") == "upd")) // warm on v2
    fs.addFeature("tx", FeatureDef("score", FType.Fractional))
    fs.renameFeature("tx", "note", "memo")
    val evolved = new FeatureStore(spark, root)
    val rebuild = jobsDuring(assert(evolved.getRecord("tx", 7L).get("memo") == "n7"))
    assert(evolved.getRecord("tx", 7L).get("score") == null)
    assert(evolved.getRecord("tx", 1L).get("amount") == "99.0")
    assert(evolved.getRecord("tx", 1L).get("memo") == "upd")
    // the warm instance's cached rows are the previous declared view: its
    // first lookup rebuilds once, then it answers as the fresh instance does
    val probe = Seq(1L, 7L)
    val fresh = probe.map(k => k -> evolved.getRecord("tx", k)).toMap
    var warm = Map.empty[Long, Option[Map[String, String]]]
    assert(jobsDuring { warm = probe.map(k => k -> fs.getRecord("tx", k)).toMap } == rebuild,
      s"the warm instance's first lookup after the evolution is one rebuild ($rebuild jobs)")
    assert(warm == fresh && fresh.values.forall(_.exists(_.contains("memo"))))
    var warmBatch = Map.empty[String, Option[Map[String, String]]]
    assert(jobsDuring { warmBatch = fs.batchGetRecords("tx", probe) } == 0)
    assert(warmBatch == evolved.batchGetRecords("tx", probe) &&
      warmBatch == fresh.map { case (k, r) => k.toString -> r })
    // every answer is the wire rendering of the key's online() row, on a
    // cached and on an over-cap instance
    val g = fs.describeGroup("tx")
    val want = fs.online("tx").collect().map { r =>
      r.get(r.fieldIndex("customer_id")).toString -> Some(g.featureNames.map(n =>
        n -> FeatureStore.renderWireValue(r.get(r.fieldIndex(n)))).toMap)
    }.toMap
    val all = (1L to 2000L).map(_.toString)
    assert(want.size == 2000 && want("7").exists(_("memo") == "n7"))
    Seq(fs, new FeatureStore(spark, root, maxServingCacheRows = 3)).foreach { s =>
      assert(s.batchGetRecords("tx", all) == want)
      assert(all.take(5).forall(k => s.getRecord("tx", k) == want(k)))
    }
  }

  test("readers of a stale cache single-flight: four concurrent getRecords launch one rebuild's jobs") {
    val root = Files.createTempDirectory("fs_flight_").toString
    val fs = new FeatureStore(spark, root)
    fs.createGroup(group)
    // 5,000 keys: a rebuild lasts long enough for the commits-under-load
    // round below to overlap it
    fs.ingest("tx", batch((1L to 5000L).map(i =>
      (i, "2024-01-01 10:00:00", i * 1.0, s"n$i")): _*))
    assert(fs.getRecord("tx", 1L).isDefined) // cache warm on v1
    // v2 from another instance: fs's cache is stale (its own commit would
    // hand the cache the touched buckets)
    new FeatureStore(spark, root).ingest("tx", batch((1L, "2024-02-01 10:00:00", 99.0, "upd")))
    // the jobs of ONE rebuild of v2: a fresh instance, one lookup
    val one = jobsDuring(assert(new FeatureStore(spark, root).getRecord("tx", 2L).isDefined))
    assert(one > 0)
    val start = new java.util.concurrent.CountDownLatch(1)
    val answers = new java.util.concurrent.ConcurrentLinkedQueue[Option[Map[String, String]]]()
    val four = jobsDuring {
      val threads = (1 to 4).map(_ => new Thread(() => {
        start.await()
        answers.add(fs.getRecord("tx", 1L)): Unit
      }))
      threads.foreach(_.start())
      start.countDown()
      threads.foreach(_.join())
    }
    assert(answers.size == 4 &&
      answers.stream().allMatch(a => a.exists(_("amount") == "99.0")))
    assert(four == one, s"4 readers launched $four jobs; one rebuild takes $one")

    // commits under load: four readers loop getRecord on fs while six
    // versions commit; returns the jobs the readers launched, told apart
    // from the committer's by a local property the reader threads set, and
    // fails on any answer going back in time
    val commits = 6
    def readerJobsDuring(from: Double)(commit: Int => Unit): Int = {
      val readerJobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          if (js.properties != null && js.properties.getProperty("fs.spec.role") == "reader")
            readerJobs.incrementAndGet(): Unit
      }
      val writing = new java.util.concurrent.atomic.AtomicBoolean(true)
      val backwards = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      org.apache.spark.GraftTestBridge.waitForListeners(spark.sparkContext)
      spark.sparkContext.addSparkListener(listener)
      try {
        val readers = (1 to 4).map(r => new Thread(() => {
          spark.sparkContext.setLocalProperty("fs.spec.role", "reader")
          var seen = from
          while (writing.get()) {
            val a = fs.getRecord("tx", 1L).fold(-1.0)(_("amount").toDouble)
            if (a < seen) backwards.add(s"reader $r: $a after $seen") else seen = a
          }
        }))
        readers.foreach(_.start())
        try (1 to commits).foreach(commit)
        finally { writing.set(false); readers.foreach(_.join()) }
        org.apache.spark.GraftTestBridge.waitForListeners(spark.sparkContext)
      } finally spark.sparkContext.removeSparkListener(listener)
      assert(backwards.isEmpty, s"answers went back in time: $backwards")
      readerJobs.get
    }
    // fs commits: each commit hands fs's cache its touched buckets inside
    // the pointer move, so a reader that resolves the new version waits for
    // that state and never rebuilds
    val own = readerJobsDuring(99.0)(i =>
      fs.ingest("tx", batch((1L, f"2024-03-$i%02d 10:00:00", 100.0 + i, s"c$i"))))
    assert(own == 0, s"readers launched $own jobs over $commits of fs's own commits")
    assert(fs.getRecord("tx", 1L).get("amount") == s"${100.0 + commits}")
    // another instance commits: fs's readers rebuild each version they
    // resolve. A reader that resolved v while another reader installed v+1
    // must serve v+1, never reload v over it (which would cost a second
    // rebuild of v+1 at the next lookup)
    val other = new FeatureStore(spark, root)
    val theirs = readerJobsDuring(100.0 + commits)(i =>
      other.ingest("tx", batch((1L, f"2024-04-$i%02d 10:00:00", 200.0 + i, s"o$i"))))
    assert(theirs > 0 && theirs <= commits * one,
      s"readers launched $theirs jobs over $commits commits; one rebuild takes $one")
    assert(fs.getRecord("tx", 1L).get("amount") == s"${200.0 + commits}")
  }

  /** The shapes [[toParquetFormat]] converts to: with the earlier GKV2
    * `_serving` files (poisoned: never read) and a full `_meta`; without
    * them and with neither the `fp` nor the `cols` line (a `_meta` older
    * than both). */
  private val earlierShapes = Seq((true, Set.empty[String]), (false, Set("fp", "cols")))

  test("a version an earlier build wrote: every read names refreshOnline, whose rebuild from history serves the same answers; gcOnline leaves typed versions") {
    import org.apache.spark.sql.functions.{col, lit, when}
    val keys: Seq[Any] = (1L to 12L) :+ 999L
    def dump(s: FeatureStore) = (s.online("tx").collect().toSet,
      keys.map(k => s.getRecord("tx", k)), s.batchGetRecords("tx", keys))
    // a plain group, an evolved one (addFeature after its last commit) and
    // one whose every key is deleted, each in both earlier shapes
    for (kind <- Seq("plain", "evolved", "all-deleted"); (serving, drop) <- earlierShapes) {
      val what = s"$kind, serving=$serving, without $drop"
      val root = Files.createTempDirectory("fs_upgrade_").toString
      val fs = new FeatureStore(spark, root)
      fs.createGroup(group)
      val rows = (1L to 10L).map(i => (i, f"2024-01-01 10:00:$i%02d", i * 1.0, s"n$i"))
      if (kind == "all-deleted") {
        fs.ingest("tx", batch(rows: _*))
        fs.deleteRecords("tx", 1L to 10L) // v2: no key left
      } else {
        fs.ingest("tx", batch(rows :+ ((11L, "2024-01-01 10:00:11", 11.0, "null-key")): _*)
          .withColumn("customer_id",
            when(col("note") === "null-key", lit(null)).otherwise(col("customer_id"))))
        fs.ingest("tx", batch((1L, "2024-02-01 10:00:00", 99.0, "upd"),
          (12L, "2024-02-01 10:00:00", 12.0, "n12"))) // v2, incremental
      }
      if (kind == "evolved") fs.addFeature("tx", FeatureDef("score", FType.Fractional))
      val want = dump(fs)
      assert(want._1.size == (if (kind == "all-deleted") 0 else 12), s"sanity: $what")
      Seq(1L, 2L).foreach(v => toParquetFormat(root, "tx", v, serving, drop))

      // every read of an earlier build's version throws one error naming
      // the group, the version and the rebuild — on a cached instance (its
      // cache load) and on an over-cap one (its lookup path)
      val cached = new FeatureStore(spark, root)
      val capped = new FeatureStore(spark, root, maxServingCacheRows = 3)
      def refused(v: Long, read: String)(f: => Any): Unit = {
        val e = intercept[IllegalStateException](f)
        assert(e.getMessage.contains(s"online version v$v of feature group tx") &&
          e.getMessage.contains("refreshOnline(describeGroup(\"tx\"), None)"),
          s"$what, $read: ${e.getMessage}")
      }
      Seq(cached, capped).foreach { s =>
        refused(2L, "online")(s.online("tx"))
        refused(1L, "onlineAt")(s.onlineAt("tx", 1L))
        refused(2L, "onlineAt")(s.onlineAt("tx", 2L))
        refused(1L, "onlineDiff")(s.onlineDiff("tx", 1L, 2L))
        refused(2L, "getRecord")(s.getRecord("tx", 1L))
        refused(2L, "batchGetRecords")(s.batchGetRecords("tx", keys))
        refused(2L, "expireStale")(s.expireStale("tx", java.time.Duration.ofDays(1)))
      }

      // the one-call upgrade rebuilds LATEST from history; both instances
      // then answer as before the conversion, over-cap lookups with no job
      cached.refreshOnline(cached.describeGroup("tx"), None)
      assert(cached.onlineVersions("tx") == Seq(1L, 2L, 3L), what)
      Seq(cached, capped).foreach(s => assert(dump(s) == want, what))
      var lookups: (Seq[Option[Map[String, String]]], Map[String, Option[Map[String, String]]]) = null
      val jobs = jobsDuring {
        lookups = (keys.map(k => capped.getRecord("tx", k)), capped.batchGetRecords("tx", keys))
      }
      assert(lookups == (want._2, want._3), what)
      if (kind != "all-deleted") assert(jobs == 0, s"$what: over-cap lookups launched $jobs jobs")
      // the old versions stay, unreadable, until gcOnline removes them
      refused(2L, "onlineAt after the upgrade")(cached.onlineAt("tx", 2L))
      cached.gcOnline("tx", 1)
      assert(cached.onlineVersions("tx") == Seq(3L), what)
      assertOnlineLayout(root, 3L)
    }
  }

  test("a version an earlier build wrote: the next ingest and the next delete rewrite it as typed KV from history") {
    import org.apache.spark.sql.functions.{col, lit, when}
    earlierShapes.foreach { case (serving, drop) =>
      val root = Files.createTempDirectory("fs_parquet_").toString
      val fs = new FeatureStore(spark, root)
      fs.createGroup(group)
      fs.ingest("tx", batch(((1L to 10L).map(i =>
          (i, f"2024-01-01 10:00:$i%02d", i * 1.0, s"n$i")) :+
          ((11L, "2024-01-01 10:00:11", 11.0, "null-key"))): _*)
        .withColumn("customer_id",
          when(col("note") === "null-key", lit(null)).otherwise(col("customer_id"))))
      fs.ingest("tx", batch((1L, "2024-02-01 10:00:00", 99.0, "upd"),
        (12L, "2024-02-01 10:00:00", 12.0, "n12"))) // v2, incremental
      Seq(1L, 2L).foreach(v => toParquetFormat(root, "tx", v, serving, drop))
      // the ingest and then the delete each rewrite the whole version as
      // typed KV, from history
      val capped = new FeatureStore(spark, root, maxServingCacheRows = 3)
      capped.ingest("tx", batch((2L, "2024-03-01 10:00:00", 22.0, "n2b")))
      assert(!capped.lastCommitPhases("tx").map(_._1).contains("link_untouched"))
      assert(assertOnlineLayout(root, 3L).values.sum == 11L)
      toParquetFormat(root, "tx", 3L, serving, drop)
      capped.deleteRecords("tx", Seq(3L))
      assert(assertOnlineLayout(root, 4L).values.sum == 10L)
      assert(capped.getRecord("tx", 2L).get("amount") == "22.0" &&
        capped.getRecord("tx", 3L).isEmpty && capped.getRecord("tx", 1L).get("note") == "upd")
      assert(capped.online("tx").count() == 11L, "10 keys and the null key")
    }
  }

  test("a typed version whose _meta lost its last lines is still read as typed KV: its KV headers name the columns") {
    // end-truncated `_meta`s: without the `schema` line, and without both
    // the `kvfp` and the `schema` line
    Seq(Set("schema"), Set("kvfp", "schema")).foreach { drop =>
      val root = Files.createTempDirectory("fs_truncmeta_").toString
      val fs = new FeatureStore(spark, root)
      fs.createGroup(group)
      fs.ingest("tx", batch((1L to 10L).map(i =>
        (i, f"2024-01-01 10:00:$i%02d", i * 1.0, s"n$i")): _*))
      fs.ingest("tx", batch((1L, "2024-02-01 10:00:00", 99.0, "upd"),
        (12L, "2024-02-01 10:00:00", 12.0, "n12"))) // v2, incremental
      val keys: Seq[Any] = (1L to 12L) :+ 999L
      def dump(s: FeatureStore) = (s.online("tx").collect().toSet,
        keys.map(k => s.getRecord("tx", k)), s.batchGetRecords("tx", keys))
      val want = dump(fs)
      val meta = java.nio.file.Paths.get(root, "tx", "online", "v2", "_meta")
      Files.write(meta, metaLines(root, "tx", 2L)
        .filterNot(l => drop.exists(k => l.startsWith(k + "="))).map(_ + "\n").mkString.getBytes)
      Seq(new FeatureStore(spark, root), new FeatureStore(spark, root, maxServingCacheRows = 3))
        .foreach(s => assert(dump(s) == want, s"without $drop"))
      // with the fingerprint kept, over-cap lookups still read the KV files
      if (!drop("kvfp")) {
        val capped = new FeatureStore(spark, root, maxServingCacheRows = 3)
        assert(jobsDuring(assert(capped.getRecord("tx", 1L).get("note") == "upd")) == 0)
      }
      // the next ingest keeps every key
      val capped = new FeatureStore(spark, root, maxServingCacheRows = 3)
      capped.ingest("tx", batch((13L, "2024-03-01 10:00:00", 13.0, "n13")))
      assert(capped.online("tx").count() == 12L && assertOnlineLayout(root, 3L).values.sum == 12L,
        s"without $drop")
      assert(capped.getRecord("tx", 1L).get("note") == "upd")
    }
  }

  test("typed KV round trip: online() and every lookup path keep extreme values bit for bit across incremental and full commits") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.util.DateTimeUtils
    import scala.jdk.CollectionConverters._
    val g = FeatureGroup("rt", "id", "ts", Seq(
      FeatureDef("id", FType.Integral), FeatureDef("ts", FType.FTimestamp),
      FeatureDef("n", FType.Integral), FeatureDef("d", FType.Fractional),
      FeatureDef("s", FType.FString), FeatureDef("t", FType.FTimestamp)))
    val rnd = new scala.util.Random(20261019L)
    val longs = Seq(Long.MinValue, Long.MaxValue, 0L, -1L)
    val doubles = Seq(Double.NaN, java.lang.Double.longBitsToDouble(0x7ff8000000000abcL), -0.0,
      0.0, Double.PositiveInfinity, Double.NegativeInfinity, Double.MinPositiveValue, -Double.MaxValue)
    val strings = Seq("", "𝕂ey-😀", "ключ", "a\u0000b", "plain")
    def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.size))
    def orNull(v: => Any): Any = if (rnd.nextInt(4) == 0) null else v
    // 2024 onward, at microsecond precision
    def ts(): java.sql.Timestamp = DateTimeUtils.toJavaTimestamp(1704067200000000L + rnd.nextLong(1L << 40))
    def row(key: Any, allNull: Boolean): Row =
      if (allNull) Row(key, null, null, null, null, null)
      else Row(key, orNull(ts()), orNull(pick(longs)), orNull(pick(doubles)), orNull(pick(strings)),
        orNull(ts()))
    val keys: Seq[Any] = Seq(Long.MinValue, Long.MaxValue, 0L) ++ (1L to 9L)
    // v1 the bootstrap; v2 incremental (no null key); v3 a full rewrite (its
    // batch holds the null key). Each holds one row with every column but
    // the key null.
    val batches = Seq(
      (null +: keys).zipWithIndex.map { case (k, i) => row(k, i == 1) },
      keys.zipWithIndex.filter(_._2 % 2 == 0).map { case (k, i) => row(k, i == 0) },
      (null +: keys.zipWithIndex.filter(_._2 % 3 == 0).map(_._1)).zipWithIndex
        .map { case (k, i) => row(k, i == 2) })
    val root = Files.createTempDirectory("fs_roundtrip_").toString
    val fs = new FeatureStore(spark, root)
    fs.createGroup(g)
    // the latest row per key (None: the null key) by (event time, seq),
    // a null event time below every other
    val latest = scala.collection.mutable.Map.empty[Option[Any], Row]
    def order(r: Row): (Option[Long], Long) = (Option(r.get(1)).map(t =>
      DateTimeUtils.fromJavaTimestamp(t.asInstanceOf[java.sql.Timestamp])), r.getLong(6))
    def bits(r: Row): Seq[Any] = r.toSeq.map {
      case d: Double => ("double", java.lang.Double.doubleToRawLongBits(d))
      case t: java.sql.Timestamp => ("micros", DateTimeUtils.fromJavaTimestamp(t))
      case o => o
    }
    batches.zipWithIndex.foreach { case (rows, seq) =>
      fs.ingest("rt", spark.createDataFrame(rows.asJava, g.schema))
      assert(fs.lastCommitPhases("rt").map(_._1).contains("link_untouched") == (seq == 1),
        s"commit ${seq + 1}: incremental only for the second")
      rows.map(r => Row.fromSeq(r.toSeq :+ seq.toLong)).foreach { r =>
        val k = Option(r.get(0))
        if (latest.get(k).forall(o => Ordering[(Option[Long], Long)].lt(order(o), order(r))))
          latest(k) = r
      }
      val got = fs.online("rt").collect().map(r => Option(r.get(0)) -> r).toMap
      assert(got.keySet == latest.keySet, s"commit ${seq + 1} keys")
      latest.foreach { case (k, r) =>
        assert(bits(got(k)) == bits(r), s"commit ${seq + 1}, key $k: ${got(k)} is not $r")
      }
      val wire = latest.collect { case (Some(k), r) =>
        k.toString -> Option(FeatureStore.renderWireRow(g, r)) }.toMap
      Seq(new FeatureStore(spark, root), new FeatureStore(spark, root, maxServingCacheRows = 1))
        .foreach { s =>
          wire.foreach { case (k, r) => assert(s.getRecord("rt", k) == r, s"commit ${seq + 1}, key $k") }
          assert(s.batchGetRecords("rt", wire.keys.toSeq :+ null) == wire + ("null" -> None))
        }
    }
    // the over-cap instance answered from the KV files, without a job
    val kv = new FeatureStore(spark, root, maxServingCacheRows = 1)
    kv.getRecord("rt", 1L)
    assert(jobsDuring(kv.batchGetRecords("rt", keys)) == 0)
  }

  test("serving-KV pass-through aborted mid-bucket leaves no temp file and no file for that bucket") {
    import org.apache.spark.sql.Row
    val servingDir = Files.createDirectories(
      Files.createTempDirectory("fs_kvabort_").resolve("_serving"))
    val servingPath = servingDir.toString
    val entries = Seq(0L -> "a", 0L -> "b", 1L -> "c", 1L -> "d", 1L -> "e")
      .map { case (b, k) => (b, k, Row(k.toUpperCase)) }
    // the entry stream fails mid-way through bucket 1
    intercept[org.apache.spark.SparkException] {
      spark.sparkContext.parallelize(entries, 1)
        .map { e =>
          if (e._2 == "d") throw new IllegalStateException("upstream failed")
          e
        }
        .foreachPartition(it =>
          new FeatureStore.KvBucketWriter(servingPath, Seq("v" -> FType.FString)).write(it))
    }
    val left = listed(servingDir).map(_.getFileName.toString).toSet
    assert(left == Set("bucket=0.kv"),
      s"only the finished bucket may publish; no temp may survive: $left")
    assert(FeatureStore.kvEntries(servingDir.resolve("bucket=0.kv").toString,
      Seq("v" -> FType.FString)).size == 2)
  }

  test("optimistic pointer: exactly one of N racing CAS commits wins, losers throw") {
    val dir = Files.createTempDirectory("cas_")
    OptimisticPointer.casSwap(dir, "CURRENT", expected = None, next = "1")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    val wins = new java.util.concurrent.atomic.AtomicInteger(0)
    val losses = new java.util.concurrent.atomic.AtomicInteger(0)
    val start = new java.util.concurrent.CountDownLatch(1)
    (1 to 8).foreach { _ =>
      pool.submit(new Runnable { def run(): Unit = {
        start.await()
        try { OptimisticPointer.casSwap(dir, "CURRENT", Some("1"), "2"); wins.incrementAndGet(): Unit }
        catch { case _: java.util.ConcurrentModificationException => losses.incrementAndGet(): Unit }
      }})
    }
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(30, java.util.concurrent.TimeUnit.SECONDS))
    assert(wins.get() == 1 && losses.get() == 7, s"wins=${wins.get()} losses=${losses.get()}")
    assert(new String(Files.readAllBytes(dir.resolve("CURRENT"))).trim == "2")
    // a stale expectation against the committed pointer also fails
    intercept[java.util.ConcurrentModificationException] {
      OptimisticPointer.casSwap(dir, "CURRENT", Some("1"), "3")
    }
  }

  test("concurrent-writer soak: online refresh × offline compaction × index compaction storm — losers throw, no version skips, store readable throughout") {
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    import spark.implicits._
    val fs = newStore()
    fs.createGroup(group)
    fs.ingest("tx", batch(
      (1L, "2024-01-01 10:00:00", 10.0, "seed"),
      (2L, "2024-01-01 11:00:00", 20.0, "seed2")))
    val g = fs.describeGroup("tx")
    val v0 = fs.onlineVersions("tx").max

    // a persisted BM25 index racing its own family pointer alongside
    val idxDocs = Seq.tabulate(40)(i => (i.toLong, s"alpha beta gamma tok$i"))
      .toDF("doc_id", "text")
    val idx = Files.createTempDirectory("soak_bm25_").toString
    graft.functions.LexicalRetrieval.buildBm25Index(idxDocs, "doc_id", "text", idx)

    // reader: the store must serve consistently THROUGHOUT the storm —
    // losers abort before the pointer moves, winners commit whole versions
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val readerFailed = new java.util.concurrent.atomic.AtomicReference[Throwable](null)
    val reader = new Thread(() => {
      try while (!stop.get()) {
        assert(fs.online("tx").count() >= 2, "seed keys must always be served")
        assert(fs.getRecord("tx", 1L).isDefined)
      } catch { case t: Throwable => readerFailed.set(t) }
    })
    reader.start()

    val nWriters = 6
    val mCommits = 3
    // op kind -> (successes, losses); a LOSS is any loud abort — the CAS
    // ConcurrentModificationException, or a job failure from the winner
    // GC-ing the version a loser was still reading (both leave the
    // committed state untouched; silence is the only forbidden outcome)
    val outcomes = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Boolean)]()
    val pool = Executors.newFixedThreadPool(nWriters)
    val start = new CountDownLatch(1)
    (0 until nWriters).foreach { w =>
      pool.submit(new Runnable { def run(): Unit = {
        start.await()
        (0 until mCommits).foreach { m =>
          val kind = (w + m) % 3
          val ok = try {
            kind match {
              case 0 => fs.refreshOnline(g, Some(
                batch(((w * 100 + m + 10).toLong, "2024-02-01 10:00:00", w + m * 1.0, s"w$w-$m"))
                  .withColumn(EngineColumns.IngestSeq,
                    org.apache.spark.sql.functions.lit(100L + w * 10 + m))))
              case 1 => fs.compactOffline("tx"): Unit
              case _ => graft.functions.LexicalRetrieval.compactBm25Index(spark, idx)
            }
            true
          } catch { case _: Throwable => false }
          outcomes.add((kind, ok)): Unit
        }
      }})
    }
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(300, TimeUnit.SECONDS), "storm must finish")
    stop.set(true)
    reader.join(60000)

    assert(readerFailed.get() == null,
      s"store must stay readable through the storm: ${readerFailed.get()}")
    // every attempt resolved loudly — committed or thrown, never silent
    assert(outcomes.size == nWriters * mCommits)
    def wins(k: Int) = { import scala.jdk.CollectionConverters._
      outcomes.asScala.count { case (kind, ok) => kind == k && ok } }

    // no version skips: one contiguous online version per successful refresh
    val versions = fs.onlineVersions("tx")
    assert(versions == (versions.min to versions.max),
      s"online versions must be gapless, got $versions")
    assert(versions.max == v0 + wins(0),
      s"online CURRENT must advance once per successful refresh: " +
        s"v0=$v0 wins=${wins(0)} max=${versions.max}")
    // offline CURRENT advanced once per successful compaction (starts at 1)
    val offCur = new String(Files.readAllBytes(
      java.nio.file.Paths.get(fs.modelDir("tx")).getParent
        .resolve("offline").resolve("CURRENT"))).trim.toLong
    assert(offCur == 1 + wins(1),
      s"offline CURRENT must advance once per successful compaction: " +
        s"wins=${wins(1)} cur=$offCur")
    assert(wins(0) >= 1 && wins(1) >= 1 && wins(2) >= 1,
      "at least one commit of each kind must have won the storm")

    // post-storm: every face serves — the store, the offline history, the index
    assert(fs.online("tx").count() >= 2 + wins(0))
    assert(fs.offline("tx").count() >= 2)
    assert(graft.functions.LexicalRetrieval.bm25TopKIndexed(spark, idx,
      Seq((1L, Seq("alpha"))).toDF("query_id", "terms"), k = 5).count() == 5)
  }

  test("two-writer online-snapshot race: loser fails loudly, winner's version survives intact") {
    val root = Files.createTempDirectory("fs_race_").toString
    val fs = new FeatureStore(spark, root)
    fs.createGroup(group)
    fs.ingest("tx", batch((1L, "2024-01-01 10:00:00", 10.0, "a"))) // commits v1
    val g = fs.describeGroup("tx")
    // writer A: refresh whose batch evaluation BLOCKS until released —
    // it captures base version v1, then stalls inside the snapshot write
    import org.apache.spark.sql.functions.{col, udf}
    val gate = FsRaceGate
    val slow = udf((x: Double) => { gate.entered.countDown(); gate.release.await(60, java.util.concurrent.TimeUnit.SECONDS); x })
    val slowBatch = batch((1L, "2024-01-05 10:00:00", 55.0, "slow"))
      .withColumn("amount", slow(col("amount")))
      .withColumn(EngineColumns.IngestSeq, org.apache.spark.sql.functions.lit(99L))
    val loser = new java.util.concurrent.atomic.AtomicReference[Throwable](null)
    val t = new Thread(() => {
      try fs.refreshOnline(g, Some(slowBatch))
      catch { case e: Throwable => loser.set(e) }
    })
    t.start()
    assert(gate.entered.await(60, java.util.concurrent.TimeUnit.SECONDS), "writer A never started")
    // writer B: a quick ingest commits v2 while A is mid-write
    fs.ingest("tx", batch((2L, "2024-01-02 10:00:00", 20.0, "winner")))
    gate.release.countDown()
    t.join(120000)
    assert(loser.get() != null, "stale writer must fail, not silently commit")
    assert(loser.get().isInstanceOf[java.util.ConcurrentModificationException]
      || Option(loser.get().getCause).exists(_.isInstanceOf[java.util.ConcurrentModificationException]),
      s"expected a CAS failure, got ${loser.get()}")
    // the winner's snapshot is intact: both keys served, no trace of A's row
    val online = fs.online("tx").collect()
      .map(r => r.getAs[Long]("customer_id") -> r.getAs[Double]("amount")).toMap
    assert(online == Map(1L -> 10.0, 2L -> 20.0), s"got $online")
    // and no staging debris keeps accumulating under the online dir
    val ls = Files.list(java.nio.file.Paths.get(root, "tx", "online"))
    val staging = try {
      import scala.jdk.CollectionConverters._
      ls.iterator().asScala.map(_.getFileName.toString).filter(_.startsWith("_staging_")).toList
    } finally ls.close()
    assert(staging.isEmpty, s"loser must clean its staging dir: $staging")
  }
}

/** JVM-visible latches for the two-writer race (executor threads of
  * local-mode Spark share the JVM). One-shot by construction — used by a
  * single test. */
object FsRaceGate {
  val entered = new java.util.concurrent.CountDownLatch(1)
  val release = new java.util.concurrent.CountDownLatch(1)
}
