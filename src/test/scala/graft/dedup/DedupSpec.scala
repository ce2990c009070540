package graft.dedup

import graft.SparkSpec
import graft.core.IndexLifecycle

class DedupSpec extends SparkSpec {

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog and runs far away into the woods tonight"),
    (2L, "the quick brown fox jumps over the lazy dog and runs far away into the woods tonight"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy dog and runs far away into the woods today"),   // near dup of 1
    (4L, "completely different content about distributed query engines and shuffle partitioning"),
    (5L, "short text"))

  private def docsDf = {
    import spark.implicits._
    docs.toDF("doc_id", "text")
  }

  test("exact dedup groups identical content, keeps min id") {
    val rows = Dedup.exact(docsDf, "doc_id", "text")
      .collect().map(r => (r.getAs[Long]("keep_id"), r.getAs[Long]("n_copies")))
    assert(rows.length == 4) // 5 docs, one exact pair
    assert(rows.contains((1L, 2L))) // docs 1+2 collapse, keep min id 1
  }

  test("minhash LSH finds exact and near dups, not unrelated docs") {
    val pairs = Dedup.minhashLsh(docsDf, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs.contains((1L, 2L)), "exact dup must be found (jaccard 1.0)")
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L)), "near dup must be found")
    assert(!pairs.exists { case (a, b) => a == 4L || b == 4L }, "unrelated doc must not pair")
  }

  test("simhash finds near dups within hamming radius") {
    val pairs = Dedup.simhash(docsDf, "doc_id", "text")
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Int]("hamming")))
    val ids = pairs.map(p => (p._1, p._2)).toSet
    assert(ids.contains((1L, 2L)))
    assert(pairs.collectFirst { case (1L, 2L, h) => h }.contains(0), "identical docs → hamming 0")
    assert(!ids.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("hammingNearDupPairs: exact recall within the radius on raw 64-bit signatures") {
    import spark.implicits._
    // hand-built signatures: 10 and 11 differ in 2 bits, 12 is 20 bits away,
    // 13 equals 10 exactly; brute-force ground truth at maxHamming=3
    val sigs = Seq(
      (10L, 0x00FF00FF00FF00FFL), (11L, 0x00FF00FF00FF00FCL),
      (12L, 0x00FF00FF000FFFF0L), (13L, 0x00FF00FF00FF00FFL))
    val got = Dedup.hammingNearDupPairs(sigs.toDF("doc_id", "sh"))
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Int]("hamming"))).toSet
    val want = (for {
      (a, ha) <- sigs; (b, hb) <- sigs if a < b
      h = java.lang.Long.bitCount(ha ^ hb) if h <= 3
    } yield (a, b, h)).toSet
    assert(got == want, s"got $got want $want")
    assert(want.contains((10L, 13L, 0)) && want.contains((10L, 11L, 2)))
    intercept[IllegalArgumentException] {
      Dedup.hammingNearDupPairs(sigs.toDF("doc_id", "sh"), bands = 4, maxHamming = 4)
    }
  }

  test("hammingNearDupMarks == brute-force group marks; exact dups always marked under any cap") {
    import spark.implicits._
    val rng = new scala.util.Random(71)
    // duplicate-heavy: 12 base signatures, each replicated 1-6 times under
    // fresh ids, plus noise — the corpus shape the sig-collapse form exists for
    val bases = Seq.fill(12)(rng.nextLong() & Long.MaxValue)
    val sigs = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    var nextId = 0L
    bases.foreach { b =>
      (0 until 1 + rng.nextInt(6)).foreach { _ => sigs += ((nextId, b)); nextId += 1 }
      // a near variant within hamming 2 of some bases
      if (rng.nextBoolean()) { sigs += ((nextId, b ^ 3L)); nextId += 1 }
    }
    val df = sigs.toSeq.toDF("doc_id", "sh")
    val got = Dedup.hammingNearDupMarks(df, bands = 4, maxHamming = 3, maxBucket = 1000)
      .select("doc_id", "is_duplicate").as[(Long, Boolean)].collect().toMap
    // ground truth: x is dup iff ∃ y<x with hamming ≤ 3 (banding is lossless
    // at this size — no bucket reaches the cap)
    val all = sigs.toSeq
    val want = all.map { case (x, sx) =>
      x -> all.exists { case (y, sy) => y < x && java.lang.Long.bitCount(sx ^ sy) <= 3 }
    }.toMap
    assert(got == want)
    // exact duplicates are marked even when the cap disables cross-group
    // discovery entirely (maxBucket below any bucket size)
    val capped = Dedup.hammingNearDupMarks(df, bands = 4, maxHamming = 3, maxBucket = 1)
      .select("doc_id", "is_duplicate").as[(Long, Boolean)].collect().toMap
    val exactWant = all.map { case (x, sx) =>
      x -> all.exists { case (y, sy) => y < x && sx == sy }
    }.toMap
    assert(capped == exactWant, "sig-group collapse must keep exact dups marked under any cap")
  }

  test("ngram jaccard finds dups; marksFromPairs drops non-canonical ids") {
    val pairs = Dedup.ngramJaccard(docsDf, "doc_id", "text", threshold = 0.5)
    val ids = pairs.collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(ids.contains((1L, 2L)))

    val marks = Dedup.marksFromPairs(docsDf, "doc_id", pairs)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("is_duplicate")).toMap
    assert(!marks(1L), "canonical (smallest) id is kept")
    assert(marks(2L), "larger id of a dup pair is dropped")
    assert(!marks(4L) && !marks(5L), "unrelated docs kept")
  }

  test("minhash finds every planted near-dup and nothing else (randomized corpus)") {
    import spark.implicits._
    val rng = new scala.util.Random(2468)
    val vocab = Vector.tabulate(200)(i => s"w$i")
    // 40 random 60-token docs; every third gets a 1-token-edit near-dup
    // (shingle jaccard ≈ 0.92 — well above threshold; unrelated random docs
    // share essentially no 5-shingles, so expected = planted exactly)
    val base = Seq.tabulate(40) { i =>
      (i.toLong, Seq.fill(60)(vocab(rng.nextInt(200))).mkString(" "))
    }
    val dups = base.collect { case (id, text) if id % 3 == 0 =>
      val toks = text.split(" ").toVector
      (100L + id, toks.updated(rng.nextInt(toks.size), vocab(rng.nextInt(200))).mkString(" "))
    }
    val df = (base ++ dups).toDF("doc_id", "text")
    val pairs = Dedup.minhashLsh(df, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val expected = base.collect { case (id, _) if id % 3 == 0 => (id, 100L + id) }.toSet
    assert(pairs == expected, s"minhash pairs $pairs != planted $expected")
  }

  test("incremental minhash dedups a new batch against and into the index") {
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("dedup_incr_").toString + "/sig"
    // batch 1 (the indexed corpus): docs 1 and 4
    Dedup.minhashLsh(docsDf.filter("doc_id IN (1, 4)"), "doc_id", "text",
      threshold = 0.5, indexPath = Some(idx))
    // batch 2: 0 is a NEW exact dup of indexed 1 (smaller id than the indexed
    // doc — the index must still win the keep), 7+8 are new exact dups of
    // each other, 9 is unique
    val batch2 = Seq(
      (0L, docs.head._2),
      (7L, "brand new content that appears twice inside this very batch today"),
      (8L, "brand new content that appears twice inside this very batch today"),
      (9L, "a wholly unique new document about watermarks and state stores"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashLshIncremental(batch2, "doc_id", "text", idx,
      batchId = "b2", threshold = 0.5)
    val got = pairs.collect().map(r => (r.getAs[Long]("keep_id"), r.getAs[Long]("drop_id"))).toSet
    assert(got.contains((1L, 0L)), "indexed doc is canonical even against a smaller new id")
    assert(got.contains((7L, 8L)), "within-batch dup drops the larger id")
    assert(!got.exists(p => p._1 == 9L || p._2 == 9L), "unique new doc pairs with nothing")

    val marks = Dedup.incrementalMarks(batch2, "doc_id", pairs)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("is_duplicate")).toMap
    assert(marks == Map(0L -> true, 7L -> false, 8L -> true, 9L -> false))

    // the batch was folded into the index: a THIRD batch duplicating doc 7
    // now dedups against batch 2's entry
    val batch3 = Seq((12L, "brand new content that appears twice inside this very batch today"))
      .toDF("doc_id", "text")
    val pairs3 = Dedup.minhashLshIncremental(batch3, "doc_id", "text", idx,
      batchId = "b3", threshold = 0.5)
    val got3 = pairs3.collect().map(r => (r.getAs[Long]("keep_id"), r.getAs[Long]("drop_id"))).toSet
    assert(got3.contains((7L, 12L)) && got3.contains((8L, 12L)),
      "index now contains batch 2 — cross-batch dup found")
  }

  test("incremental minhash replay of the same batchId is idempotent") {
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("dedup_replay_").toString + "/sig"
    Dedup.buildMinhashIndex(docsDf.filter("doc_id IN (1, 4)"), "doc_id", "text", idx)
    val batch = Seq(
      (0L, docs.head._2), // dup of indexed 1
      (7L, "brand new content that appears twice inside this very batch today"),
      (8L, "brand new content that appears twice inside this very batch today"),
      (9L, "a wholly unique new document about watermarks and state stores"))
      .toDF("doc_id", "text")

    def run(): (Map[Long, Boolean], Long) = {
      val pairs = Dedup.minhashLshIncremental(batch, "doc_id", "text", idx,
        batchId = "day1", threshold = 0.5)
      val marks = Dedup.incrementalMarks(batch, "doc_id", pairs)
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("is_duplicate")).toMap
      (marks, spark.read.parquet(idx).count())
    }

    val (marks1, rows1) = run()
    // crash-retry / orchestrator replay: same docs, same batchId
    val (marks2, rows2) = run()
    assert(marks2 == marks1, s"replayed marks $marks2 != first-run marks $marks1")
    assert(rows2 == rows1, s"replayed index row count $rows2 != $rows1 (double-fold)")
    assert(marks1 == Map(0L -> true, 7L -> false, 8L -> true, 9L -> false))
  }

  test("compactMinhashIndex folds batch partitions into one; dedup behavior unchanged") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("dedup_compact_").toString
    val idx = root + "/sig"
    Dedup.buildMinhashIndex(docsDf.filter("doc_id IN (1, 4)"), "doc_id", "text", idx)
    val batch2 = Seq(
      (7L, "brand new content that appears twice inside this very batch today"),
      (8L, "brand new content that appears twice inside this very batch today"))
      .toDF("doc_id", "text")
    Dedup.minhashLshIncremental(batch2, "doc_id", "text", idx,
      batchId = "b2", threshold = 0.5).collect()
    val before = spark.read.parquet(idx).count()

    // crashed-compaction window: an orphan version dir (written, pointer
    // never swapped) must be INVISIBLE to flat-layout readers — the
    // underscore prefix keeps it out of partition discovery
    val orphan = java.nio.file.Paths.get(idx, "_v1", "batch=junk")
    java.nio.file.Files.createDirectories(orphan)
    assert(spark.read.parquet(idx).count() == before,
      "orphan _v dir from a crashed compaction must not corrupt flat reads")

    Dedup.compactMinhashIndex(spark, idx) // retry: overwrites the orphan
    // layout: versioned dir + pointer; the flat batch dirs SURVIVE one
    // cycle (version retention — a lock-free reader that resolved the flat
    // layout mid-scan must not lose its files) and are VACUUMed by the
    // next compaction
    val files = java.nio.file.Files.list(java.nio.file.Paths.get(idx))
    val names = try {
      import scala.jdk.CollectionConverters._
      files.iterator().asScala.map(_.getFileName.toString).toSet
    } finally files.close()
    assert(names.contains("CURRENT") && names.contains("_v1"), s"layout after compaction: $names")
    assert(names.exists(_.startsWith("batch=")),
      s"retention must keep the superseded flat layout one cycle: $names")
    // row count preserved; reads resolve through the pointer
    assert(spark.read.parquet(idx + "/_v1").count() == before)

    // a post-compaction batch still dedups against everything folded in
    val batch3 = Seq((12L, "brand new content that appears twice inside this very batch today"))
      .toDF("doc_id", "text")
    val got3 = Dedup.minhashLshIncremental(batch3, "doc_id", "text", idx,
        batchId = "b3", threshold = 0.5)
      .collect().map(r => (r.getAs[Long]("keep_id"), r.getAs[Long]("drop_id"))).toSet
    assert(got3.contains((7L, 12L)) && got3.contains((8L, 12L)),
      "compacted index lost batch-2 signatures")

    // second compaction bumps the version; retention keeps _v1 one cycle
    // and vacuums the two-generations-old flat dirs; the THIRD compaction
    // finally sweeps _v1
    Dedup.compactMinhashIndex(spark, idx)
    def rootNames(): Set[String] = {
      val f = java.nio.file.Files.list(java.nio.file.Paths.get(idx))
      try {
        import scala.jdk.CollectionConverters._
        f.iterator().asScala.map(_.getFileName.toString).toSet
      } finally f.close()
    }
    val names2 = rootNames()
    assert(names2.contains("_v2") && names2.contains("_v1") &&
      !names2.exists(_.startsWith("batch=")),
      s"second compaction layout (keep one superseded version): $names2")
    assert(spark.read.parquet(idx + "/_v2").count() == before + 1) // + doc 12
    Dedup.compactMinhashIndex(spark, idx)
    val names3 = rootNames()
    assert(names3.contains("_v3") && names3.contains("_v2") && !names3.contains("_v1"),
      s"third compaction must vacuum _v1: $names3")
    assert(spark.read.parquet(idx + "/_v3").count() == before + 1)
  }

  test("a lock-free reader survives a compaction of the layout it resolved (version retention)") {
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("retain_").toString + "/sig"
    Dedup.buildMinhashIndex(docsDf, "doc_id", "text", idx)
    Dedup.compactMinhashIndex(spark, idx) // reader will resolve _v1
    // a reader resolves the CURRENT layout and plans over its files...
    val resolved = IndexLifecycle.resolveIndexDir(idx)
    val reader = spark.read.parquet(resolved)
    val expect = reader.count()
    // ...then a compaction commits _v2 mid-scan. Pre-retention the commit
    // deleted _v1 and this reader's next action failed on vanished files;
    // retention keeps _v1 one cycle, so the read completes unchanged.
    Dedup.compactMinhashIndex(spark, idx)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(resolved)),
      "the resolved layout must survive one compaction cycle")
    assert(reader.count() == expect,
      "a reader that resolved the superseded version completes its scan")
    assert(spark.read.parquet(IndexLifecycle.resolveIndexDir(idx)).count() == expect,
      "new readers resolve the compacted version")
  }

  test("compactFamily: one FAMILY CAS commits every table's version together") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val idx = java.nio.file.Files.createTempDirectory("fam_").toString
    def names(p: String): Set[String] = {
      val ls = java.nio.file.Files.list(java.nio.file.Paths.get(p))
      // the writer-serialization lock file is a permanent (underscore-
      // hidden) resident of every index root — not part of the layout
      try ls.iterator().asScala.map(_.getFileName.toString)
        .filterNot(_ == "_writer.lock").toSet
      finally ls.close()
    }
    IndexLifecycle.writeIndexBatch((1L to 10L).toDF("doc_id"), s"$idx/a", "b1")
    IndexLifecycle.writeIndexBatch((11L to 15L).toDF("doc_id"), s"$idx/a", "b2")
    IndexLifecycle.writeIndexBatch((1L to 7L).toDF("doc_id"), s"$idx/b", "b1")
    Seq("b1", "b2").foreach(IndexLifecycle.commitVisibleBatch(idx, _))
    val id = (df: org.apache.spark.sql.DataFrame) => df
    IndexLifecycle.compactFamily(spark, idx, Seq(("a", id, Nil), ("b", id, Nil)))
    // ONE family pointer; every table at the SAME version, no per-table
    // pointer; the flat batch dirs survive ONE cycle (version
    // retention for lock-free readers) and vacuum at the next compaction
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(idx, "FAMILY")))
    assert(names(s"$idx/a").contains("_v1") && names(s"$idx/b").contains("_v1"))
    assert(!names(s"$idx/a").contains("CURRENT"))
    assert(names(s"$idx/a").exists(_.startsWith("batch=")),
      s"retention must keep the superseded flat layout one cycle: ${names(s"$idx/a")}")
    // reads resolve both tables through the one pointer
    assert(IndexLifecycle.resolveIndexDir(s"$idx/a") == s"$idx/a/_v1")
    assert(IndexLifecycle.resolveIndexDir(s"$idx/b") == s"$idx/b/_v1")
    assert(spark.read.parquet(IndexLifecycle.resolveIndexDir(s"$idx/a")).count() == 15)
    assert(spark.read.parquet(IndexLifecycle.resolveIndexDir(s"$idx/b")).count() == 7)
    // appends after the family commit land INSIDE the current version
    IndexLifecycle.writeIndexBatch((16L to 18L).toDF("doc_id"), s"$idx/a", "b3")
    IndexLifecycle.commitVisibleBatch(idx, "b3")
    assert(spark.read.parquet(s"$idx/a/_v1").count() == 18)
    // second family compaction advances BOTH tables; retention keeps _v1
    // one cycle and vacuums the flat dirs; the third sweeps _v1
    IndexLifecycle.compactFamily(spark, idx, Seq(("a", id, Nil), ("b", id, Nil)))
    assert(names(s"$idx/a") == Set("_v1", "_v2") && names(s"$idx/b") == Set("_v1", "_v2"),
      s"keep one superseded version, vacuum the flat dirs: " +
        s"${names(s"$idx/a")} / ${names(s"$idx/b")}")
    assert(spark.read.parquet(IndexLifecycle.resolveIndexDir(s"$idx/a")).count() == 18)
    IndexLifecycle.compactFamily(spark, idx, Seq(("a", id, Nil), ("b", id, Nil)))
    assert(names(s"$idx/a") == Set("_v2", "_v3") && names(s"$idx/b") == Set("_v2", "_v3"),
      s"the next compaction must vacuum _v1: ${names(s"$idx/a")} / ${names(s"$idx/b")}")
    assert(spark.read.parquet(IndexLifecycle.resolveIndexDir(s"$idx/a")).count() == 18)
  }

  test("incremental semantic dedup replays idempotently against the frozen index") {
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("semdedup_replay_").toString + "/vec"
    val rng = new scala.util.Random(9)
    def jitter(base: Array[Float], eps: Float): Array[Float] =
      base.map(x => x + (rng.nextFloat() - 0.5f) * eps)
    val blobA = Array(10f, 0f, 0f, 5f); val blobB = Array(-10f, 8f, 0f, -5f)
    // base corpus: two blobs (ids 1-20)
    val baseVecs = (1L to 20L).map(i =>
      (i, jitter(if (i % 2 == 0) blobA else blobB, 8f))) :+ (21L, blobA)
    Dedup.buildSemanticIndex(baseVecs.toDF("vec_id", "embedding"), "vec_id", "embedding",
      idx, nClusters = 2)
    // new batch: 100 dups indexed 21; 102 dups 101 within the batch; 103 unique
    val batch = Seq(
      (100L, jitter(blobA, 0.001f)),
      (101L, blobB), (102L, jitter(blobB, 0.001f)),
      (103L, Array(0f, 0f, 20f, 0f)))
      .toDF("vec_id", "embedding")

    def run(): (Map[Long, Boolean], Long) = {
      val pairs = Dedup.semanticDedupIncremental(batch, "vec_id", "embedding", idx,
        batchId = "day1", threshold = 0.9999)
      val marks = Dedup.incrementalMarks(batch, "vec_id", pairs)
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("is_duplicate")).toMap
      (marks, spark.read.parquet(s"$idx/vectors").count())
    }

    val (marks1, rows1) = run()
    val (marks2, rows2) = run()
    assert(marks2 == marks1, s"replayed marks $marks2 != $marks1")
    assert(rows2 == rows1, s"replayed index rows $rows2 != $rows1 (double-fold)")
    assert(marks1 == Map(100L -> true, 101L -> false, 102L -> true, 103L -> false),
      s"got $marks1")

    // semantic-index compaction: vector batches fold to one partition;
    // serving (ivfTopKIndexed) and a later incremental batch still see
    // everything through the version pointer
    Dedup.compactSemanticIndex(spark, idx)
    assert(spark.read.parquet(s"$idx/vectors/_v1").count() == rows1)
    val served = graft.similarity.Similarity.ivfTopKIndexed(spark, idx,
        Seq((200L, blobA)).toDF("vec_id", "embedding"), "vec_id", "embedding",
        k = 3, nProbe = 1)
      .collect().map(_.getAs[Long]("nbr_id")).toSet
    assert(served.nonEmpty && served.forall(i => i == 21L || i == 100L || i % 2 == 0),
      s"post-compaction serving must return blobA-side neighbors, got $served")
    val pairs3 = Dedup.semanticDedupIncremental(
        Seq((300L, jitter(blobB, 0.001f))).toDF("vec_id", "embedding"),
        "vec_id", "embedding", idx, batchId = "day2", threshold = 0.9999)
      .collect().map(r => (r.getAs[Long]("keep_id"), r.getAs[Long]("drop_id"))).toSet
    assert(pairs3.contains((101L, 300L)),
      s"compacted vector index lost the day-1 fold, got $pairs3")
  }

  test("buildSemanticIndex scaled-k (two-level fit): incremental batch dedups against it and replays") {
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("semdedup_2l_").toString + "/vec"
    val rng = new scala.util.Random(11)
    def jitter(base: Array[Float], eps: Float): Array[Float] =
      base.map(x => x + (rng.nextFloat() - 0.5f) * eps)
    val blobA = Array(10f, 0f, 0f, 5f); val blobB = Array(-10f, 8f, 0f, -5f)
    val baseVecs = (1L to 40L).map(i =>
      (i, jitter(if (i % 2 == 0) blobA else blobB, 8f))) :+ (50L, blobA)
    // targetCell=4 on 41 rows forces scaled k past cutover=4 → two-level fit
    Dedup.buildSemanticIndex(baseVecs.toDF("vec_id", "embedding"), "vec_id", "embedding",
      idx, nClusters = 8, targetCell = 4, twoLevelCutover = 4)
    val cents = spark.read.parquet(s"$idx/centroids")
    assert(cents.count() > 8, "scaled k must exceed the legacy nClusters")
    assert(cents.columns.contains("top"), "two-level leaves carry their top cell")

    val batch = Seq(
      (100L, jitter(blobA, 0.001f)), // dups indexed 50
      (103L, Array(0f, 0f, 20f, 0f))) // unique
      .toDF("vec_id", "embedding")
    def run(): Map[Long, Boolean] = {
      val pairs = Dedup.semanticDedupIncremental(batch, "vec_id", "embedding", idx,
        batchId = "day1", threshold = 0.9999)
      Dedup.incrementalMarks(batch, "vec_id", pairs)
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("is_duplicate")).toMap
    }
    val marks1 = run()
    assert(marks1 == Map(100L -> true, 103L -> false), s"got $marks1")
    assert(run() == marks1, "replay must be idempotent")
  }

  test("codebook-literal gate: join fallback assigns bit-identically to the literal path") {
    import spark.implicits._
    val rng = new scala.util.Random(13)
    // adversarial codebook: includes DUPLICATE centroids (tie-break must
    // resolve to the lower cell id on both paths) and non-contiguous ids
    val dup = Seq.fill(6)(rng.nextDouble() * 4 - 2)
    val cents = (Seq((3, dup), (7, dup)) ++
      (0 until 30).map(i => (10 + i * 2, Seq.fill(6)(rng.nextDouble() * 4 - 2))))
      .toDF("cell", "centroid")
    val vecs = ((1L to 200L).map(i =>
      (i, Array.fill(6)(rng.nextFloat() * 4 - 2))) :+
      (500L, dup.map(_.toFloat).toArray)) // exact tie between cells 3 and 7
      .toDF("doc_id", "v")
    def cellsOf(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "cell").as[(Long, Int)].collect().toMap
    val literal = cellsOf(Dedup.assignCells(vecs, cents, literalMaxBytes = Long.MaxValue))
    val joined = cellsOf(Dedup.assignCells(vecs, cents, literalMaxBytes = 0L))
    assert(joined == literal, "join fallback must reproduce the literal argmin exactly")
    assert(literal(500L) == 3, "tie must resolve to the lower cell id")
  }

  test("codebook-literal gate: two-level join fallback matches the literal hierarchy") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rng = new scala.util.Random(17)
    val vecs = (1L to 300L).map(i =>
      (i, Array.fill(6)(rng.nextFloat() * 8 - 4))).toDF("doc_id", "v")
    val fitSet = vecs.select(col("v").cast("array<double>").as("v"))
    val q = Dedup.fitTwoLevelCentroids(fitSet, k = 16, seed = 42L, fitMaxIter = 4)
    val leavesDf = q.leaves.zipWithIndex
      .flatMap { case (ls, t) => ls.map { case (cell, cen) => (cell, t, cen) } }
      .toDF("cell", "top", "centroid")
    val literal = vecs.select(col("doc_id"),
        Dedup.assignTwoLevel(col("v").cast("array<double>"), q).as("cell"))
      .as[(Long, Int)].collect().toMap
    val joined = Dedup.assignTwoLevelViaJoin(vecs, q.tops, leavesDf)
      .select("doc_id", "cell").as[(Long, Int)].collect().toMap
    assert(joined == literal,
      "two-level join fallback must land every vector in the literal path's leaf")
  }

  test("ngramCrossOverlap flags cross-side leaks only, with shared-gram counts") {
    import spark.implicits._
    val train = Seq(
      (1L, "the secret benchmark answer key sentence that must never leak into training data"),
      (2L, "an ordinary training document about gradient descent and learning rate schedules"),
      (3L, "another ordinary training document about tokenizers and byte pair encoding merges"))
      .toDF("doc_id", "text")
    val test = Seq(
      (10L, "the secret benchmark answer key sentence that must never leak into training data"), // verbatim leak of 1
      // vocabulary fully disjoint from every train doc: with a 5-doc corpus
      // the df cap prunes nothing, so ANY shared English word would
      // legitimately contribute shared 8-grams
      (11L, "zebras quietly munch violet cabbages beneath shimmering auroras"))
      .toDF("doc_id", "text")
    val overlaps = Dedup.ngramCrossOverlap(train, test, "doc_id", "text", n = 8, minShared = 3)
    val got = overlaps.collect()
      .map(r => (r.getAs[Long]("train_id"), r.getAs[Long]("test_id"), r.getAs[Long]("n_shared")))
    assert(got.exists(o => o._1 == 1L && o._2 == 10L && o._3 > 50),
      s"verbatim leak must be flagged with a high shared-gram count, got ${got.toSeq}")
    assert(!got.exists(_._2 == 11L), "clean test doc must not be flagged")
    assert(got.forall(o => Set(1L, 2L, 3L)(o._1) && Set(10L, 11L)(o._2)),
      "pairs must always be train×test")
  }

  test("dedupCorpus keeps one canonical doc per near-dup component") {
    val pairs = Dedup.minhashLsh(docsDf, "doc_id", "text", threshold = 0.5)
    val kept = Dedup.dedupCorpus(docsDf, "doc_id", pairs)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    // docs 1,2,3 form one component (keep 1); 4 and 5 are unique
    assert(kept == Set(1L, 4L, 5L))
  }

  test("embedding cosine near-dup via LSH buckets") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.2f, 0.1f)),
      (2L, Array(0.99f, 0.01f, 0.21f, 0.1f)),  // near-identical direction to 1
      (3L, Array(-1.0f, 0.5f, -0.3f, 0.9f)),   // far from 1/2
      (4L, Array.empty[Float]),                 // degenerate: dropped up front
      (5L, null.asInstanceOf[Array[Float]]))
    val pairs = Dedup.embeddingCosine(vecs.toDF("vec_id", "embedding"), "vec_id", "embedding",
        threshold = 0.95, lshBits = 4)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("semantic dedup: KMeans cells surface planted near-dups, cosine gate rejects far pairs") {
    import spark.implicits._
    val rng = new scala.util.Random(5)
    // two well-separated gaussian blobs; ids 100/101 and 200/201 are planted
    // near-identical pairs inside their blobs, the rest are blob noise (same
    // cell, but cosine < threshold against everything)
    def jitter(base: Array[Float], eps: Float): Array[Float] =
      base.map(x => x + (rng.nextFloat() - 0.5f) * eps)
    val blobA = Array(10f, 0f, 0f, 5f); val blobB = Array(-10f, 8f, 0f, -5f)
    val planted = Seq(
      100L -> blobA, 101L -> jitter(blobA, 0.01f),
      200L -> blobB, 201L -> jitter(blobB, 0.01f))
    val noise = (0L until 40L).map(i =>
      (300L + i) -> jitter(if (i % 2 == 0) blobA else blobB, 12f))
    val vecs = (planted ++ noise).map { case (id, v) => (id, v) }
      .toDF("vec_id", "embedding")
    val pairs = Dedup.semanticDedup(vecs, "vec_id", "embedding",
        threshold = 0.9999, nClusters = 2, fitMaxIter = 20)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs == Set((100L, 101L), (200L, 201L)), s"got $pairs")
  }

  test("semantic dedup two-level quantizer: same planted pairs; assignment matches driver replay") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rng = new scala.util.Random(5)
    def jitter(base: Array[Float], eps: Float): Array[Float] =
      base.map(x => x + (rng.nextFloat() - 0.5f) * eps)
    val blobA = Array(10f, 0f, 0f, 5f); val blobB = Array(-10f, 8f, 0f, -5f)
    val planted = Seq(
      100L -> blobA, 101L -> jitter(blobA, 0.01f),
      200L -> blobB, 201L -> jitter(blobB, 0.01f))
    val noise = (0L until 40L).map(i =>
      (300L + i) -> jitter(if (i % 2 == 0) blobA else blobB, 12f))
    val vecs = (planted ++ noise).map { case (id, v) => (id, v) }
      .toDF("vec_id", "embedding")

    // targetCell=4 on 44 rows → k=12 > cutover=4 → the two-level path runs;
    // the planted near-identical pairs must still share a leaf cell and
    // survive the cosine gate, and noise must still be rejected
    val pairs = Dedup.semanticDedup(vecs, "vec_id", "embedding",
        threshold = 0.9999, nClusters = 8, targetCell = 4, twoLevelCutover = 4,
        fitMaxIter = 20)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs == Set((100L, 101L), (200L, 201L)), s"got $pairs")

    // the quantizer contract itself: the map-only assignment expression ==
    // a driver-side replay of (nearest top, then nearest leaf in that top),
    // ties to the lower index — for EVERY vector
    val dv = vecs.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val q = Dedup.fitTwoLevelCentroids(dv.select(col("v")), k = 12, seed = 42L, fitMaxIter = 20)
    assert(q.tops.size >= 2 && q.leaves.size == q.tops.size)
    assert(q.leaves.forall(_.nonEmpty), "every top cell needs at least one leaf")
    val assigned = dv.select(col("vec_id"), Dedup.assignTwoLevel(col("v"), q).as("cell"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    def d2(a: Seq[Double], b: Seq[Double]): Double =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    dv.collect().foreach { r =>
      val (id, v) = (r.getLong(0), r.getSeq[Double](1))
      val top = q.tops.zipWithIndex.minBy { case (c, i) => (d2(v, c), i) }._2
      val cell = q.leaves(top).minBy { case (c, cen) => (d2(v, cen), c) }._1
      assert(assigned(id) == cell, s"vec $id: expr=${assigned(id)} replay=$cell")
    }
  }

  test("two-level fit survives duplicate-heavy fit sets (< k1 distinct seed rows)") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // dedup's core input: near-total duplication. Only 2 distinct vectors
    // exist, so the 4·k1-row smallest-hash seed probe cannot find k1=4
    // distinct rows — the round-7 shape crashed the backfill loop with
    // IndexOutOfBoundsException (ADVICE r7); the fit must instead clamp to
    // the distinct seeds it found and stay correct
    val a = Seq(1.0, 0.0, 0.0, 0.0)
    val b = Seq(0.0, 1.0, 0.0, 0.0)
    val dv = ((0 until 30).map(i => if (i % 2 == 0) a else b)).toDF("v")
    val q = Dedup.fitTwoLevelCentroids(dv.select(col("v")), k = 16, seed = 42L,
      fitMaxIter = 4)
    assert(q.tops.nonEmpty && q.tops.size <= 2, s"got ${q.tops.size} tops")
    assert(q.leaves.size == q.tops.size)
    assert(q.leaves.forall(_.nonEmpty), "every top cell needs at least one leaf")
    // both distinct vectors still assign to SOME valid leaf cell
    val cells = dv.select(Dedup.assignTwoLevel(col("v").cast("array<double>"), q).as("c"))
      .distinct().as[Int].collect().toSet
    val validCells = q.leaves.flatten.map(_._1).toSet
    assert(cells.subsetOf(validCells), s"cells $cells not in $validCells")
  }

  test("duplicateSpans finds a shared 8-token passage, ignores unique text") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val passage = "one two three four five six seven eight" // exactly 8 tokens
    val spanDocs = Seq(
      (10L, s"unique prefix alpha beta $passage gamma delta suffix here"),
      (20L, s"$passage totally different continuation words in this document body"),
      (30L, "no shared content at all nine distinct words everywhere around"),
      (40L, "tiny")).toDF("doc_id", "text")
    val got = Dedup.duplicateSpans(spanDocs, "doc_id", "text", k = 8, minDocs = 2)
      .collect()
    // exactly the planted passage window is cross-doc; every other window
    // includes doc-unique context tokens
    assert(got.length == 1, s"got ${got.length} rows")
    assert(got.head.getAs[Long]("n_docs") == 2L)
    assert(got.head.getAs[Long]("n_occ") == 2L)
    assert(got.head.getAs[Long]("first_doc") == 10L)
  }

  test("duplicateSpans counts WITHIN-doc repeats in n_occ but needs minDocs docs") {
    import spark.implicits._
    val p = "alpha beta gamma delta epsilon zeta eta theta"
    val spanDocs = Seq(
      (1L, s"$p filler filler filler filler filler filler filler filler $p"),
      (2L, s"other words entirely $p closing remarks go right here now")).toDF("doc_id", "text")
    val rows = Dedup.duplicateSpans(spanDocs, "doc_id", "text", k = 8, minDocs = 2)
      .collect().map(r => (r.getAs[Long]("n_docs"), r.getAs[Long]("n_occ")))
    assert(rows.contains((2L, 3L)), s"passage occurs twice in doc 1 + once in doc 2: $rows")
  }

  test("canonicalizeClusters: quality argmax per cluster, min-id tie-break, singletons self-canonical") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, when, lit}
    // chain cluster {1,2,3} (transitively connected through 2); best quality
    // sits MID-chain at 2 — a min-id rule would pick 1, quality must pick 2.
    // cluster {10,11} ties on quality → min id 10. 20 is a singleton.
    val docs = Seq(1L, 2L, 3L, 10L, 11L, 20L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val quality = when(col("doc_id") === 2L, lit(0.9)).otherwise(lit(0.5))
    val got = Dedup.canonicalizeClusters(docs, "doc_id", pairs, quality)
      .select("doc_id", "component", "canonical_id", "is_canonical")
      .as[(Long, Long, Long, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 1L, 2L, false)))
    assert(got(2L) == ((2L, 1L, 2L, true)), "mid-chain best quality is canonical")
    assert(got(3L) == ((3L, 1L, 2L, false)))
    assert(got(10L) == ((10L, 10L, 10L, true)), "quality tie falls to min id")
    assert(got(11L) == ((11L, 10L, 10L, false)))
    assert(got(20L) == ((20L, 20L, 20L, true)), "singleton is its own canonical")
  }

  test("leakFreeSplit buckets near-dup clusters atomically by the representative") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // chain cluster {1,2,3}, pair {10,11}, singletons 20/21
    val docs = Seq(1L, 2L, 3L, 10L, 11L, 20L, 21L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val got = Dedup.leakFreeSplit(docs, "doc_id", pairs, nBuckets = 100)
      .select("doc_id", "split_rep", "bucket")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    // atomicity: every cluster member carries the SAME rep and bucket
    assert(Seq(1L, 2L, 3L).map(got(_)._2).distinct == Seq(1L))
    assert(Seq(1L, 2L, 3L).map(got(_)._3).distinct.size == 1,
      "a near-dup cluster must never straddle buckets")
    assert(got(10L)._3 == got(11L)._3)
    // singletons bucket by their own id — the plain content-addressed rule,
    // so cluster-free docs keep their q164-stable assignment
    val own = docs.filter(col("doc_id") >= 20L)
      .select(col("doc_id"),
        graft.functions.GraftFunctions.hashSplitBucket(col("doc_id"), 100)
          .as("b")).as[(Long, Long)].collect().toMap
    assert(got(20L)._3 == own(20L) && got(21L)._3 == own(21L))
    // and the cluster's bucket is the REPRESENTATIVE's content hash
    assert(got(1L)._3 == {
      val repOnly = Seq(1L).toDF("doc_id")
        .select(graft.functions.GraftFunctions.hashSplitBucket(col("doc_id"), 100))
        .collect().head.getLong(0)
      repOnly
    })
  }

  test("contaminationRatio: distinct-gram overlap fraction against the left side") {
    import spark.implicits._
    // 4-grams. Right doc 100 = left doc 1's text (ratio 1.0); right doc 101
    // shares a 10-char prefix with doc 1 → 7 of its distinct 4-grams seen;
    // right doc 102 is disjoint (ratio 0.0); right doc 103 is short (≤4
    // chars → single whole-text gram, present on the left as doc 2's text).
    val left = Seq((1L, "abcdefghijkl"), (2L, "abc")).toDF("doc_id", "text")
    val right = Seq(
      (100L, "abcdefghijkl"),
      (101L, "abcdefghijZZZZ"),
      (102L, "qrstuvwxyz"),
      (103L, "abc")).toDF("doc_id", "text")
    val got = Dedup.contaminationRatio(left, right, "doc_id", "text", n = 4)
      .select("doc_id", "n_grams", "n_seen", "ratio")
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got(100L) == ((100L, 9L, 9L, 1.0)))
    // "abcdefghijZZZZ": grams abcd..ghij (7 seen) + hijZ, ijZZ, jZZZ, ZZZZ
    assert(got(101L) == ((101L, 11L, 7L, 0.636364)))
    assert(got(102L) == ((102L, 7L, 0L, 0.0)))
    assert(got(103L) == ((103L, 1L, 1L, 1.0)))
  }
}
