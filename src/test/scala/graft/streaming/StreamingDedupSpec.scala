package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.core.IndexLifecycle
import graft.dedup.Dedup

/** Cross-micro-batch near-dup ingest: a duplicate of a SEED doc and a
  * duplicate of an EARLIER MICRO-BATCH's doc must both be dropped — the
  * latter is exactly what per-batch dropDuplicates cannot catch — and the
  * index must grow by every streamed doc's signatures. */
class StreamingDedupSpec extends SparkSpec {

  test("streamed batches dedup against the seed index and each other") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val root = Files.createTempDirectory("sd_spec_").toString
    val idx = s"$root/sig"
    val kept = s"$root/kept"
    val seedText = "the quick brown fox jumps over the lazy dog every single morning again"
    Dedup.buildMinhashIndex(
      Seq((1L, seedText)).toDF("doc_id", "text"), "doc_id", "text", idx)

    val fresh1 = "completely novel first document about streaming watermark state eviction semantics"
    val fresh2 = "another unrelated piece regarding broadcast joins and adaptive query execution"
    val source = MemoryStream[(Long, String)]
    val q = StreamingDedup.start(source.toDF().toDF("doc_id", "text"),
      "doc_id", "text", idx, kept, s"$root/ckpt",
      trigger = Trigger.ProcessingTime(0L))
    try {
      source.addData((100L, seedText), (101L, fresh1))
      q.processAllAvailable()
      // 102 duplicates 101 — which arrived in the PREVIOUS micro-batch and
      // lives only in the index now
      source.addData((102L, fresh1), (103L, fresh2))
      q.processAllAvailable()
    } finally q.stop()

    val keptIds = spark.read.parquet(kept).select("doc_id").as[Long].collect().toSet
    assert(keptIds == Set(101L, 103L),
      s"kept $keptIds: 100 dups the seed, 102 dups batch-0's 101")
    // index holds signatures for the seed + all four streamed docs
    assert(spark.read.parquet(idx).count() == 5)
  }

  test("streamed image batches dedup against the seed hash index and each other (real decode per batch)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.multimodal.Multimodal

    val root = Files.createTempDirectory("sid_spec_").toString
    val idx = s"$root/hashidx"
    val kept = s"$root/kept"
    // seed: scene-30 image (id 30). Measured pattern hammings: 30↔80 = 2
    // (brightness replicas), 49↔99 = 2, all cross-scene pairs = 30.
    Dedup.buildHashIndex(
      Multimodal.dHash63(Multimodal.scenePngAssets(Seq(30L).toDF("id"), "id"))
        .select($"asset_id".as("doc_id"), $"dhash".as("sh")), idx)

    val source = MemoryStream[Long]
    val q = StreamingImageDedup.start(source.toDF().toDF("doc_id"),
      b => Multimodal.scenePngAssets(b, "doc_id"), idx, kept, s"$root/ckpt",
      trigger = Trigger.ProcessingTime(0L))
    try {
      // batch 0: 80 replicates the SEED scene (drop); 49 is fresh (keep)
      source.addData(80L, 49L)
      q.processAllAvailable()
      // batch 1: 99 replicates 49 — which arrived in the PREVIOUS batch and
      // lives only in the index now (the cross-batch catch)
      source.addData(99L)
      q.processAllAvailable()
    } finally q.stop()

    val keptIds = spark.read.parquet(kept).select("doc_id").as[Long].collect().toSet
    assert(keptIds == Set(49L), s"kept $keptIds: 80 dups the seed, 99 dups batch-0's 49")
    assert(spark.read.parquet(idx).count() == 4, "index grows by every streamed hash")
  }

  test("streamed vector batches dedup against the seed semantic index and each other") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val root = Files.createTempDirectory("ssd_spec_").toString
    val idx = s"$root/vec"
    val kept = s"$root/kept"
    val blobA = Array(10f, 0f, 0f, 5f); val blobB = Array(-10f, 8f, 0f, -5f)
    val rng = new scala.util.Random(17)
    def jitter(base: Array[Float], eps: Float): Array[Float] =
      base.map(x => x + (rng.nextFloat() - 0.5f) * eps)
    // seed corpus: blob noise + one canonical blobA vector (id 1)
    val seed = ((1L, blobA) +: (2L to 20L).map(i =>
      (i, jitter(if (i % 2 == 0) blobA else blobB, 8f)))).toDF("vec_id", "embedding")
    Dedup.buildSemanticIndex(seed, "vec_id", "embedding", idx, nClusters = 2)

    val freshC = Array(0f, 0f, 20f, 0f)
    val source = MemoryStream[(Long, Array[Float])]
    val q = StreamingSemanticDedup.start(source.toDF().toDF("vec_id", "embedding"),
      "vec_id", "embedding", idx, kept, s"$root/ckpt",
      threshold = 0.9999, trigger = Trigger.ProcessingTime(0L))
    try {
      // 100 dups the SEED's id 1; 101 is genuinely new (blob C)
      source.addData((100L, jitter(blobA, 0.001f)), (101L, freshC))
      q.processAllAvailable()
      // 102 dups 101 — which arrived in the PREVIOUS micro-batch and lives
      // only in the index now; 103 is new (blob B is noise-distant)
      source.addData((102L, jitter(freshC, 0.001f)), (103L, blobB))
      q.processAllAvailable()
    } finally q.stop()

    val keptIds = spark.read.parquet(kept).select("vec_id").as[Long].collect().toSet
    assert(keptIds == Set(101L, 103L),
      s"kept $keptIds: 100 dups the seed, 102 dups batch-0's 101")
    // index holds the seed corpus + all four streamed vectors
    assert(spark.read.parquet(s"$idx/vectors").count() == 24)
  }

  test("StreamingAnnServe serves each micro-batch fit-free from the persisted IVFADC index") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.similarity.Similarity

    val root = Files.createTempDirectory("sann_spec_").toString
    val rng = new scala.util.Random(53)
    val corpus = Seq.tabulate(120)(i =>
      (i.toLong, Array.fill(8)(rng.nextFloat() * 2 - 1))).toDF("vec_id", "embedding")
    Similarity.buildIvfadcIndex(corpus, "vec_id", "embedding", s"$root/idx",
      nCells = 8, m = 4, codebookSize = 8, fitMaxIter = 4)

    val source = MemoryStream[(Long, Array[Float])]
    val q = StreamingAnnServe.start(source.toDF().toDF("vec_id", "embedding"),
      "vec_id", "embedding", s"$root/idx", s"$root/out", s"$root/ckpt",
      k = 3, nProbe = 8, shortlist = 120, excludeSelf = true,
      trigger = Trigger.ProcessingTime(0L))
    try {
      source.addData((1000L, Array.fill(8)(0.5f)))
      q.processAllAvailable()
      source.addData((1001L, Array.fill(8)(-0.5f)), (1002L, Array.fill(8)(0.1f)))
      q.processAllAvailable()
    } finally q.stop()

    val out = spark.read.parquet(s"$root/out")
    val byQuery = out.select("query_id", "nbr_rank", "nbr_id")
      .as[(Long, Long, Long)].collect().groupBy(_._1)
    assert(byQuery.keySet == Set(1000L, 1001L, 1002L), s"got ${byQuery.keySet}")
    assert(byQuery.values.forall(_.map(_._2).sorted.toSeq == Seq(1L, 2L, 3L)),
      "each query gets a full dense top-3")
    // batch partitions: 1000 served in b0, 1001/1002 in b1
    val batches = out.select("query_id", "batch").as[(Long, String)].collect().toMap
    assert(batches(1000L) == "b0" && batches(1001L) == "b1")
    // full-probe + full-shortlist degeneracy: streamed top-3 == brute force
    val brute = Similarity.bruteForceTopK(corpus,
        Seq((1000L, Array.fill(8)(0.5f))).toDF("vec_id", "embedding"),
        "vec_id", "embedding", k = 3, excludeSelf = true)
      .select("nbr_rank", "nbr_id").as[(Long, Long)].collect().toSet
    assert(byQuery(1000L).map(t => (t._2, t._3)).toSet == brute,
      "streamed serving must match brute force under the degeneracy settings")
  }

  test("StreamingBm25Serve serves query micro-batches fit-free from the persisted index") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.functions.LexicalRetrieval

    val root = Files.createTempDirectory("sbm25_spec_").toString
    val corpus = Seq(
      (1L, "spark window spark hash"),
      (2L, "window sort merge join hash hash"),
      (3L, "spark spark spark scan filter")).toDF("doc_id", "text")
    LexicalRetrieval.buildBm25Index(corpus, "doc_id", "text", s"$root/idx",
      buckets = 8)

    val source = MemoryStream[(Long, Seq[String])]
    val q = StreamingBm25Serve.start(source.toDF().toDF("query_id", "terms"),
      s"$root/idx", s"$root/out", s"$root/ckpt", k = 10,
      trigger = Trigger.ProcessingTime(0L))
    try {
      source.addData((10L, Seq("spark")))
      q.processAllAvailable()
      source.addData((11L, Seq("merge", "hash")), (12L, Seq("scan")))
      q.processAllAvailable()
    } finally q.stop()

    val out = spark.read.parquet(s"$root/out")
    // per-batch partitions under the effectively-once contract
    val batches = out.select("query_id", "batch").as[(Long, String)]
      .collect().toMap
    assert(batches == Map(10L -> "b0", 11L -> "b1", 12L -> "b1") ||
      (batches(10L) == "b0" && batches(11L) == "b1" && batches(12L) == "b1"),
      s"got $batches")
    // each batch's rows equal a direct fit-free serve of the same queries
    val direct = LexicalRetrieval.bm25TopKIndexed(spark, s"$root/idx",
        Seq((10L, Seq("spark")), (11L, Seq("merge", "hash")), (12L, Seq("scan")))
          .toDF("query_id", "terms"), k = 10)
      .collect().map(_.toSeq).toSet
    assert(out.drop("batch").collect().map(_.toSeq).toSet == direct,
      "streamed serving must equal the direct indexed serve")
  }

  test("StreamingHybridServe fuses both persisted indexes per micro-batch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.functions.LexicalRetrieval
    import graft.similarity.Similarity
    import org.apache.spark.sql.functions.col

    val root = Files.createTempDirectory("shyb_spec_").toString
    val docs = Seq(
      (1L, "spark window spark hash"),
      (2L, "window sort merge join hash hash"),
      (3L, "spark spark spark scan filter"),
      (4L, "totally unrelated words here")).toDF("doc_id", "text")
    val rng = new scala.util.Random(7)
    val emb = Seq.tabulate(4)(i =>
      ((i + 1).toLong, Array.fill(8)(rng.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    LexicalRetrieval.buildBm25Index(docs, "doc_id", "text", s"$root/bm", buckets = 8)
    Dedup.buildSemanticIndex(emb, "vec_id", "embedding", s"$root/sem", nClusters = 2)

    val qvec = Array.fill(8)(0.3f)
    val source = MemoryStream[(Long, Seq[String], Array[Float])]
    val q = StreamingHybridServe.start(
      source.toDF().toDF("query_id", "terms", "qvec"),
      s"$root/bm", s"$root/sem", s"$root/out", s"$root/ckpt",
      k = 3, armK = 4, nProbe = 2, trigger = Trigger.ProcessingTime(0L))
    try {
      source.addData((50L, Seq("spark", "hash"), qvec))
      q.processAllAvailable()
    } finally q.stop()

    val served = spark.read.parquet(s"$root/out")
      .select("query_id", "rank", "doc_id", "rrf")
      .collect().map(_.toSeq).toSet
    // direct recompute: same arms, same fusion (dense arm full-probe exact)
    val lex = LexicalRetrieval.bm25TopKIndexed(spark, s"$root/bm",
        Seq((50L, Seq("spark", "hash"))).toDF("query_id", "terms"), k = 4)
      .select("query_id", "doc_id", "rank")
    val sem = Similarity.bruteForceTopK(emb,
        Seq((50L, qvec)).toDF("vec_id", "embedding"),
        "vec_id", "embedding", k = 4, excludeSelf = true)
      .select(col("query_id"), col("nbr_id").as("doc_id"),
        col("nbr_rank").as("rank"))
    val direct = Similarity.rrfFuse(Seq(lex, sem), k = 3)
      .collect().map(_.toSeq).toSet
    assert(served == direct,
      s"streamed hybrid must equal the direct fusion: $served vs $direct")
  }

  test("StreamingDecontamGate quarantines contaminated docs against the frozen gram index") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val root = Files.createTempDirectory("sgate_spec_").toString
    val bench = Seq(
      (100L, "the quick brown fox jumps over the lazy dog every morning"),
      (101L, "pack my box with five dozen liquor jugs tonight")).toDF("doc_id", "text")
    Dedup.buildGramIndex(bench, "doc_id", "text", s"$root/grams")

    val contaminated = "the quick brown fox jumps over the lazy dog every morning"
    val clean = "zzzz qqqq wwww eeee rrrr tttt yyyy uuuu iiii oooo pppp"
    val partial = "five dozen liquor jugs but the rest is completely different prose"
    val source = MemoryStream[(Long, String)]
    val q = StreamingDecontamGate.start(source.toDF().toDF("doc_id", "text"),
      "doc_id", "text", s"$root/grams", s"$root/kept", s"$root/verdicts",
      s"$root/ckpt", maxRatio = 0.5, trigger = Trigger.ProcessingTime(0L))
    try {
      source.addData((1L, contaminated), (2L, clean))
      q.processAllAvailable()
      source.addData((3L, partial))
      q.processAllAvailable()
    } finally q.stop()

    val verdicts = spark.read.parquet(s"$root/verdicts")
      .select("doc_id", "ratio", "quarantined", "batch")
      .as[(Long, Double, Boolean, String)].collect().map(r => r._1 -> r).toMap
    assert(verdicts.keySet == Set(1L, 2L, 3L), "every streamed doc gets a verdict")
    assert(verdicts(1L)._2 == 1.0 && verdicts(1L)._3, "full containment quarantined")
    assert(verdicts(2L)._2 < 0.5 && !verdicts(2L)._3, "novel text admitted")
    assert(verdicts(1L)._4 == "b0" && verdicts(3L)._4 == "b1",
      "verdicts land in per-batch partitions")
    val keptIds = spark.read.parquet(s"$root/kept").select("doc_id")
      .as[Long].collect().toSet
    assert(!keptIds.contains(1L) && keptIds.contains(2L),
      s"kept must hold exactly the admitted docs, got $keptIds")
  }

  test("StreamingCurationPipeline gates then dedups per batch; quarantined docs never enter the index") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val root = Files.createTempDirectory("scur_spec_").toString
    val benchText = "the quick brown fox jumps over the lazy dog every single morning"
    Dedup.buildGramIndex(Seq((900L, benchText)).toDF("doc_id", "text"),
      "doc_id", "text", s"$root/grams")
    val seedText = "completely unrelated seed document about broadcast joins and adaptive execution"
    Dedup.buildMinhashIndex(Seq((1L, seedText)).toDF("doc_id", "text"),
      "doc_id", "text", s"$root/sigs")

    val fresh = "novel clean first document describing watermark state eviction semantics today"
    val source = MemoryStream[(Long, String)]
    val q = StreamingCurationPipeline.start(source.toDF().toDF("doc_id", "text"),
      "doc_id", "text", s"$root/grams", s"$root/sigs", s"$root/kept",
      s"$root/verdicts", s"$root/ckpt", maxRatio = 0.5, threshold = 0.5,
      trigger = Trigger.ProcessingTime(0L),
      candidateSink = Some(s"$root/cands"))
    try {
      // batch 0: 100 contaminated (quarantined), 101 dups the SEED index
      // (duplicate), 102 novel (kept)
      source.addData((100L, benchText), (101L, seedText), (102L, fresh))
      q.processAllAvailable()
      // batch 1: 103 dups 102 — which arrived via the PREVIOUS batch and
      // lives only in the index; 104 dups the QUARANTINED 100 and passes
      // the gate... except its text IS the benchmark text, so it gates too.
      // Use a doc that near-dups nothing admitted: it must be KEPT, proving
      // the quarantined doc never folded into the signature index
      source.addData((103L, fresh), (104L, benchText))
      q.processAllAvailable()
    } finally q.stop()

    val keptIds = spark.read.parquet(s"$root/kept").select("doc_id")
      .as[Long].collect().toSet
    assert(keptIds == Set(102L),
      s"kept $keptIds: 100/104 gate out, 101 dups the seed, 103 dups batch-0's 102")
    val verd = spark.read.parquet(s"$root/verdicts")
      .select("doc_id", "quarantined").as[(Long, Boolean)].collect().toMap
    assert(verd(100L) && verd(104L), "benchmark text quarantined in both batches")
    assert(!verd(101L) && !verd(102L) && !verd(103L))
    // the signature index folded ONLY admitted docs: seed + 101 + 102 + 103
    assert(spark.read.parquet(IndexLifecycle.resolveIndexDir(s"$root/sigs")).count() == 4,
      "quarantined docs must never fold into the signature index")
  }

  test("multi-batch candidate dumps ACCUMULATE per batch (b<id> subdirs), overwriting none") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val root = Files.createTempDirectory("sd_dump_").toString
    val idx = s"$root/sig"
    val kept = s"$root/kept"
    val sink = s"$root/cands"
    val seedText = "the quick brown fox jumps over the lazy dog every single morning again"
    Dedup.buildMinhashIndex(
      Seq((1L, seedText)).toDF("doc_id", "text"), "doc_id", "text", idx)

    val fresh = "completely novel first document about streaming watermark state eviction semantics"
    val source = MemoryStream[(Long, String)]
    val q = StreamingDedup.start(source.toDF().toDF("doc_id", "text"),
      "doc_id", "text", idx, kept, s"$root/ckpt",
      trigger = Trigger.ProcessingTime(0L), candidateSink = Some(sink))
    try {
      source.addData((100L, seedText), (101L, fresh)) // batch 0: 100 dups seed
      q.processAllAvailable()
      source.addData((102L, fresh))                   // batch 1: 102 dups batch-0's 101
      q.processAllAvailable()
    } finally q.stop()

    // the round-7 shape overwrote one shared path per batch, so only the
    // LAST batch's dump survived and an oracle reading it silently missed
    // earlier-batch duplicates; both per-batch dumps must exist and carry
    // their own batch's candidate pairs
    def dumped(b: Int): Set[(Long, Long)] =
      spark.read.parquet(s"$sink/b$b").select("id_a", "id_b")
        .as[(Long, Long)].collect().toSet
    assert(dumped(0).exists(p => p._1 == 1L || p._2 == 100L),
      s"batch-0 dump must hold the seed-vs-100 pair, got ${dumped(0)}")
    assert(dumped(1).exists(p => Set(p._1, p._2).contains(102L)),
      s"batch-1 dump must hold 102's pair, got ${dumped(1)}")
  }
}
