package graft.core

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{Metadata, StructType}

import graft.SparkSpec
import graft.dedup.Dedup
import graft.functions.{Dsir, LexicalRetrieval, LmPerplexity}
import graft.similarity.Similarity

/** Index metadata without Spark jobs: every parquet index layout records
  * its schema at write time and is read with it (no footer or listing
  * job), and the BM25, LM and DSIR corpus constants are per-batch scalar
  * files the driver reads. */
class IndexMetadataSpec extends SparkSpec {

  private val corpus = Seq(
    1L -> "spark shuffle merge scan filter",
    2L -> "hash join broadcast spark",
    3L -> "spark spark window dup merge",
    4L -> "scan filter project",
    5L -> "",
    6L -> "dup hash window merge scan spark")

  private def docs(rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private def fresh(prefix: String): String =
    Files.createTempDirectory(prefix).resolve("idx").toString

  /** The recorded-schema read of each table reports exactly the schema
    * `spark.read.parquet` infers from its files, partition columns
    * included. `metadata = false` compares without field metadata: for a
    * layout whose batches disagree on it, inference reports one file's. */
  private def assertParity(tables: Seq[String], when: String,
      metadata: Boolean = true): Unit = tables.foreach { t =>
    val layout = IndexLifecycle.resolveIndexDir(t)
    assert(IndexLifecycle.hasBatchData(layout), s"$when: $t holds no data")
    def cmp(s: StructType) =
      if (metadata) s else StructType(s.map(_.copy(metadata = Metadata.empty)))
    val recorded = IndexLifecycle.readIndexTable(spark, t).schema
    val inferred = spark.read.parquet(layout).schema
    assert(cmp(recorded) == cmp(inferred), s"$when: $t reads $recorded, inference gives $inferred")
  }

  private def family(root: String, tables: String*): Seq[String] = tables.map(t => s"$root/$t")

  test("schema parity: BM25, LM and DSIR tables read with their recorded schema, before and after compaction") {
    import spark.implicits._
    val bm25 = fresh("meta_bm25_")
    LexicalRetrieval.buildBm25Index(docs(corpus.take(4)), "doc_id", "text", bm25, buckets = 8)
    LexicalRetrieval.appendBm25Index(docs(corpus.drop(4)), "doc_id", "text", bm25, "day2")
    LexicalRetrieval.deleteFromBm25Index(Seq(3L).toDF("doc_id"), "doc_id", bm25, "del1")
    val bm25Tables = family(bm25, "postings", "termdf", "doclens", "tombstones")
    assertParity(bm25Tables, "bm25 appended")
    LexicalRetrieval.compactBm25Index(spark, bm25)
    assertParity(bm25Tables, "bm25 compacted")
    LexicalRetrieval.purgeBm25Index(spark, bm25)
    assertParity(bm25Tables.dropRight(1), "bm25 purged")

    val lm = fresh("meta_lm_")
    LmPerplexity.buildLmIndex(docs(corpus.take(4)), "doc_id", "text", lm, buckets = 8)
    LmPerplexity.appendLmIndex(docs(corpus.drop(4)), "doc_id", "text", lm, "day2")
    LmPerplexity.deleteFromLmIndex(docs(corpus.take(1)), "doc_id", "text", lm, "del1")
    val lmTables = family(lm, "bigrams", "contexts", "unigrams", "docs", "tombstones")
    assertParity(lmTables, "lm appended")
    LmPerplexity.compactLmIndex(spark, lm)
    assertParity(lmTables, "lm compacted")

    val dsir = fresh("meta_dsir_")
    Dsir.buildDsirIndex(docs(corpus.take(2)), docs(corpus.drop(2)), "doc_id", "text", dsir,
      buckets = 64)
    Dsir.appendDsirIndex(docs(Seq(7L -> "merge scan spark")), "doc_id", "text", dsir, "p2")
    assertParity(family(dsir, "target", "raw"), "dsir appended")
    Dsir.compactDsirIndex(spark, dsir)
    assertParity(family(dsir, "target", "raw"), "dsir compacted")
  }

  test("schema parity: IVFADC and dedup tables read with their recorded schema, before and after compaction") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    def vecs(ids: Range) = ids.map(i =>
      (i.toLong, Array.fill(8)(rng.nextFloat() * 2 - 1))).toDF("vec_id", "embedding")
    val ivf = fresh("meta_ivf_")
    Similarity.buildIvfadcIndex(vecs(0 until 60), "vec_id", "embedding", ivf,
      nCells = 4, m = 4, codebookSize = 8, fitMaxIter = 3)
    Similarity.appendIvfadcIndex(vecs(60 until 80), "vec_id", "embedding", ivf, "b2")
    Similarity.deleteFromIvfadcIndex(Seq(3L).toDF("vec_id"), "vec_id", ivf, "d1")
    val ivfTables = family(ivf, "codes", "vectors", "tombstones")
    assertParity(ivfTables, "ivfadc appended")
    Similarity.compactIvfadcIndex(spark, ivf)
    assertParity(ivfTables, "ivfadc compacted")

    val minhash = fresh("meta_minhash_")
    Dedup.buildMinhashIndex(docs(corpus.take(4)), "doc_id", "text", minhash, shingleK = 2)
    Dedup.minhashLshIncremental(docs(corpus.drop(4)), "doc_id", "text", minhash, "b2",
      shingleK = 2).collect()
    assertParity(Seq(minhash), "minhash appended")
    Dedup.compactMinhashIndex(spark, minhash)
    assertParity(Seq(minhash), "minhash compacted")

    val sem = fresh("meta_sem_")
    Dedup.buildSemanticIndex(vecs(0 until 40), "vec_id", "embedding", sem, nClusters = 2)
    Dedup.semanticDedupIncremental(vecs(40 until 50), "vec_id", "embedding", sem, "b2")
      .collect()
    // the build's `cell` carries KMeans' prediction attributes, the
    // appended batch's does not
    assertParity(Seq(s"$sem/vectors"), "semantic appended", metadata = false)
    Dedup.compactSemanticIndex(spark, sem)
    assertParity(Seq(s"$sem/vectors"), "semantic compacted")

    val cont = fresh("meta_cont_")
    Dedup.buildContainmentIndex(docs(corpus.take(4)), "doc_id", "text", cont, k = 1)
    Dedup.containmentIncremental(docs(corpus.drop(4)), "doc_id", "text", cont, "b2", k = 1,
      minSize = 1).collect()
    val contTables = family(cont, "tok", "sets", "dfs")
    assertParity(contTables, "containment appended")
    Dedup.compactContainmentIndex(spark, cont)
    assertParity(contTables, "containment compacted")
  }

  test("an append whose schema drifts from the recorded one fails loudly and writes nothing") {
    import spark.implicits._
    val idx = fresh("meta_drift_")
    LexicalRetrieval.buildBm25Index(docs(corpus), "doc_id", "text", idx, buckets = 8)
    val e = intercept[IllegalArgumentException] {
      IndexLifecycle.writeIndexBatch(Seq((1L, "one")).toDF("term_id", "df"),
        s"$idx/termdf", "drift")
    }
    assert(e.getMessage.contains("differs from the recorded"), e.getMessage)
    assert(!Files.exists(Paths.get(IndexLifecycle.resolveIndexDir(s"$idx/termdf"),
      "batch=drift")), "the drifted batch must not land")
  }

  test("an index without recorded schemas or scalar constants fails with a rebuild request naming the path") {
    import spark.implicits._
    val q = Seq((1L, Seq("spark"))).toDF("query_id", "terms")
    val noSchema = fresh("meta_legacy_schema_")
    LexicalRetrieval.buildBm25Index(docs(corpus), "doc_id", "text", noSchema, buckets = 8)
    Files.delete(Paths.get(noSchema, "postings", "_schema"))
    val e1 = intercept[IllegalStateException] {
      LexicalRetrieval.bm25TopKIndexed(spark, noSchema, q).collect()
    }
    assert(e1.getMessage.contains(s"$noSchema/postings") &&
      e1.getMessage.contains("Rebuild"), e1.getMessage)

    // an earlier build kept the constants in a one-row parquet `stats` table
    val noScalars = fresh("meta_legacy_stats_")
    LexicalRetrieval.buildBm25Index(docs(corpus), "doc_id", "text", noScalars, buckets = 8)
    Files.delete(Paths.get(noScalars, "stats", "batch=base.scalars"))
    Seq((6L, 20L, 8)).toDF("n_docs", "sum_dl", "tb_buckets")
      .write.parquet(s"$noScalars/stats/batch=base")
    val e2 = intercept[IllegalStateException] {
      LexicalRetrieval.bm25TopKIndexed(spark, noScalars, q).collect()
    }
    assert(e2.getMessage.contains(s"$noScalars/stats") &&
      e2.getMessage.contains("Rebuild"), e2.getMessage)
  }

  test("a scalar partial that landed without its visibility commit is invisible to serve and compaction") {
    import spark.implicits._
    val idx = fresh("meta_torn_")
    LexicalRetrieval.buildBm25Index(docs(corpus), "doc_id", "text", idx, buckets = 8)
    val q = Seq((1L, Seq("spark", "merge"))).toDF("query_id", "terms")
    def served() = LexicalRetrieval.bm25TopKIndexed(spark, idx, q).collect().map(_.toSeq).toSet
    def stats() = IndexLifecycle.readScalars(idx, "stats", "tb_buckets")
    val (before, statsBefore) = (served(), stats())
    assert(statsBefore("n_docs") == corpus.size.toLong)
    // the crash window: the partial is on disk, the batch was never committed
    IndexLifecycle.writeScalars(s"$idx/stats", "torn",
      Map("n_docs" -> 1000L, "sum_dl" -> 99999L, "tb_buckets" -> 8L))
    assert(stats() == statsBefore && served() == before, "an uncommitted partial must be invisible")
    LexicalRetrieval.compactBm25Index(spark, idx)
    assert(stats() == statsBefore && served() == before, "compaction must not fold it")
    val layout = Paths.get(IndexLifecycle.resolveIndexDir(s"$idx/stats"))
    assert(Files.list(layout).iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("batch=")).toSet == Set("batch=base.scalars"))
    // a committed partial with another bucket count is a loud error
    IndexLifecycle.writeScalars(s"$idx/stats", "drift",
      Map("n_docs" -> 1L, "sum_dl" -> 1L, "tb_buckets" -> 16L))
    IndexLifecycle.commitVisibleBatch(idx, "drift")
    val e = intercept[IllegalArgumentException](stats())
    assert(e.getMessage.contains("distinct bucket counts"), e.getMessage)
  }

  test("corpus constants, bucket counts and visible-table frames resolve with no Spark job") {
    val bm25 = fresh("meta_jobs_bm25_")
    LexicalRetrieval.buildBm25Index(docs(corpus), "doc_id", "text", bm25, buckets = 8)
    val lm = fresh("meta_jobs_lm_")
    LmPerplexity.buildLmIndex(docs(corpus), "doc_id", "text", lm, buckets = 8)
    val dsir = fresh("meta_jobs_dsir_")
    Dsir.buildDsirIndex(docs(corpus.take(2)), docs(corpus.drop(2)), "doc_id", "text", dsir,
      buckets = 64)
    val (jobs, _) = sparkWorkDuring {
      IndexLifecycle.readScalars(bm25, "stats", "tb_buckets"): Unit
      IndexLifecycle.readScalars(lm, "stats", "bb_buckets"): Unit
      IndexLifecycle.readScalars(dsir, "stats", "buckets"): Unit
      Seq("postings", "termdf", "doclens").foreach(t =>
        IndexLifecycle.readVisibleTable(spark, bm25, t).schema: Unit)
      IndexLifecycle.readVisibleTable(spark, lm, "bigrams")
        .filter(col("bb") === 3).schema: Unit
    }
    assert(jobs == 0, s"metadata resolution launched $jobs jobs")
  }

  test("BM25 build, delete, serve and purge stay within their measured job counts") {
    import spark.implicits._
    val idx = fresh("meta_jobs_lifecycle_")
    val q = Seq((1L, Seq("spark", "hash")), (2L, Seq("dup", "window")),
      (3L, Seq("merge", "scan", "filter"))).toDF("query_id", "terms")
    val all = docs(corpus)
    val build = sparkWorkDuring(
      LexicalRetrieval.buildBm25Index(all, "doc_id", "text", idx))._1
    val delete = sparkWorkDuring(LexicalRetrieval.deleteFromBm25Index(
      all.filter(col("doc_id") % 3 === 0).select("doc_id"), "doc_id", idx, "erase1"))._1
    val serve = sparkWorkDuring(
      LexicalRetrieval.bm25TopKIndexed(spark, idx, q, k = 10).collect(): Unit)._1
    val purge = sparkWorkDuring(LexicalRetrieval.purgeBm25Index(spark, idx))._1
    // measured when the footer reads, stats tables and driver collects
    // left the lifecycle; one more job in any phase means one came back
    val bounds = Map("build" -> 14, "delete" -> 11, "serve" -> 8, "purge" -> 15)
    val measured = Map("build" -> build, "delete" -> delete, "serve" -> serve, "purge" -> purge)
    measured.foreach { case (phase, n) =>
      assert(n <= bounds(phase), s"$phase launched $n jobs, at most ${bounds(phase)} expected")
    }
  }

  test("lifecycle jobs carry their phase label, pool threads included, and the caller's label comes back") {
    import spark.implicits._
    val idx = fresh("meta_labels_")
    LexicalRetrieval.buildBm25Index(docs(corpus.take(4)), "doc_id", "text", idx, buckets = 8)
    val labels = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        labels.add(String.valueOf(js.properties.getProperty("spark.job.description")))
    }
    val sc = spark.sparkContext
    sc.setJobDescription("caller")
    org.apache.spark.GraftTestBridge.waitForListeners(sc)
    sc.addSparkListener(listener)
    try {
      LexicalRetrieval.appendBm25Index(docs(corpus.drop(4)), "doc_id", "text", idx, "day2")
      LexicalRetrieval.compactBm25Index(spark, idx)
      org.apache.spark.GraftTestBridge.waitForListeners(sc)
    } finally {
      sc.removeSparkListener(listener)
      assert(sc.getLocalProperty("spark.job.description") == "caller",
        "the caller's description must be restored")
      sc.setJobDescription(null)
    }
    val seen = labels.asScala.toSeq
    val name = Paths.get(idx).getFileName.toString
    // the four table writes run on inParallel pool threads
    Seq("postings", "termdf", "doclens").foreach { t =>
      assert(seen.contains(s"index table write $name/$t"), s"no write job labelled for $t: $seen")
    }
    assert(seen.count(_ == s"index family compaction ${Paths.get(idx).getParent.getFileName}/$name") >= 3,
      s"compaction folds (pool threads) must carry the family label: $seen")
    // the tokenize staging is the caller's own work
    assert(seen.contains("caller"), s"caller jobs keep the caller's label: $seen")
    assert(seen.forall(l => l == "caller" || l.startsWith("index ")), s"unexpected labels: $seen")
  }
}
