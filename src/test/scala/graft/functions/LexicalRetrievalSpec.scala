package graft.functions

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.IndexLifecycle
import graft.dedup.Dedup

/** Persisted BM25 index + fit-free serving: correctness against a driver-side
  * exact recompute, incremental build/compaction equivalence, and the
  * bucket-pruned probe plan. */
class LexicalRetrievalSpec extends SparkSpec {

  private val corpus = Seq(
    (1L, "spark window spark hash"),
    (2L, "window sort merge join hash hash"),
    (3L, "spark spark spark scan filter"),
    (4L, "totally unrelated words here"),
    (5L, ""), // zero tokens: counts in n_docs, appears in no posting
    (6L, "hash"))

  /** Driver-side exact BM25: same raw-ratio idf, same saturation, fold in
    * ascending portable-60-bit-term-id order from 0.0 — an independent
    * implementation of the engine's contract. */
  private def bruteBm25(docs: Seq[(Long, String)], terms: Seq[String],
      k1: Double = 1.2, b: Double = 0.75): Map[(Long, Long), Double] = {
    def toks(t: String): Seq[String] =
      if (t.trim.isEmpty) Seq.empty else t.trim.toLowerCase.split("\\s+").toSeq
    def h60(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(md.take(15), 16)
    }
    val nDocs = docs.size.toLong
    val sumDl = docs.map(d => toks(d._2).size.toLong).sum
    val avgdl = sumDl.toDouble / nDocs.toDouble
    val dfm = terms.map { t =>
      t -> docs.count(d => toks(d._2).contains(t)).toLong
    }.toMap
    (for {
      (did, text) <- docs
      tl = toks(text)
      contribs = terms.flatMap { t =>
        val tf = tl.count(_ == t).toLong
        if (tf == 0 || dfm(t) == 0) None
        else {
          val idf = (nDocs.toDouble - dfm(t).toDouble + 0.5) / (dfm(t).toDouble + 0.5)
          val c = idf * (tf.toDouble * (k1 + 1.0)) /
            (tf.toDouble + k1 * ((1.0 - b) + b * (tl.size.toDouble / avgdl)))
          Some((h60(t), c))
        }
      }
      if contribs.nonEmpty
    } yield {
      val raw = contribs.sortBy(_._1).foldLeft(0.0)(_ + _._2)
      (0L, did) -> BigDecimal(raw).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }).toMap
  }

  test("bm25TopKIndexed matches a driver-side exact recompute, per query") {
    import spark.implicits._
    val root = Files.createTempDirectory("bm25_spec_").toString
    val idx = s"$root/idx"
    LexicalRetrieval.buildBm25Index(corpus.toDF("doc_id", "text"),
      "doc_id", "text", idx, buckets = 8)
    val q1 = Seq("spark", "hash")
    val q2 = Seq("merge")
    val served = LexicalRetrieval.bm25TopKIndexed(spark, idx,
        Seq((1L, q1), (2L, q2)).toDF("query_id", "terms"), k = 10)
      .select("query_id", "doc_id", "score")
      .as[(Long, Long, Double)].collect()
      .map { case (q, d, s) => (q, d) -> s }.toMap
    val exp1 = bruteBm25(corpus, q1).map { case ((_, d), s) => (1L, d) -> s }
    val exp2 = bruteBm25(corpus, q2).map { case ((_, d), s) => (2L, d) -> s }
    assert(served == exp1 ++ exp2,
      s"served $served vs expected ${exp1 ++ exp2}")
  }

  test("rank breaks score ties by doc_id and k truncates per query") {
    import spark.implicits._
    val root = Files.createTempDirectory("bm25_spec_").toString
    val idx = s"$root/idx"
    // docs 11/12/13 are identical -> identical scores -> rank by doc_id
    val docs = Seq((11L, "alpha beta"), (12L, "alpha beta"), (13L, "alpha beta"),
      (14L, "gamma"))
    LexicalRetrieval.buildBm25Index(docs.toDF("doc_id", "text"),
      "doc_id", "text", idx, buckets = 4)
    val out = LexicalRetrieval.bm25TopKIndexed(spark, idx,
        Seq((7L, Seq("alpha"))).toDF("query_id", "terms"), k = 2)
      .select("rank", "doc_id").as[(Long, Long)].collect().sortBy(_._1)
    assert(out.toSeq == Seq((1L, 11L), (2L, 12L)), s"got ${out.toSeq}")
  }

  test("append + compact serve identically to a whole-corpus build") {
    import spark.implicits._
    val root = Files.createTempDirectory("bm25_spec_").toString
    val whole = s"$root/whole"
    val inc = s"$root/inc"
    val df = corpus.toDF("doc_id", "text")
    LexicalRetrieval.buildBm25Index(df, "doc_id", "text", whole, buckets = 8)
    LexicalRetrieval.buildBm25Index(df.filter(col("doc_id") <= 3),
      "doc_id", "text", inc, buckets = 8)
    LexicalRetrieval.appendBm25Index(df.filter(col("doc_id") > 3),
      "doc_id", "text", inc, "day2")
    val queries = Seq((1L, Seq("spark", "hash")), (2L, Seq("merge", "scan")))
      .toDF("query_id", "terms")
    def serve(p: String) = LexicalRetrieval.bm25TopKIndexed(spark, p, queries)
      .collect().map(_.toSeq).toSet
    val expected = serve(whole)
    assert(serve(inc) == expected, "pre-compaction append must match")
    LexicalRetrieval.compactBm25Index(spark, inc)
    assert(serve(inc) == expected, "post-compaction serve must match")
    // compaction folded the partials: one scalar stats partial holding the
    // whole corpus's constants, one df row per term
    val statsLayout = java.nio.file.Paths.get(IndexLifecycle.resolveIndexDir(s"$inc/stats"))
    val partials = {
      val ls = java.nio.file.Files.list(statsLayout)
      try { import scala.jdk.CollectionConverters._
        ls.iterator().asScala.map(_.getFileName.toString).filter(_.startsWith("batch=")).toSet }
      finally ls.close()
    }
    assert(partials == Set("batch=base.scalars"), s"stats partials folded to one: $partials")
    assert(IndexLifecycle.readScalars(inc, "stats", "tb_buckets") ==
      IndexLifecycle.readScalars(whole, "stats", "tb_buckets"))
    val termdf = spark.read.parquet(IndexLifecycle.resolveIndexDir(s"$inc/termdf"))
    assert(termdf.groupBy("term_id").count().filter(col("count") > 1).isEmpty,
      "df partials folded to one row per term")
  }

  test("a replayed append batch overwrites itself instead of double-counting") {
    import spark.implicits._
    val root = Files.createTempDirectory("bm25_spec_").toString
    val idx = s"$root/idx"
    val df = corpus.toDF("doc_id", "text")
    LexicalRetrieval.buildBm25Index(df.filter(col("doc_id") <= 3),
      "doc_id", "text", idx, buckets = 8)
    LexicalRetrieval.appendBm25Index(df.filter(col("doc_id") > 3),
      "doc_id", "text", idx, "day2")
    val once = LexicalRetrieval.bm25TopKIndexed(spark, idx,
      Seq((1L, Seq("spark", "hash"))).toDF("query_id", "terms"))
      .collect().map(_.toSeq).toSet
    // crash-retry: the same batch id lands again
    LexicalRetrieval.appendBm25Index(df.filter(col("doc_id") > 3),
      "doc_id", "text", idx, "day2")
    val twice = LexicalRetrieval.bm25TopKIndexed(spark, idx,
      Seq((1L, Seq("spark", "hash"))).toDF("query_id", "terms"))
      .collect().map(_.toSeq).toSet
    assert(once == twice, "replayed batch must not change any statistic")
  }

  test("append visibility is atomic: a torn batch is invisible in every table until committed; compaction drops it") {
    import spark.implicits._
    val idx = Files.createTempDirectory("bm25_torn_").toString
    LexicalRetrieval.buildBm25Index(corpus.toDF("doc_id", "text"), "doc_id", "text", idx)
    val q = Seq((1L, Seq("spark"))).toDF("query_id", "terms")
    def served(): Set[Long] =
      LexicalRetrieval.bm25TopKIndexed(spark, idx, q, k = 10)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    def nDocs(): Long = LexicalRetrieval.describeBm25Index(spark, idx)
      .first().getAs[Long]("n_docs")
    val before = served()
    assert(before.nonEmpty && !before.contains(999L))
    assert(nDocs() == corpus.size.toLong)

    // simulate the torn-append crash window: ONE table's partition lands
    // (postings for a new doc 999 containing "spark"), no termdf/stats/
    // doclens, no visibility commit — serving and introspection must see
    // exactly the pre-batch index
    val sparkTermId = spark.range(1)
      .select(GraftFunctions.portableHash60(lit("spark")).as("h"))
      .first().getLong(0)
    val tornPostings = Seq((sparkTermId, 999L, 1L, 1L, Seq(0)))
      .toDF("term_id", "doc_id", "dl", "tf", "positions")
      .withColumn("tb", pmod(col("term_id"), lit(64L)))
    IndexLifecycle.writeIndexBatch(tornPostings, s"$idx/postings", "torn",
      partitionCols = Seq("tb"))
    assert(served() == before, "a half-landed batch must be invisible")
    assert(nDocs() == corpus.size.toLong)

    // compaction folds only VISIBLE batches: the torn partition is
    // physically dropped (the self-heal), and serving is unchanged
    LexicalRetrieval.compactBm25Index(spark, idx)
    assert(served() == before, "compaction must not commit a torn batch")
    assert(nDocs() == corpus.size.toLong)

    // a PROPER append of the same doc commits atomically and serves
    LexicalRetrieval.appendBm25Index(
      Seq((999L, "spark spark")).toDF("doc_id", "text"), "doc_id", "text",
      idx, batchId = "b2")
    assert(served().contains(999L), "a committed append must serve")
    assert(nDocs() == corpus.size.toLong + 1)
  }

  test("pending tombstones survive a plain compaction: deleted docs stay hidden until purge") {
    import spark.implicits._
    val idx = Files.createTempDirectory("bm25_del_compact_").toString
    LexicalRetrieval.buildBm25Index(corpus.toDF("doc_id", "text"), "doc_id", "text", idx)
    LexicalRetrieval.deleteFromBm25Index(Seq(3L).toDF("doc_id"), "doc_id", idx, "del1")
    val q = Seq((1L, Seq("spark"))).toDF("query_id", "terms")
    def served(): Set[Long] =
      LexicalRetrieval.bm25TopKIndexed(spark, idx, q, k = 10)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!served().contains(3L), "deleted doc hidden before compaction")
    // a PLAIN compaction folds the negative partials but must NOT blank the
    // markers' visibility — the doc stays hidden, stats stay netted
    LexicalRetrieval.compactBm25Index(spark, idx)
    assert(!served().contains(3L),
      "deleted doc must stay hidden after a plain compaction")
    assert(LexicalRetrieval.describeBm25Index(spark, idx)
      .first().getAs[Long]("n_docs") == corpus.size.toLong - 1)
    // purge erases physically and clears the markers
    LexicalRetrieval.purgeBm25Index(spark, idx)
    assert(!served().contains(3L))
    assert(LexicalRetrieval.describeBm25Index(spark, idx)
      .first().getAs[Long]("pending_tombstones") == 0L)
  }

  test("the postings probe prunes to the query terms' buckets") {
    import spark.implicits._
    val root = Files.createTempDirectory("bm25_spec_").toString
    val idx = s"$root/idx"
    LexicalRetrieval.buildBm25Index(corpus.toDF("doc_id", "text"),
      "doc_id", "text", idx, buckets = 8)
    val served = LexicalRetrieval.bm25TopKIndexed(spark, idx,
      Seq((1L, Seq("merge"))).toDF("query_id", "terms"))
    served.collect()
    // the scan hides inside AQE query stages — assert on the printed final
    // plan (the FeatureStoreSpec partition-filter gate pattern): the
    // postings read must carry the static tb isin as a PARTITION filter
    // (directory pruning), not a post-scan data filter
    val plan = served.queryExecution.executedPlan.toString
    val postingsScan = plan.linesIterator
      .filter(l => l.contains("postings") && l.contains("PartitionFilters"))
      .mkString("\n")
    assert(postingsScan.nonEmpty, s"no postings scan with PartitionFilters in:\n$plan")
    assert(postingsScan.contains("tb"),
      s"postings scan must prune on tb: $postingsScan")
  }

  test("queries with no corpus hits return no rows; others are unaffected") {
    import spark.implicits._
    val root = Files.createTempDirectory("bm25_spec_").toString
    val idx = s"$root/idx"
    LexicalRetrieval.buildBm25Index(corpus.toDF("doc_id", "text"),
      "doc_id", "text", idx, buckets = 8)
    val out = LexicalRetrieval.bm25TopKIndexed(spark, idx,
        Seq((1L, Seq("zzznope")), (2L, Seq("merge"))).toDF("query_id", "terms"))
      .select("query_id").distinct().as[Long].collect().toSet
    assert(out == Set(2L), s"got $out")
  }

  test("driver-hashed query terms match the index under a Turkish default locale") {
    import spark.implicits._
    val idx = Files.createTempDirectory("bm25_locale_").toString
    LexicalRetrieval.buildBm25Index(corpus.toDF("doc_id", "text"), "doc_id", "text", idx)
    val saved = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.forLanguageTag("tr"))
    try {
      // "FILTER".toLowerCase is "fılter" (dotless ı) here; the index holds
      // Spark's `lower`, "filter"
      val phrase = LexicalRetrieval.phraseTopK(spark, idx, Seq("SCAN", "FILTER"))
        .select("doc_id").as[Long].collect().toSeq
      assert(phrase == Seq(3L), s"phrase hits $phrase")
      val near = LexicalRetrieval.proximityTopK(spark, idx, "FILTER", "Spark", window = 3)
        .select("doc_id").as[Long].collect().toSeq
      assert(near == Seq(3L), s"proximity hits $near")
      val ranked = LexicalRetrieval.bm25TopKIndexed(spark, idx,
          Seq((1L, Seq("FILTER"))).toDF("query_id", "terms"))
        .select("doc_id").as[Long].collect().toSeq
      assert(ranked == Seq(3L), s"bm25 hits $ranked")
      val scanned = LexicalRetrieval.phraseScan(corpus.toDF("doc_id", "text"), "doc_id", "text",
          Seq(Seq("SCAN", "FILTER"))).select("doc_id").as[Long].collect().toSeq
      assert(scanned == Seq(3L), s"watchlist hits $scanned")
    } finally java.util.Locale.setDefault(saved)
  }

  test("phraseTopK intersects positions exactly: overlaps, 3-grams, absences, deletions") {
    import spark.implicits._
    val root = Files.createTempDirectory("bm25_spec_").toString
    val idx = s"$root/idx"
    val docs = Seq(
      (1L, "a a a b"),          // "a a" starts at 0 and 1 -> n_phrase 2
      (2L, "x a a y a a"),      // starts at 1 and 4 -> 2
      (3L, "a b a b a"),        // "a a" absent; "a b a" starts at 0 and 2 -> 2
      (4L, "b a"),              // reversed — must not match "a b"
      (5L, "a a"))              // one start
    LexicalRetrieval.buildBm25Index(docs.toDF("doc_id", "text"),
      "doc_id", "text", idx, buckets = 8)
    def serve(p: Seq[String]) = LexicalRetrieval.phraseTopK(spark, idx, p)
      .select("doc_id", "n_phrase").as[(Long, Long)].collect().toMap
    assert(serve(Seq("a", "a")) == Map(1L -> 2L, 2L -> 2L, 5L -> 1L))
    assert(serve(Seq("a", "b", "a")) == Map(3L -> 2L),
      "overlapping 3-gram occurrences in doc 3 both count; no other doc has the exact sequence")
    assert(serve(Seq("b", "b")) == Map.empty[Long, Long], "absent phrase -> no rows")
    // erasure applies to the phrase face too
    LexicalRetrieval.deleteFromBm25Index(Seq(1L).toDF("doc_id"), "doc_id", idx, "e1")
    assert(!serve(Seq("a", "a")).contains(1L),
      "tombstoned docs must not be retrieved by phrase search")
  }

  test("phraseSnippets slices the first occurrence's window, clamped at the doc start") {
    import spark.implicits._
    val root = Files.createTempDirectory("bm25_spec_").toString
    val idx = s"$root/idx"
    val docs = Seq(
      (1L, "a b x y z w q r"),      // phrase at 0 -> clamp: slice from 0
      (2L, "x y z a b w q r s t"),  // phrase at 3, context 2 -> from 1
      (3L, "x a b y a b z"))        // twice: first at 1 -> from 0
    LexicalRetrieval.buildBm25Index(docs.toDF("doc_id", "text"),
      "doc_id", "text", idx, buckets = 8)
    val got = LexicalRetrieval.phraseSnippets(spark, idx,
        docs.toDF("doc_id", "text"), "doc_id", "text",
        Seq("a", "b"), k = 10, context = 2)
      .select("doc_id", "n_phrase", "snippet")
      .as[(Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 1L, "a b x y z w")),
      "clamped at the doc start, still 6 tokens")
    assert(got(2L) == ((2L, 1L, "y z a b w q")))
    assert(got(3L) == ((3L, 2L, "x a b y a b")),
      "two occurrences counted; the snippet sits on the FIRST")
  }

  test("phraseScan matches every watchlist phrase in one pass, repeats included") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a a a"),        // phrase 0 = "a a": starts 0,1 -> 2
      (2L, "x a b y a b"),  // phrase 1 = "a b": 2; phrase 2 = "b": 2
      (3L, "b"),            // phrase 2 only
      (4L, "zzz"))          // nothing
    val got = LexicalRetrieval.phraseScan(docs.toDF("doc_id", "text"),
        "doc_id", "text", Seq(Seq("a", "a"), Seq("a", "b"), Seq("b")))
      .select("doc_id", "phrase_id", "n_phrase")
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(got == Map(
      (1L, 0L) -> 2L,
      (2L, 1L) -> 2L, (2L, 2L) -> 2L,
      (3L, 2L) -> 1L), s"got $got")
  }

  test("proximityTopK counts position pairs within the window, either order") {
    import spark.implicits._
    val root = Files.createTempDirectory("bm25_spec_").toString
    val idx = s"$root/idx"
    val docs = Seq(
      (1L, "x y a b x"),        // a@2, b@3: |2-3|=1 -> 1 pair at w=1
      (2L, "b x x a"),          // b@0, a@3: distance 3 -> 0 at w=1, 1 at w=3
      (3L, "a x a b"),          // a@0,2; b@3: pairs (2,3) at w=1; (0,3),(2,3) at w=3
      (4L, "a x x x x b"))      // distance 5 -> never within 3
    LexicalRetrieval.buildBm25Index(docs.toDF("doc_id", "text"),
      "doc_id", "text", idx, buckets = 8)
    def serve(w: Int) = LexicalRetrieval.proximityTopK(spark, idx, "a", "b", w)
      .select("doc_id", "n_near").as[(Long, Long)].collect().toMap
    assert(serve(1) == Map(1L -> 1L, 3L -> 1L))
    assert(serve(3) == Map(1L -> 1L, 2L -> 1L, 3L -> 2L))
    intercept[IllegalArgumentException] {
      LexicalRetrieval.proximityTopK(spark, idx, "a", "A", 2)
    }
  }

  test("the df cap drops stop terms from scoring with the exact integer rule") {
    import spark.implicits._
    val root = Files.createTempDirectory("bm25_spec_").toString
    val idx = s"$root/idx"
    LexicalRetrieval.buildBm25Index(corpus.toDF("doc_id", "text"),
      "doc_id", "text", idx, buckets = 8)
    // 'hash' is in docs 1/2/6 -> df 3 of 6 docs = 500000 ppm; 'spark' in
    // 1/3 -> 333333 ppm. Cap 400000: hash OUT, spark IN — the capped serve
    // must equal a spark-only recompute
    val capped = LexicalRetrieval.bm25TopKIndexed(spark, idx,
        Seq((1L, Seq("spark", "hash"))).toDF("query_id", "terms"),
        maxDfPpm = 400000L)
      .select("doc_id", "score").as[(Long, Double)].collect().toMap
    val sparkOnly = bruteBm25(corpus, Seq("spark"))
      .map { case ((_, d), s) => d -> s }
    assert(capped == sparkOnly, s"$capped vs $sparkOnly")
    // boundary: cap 500000 keeps hash (3 * 1e6 <= 500000 * 6 exactly)
    val atBoundary = LexicalRetrieval.bm25TopKIndexed(spark, idx,
        Seq((1L, Seq("spark", "hash"))).toDF("query_id", "terms"),
        maxDfPpm = 500000L)
      .select("doc_id", "score").as[(Long, Double)].collect().toMap
    val both = bruteBm25(corpus, Seq("spark", "hash"))
      .map { case ((_, d), s) => d -> s }
    assert(atBoundary == both, "the ppm boundary is inclusive at equality")
  }

  test("deletion serves as if the docs never existed — pending AND purged") {
    import spark.implicits._
    val root = Files.createTempDirectory("bm25_spec_").toString
    val idx = s"$root/idx"
    val rebuilt = s"$root/rebuilt"
    val df = corpus.toDF("doc_id", "text")
    LexicalRetrieval.buildBm25Index(df, "doc_id", "text", idx, buckets = 8)
    // doc 3 carries most 'spark' mass (df + n_docs + sum_dl all move);
    // doc 5 is the ZERO-TOKEN doc — only doclens knows it exists, so its
    // n_docs decrement exercises the doc-level table
    LexicalRetrieval.deleteFromBm25Index(Seq(3L, 5L).toDF("doc_id"),
      "doc_id", idx, "erase1")
    LexicalRetrieval.buildBm25Index(df.filter(!col("doc_id").isin(3L, 5L)),
      "doc_id", "text", rebuilt, buckets = 8)
    val queries = Seq((1L, Seq("spark", "hash")), (2L, Seq("scan")))
      .toDF("query_id", "terms")
    def serve(p: String) = LexicalRetrieval.bm25TopKIndexed(spark, p, queries)
      .collect().map(_.toSeq).toSet
    val expected = serve(rebuilt)
    assert(serve(idx) == expected,
      "pending-tombstone serving must equal a rebuild on the survivors")
    assert(!serve(idx).exists(_(2) == 3L), "deleted doc must not be retrieved")
    LexicalRetrieval.purgeBm25Index(spark, idx)
    assert(serve(idx) == expected, "post-purge serving must equal the rebuild")
    // purge physically erased: no posting or doclen row of doc 3/5 survives
    val posts = spark.read.parquet(IndexLifecycle.resolveIndexDir(s"$idx/postings"))
    assert(posts.filter(col("doc_id").isin(3L, 5L)).isEmpty)
    val lens = spark.read.parquet(IndexLifecycle.resolveIndexDir(s"$idx/doclens"))
    assert(lens.filter(col("doc_id").isin(3L, 5L)).isEmpty)
    // markers retired from the serving generation (the dir itself persists:
    // it is a versioned family table now — the superseded generation keeps
    // its marker view one retention cycle for pinned readers)
    assert(IndexLifecycle.readMarkerTable(spark, idx, "tombstones").isEmpty,
      "purge must retire every pending marker from the serving generation")
    // version retention keeps the pre-purge layout one cycle (lock-free
    // readers); an explicit vacuum completes the physical erase NOW —
    // after it, no superseded layout (and no erased byte) remains on disk
    val tables = Seq("postings", "doclens", "termdf", "stats")
    def layouts(t: String): Set[String] = {
      val ls = java.nio.file.Files.list(java.nio.file.Paths.get(s"$idx/$t"))
      try {
        import scala.jdk.CollectionConverters._
        ls.iterator().asScala.map(_.getFileName.toString)
          .filter(n => n.startsWith("_v") || n.startsWith("batch=")).toSet
      } finally ls.close()
    }
    assert(tables.exists(t => layouts(t).size > 1),
      "retention must keep the superseded layout until vacuum")
    tables.foreach(t => IndexLifecycle.vacuumIndex(s"$idx/$t"))
    tables.foreach { t =>
      val l = layouts(t)
      assert(l.size == 1 && l.head.startsWith("_v"),
        s"vacuum must leave only the current version of $t: $l")
    }
    // the scalar stats layout is swept like the parquet ones: the flat
    // `batch=*.scalars` partials of the build are gone, the current
    // generation holds the one folded partial
    assert(layouts("stats").forall(_.startsWith("_v")))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(
      IndexLifecycle.resolveIndexDir(s"$idx/stats"), "batch=base.scalars")))
    assert(serve(idx) == expected, "serving unchanged by the vacuum")
  }

  test("a whole rebuild clears the previous generation's tombstones") {
    import spark.implicits._
    val root = Files.createTempDirectory("bm25_spec_").toString
    val idx = s"$root/idx"
    val df = corpus.toDF("doc_id", "text")
    LexicalRetrieval.buildBm25Index(df, "doc_id", "text", idx, buckets = 8)
    LexicalRetrieval.deleteFromBm25Index(Seq(3L).toDF("doc_id"), "doc_id", idx, "e1")
    // REBUILD without purging: a new index generation — the old marker must
    // not hide doc 3 at serve time, and a fresh delete of 3 must decrement
    // (the q192 sf0.01 regression: a prior run's marker suppressed it)
    LexicalRetrieval.buildBm25Index(df, "doc_id", "text", idx, buckets = 8)
    val served = LexicalRetrieval.bm25TopKIndexed(spark, idx,
        Seq((1L, Seq("spark"))).toDF("query_id", "terms"))
      .select("doc_id").as[Long].collect().toSet
    assert(served.contains(3L), "rebuilt index must serve doc 3 again")
    LexicalRetrieval.deleteFromBm25Index(Seq(3L).toDF("doc_id"), "doc_id", idx, "e2")
    val n = LexicalRetrieval.describeBm25Index(spark, idx)
      .select("n_docs").collect().head.getLong(0)
    assert(n == corpus.size - 1L,
      "the fresh generation's delete must decrement the statistics")
  }

  test("writer serialization: appends and deletes racing compactions are never lost") {
    // Pre-lock failure mode: a delete (or append) resolving the layout
    // mid-compaction writes its partials into the OLD version dir; the
    // family flip + cleanup then orphans and deletes those bytes while the
    // batch id stays visible — the index permanently over-counts
    // n_docs/sum_dl. With IndexLifecycle.withIndexWriter serializing writers, every
    // committed batch's effect must survive any interleaving.
    import spark.implicits._
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val root = Files.createTempDirectory("bm25_lock_").toString
    val idx = s"$root/idx"
    val rebuilt = s"$root/rebuilt"
    LexicalRetrieval.buildBm25Index(corpus.toDF("doc_id", "text"),
      "doc_id", "text", idx, buckets = 8)
    val appended = Seq(
      (101L, "fresh alpha spark"), (102L, "fresh beta hash"), (103L, "fresh gamma"))
    val deleted = Seq(1L, 2L, 6L)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(3)
    def worker(body: => Unit): Unit =
      pool.submit(new Runnable { def run(): Unit = {
        start.await()
        try body catch { case t: Throwable => failures.add(t): Unit }
      }}): Unit
    worker(appended.zipWithIndex.foreach { case (d, i) =>
      LexicalRetrieval.appendBm25Index(Seq(d).toDF("doc_id", "text"),
        "doc_id", "text", idx, s"app$i") })
    worker(deleted.zipWithIndex.foreach { case (id, i) =>
      LexicalRetrieval.deleteFromBm25Index(Seq(id).toDF("doc_id"),
        "doc_id", idx, s"del$i") })
    worker((0 until 5).foreach(_ =>
      LexicalRetrieval.compactBm25Index(spark, idx)))
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(300, TimeUnit.SECONDS), "storm must finish")
    assert(failures.isEmpty, s"no writer may fail under the lock: ${failures.peek()}")
    LexicalRetrieval.purgeBm25Index(spark, idx)
    // every committed op survived ⇔ the index equals a serial rebuild on
    // (corpus ∪ appended) − deleted, bit-for-bit (same integer counts)
    val survivors = (corpus ++ appended).filterNot(d => deleted.contains(d._1))
    LexicalRetrieval.buildBm25Index(survivors.toDF("doc_id", "text"),
      "doc_id", "text", rebuilt, buckets = 8)
    val n = LexicalRetrieval.describeBm25Index(spark, idx)
      .select("n_docs").collect().head.getLong(0)
    assert(n == survivors.size.toLong,
      s"n_docs must count exactly the survivors: got $n, want ${survivors.size}")
    val queries = Seq((1L, Seq("spark", "hash")), (2L, Seq("fresh")))
      .toDF("query_id", "terms")
    def serve(p: String) = LexicalRetrieval.bm25TopKIndexed(spark, p, queries)
      .collect().map(_.toSeq).toSet
    assert(serve(idx) == serve(rebuilt),
      "racing writers must leave the index identical to a serial rebuild")
  }

  test("double-delete across batch ids cannot double-decrement the statistics") {
    import spark.implicits._
    val root = Files.createTempDirectory("bm25_spec_").toString
    val idx = s"$root/idx"
    val df = corpus.toDF("doc_id", "text")
    LexicalRetrieval.buildBm25Index(df, "doc_id", "text", idx, buckets = 8)
    LexicalRetrieval.deleteFromBm25Index(Seq(3L).toDF("doc_id"), "doc_id", idx, "e1")
    val once = LexicalRetrieval.bm25TopKIndexed(spark, idx,
      Seq((1L, Seq("spark", "hash"))).toDF("query_id", "terms"))
      .collect().map(_.toSeq).toSet
    // the same id again under a NEW batch id, plus an id the index never had
    LexicalRetrieval.deleteFromBm25Index(Seq(3L, 999L).toDF("doc_id"),
      "doc_id", idx, "e2")
    val twice = LexicalRetrieval.bm25TopKIndexed(spark, idx,
      Seq((1L, Seq("spark", "hash"))).toDF("query_id", "terms"))
      .collect().map(_.toSeq).toSet
    assert(once == twice,
      "re-deleting a tombstoned or unknown id must not change any statistic")
  }

  test("rrfFuse folds ranks exactly, handles missing arms, breaks ties by doc_id") {
    import spark.implicits._
    import graft.similarity.Similarity
    // arm A ranks docs 1,2,3; arm B ranks 2,1,4 — doc 3 and 4 each miss one arm
    val a = Seq((9L, 1L, 1L), (9L, 2L, 2L), (9L, 3L, 3L))
      .toDF("query_id", "doc_id", "rank")
    val b = Seq((9L, 2L, 1L), (9L, 1L, 2L), (9L, 4L, 3L))
      .toDF("query_id", "doc_id", "rank")
    def r(x: Long) = 1.0 / (60.0 + x.toDouble)
    def rrf(xs: Double*) = BigDecimal(xs.sum)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val out = Similarity.rrfFuse(Seq(a, b), k = 10)
      .select("doc_id", "rrf").as[(Long, Double)].collect().toMap
    assert(out(1L) == rrf(r(1), r(2)))
    assert(out(2L) == rrf(r(2), r(1)))
    assert(out(3L) == rrf(r(3)), "single-arm doc gets the other arm as 0.0")
    assert(out(4L) == rrf(r(3)))
    // 1 and 2 tie exactly (symmetric ranks), as do 3 and 4 -> doc_id order
    val ranked = Similarity.rrfFuse(Seq(a, b), k = 10)
      .select("rank", "doc_id").as[(Long, Long)].collect().sortBy(_._1)
    assert(ranked.toSeq == Seq((1L, 1L), (2L, 2L), (3L, 3L), (4L, 4L)))
  }

  test("appendGramIndex extends the gate; compactGramIndex folds duplicates") {
    import spark.implicits._
    val root = Files.createTempDirectory("gram_spec_").toString
    val idx = s"$root/grams"
    val bench1 = Seq((100L, "the quick brown fox jumps over the lazy dog"))
    val bench2 = Seq((101L, "pack my box with five dozen liquor jugs"),
      (102L, "the quick brown fox jumps over the lazy dog")) // dups bench1
    Dedup.buildGramIndex(bench1.toDF("doc_id", "text"), "doc_id", "text", idx)
    val probe = Seq((1L, "five dozen liquor jugs exactly")).toDF("doc_id", "text")
    def ratioOf = Dedup.contaminationRatioIndexed(probe, "doc_id", "text", idx)
      .select("ratio").collect().head.getDouble(0)
    assert(ratioOf == 0.0, "not contaminated against bench1 alone")
    Dedup.appendGramIndex(bench2.toDF("doc_id", "text"), "doc_id", "text",
      idx, "drop2")
    val after = ratioOf
    assert(after > 0.0, "bench2's grams must gate immediately after append")
    val preCompact = spark.read.parquet(IndexLifecycle.resolveIndexDir(idx)).count()
    Dedup.compactGramIndex(spark, idx)
    val postCompact = spark.read.parquet(IndexLifecycle.resolveIndexDir(idx)).count()
    assert(postCompact < preCompact, "cross-batch duplicate grams folded")
    assert(ratioOf == after, "compaction must not change any verdict")
  }

  test("contaminationRatioIndexed over a built gram index equals the direct form") {
    import spark.implicits._
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog"),
      (101L, "pack my box with five dozen liquor jugs"))
    val probe = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"), // fully contained
      (2L, "entirely novel text with no shared substrings!!"),
      (3L, "five dozen liquor jugs are heavy"))
    val root = Files.createTempDirectory("gram_spec_").toString
    val idx = s"$root/grams"
    Dedup.buildGramIndex(bench.toDF("doc_id", "text"), "doc_id", "text", idx)
    val direct = Dedup.contaminationRatio(bench.toDF("doc_id", "text"),
        probe.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(_.toSeq).toSet
    val indexed = Dedup.contaminationRatioIndexed(probe.toDF("doc_id", "text"),
        "doc_id", "text", idx)
      .collect().map(_.toSeq).toSet
    assert(indexed == direct)
    val full = indexed.find(_.head == 1L).get
    assert(full(3) == 1.0, s"doc 1 is fully contained: $full")
  }
}
