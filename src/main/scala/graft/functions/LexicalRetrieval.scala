package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Literal, Lower}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.core.IndexLifecycle
import GraftFunctions.{portableHash60, wsTokens}

/** Persisted BM25 index + fit-free multi-query serving — the LEXICAL face of
  * the ANN serving family ([[graft.similarity.Similarity.buildIvfadcIndex]] /
  * `ivfadcTopKIndexed`): retrieval over a 100 TB corpus cannot re-tokenize the
  * corpus per query batch, so the corpus statistics BM25 needs (postings, doc
  * frequencies, corpus length constants) are computed ONCE offline and every
  * query batch afterwards probes them fit-free. Mirrors the reference's
  * offline-artifact/online-request split (`real_time_inference.py:16-32`
  * serves from a prebuilt store) applied to text retrieval.
  *
  * Index layout under `indexPath` (all tables in the replay-idempotent
  * `batch=<id>` layout shared with the minhash/IVFADC indexes —
  * [[graft.core.IndexLifecycle.writeIndexBatch]]). CROSS-TABLE SNAPSHOT ISOLATION
  * at both mutation grains: compaction stages every table and commits them
  * together under ONE `FAMILY` pointer
  * ([[graft.core.IndexLifecycle.compactFamily]]), and an append/delete batch
  * becomes readable only at its [[graft.core.IndexLifecycle.commitVisibleBatch]] —
  * one atomic manifest rewrite after ALL its tables' partitions landed —
  * so a reader can never see postings at batch N with term-df at N−1, in
  * either direction:
  *
  *  - `postings/` — `(term_id, doc_id, tf, dl)` DIRECTORY-PARTITIONED BY
  *    `tb = pmod(term_id, buckets)` inside each batch dir: a query batch
  *    probes only its terms' buckets, so the scan reads |probed buckets| /
  *    `buckets` of the FILES, not just of the rows (the IVFADC
  *    cell-partitioned codes layout applied to postings). Doc length `dl` is
  *    DENORMALIZED into the posting row — the classic posting-with-norm
  *    search-engine layout — so serving never joins the corpus-sized doclen
  *    table (zero big-big joins on the request path). Terms are stored as
  *    PORTABLE 60-bit md5 ids ([[GraftFunctions.portableHash60]]) — every
  *    exchange and every file carries longs, never strings (the q127 rule),
  *    and any engine re-derives the id from the term.
  *  - `termdf/` — `(term_id, df)` per-batch PARTIALS. df is additive across
  *    batches under the incremental contract (each doc folds in through
  *    exactly one batch — the [[graft.dedup.Dedup.minhashLshIncremental]]
  *    new-docs-only rule), so serving sums the partials of just its probed
  *    terms; compaction folds partials physically.
  *  - `stats/` — the corpus constants `(n_docs, sum_dl, tb_buckets)` as
  *    per-batch SCALAR partials ([[graft.core.IndexLifecycle.writeScalars]]:
  *    one small `batch=<id>.scalars` file per batch, read on the driver with
  *    no Spark job), same additivity and the same visibility, compaction
  *    and retention rules as the parquet tables. They are observed on the
  *    doclens (or tombstone) write that already scans every doc
  *    (`Dataset.observe`). `tb_buckets` pins the bucket count the postings
  *    layout was built with (appends must agree or probe pruning would
  *    miss rows).
  *  - `doclens/` — `(doc_id, dl)`, one row per doc INCLUDING zero-token docs
  *    (which have no postings but count in the corpus constants). Never read
  *    on the request path; it exists so [[deleteFromBm25Index]] can erase a
  *    doc's statistics EXACTLY (a deleted empty doc must still decrement
  *    n_docs).
  *  - `tombstones/` — id-only `(doc_id)` deletion markers
  *    ([[deleteFromBm25Index]]); serving anti-joins them out of the postings
  *    scan until [[purgeBm25Index]] physically erases.
  *
  * Scoring keeps q174's cross-engine bit-reproducibility rules: RAW-ratio idf
  * `(n_docs − df + 0.5)/(df + 0.5)` (no `ln` — transcendentals differ in the
  * last ulp across engines; +, −, ×, / are IEEE correctly-rounded
  * everywhere), and the per-(query, doc) score folds its term contributions
  * in ASCENDING `term_id` ORDER via `sort_array` + the `aggregate` HOF —
  * never an arbitrary-order float sum. A fixed fold order is what an
  * independent engine (the DuckDB oracle replays it with
  * `list_sort`+`list_reduce`) can reproduce bit-for-bit; contributions are
  * strictly positive, so the 0.0 init adds nothing (`0.0 + c == c`). */
object LexicalRetrieval {

  /** Build (overwrite) the BM25 index for `docs`. Tokenization is the
    * [[TextAnalysis.bm25TopK]] contract: whitespace split of the lowercased
    * text; zero-token docs carry no postings but still count in the corpus
    * constants (their absence from every tf is exactly BM25's treatment). */
  def buildBm25Index(docs: DataFrame, id: String, text: String,
      indexPath: String, buckets: Int = 64): Unit = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    IndexLifecycle.withIndexWriter(indexPath) { // rebuild + manifest restart: one writer turn
      writeBm25Batch(docs, id, text, indexPath, "base", buckets, wholeIndex = true)
      // a rebuild is a NEW index generation: the previous one's markers are
      // cleared in place, and from here on an append's tables become
      // readable atomically, at its commitVisibleBatch
      IndexLifecycle.resetVisibleBatches(indexPath, markers = Seq("tombstones"))
    }
  }

  /** Fold a NEW doc batch into the index — the incremental serving story
    * (daily crawl drops fold in without re-tokenizing the corpus). All three
    * tables land in `batch=<batchId>` partitions, so a crash-retried or
    * replayed batch overwrites its own bytes instead of double-counting df
    * or the corpus constants. Docs must be NEW (the shared incremental
    * contract): a doc re-ingested through a second batch would double-count
    * itself in df/n_docs/sum_dl. */
  def appendBm25Index(newDocs: DataFrame, id: String, text: String,
      indexPath: String, batchId: String): Unit = IndexLifecycle.withIndexWriter(indexPath) {
    val buckets = readBuckets(indexPath)
    writeBm25Batch(newDocs, id, text, indexPath, batchId, buckets,
      wholeIndex = false)
  }

  /** Compact per-batch partitions: postings/doclens rewrite as-is (postings
    * still partitioned by `tb`), df partials FOLD into one row per term and
    * the scalar stats partials into one `base` partial — all tables swap in
    * under one family commit ([[graft.core.IndexLifecycle.compactFamily]]).
    * Folding drops df rows that sum to ≤ 0 (a fully-deleted term after a
    * purge). */
  def compactBm25Index(spark: SparkSession, indexPath: String): Unit =
    compactTables(spark, indexPath, identity)

  private def compactTables(spark: SparkSession, indexPath: String,
      erase: DataFrame => DataFrame): Unit =
    // all five tables (stats as scalars) fold under ONE family commit (one
    // CAS, no mixed versions for an overlapping reader —
    // IndexLifecycle.compactFamily). The
    // tombstone markers fold WITH the data: identity under a plain
    // compaction (pending markers survive into the new generation's base,
    // still hiding their docs), the purge's anti-join under a purge
    // (markers retire in the same CAS that erases their postings) — so
    // every generation carries its own marker view and a serve pinned at
    // the superseded generation keeps its pending deletes one full
    // retention cycle.
    IndexLifecycle.compactFamily(spark, indexPath, Seq(
      ("postings", erase, Seq("tb")),
      ("doclens", erase, Nil),
      ("termdf",
        (df: DataFrame) => df.groupBy("term_id").agg(sum(col("df")).as("df"))
          .filter(col("df") > 0), Nil),
      ("tombstones", erase, Nil)),
      scalars = Seq("stats" -> "tb_buckets"))

  /** Tombstone docs OUT of the index — the erasure path for lexical serving
    * ([[graft.similarity.Similarity.deleteFromIvfadcIndex]]'s semantic for
    * BM25, with one extra obligation the vector index doesn't have: BM25
    * scores depend on CORPUS STATISTICS, so hiding a doc's postings is not
    * enough — its contribution to df, n_docs and sum_dl must come out too,
    * or every surviving doc keeps being scored against a phantom corpus.
    * Erasure therefore writes NEGATIVE partials: the deleted docs' per-term
    * df counts and (n_docs, sum_dl) totals, negated, land as ordinary
    * `batch=<batchId>` partial rows that the serve-time sums fold in — the
    * additive-partials design makes deletion just another batch. Ids land in
    * replay-idempotent `tombstones/batch=<id>` partitions and serving
    * anti-joins them out of the postings scan (id-only narrow rows,
    * broadcast until purge). Already-tombstoned and never-indexed ids are
    * excluded when computing the decrements, so a double-delete (any batch
    * id) cannot double-decrement. Statistics come FROM THE INDEX (one
    * maintenance-class scan over postings + doclens), so the caller deletes
    * by id alone — no payload needed. */
  def deleteFromBm25Index(keys: DataFrame, id: String, indexPath: String,
      batchId: String): Unit = IndexLifecycle.withIndexWriter(indexPath) {
    // the lock spans the READS too: the decrements are computed by jobs
    // over the resolved layout's files, which a concurrent compaction's
    // post-flip cleanup would delete mid-read (writer-vs-writer — plain
    // serve reads stay lock-free under the quiet-reader contract)
    val spark = keys.sparkSession
    val buckets = readBuckets(indexPath)
    val ids = keys.select(col(id).cast("long").as("doc_id")).distinct()
    val known = IndexLifecycle.readVisibleTable(spark, indexPath, "doclens")
      .join(ids, Seq("doc_id"), "leftsemi")
    val fresh = readTombstones(spark, indexPath)
      .fold(known)(t => known.join(broadcast(t), Seq("doc_id"), "left_anti"))
      .persist()
    fresh.count(): Unit // feeds the df decrements AND the marker write
    // the negative corpus constants ride the marker write, which scans
    // every erased doc once
    val negStats = Observation()
    val markers = observeCorpus(fresh, negStats).select("doc_id")
    val negDf = IndexLifecycle.readVisibleTable(spark, indexPath, "postings")
      .join(fresh.select("doc_id"), Seq("doc_id"), "leftsemi")
      .groupBy("term_id").agg((-count(lit(1))).as("df"))
    IndexLifecycle.withIndexWriter(indexPath) {
      IndexLifecycle.inParallel(Seq(
        () => IndexLifecycle.writeIndexBatch(negDf, s"$indexPath/termdf", batchId),
        () => IndexLifecycle.writeIndexBatch(markers, s"$indexPath/tombstones", batchId)))
      IndexLifecycle.writeObservedScalars(s"$indexPath/stats", batchId, negStats, sign = -1L,
        Map("tb_buckets" -> buckets.toLong), wholeIndex = false)
      // atomic visibility: the markers and BOTH negative partials appear
      // together or not at all — a torn delete can no longer hide docs while
      // scoring against pre-deletion statistics
      IndexLifecycle.commitVisibleBatch(indexPath, batchId)
    }
    fresh.unpersist(false): Unit
  }

  /** Physical purge: ONE family commit rewrites postings + doclens with the
    * tombstone anti-join folded in, folds the df/stats partials (the
    * pending negative rows net out the erased docs' counts), and retires
    * the folded tombstone markers — all under the same CAS, so no reader
    * can see purged postings with pending markers or vice versa. Writers
    * serialize on the family lock, so no delete lands mid-purge; a crash
    * before the CAS changes nothing (surviving tombstones still anti-join)
    * and a retry completes.
    *
    * VERSION RETENTION caveat: the purge's rewrite erases the SERVING
    * layout immediately, but the superseded version (kept one cycle for
    * lock-free readers — WITH its own marker view, so a serve pinned
    * there keeps excluding the deleted docs) still holds the erased bytes
    * until the next compaction — for a complete physical erase NOW, follow
    * with [[graft.core.IndexLifecycle.vacuumIndex]] on each table (the
    * FeatureStore `deleteRecords → compactOffline → gcOnline` pattern). */
  def purgeBm25Index(spark: SparkSession, indexPath: String): Unit =
      IndexLifecycle.withIndexWriter(indexPath) {
    readTombstones(spark, indexPath) match {
      case Some(t0) =>
        val t = broadcast(t0)
        compactTables(spark, indexPath,
          erase = _.join(t, Seq("doc_id"), "left_anti"))
      case None => compactBm25Index(spark, indexPath)
    }
  }

  private def readTombstones(spark: SparkSession, indexPath: String,
      snap: Option[IndexLifecycle.FamilySnapshot] = None): Option[DataFrame] =
    IndexLifecycle.readMarkerTable(spark, indexPath, "tombstones", snapshot = snap)
      .map(_.select("doc_id").distinct())

  /** Serve a BATCH of queries fit-free from the persisted index.
    *
    * `queries` is `(query_id, terms array<string>)` and is small by the
    * serving contract (a request batch — the same boundedness the ANN family
    * assumes of its query side): it is collected once (a local frame
    * collects without a job), its terms are lowercased and hashed on the
    * driver ([[driverLower]], [[driverHash60]]; null terms match nothing),
    * and the resulting `(query_id, term_id)` rows are broadcast into the
    * probe join while their distinct term buckets prune the postings scan
    * STATICALLY — the probed `tb` directories are the only files listed.
    * The corpus constants are driver-side scalars entering the plan as
    * literals. Everything corpus-sized stays distributed: the pruned
    * postings scan, one (query, doc)-keyed aggregation, and a rank-limit
    * window (partial WindowGroupLimit) for the per-query top-k.
    *
    * @param maxDfPpm OPT-IN stop-term cap (1e6 = off): query terms whose
    *   document frequency exceeds `maxDfPpm`/1e6 of the corpus are dropped
    *   from scoring BEFORE their postings join — the WAND/MaxScore-lite
    *   scale lever. A stop word's posting list is corpus-sized; at 100 TB
    *   one such term in one query floods the exchange with rows whose BM25
    *   contribution is ~0 anyway (idf of an everywhere-term approaches
    *   (0.5)/(df+0.5)). The rule is exact integer algebra
    *   (`df × 1e6 ≤ maxDfPpm × n_docs`), so the oracle replays the cut.
    * @return (query_id, rank, doc_id, dl, score) — per query, the k
    *   highest-scoring docs, ties broken by doc_id; queries none of whose
    *   terms occur in the corpus return no rows */
  def bm25TopKIndexed(
      spark: SparkSession,
      indexPath: String,
      queries: DataFrame,
      id: String = "query_id",
      terms: String = "terms",
      k: Int = 10,
      k1: Double = 1.2,
      b: Double = 0.75,
      maxDfPpm: Long = 1000000L): DataFrame = {
    require(maxDfPpm >= 0L && maxDfPpm <= 1000000L,
      s"maxDfPpm must be in [0, 1e6], got $maxDfPpm")
    // ONE family snapshot for the whole serve: all four tables (and the
    // tombstone anti-join) resolve at the same generation under the same
    // manifest — a compaction committing mid-serve can no longer hand this
    // read postings of one generation and term-df of another (version
    // retention keeps the pinned generation's files alive)
    val snap = Some(IndexLifecycle.familySnapshot(indexPath))
    val stats = readStats(indexPath, snap)
    val buckets = stats("tb_buckets")
    val qtRows = queries.select(col(id), col(terms)).collect().toSeq.flatMap { r =>
      Option(r.getSeq[String](1)).getOrElse(Nil).filter(_ != null)
        .map(t => Row(r.get(0), driverHash60(driverLower(t))))
    }.distinct
    val termIds = qtRows.map(_.getLong(1)).distinct
    // a static isin on the partition column prunes the file listing itself —
    // no join needed to skip the unprobed 63/64ths of the postings files
    val tbs = termIds.map(_ % buckets).distinct
    if (tbs.isEmpty) {
      return spark.emptyDataFrame
        .select(lit(0L).as("query_id"), lit(0L).as("rank"),
          lit(0L).as("doc_id"), lit(0L).as("dl"), lit(0.0).as("score"))
        .limit(0)
    }
    val qt = spark.createDataFrame(java.util.Arrays.asList(qtRows: _*), StructType(Seq(
      queries.schema(id).copy(name = "query_id"), StructField("term_id", LongType, false))))
    val post0 = IndexLifecycle.readVisibleTable(spark, indexPath, "postings", snapshot = snap)
      .filter(col("tb").isin(tbs: _*))
      .join(broadcast(qt), Seq("term_id"))
    // pending erasures leave the scan hidden until purge (id-only narrow
    // rows — broadcast-sized; the negative df/stats partials those deletes
    // wrote fold into the same sums as every other batch, so the scores of
    // SURVIVING docs reflect the post-deletion corpus exactly)
    val post = readTombstones(spark, indexPath, snap)
      .fold(post0)(t => post0.join(broadcast(t), Seq("doc_id"), "left_anti"))
    val dfAgg = IndexLifecycle.readVisibleTable(spark, indexPath, "termdf", snapshot = snap)
      .filter(col("term_id").isin(termIds: _*))
      .groupBy("term_id").agg(sum(col("df")).as("df"))
    // the corpus constants enter as literals; the casts and IEEE
    // operations on them are the ones the oracle replays
    val nDocs = lit(stats("n_docs"))
    val sumDl = lit(stats("sum_dl"))
    // stop-term cut happens on the TINY df frame, and the inner join below
    // then drops the cut terms' posting rows at the broadcast probe — the
    // corpus-sized posting list of a stop word never reaches an exchange
    val dfKept =
      if (maxDfPpm >= 1000000L) dfAgg
      else dfAgg.filter(col("df") * lit(1000000L) <= lit(maxDfPpm) * nDocs)
    val scored = post
      .join(broadcast(dfKept), Seq("term_id"))
      .withColumn("idf",
        (nDocs.cast("double") - col("df").cast("double") + 0.5) /
          (col("df").cast("double") + 0.5))
      .withColumn("contrib",
        col("idf") * (col("tf").cast("double") * lit(k1 + 1.0)) /
          (col("tf").cast("double") + lit(k1) * (lit(1.0 - b) +
            lit(b) * (col("dl").cast("double") /
              (sumDl.cast("double") / nDocs.cast("double"))))))
    // ordered fold: contributions sorted by term_id, then summed left-to-
    // right from 0.0 — the multi-query generalization of q174's fixed-order
    // conditional aggregates (a literal CASE chain can't cover an arbitrary
    // query table; a sorted fold can, and the oracle replays it exactly)
    val folded = scored
      .groupBy("query_id", "doc_id", "dl")
      .agg(aggregate(
        sort_array(collect_list(struct(col("term_id").as("t"),
          col("contrib").as("c")))),
        lit(0.0),
        (acc, x) => acc + x.getField("c")).as("raw"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("doc_id").asc)
    folded
      .withColumn("score", round(col("raw"), 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "doc_id", "dl", "score")
  }

  /** EXACT PHRASE search over the positional postings — the query class
    * BM25's bag-of-words cannot answer ("spark shuffle service", not just
    * docs containing all three words somewhere). Classic positional
    * intersection: term i's positions shift by −i, and a common shifted
    * position is a phrase start. Everything is id-keyed and integral:
    *
    *  - each term's postings load bucket-pruned and term-filtered AT THE
    *    SCAN (a literal term_id equality — pushed filter + directory
    *    pruning), so the m frames are df-sized, never corpus-sized;
    *  - the m-way equi-join on doc_id touches only docs containing EVERY
    *    term (the rarest term bounds the join — WAND's intuition, exact);
    *  - `n_phrase` = |∩ shifted position arrays| — pure integer set
    *    algebra the oracle replays as an (doc_id, start) join-count.
    *
    * Tombstoned docs are excluded (the deletion contract applies to every
    * serving face of the index).
    *
    * @return (rank, doc_id, dl, n_phrase) — docs containing the phrase,
    *   ranked by occurrence count then doc_id */
  def phraseTopK(spark: SparkSession, indexPath: String,
      phrase: Seq[String], k: Int = 10): DataFrame =
    phraseMatches(spark, indexPath, phrase, k)
      .select("rank", "doc_id", "dl", "n_phrase")

  /** [[phraseTopK]] plus the sorted phrase START positions (`starts`) —
    * what [[phraseSnippets]] slices around. */
  private[graft] def phraseMatches(spark: SparkSession, indexPath: String,
      phrase: Seq[String], k: Int): DataFrame = {
    require(phrase.size >= 2 && phrase.size <= 8,
      "phraseTopK: 2..8 terms (each term is one narrow self-join arm)")
    val snap = Some(IndexLifecycle.familySnapshot(indexPath)) // one generation per serve
    val buckets = readStats(indexPath, snap)("tb_buckets")
    val ids = phrase.map(t => driverHash60(driverLower(t)))
    val tbs = ids.map(h => h % buckets).distinct
    val post0 = IndexLifecycle.readVisibleTable(spark, indexPath, "postings", snapshot = snap)
      .filter(col("tb").isin(tbs: _*))
    val post = readTombstones(spark, indexPath, snap)
      .fold(post0)(t => post0.join(broadcast(t), Seq("doc_id"), "left_anti"))
    val frames = phrase.indices.map { i =>
      val f = post.filter(col("term_id") === lit(ids(i)))
        .select(col("doc_id"), col("dl"),
          transform(col("positions"), p => p - i).as(s"__p$i"))
      if (i == 0) f else f.drop("dl")
    }
    val joined = frames.reduce((l, r) => l.join(r, Seq("doc_id")))
    val common = phrase.indices.map(i => col(s"__p$i"))
      .reduceLeft((a, b) => array_intersect(a, b))
    val w = Window.orderBy(col("n_phrase").desc, col("doc_id").asc)
    joined
      .withColumn("starts", sort_array(common))
      .withColumn("n_phrase", size(col("starts")).cast("long"))
      .filter(col("n_phrase") > 0)
      .orderBy(col("n_phrase").desc, col("doc_id").asc).limit(k)
      .withColumn("rank", row_number().over(w).cast("long"))
      .select("rank", "doc_id", "dl", "n_phrase", "starts")
  }

  /** Phrase hits WITH a display snippet — the retrieval result a human (or
    * an LLM context window) actually consumes. The separation of concerns
    * is the point at scale: the INDEX answers the phrase query (df-sized
    * arms, id-only result), and only the k winning ids touch the document
    * store — the k-row hit frame broadcasts into the docs scan, so the text
    * read is a semi-join, never a corpus shuffle. The snippet is the
    * `phrase.size + 2·context` tokens around the FIRST occurrence, sliced
    * with the same tokenizer the index was built with. */
  def phraseSnippets(spark: SparkSession, indexPath: String,
      docs: DataFrame, id: String, text: String,
      phrase: Seq[String], k: Int = 10, context: Int = 3): DataFrame = {
    require(context >= 0, s"context must be >= 0, got $context")
    val hits = phraseMatches(spark, indexPath, phrase, k)
      .withColumn("first_start", element_at(col("starts"), 1))
      .select("rank", "doc_id", "n_phrase", "first_start")
    docs.select(col(id).as("doc_id"), wsTokens(lower(col(text))).as("__toks"))
      .join(broadcast(hits), Seq("doc_id"))
      .withColumn("__from", greatest(col("first_start") - context, lit(0)))
      .withColumn("snippet", concat_ws(" ",
        slice(col("__toks"), col("__from") + 1, lit(phrase.size + 2 * context))))
      .select("rank", "doc_id", "n_phrase", "snippet")
  }

  /** Proximity (NEAR) search: docs where two terms occur within `window`
    * tokens of each other, in either order — the relevance signal between
    * bag-of-words and exact phrase ("spark" NEAR "shuffle" admits "spark's
    * external shuffle"). Same df-sized arms as [[phraseTopK]]; the per-doc
    * pair count is an O(tf_A × tf_B) HOF over the two position arrays —
    * bounded by in-document term counts, never corpus-shaped — and the
    * oracle replays it as a range-join count. Tombstones excluded. */
  def proximityTopK(spark: SparkSession, indexPath: String,
      termA: String, termB: String, window: Int, k: Int = 10): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    require(driverLower(termA) != driverLower(termB),
      "proximityTopK: distinct terms (same-term distance is trivially 0)")
    val ids = Seq(termA, termB).map(t => driverHash60(driverLower(t)))
    val snap = Some(IndexLifecycle.familySnapshot(indexPath)) // one generation per serve
    val buckets = readStats(indexPath, snap)("tb_buckets")
    val tbs = ids.map(_ % buckets).distinct
    val post0 = IndexLifecycle.readVisibleTable(spark, indexPath, "postings", snapshot = snap)
      .filter(col("tb").isin(tbs: _*))
    val post = readTombstones(spark, indexPath, snap)
      .fold(post0)(t => post0.join(broadcast(t), Seq("doc_id"), "left_anti"))
    val a = post.filter(col("term_id") === lit(ids(0)))
      .select(col("doc_id"), col("dl"), col("positions").as("__pa"))
    val b = post.filter(col("term_id") === lit(ids(1)))
      .select(col("doc_id"), col("positions").as("__pb"))
    val nNear = aggregate(
      transform(col("__pa"),
        p => size(filter(col("__pb"), q => abs(q - p) <= lit(window)))),
      lit(0), (acc, x) => acc + x).cast("long")
    val w = Window.orderBy(col("n_near").desc, col("doc_id").asc)
    a.join(b, Seq("doc_id"))
      .withColumn("n_near", nNear)
      .filter(col("n_near") > 0)
      .orderBy(col("n_near").desc, col("doc_id").asc).limit(k)
      .withColumn("rank", row_number().over(w).cast("long"))
      .select("rank", "doc_id", "dl", "n_near")
  }

  /** One-pass WATCHLIST phrase scan — every phrase of a (small) watchlist
    * matched against every document in a single tokenize pass, NO index
    * needed: the content-compliance / brand-safety primitive that runs at
    * ingest, where the corpus streams past once and the watchlist is the
    * small side. The trick that makes all phrases one pass: the watchlist
    * unrolls to broadcast rows `(phrase_id, term_idx, term_id)`; each doc
    * token joins them (map-side — only watch terms survive the broadcast
    * hash join) and proposes the phrase START `pos − term_idx`; a start
    * where ALL `m` term indices showed up is a match (`count(distinct
    * term_idx) = m`). Both aggregations are narrow (doc, phrase, start)
    * long-keyed rows; text never shuffles.
    *
    * @param phrases the watchlist (each 1..8 lowercase terms)
    * @return (doc_id, phrase_id, n_phrase) — one row per doc × matched
    *   phrase, with the exact occurrence count */
  def phraseScan(docs: DataFrame, id: String, text: String,
      phrases: Seq[Seq[String]]): DataFrame = {
    require(phrases.nonEmpty && phrases.forall(p => p.nonEmpty && p.size <= 8),
      "phraseScan: nonempty watchlist of 1..8-term phrases")
    val spark = docs.sparkSession
    import spark.implicits._
    val watch = phrases.zipWithIndex.flatMap { case (p, pid) =>
      p.zipWithIndex.map { case (t, i) =>
        (pid.toLong, i, driverHash60(driverLower(t)))
      }
    }.toDF("phrase_id", "term_idx", "term_id")
    val plen = phrases.zipWithIndex
      .map { case (p, pid) => (pid.toLong, p.size.toLong) }
      .toDF("phrase_id", "m")
    val tok = docs
      .select(col(id).as("doc_id"),
        posexplode(wsTokens(lower(col(text)))).as(Seq("pos", "term")))
      .select(col("doc_id"), col("pos"), portableHash60(col("term")).as("term_id"))
    val starts = tok
      .join(broadcast(watch), Seq("term_id"))
      .select(col("doc_id"), col("phrase_id"),
        (col("pos") - col("term_idx")).as("sp"), col("term_idx"))
      .groupBy("doc_id", "phrase_id", "sp")
      .agg(countDistinct(col("term_idx")).as("__seen"))
      .join(broadcast(plen), Seq("phrase_id"))
      .filter(col("__seen") === col("m"))
    starts.groupBy("doc_id", "phrase_id")
      .agg(count(lit(1)).as("n_phrase"))
  }

  /** Index introspection — the numbers an operator checks before trusting a
    * serving index (is the corpus all here? how big is the vocabulary? are
    * deletes pending?). One row; every statistic folds from the persisted
    * tables (df and stats partials sum — so pending deletions' NEGATIVE
    * partials are already netted out, and the numbers describe the LOGICAL
    * corpus the serve path scores against, not the physical bytes). */
  def describeBm25Index(spark: SparkSession, indexPath: String): DataFrame = {
    val snap = Some(IndexLifecycle.familySnapshot(indexPath)) // one generation per read
    val stats = readStats(indexPath, snap)
    val termdf = IndexLifecycle.readVisibleTable(spark, indexPath, "termdf", snapshot = snap)
      .groupBy("term_id").agg(sum(col("df")).as("df"))
      .filter(col("df") > 0)
      .agg(count(lit(1)).as("n_terms"), sum(col("df")).as("n_postings"))
    val pendingTombstones = readTombstones(spark, indexPath, snap)
      .map(_.count()).getOrElse(0L)
    termdf
      .withColumn("n_docs", lit(stats("n_docs")))
      .withColumn("sum_dl", lit(stats("sum_dl")))
      .withColumn("tb_buckets", lit(stats("tb_buckets")))
      .withColumn("pending_tombstones", lit(pendingTombstones))
      .select("n_docs", "sum_dl", "n_terms", "n_postings", "tb_buckets",
        "pending_tombstones")
  }

  /** Driver-side twin of [[GraftFunctions.portableHash60]] — the query side
    * hashes its literal terms without a Spark job. */
  private def driverHash60(s: String): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.take(15), 16)
  }

  /** Spark's own `lower`, evaluated on the driver: the index lowercases
    * with it, so a driver-hashed query term matches the indexed term
    * under any JVM default locale (`String.toLowerCase` would follow the
    * locale — Turkish maps "I" to dotless "ı"). */
  private[graft] def driverLower(s: String): String = Lower(Literal(s)).eval().toString

  /** The corpus constants `n_docs`, `sum_dl` and `tb_buckets` folded over
    * the visible scalar partials — no Spark job. Every batch must agree on
    * `tb_buckets` (probe pruning reads only the computed buckets, so a
    * mixed layout would silently drop postings). */
  private def readStats(indexPath: String,
      snap: Option[IndexLifecycle.FamilySnapshot] = None): Map[String, Long] =
    IndexLifecycle.readScalars(indexPath, "stats", "tb_buckets", snap)

  private def readBuckets(indexPath: String): Int = readStats(indexPath)("tb_buckets").toInt

  /** `df` with its doc count and token total observed as `n_docs` and
    * `sum_dl` — metrics of the one action that consumes the result. */
  private def observeCorpus(df: DataFrame, obs: Observation): DataFrame =
    df.observe(obs, count(lit(1)).as("n_docs"), coalesce(sum(col("dl")), lit(0L)).as("sum_dl"))

  private def writeBm25Batch(docs: DataFrame, id: String, text: String,
      indexPath: String, batchId: String, buckets: Int,
      wholeIndex: Boolean): Unit = {
    val tokd = docs
      .select(col(id).as("doc_id"), wsTokens(lower(col(text))).as("toks"))
      .select(col("doc_id"), col("toks"),
        size(col("toks")).cast("long").as("dl"))
      .persist()
    tokd.count(): Unit // ONE tokenize pass feeds doclens AND postings
    // the corpus constants ride the doclens write, which scans every doc
    // once (zero-token docs included)
    val stats = Observation()
    val doclens = observeCorpus(tokd.select("doc_id", "dl"), stats)
    // POSITIONAL postings (the Lucene layout): `positions` holds the sorted
    // 0-based token offsets of each (term, doc) — what phrase and proximity
    // queries ([[phraseTopK]]) intersect; |positions| = tf, so the column
    // is bounded by the data it describes. BM25 serving never reads it
    // (column pruning keeps the scan narrow — parquet is columnar).
    val postings = tokd
      .select(col("doc_id"), col("dl"), posexplode(col("toks")).as(Seq("pos", "term")))
      .select(col("doc_id"), col("dl"), col("pos").cast("int").as("pos"),
        portableHash60(col("term")).as("term_id"))
      .groupBy("term_id", "doc_id", "dl")
      .agg(count(lit(1)).as("tf"),
        sort_array(collect_list(col("pos"))).as("positions"))
      .withColumn("tb", pmod(col("term_id"), lit(buckets.toLong)))
      .persist()
    postings.count(): Unit // staged: feeds the postings write AND termdf
    val termdf = postings.groupBy("term_id").agg(count(lit(1)).as("df"))
    IndexLifecycle.withIndexWriter(indexPath) {
      IndexLifecycle.inParallel(Seq(
        () => IndexLifecycle.writeIndexBatch(postings, s"$indexPath/postings", batchId,
          wholeIndex, partitionCols = Seq("tb")),
        () => IndexLifecycle.writeIndexBatch(termdf, s"$indexPath/termdf", batchId,
          wholeIndex),
        () => IndexLifecycle.writeIndexBatch(doclens, s"$indexPath/doclens", batchId,
          wholeIndex)))
      IndexLifecycle.writeObservedScalars(s"$indexPath/stats", batchId, stats, sign = 1L,
        Map("tb_buckets" -> buckets.toLong), wholeIndex)
      // the COMMIT of a multi-table append: all four tables' partitions are
      // on disk — one atomic manifest rewrite makes the batch visible in all
      // of them at once (a crash before this line leaves it invisible; the
      // same-id retry overwrites the partitions and commits)
      if (!wholeIndex) IndexLifecycle.commitVisibleBatch(indexPath, batchId)
    }
    postings.unpersist(false): Unit
    tokd.unpersist(false): Unit
  }
}
