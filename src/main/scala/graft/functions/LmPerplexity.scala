package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.IndexLifecycle
import GraftFunctions.{portableHash60, wsTokensFused}
import PortableMath.lnPosLong

/** N-gram language-model perplexity filtering — the CCNet signal (Wenzek et
  * al. 2020: filter a crawl by the perplexity of a LM trained on trusted
  * text), closing the seam [[TextAnalysis.charBigramCoverage]] documented
  * ("the CCNet-perplexity seam: swap the top-N table for scored LM
  * n-grams"). The LM is a Laplace-smoothed token BIGRAM model:
  *
  *   p(w₂ | w₁) = (c(w₁w₂) + 1) / (c_ctx(w₁) + V)
  *
  * with `c_ctx(w₁)` = bigram positions whose first token is w₁ (= Σ over
  * c(w₁·)) and `V` = distinct training tokens. A document's score is its
  * per-token log-perplexity `−(Σ ln p) / n_bigrams` — LOWER is more fluent
  * under the training distribution.
  *
  * **Exactly oracle-checkable log-space scores.** Every probability is a
  * RATIO OF INTEGERS (counts + smoothing), so each `ln p = ln(num) − ln(den)`
  * goes through [[PortableMath.lnPosLong]] — the fixed IEEE evaluation tree
  * an external engine replays bit-for-bit — and the per-document sum folds
  * in ascending POSITION order (`sort_array` + `aggregate`, the
  * [[LexicalRetrieval]] ordered-fold rule; the oracle replays it with
  * `list_sort` + `list_reduce`). This is real perplexity under the repo's
  * cross-engine bit-reproducibility contract, not a proxy.
  *
  * **Shape at 100 TB.** Token pairs travel as portable 60-bit ids
  * ([[GraftFunctions.portableHash60]] of `w₁w₂` — the q127 narrow-
  * exchange rule; a 60-bit merge of two bigrams perturbs two counts by one,
  * mirrored identically by the oracle). Training is one tokenize pass →
  * one narrow (bg_id, ctx_id) explode → combinable counts; context counts
  * are a SECOND-LEVEL aggregation of the bigram counts (no second text
  * pass). Scoring joins the score-side bigram rows to the count tables on
  * 8-byte keys (shuffle equi-joins AQE can plan; the model is
  * vocabulary-sized, not corpus-sized) and folds per doc — text itself
  * never shuffles. The persisted form ([[buildLmIndex]]) stores the counts
  * as additive per-batch partials in the shared `batch=` /
  * versioned-compaction / atomic-CURRENT layout, so daily batches fold in
  * fit-free ([[appendLmIndex]]) and serving ([[perplexityIndexed]]) prunes
  * the bigram scan to the request batch's hash buckets — the
  * [[LexicalRetrieval.bm25TopKIndexed]] probe discipline applied to LM
  * scoring.
  */
object LmPerplexity {

  /** `(doc_id, toks)` — the one tokenize projection every pass shares.
    * Callers persist it: each consumer below touches the staged attribute,
    * never a re-evaluated tokenization (the no-CSE trap). */
  private def tokd(docs: DataFrame, id: String, text: String): DataFrame =
    docs.select(col(id).cast("long").as("doc_id"),
      wsTokensFused(lower(col(text))).as("toks")) // fused tokenizer: A/B-adjudicated win on this pass (r13-opt)

  private val BgRowType = "array<struct<pos:int,bg_id:bigint,ctx_id:bigint>>"

  /** Exploded bigram rows `(doc_id, pos, bg_id, ctx_id)` from a STAGED
    * token frame — a doc with fewer than 2 tokens contributes no rows. */
  private[graft] def bigramRows(tokdStaged: DataFrame): DataFrame =
    // fused single-pass bigram hashing (PortableHashRows, bit-identical to
    // the transform/concat/portableHash60 composition it replaced)
    tokdStaged.select(col("doc_id"),
      explode(PortableHashRows.lmBigramRows(col("toks"))).as("bg"))
      .select(col("doc_id"), col("bg.pos").as("pos"),
        col("bg.bg_id").as("bg_id"), col("bg.ctx_id").as("ctx_id"))

  /** Score STAGED score-side frames against model count frames.
    * @param bgC  (bg_id, c_bg) bigram counts
    * @param ctxC (ctx_id, c_ctx) context counts
    * @param v distinct training tokens — a DRIVER-KNOWN scalar (one
    *   vocabulary-count job), embedded as a literal so the smoothing
    *   denominator codegens inside the scan with NO join at all (a one-row
    *   crossJoin would plan a BroadcastNestedLoopJoin for nothing) */
  private def scoreStaged(scTokd: DataFrame, scBg: DataFrame,
      bgC: DataFrame, ctxC: DataFrame, v: Long): DataFrame = {
    require(v > 0, "LM scoring needs a non-empty training vocabulary " +
      "(V = 0 would put ln(0) in every smoothing denominator)")
    val scored = scBg
      .join(bgC, Seq("bg_id"), "left")
      .join(ctxC, Seq("ctx_id"), "left")
      .withColumn("lp",
        lnPosLong(coalesce(col("c_bg"), lit(0L)) + lit(1L)) -
          lnPosLong(coalesce(col("c_ctx"), lit(0L)) + lit(v)))
    // ordered fold: ln-contributions sorted by token position, summed
    // left-to-right from 0.0 (0.0 + c == c exactly; lp is never -0.0 —
    // equal num/den lns subtract to +0.0)
    val sums = scored.groupBy("doc_id").agg(
      aggregate(
        sort_array(collect_list(struct(col("pos").as("t"), col("lp").as("c")))),
        lit(0.0),
        (acc, x) => acc + x.getField("c")).as("__sum"),
      count(lit(1)).as("n_bigrams"))
    scTokd.select(col("doc_id"))
      .join(sums, Seq("doc_id"), "left")
      .withColumn("n_bigrams", coalesce(col("n_bigrams"), lit(0L)))
      .withColumn("logppl", when(col("n_bigrams") > 0,
        round((-col("__sum")) / col("n_bigrams").cast("double"), 6)))
      .select("doc_id", "n_bigrams", "logppl")
  }

  /** One-shot: train the bigram LM on `train`, score every `score` doc.
    * @return (doc_id, n_bigrams, logppl) — logppl NULL when the doc has no
    *   bigram (fewer than 2 tokens: the model cannot assess it) */
  def perplexity(train: DataFrame, score: DataFrame,
      id: String, text: String): DataFrame = {
    val trTokd = tokd(train, id, text).persist()
    trTokd.count(): Unit // ONE tokenize pass feeds V AND the bigram counts
    val v = trTokd
      .select(explode(col("toks")).as("t"))
      .select(portableHash60(col("t")).as("tok_id"))
      .agg(countDistinct(col("tok_id")).as("v"))
      .first().getLong(0)
    val bgC = bigramRows(trTokd)
      .groupBy("bg_id", "ctx_id").agg(count(lit(1)).as("c_bg"))
      .persist() // feeds the score join AND the context second-level agg
    bgC.count(): Unit
    val ctxC = bgC.groupBy("ctx_id").agg(sum(col("c_bg")).as("c_ctx"))
    val scTokd = tokd(score, id, text).persist()
    scTokd.count(): Unit // feeds the bigram explode AND the zero-bigram join
    // fold to ONE row per bg_id before scoring (matching the indexed
    // path's fold): under a 60-bit bg_id collision between bigrams with
    // different first tokens, the score-side join on bg_id alone would
    // otherwise duplicate rows per position — inflating n_bigrams and
    // breaking the one-shot/indexed bit-identity contract
    val out = scoreStaged(scTokd, bigramRows(scTokd),
      bgC.groupBy("bg_id").agg(sum(col("c_bg")).as("c_bg")), ctxC, v)
    val result = out.localCheckpoint(eager = true)
    scTokd.unpersist(false): Unit
    bgC.unpersist(false): Unit
    trTokd.unpersist(false): Unit
    result
  }

  /** CCNet's head/middle/tail corpus partition: every scoreable doc ranks
    * by [[perplexity]] ascending (most-fluent first) and the ranking cuts
    * into three equal buckets — the selection rule CCNet trains on (keep
    * head+middle, drop tail, or mix them with different weights).
    *
    * The rank is a DISTRIBUTED exact prefix count
    * ([[graft.operators.PrefixScan.runningTotal]] — range repartition +
    * per-partition windows, never one global window task), and the bucket
    * rule is exact integer algebra (`rank×3 ≤ n`, `rank×3 ≤ 2n`) — both
    * oracle-replayable. Docs with no bigram are excluded (they carry no
    * score to rank).
    *
    * @return (doc_id, n_bigrams, logppl, ppl_rank, bucket) */
  def perplexityTerciles(train: DataFrame, corpus: DataFrame,
      id: String, text: String): DataFrame = {
    val scored = perplexity(train, corpus, id, text)
      .filter(col("n_bigrams") > 0)
    val ranked = graft.operators.PrefixScan.runningTotal(scored,
      Seq(col("logppl").asc, col("doc_id").asc), lit(1L), "ppl_rank")
    val n = ranked.agg(count(lit(1)).as("__n"))
    ranked.crossJoin(broadcast(n))
      .withColumn("bucket",
        when(col("ppl_rank") * 3 <= col("__n"), lit("head"))
          .when(col("ppl_rank") * 3 <= col("__n") * 2, lit("middle"))
          .otherwise(lit("tail")))
      .select("doc_id", "n_bigrams", "logppl", "ppl_rank", "bucket")
  }

  // ------------------------------------------------------------------
  // persisted LM index — additive count partials in the shared batch=/
  // versioned-compaction/atomic-CURRENT layout
  //
  //   bigrams/    (bg_id, ctx_id, c) partitioned by bb = pmod(bg_id, buckets)
  //   contexts/   (ctx_id, c)
  //   unigrams/   (tok_id, c)       — V = rows with folded c > 0
  //   stats/      n_docs, n_bigrams, bb_buckets — per-batch SCALAR
  //               partials (IndexLifecycle.writeScalars), observed on the
  //               docs/tombstones write and read on the driver, no job
  //   docs/       (doc_id)          — membership; never read on the score
  //                                   path, exists so deletion can refuse
  //                                   unknown ids and double-deletes
  //   tombstones/ (doc_id)          — pending deletions (guard only: count
  //                                   tables carry no per-doc rows to hide)
  // ------------------------------------------------------------------

  /** Build (overwrite) the persisted LM from `docs`. */
  def buildLmIndex(docs: DataFrame, id: String, text: String,
      indexPath: String, buckets: Int = 64): Unit = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    IndexLifecycle.withIndexWriter(indexPath) { // rebuild + manifest restart: one writer turn
      writeLmBatch(docs, id, text, indexPath, "base", buckets, wholeIndex = true)
      // a rebuild is a NEW generation: the previous one's markers, which
      // would make deleteFromLmIndex's already-deleted check skip legitimate
      // unlearns of re-ingested docs, are cleared in place; from here on an
      // append's or unlearn's five tables become readable atomically, at
      // commitVisibleBatch
      IndexLifecycle.resetVisibleBatches(indexPath, markers = Seq("tombstones"))
    }
  }

  /** Fold a NEW doc batch into the LM — every table is an additive count,
    * so incremental training is just another partial batch (the
    * [[LexicalRetrieval.appendBm25Index]] contract: docs must be new; a
    * re-ingested doc would double-count itself). */
  def appendLmIndex(newDocs: DataFrame, id: String, text: String,
      indexPath: String, batchId: String): Unit = IndexLifecycle.withIndexWriter(indexPath) {
    val buckets = readBuckets(indexPath)
    writeLmBatch(newDocs, id, text, indexPath, batchId, buckets,
      wholeIndex = false)
  }

  /** Fold per-batch partials into one row per key under a new version dir,
    * committed for ALL FIVE tables by one family CAS
    * ([[graft.core.IndexLifecycle.compactFamily]] — an overlapping reader can never
    * see bigrams at version N with contexts at N−1). Pending deletions'
    * NEGATIVE partials net out physically here; a count folded to ≤ 0 (a
    * fully-unlearned n-gram) drops its row — V and the bigram-type count
    * shrink exactly as a rebuild-without-the-deleted-docs would produce. */
  def compactLmIndex(spark: SparkSession, indexPath: String,
      eraseDocs: DataFrame => DataFrame = identity): Unit = {
    val buckets = readBuckets(indexPath)
    IndexLifecycle.compactFamily(spark, indexPath, Seq(
      ("bigrams",
        (df: DataFrame) => df.groupBy("bg_id", "ctx_id")
          .agg(sum(col("c")).as("c")).filter(col("c") > 0)
          .withColumn("bb", pmod(col("bg_id"), lit(buckets.toLong))),
        Seq("bb")),
      ("contexts",
        (df: DataFrame) => df.groupBy("ctx_id")
          .agg(sum(col("c")).as("c")).filter(col("c") > 0), Nil),
      ("unigrams",
        (df: DataFrame) => df.groupBy("tok_id")
          .agg(sum(col("c")).as("c")).filter(col("c") > 0), Nil),
      ("docs",
        (df: DataFrame) => eraseDocs(df.select("doc_id").distinct()), Nil),
      // the marker table folds WITH the counts: identity under a plain
      // compaction (pending unlearn markers survive into the new
      // generation's base), the purge's anti-join under a purge (markers
      // retire in the same CAS that nets out their counts) — every
      // generation carries its own marker view
      ("tombstones", eraseDocs, Nil)),
      scalars = Seq("stats" -> "bb_buckets"))
  }

  /** UNLEARN documents from the LM — the [[LexicalRetrieval.deleteFromBm25Index]]
    * erasure semantic for a count model (a store that forgets a user but
    * whose LM still scores their prose as maximally fluent has not
    * forgotten them). The count tables carry no per-doc rows to hide, so
    * erasure is PURELY the negative-partials move: the deleted docs'
    * unigram/bigram/context counts and (n_docs, n_bigrams) totals, negated,
    * land as ordinary `batch=` partial rows that every serve-time fold nets
    * out — scores reflect the post-deletion corpus IMMEDIATELY, no purge
    * needed for correctness (compaction erases physically).
    *
    * The caller passes the documents WITH TEXT: unlike BM25's postings, a
    * count model cannot reconstruct one doc's contribution, so deletion
    * retracts the payload as ingested (the CDC-retraction contract; a
    * drifted payload is the caller's bug). Unknown ids and already-deleted
    * ids are EXCLUDED via the membership/tombstone tables, so a
    * double-delete (any batch id) cannot double-decrement. */
  def deleteFromLmIndex(docs: DataFrame, id: String, text: String,
      indexPath: String, batchId: String): Unit = IndexLifecycle.withIndexWriter(indexPath) {
    // full-span lock (reads included): the decrements are computed by jobs
    // over the resolved layout's files, which a concurrent compaction's
    // cleanup would delete mid-read — the LexicalRetrieval.deleteFromBm25Index
    // rationale
    val spark = docs.sparkSession
    val buckets = readBuckets(indexPath)
    val member = IndexLifecycle.readVisibleTable(spark, indexPath, "docs")
      .select(col("doc_id").as("__known_id"))
    val known = docs.join(member,
      docs(id).cast("long") === col("__known_id"), "left_semi")
    // exclude THIS batch's tombstones from the already-deleted check: the
    // five partial writes below are not atomic as a group, so a crash can
    // land the tombstones batch without all negative count partials — a
    // replay of the same batchId must recompute and overwrite all five
    // (the partition-exclusion discipline every replay-safe reader uses),
    // not anti-join the docs away against its own half-landed attempt
    val fresh0 = readTombstones(spark, indexPath, excludeBatch = Some(batchId))
      .fold(known)(t => known.join(
        broadcast(t.select(col("doc_id").as("__ts_id"))),
        known(id).cast("long") === col("__ts_id"), "left_anti"))
    val tk = tokd(fresh0, id, text).persist()
    tk.count(): Unit // ONE tokenize pass feeds all four negative partials
    // the negative stats ride the marker write, which scans every doc once
    val negStats = Observation()
    val markers = observeCorpus(tk, negStats).select(col("doc_id"))
    val negUnigrams = tk.select(explode(col("toks")).as("t"))
      .select(portableHash60(col("t")).as("tok_id"))
      .groupBy("tok_id").agg((-count(lit(1))).as("c"))
    val negBg = bigramRows(tk)
      .groupBy("bg_id", "ctx_id").agg((-count(lit(1))).as("c"))
      .persist()
    negBg.count(): Unit
    val negContexts = negBg.groupBy("ctx_id").agg(sum(col("c")).as("c"))
    IndexLifecycle.withIndexWriter(indexPath) {
      IndexLifecycle.inParallel(Seq(
        () => IndexLifecycle.writeIndexBatch(
          negBg.withColumn("bb", pmod(col("bg_id"), lit(buckets.toLong))),
          s"$indexPath/bigrams", batchId, partitionCols = Seq("bb")),
        () => IndexLifecycle.writeIndexBatch(negContexts, s"$indexPath/contexts", batchId),
        () => IndexLifecycle.writeIndexBatch(negUnigrams, s"$indexPath/unigrams", batchId),
        () => IndexLifecycle.writeIndexBatch(markers, s"$indexPath/tombstones", batchId)))
      IndexLifecycle.writeObservedScalars(s"$indexPath/stats", batchId, negStats, sign = -1L,
        Map("bb_buckets" -> buckets.toLong), wholeIndex = false)
      // atomic visibility: markers and ALL four negative count partials
      // appear together — a torn unlearn can no longer hide docs while the
      // model still scores with their counts
      IndexLifecycle.commitVisibleBatch(indexPath, batchId)
    }
    negBg.unpersist(false): Unit
    tk.unpersist(false): Unit
  }

  /** Physical erasure: ONE family commit folds the pending negative
    * partials into the count tables, drops unlearned docs from the
    * membership table, and retires the folded tombstone markers — all
    * under the same CAS ([[LexicalRetrieval.purgeBm25Index]] contract).
    * Writers serialize on the family lock, so no unlearn lands mid-purge;
    * a crash before the CAS changes nothing (the negative partials keep
    * folding at serve time) and a retry completes. A re-delete of a
    * purged id is a no-op through the membership check. Version retention:
    * the superseded version holds the unlearned bytes (and its own marker
    * view) one more cycle — [[graft.core.IndexLifecycle.vacuumIndex]] per table
    * for an immediate full erase (the purgeBm25Index caveat). */
  def purgeLmIndex(spark: SparkSession, indexPath: String): Unit =
      IndexLifecycle.withIndexWriter(indexPath) {
    readTombstones(spark, indexPath) match {
      case Some(t0) =>
        val t = broadcast(t0)
        compactLmIndex(spark, indexPath,
          eraseDocs = _.join(t, Seq("doc_id"), "left_anti"))
      case None => compactLmIndex(spark, indexPath)
    }
  }

  private def readTombstones(spark: SparkSession, indexPath: String,
      excludeBatch: Option[String] = None): Option[DataFrame] =
    IndexLifecycle.readMarkerTable(spark, indexPath, "tombstones", excludeBatch)
      .map(_.select("doc_id").distinct())

  /** Score `docs` FIT-FREE against the persisted LM. The request batch's
    * distinct bigram hash buckets are collected (≤ `buckets` values — a
    * bounded driver collect by contract) and prune the bigram scan's FILE
    * LISTING statically, so a small scoring batch reads only its share of
    * the model — the [[LexicalRetrieval.bm25TopKIndexed]] probe discipline.
    * Scores equal [[perplexity]] trained on the same corpus bit-for-bit
    * (the counts are the same integers wherever they are stored). */
  def perplexityIndexed(spark: SparkSession, indexPath: String,
      docs: DataFrame, id: String, text: String): DataFrame = {
    val (out, release) = perplexityIndexedStaged(spark, indexPath, docs, id, text)
    val result = out.localCheckpoint(eager = true)
    release()
    result
  }

  /** [[perplexityIndexed]] WITHOUT the final checkpoint — the staged plan
    * stays inspectable (PlanPropertiesSpec gates the bucket-pruned scan and
    * the equi-join shapes on it). Caller must invoke `release` after the
    * last action on the returned frame. */
  private[graft] def perplexityIndexedStaged(spark: SparkSession,
      indexPath: String, docs: DataFrame, id: String,
      text: String): (DataFrame, () => Unit) = {
    // ONE family snapshot for the whole serve: all four count tables
    // resolve at the same generation under the same manifest (the
    // bm25TopKIndexed discipline)
    val snap = Some(IndexLifecycle.familySnapshot(indexPath))
    val buckets = readStats(indexPath, snap)("bb_buckets")
    val scTokd = tokd(docs, id, text).persist()
    scTokd.count(): Unit
    val scBg = bigramRows(scTokd).persist()
    scBg.count(): Unit // feeds the bucket probe AND the score join
    val bbs = scBg.select(pmod(col("bg_id"), lit(buckets)).as("bb"))
      .distinct().collect().map(_.getLong(0))
    val bgC =
      if (bbs.isEmpty)
        spark.emptyDataFrame.select(lit(0L).as("bg_id"), lit(0L).as("c_bg")).limit(0)
      else IndexLifecycle.readVisibleTable(spark, indexPath, "bigrams", snapshot = snap)
        .filter(col("bb").isin(bbs: _*))
        .groupBy("bg_id").agg(sum(col("c")).as("c_bg"))
    val ctxC = IndexLifecycle.readVisibleTable(spark, indexPath, "contexts", snapshot = snap)
      .groupBy("ctx_id").agg(sum(col("c")).as("c_ctx"))
    val v = IndexLifecycle.readVisibleTable(spark, indexPath, "unigrams", snapshot = snap)
      .groupBy("tok_id").agg(sum(col("c")).as("c")).filter(col("c") > 0)
      .agg(count(lit(1)).as("v"))
      .first().getLong(0)
    val out = scoreStaged(scTokd, scBg, bgC, ctxC, v)
    (out, () => {
      scBg.unpersist(false): Unit
      scTokd.unpersist(false): Unit
    })
  }

  /** One-row index introspection: the logical model the serve path scores
    * against (partials netted). */
  def describeLmIndex(spark: SparkSession, indexPath: String): DataFrame = {
    val snap = Some(IndexLifecycle.familySnapshot(indexPath)) // one generation per read
    val stats = readStats(indexPath, snap)
    val voc = IndexLifecycle.readVisibleTable(spark, indexPath, "unigrams", snapshot = snap)
      .groupBy("tok_id").agg(sum(col("c")).as("c")).filter(col("c") > 0)
      .agg(count(lit(1)).as("vocab"))
    val bgt = IndexLifecycle.readVisibleTable(spark, indexPath, "bigrams", snapshot = snap)
      .groupBy("bg_id").agg(sum(col("c")).as("c")).filter(col("c") > 0)
      .agg(count(lit(1)).as("bigram_types"))
    voc.crossJoin(bgt)
      .select(lit(stats("n_docs")).as("n_docs"), lit(stats("n_bigrams")).as("n_bigrams"),
        col("vocab"), col("bigram_types"), lit(stats("bb_buckets")).as("bb_buckets"))
  }

  /** `n_docs`, `n_bigrams` and `bb_buckets` folded over the visible scalar
    * partials — no Spark job; every batch must agree on `bb_buckets`. */
  private def readStats(indexPath: String,
      snap: Option[IndexLifecycle.FamilySnapshot] = None): Map[String, Long] =
    IndexLifecycle.readScalars(indexPath, "stats", "bb_buckets", snap)

  private def readBuckets(indexPath: String): Int = readStats(indexPath)("bb_buckets").toInt

  /** `tk` with its doc count and bigram positions observed as `n_docs` and
    * `n_bigrams` — metrics of the one action that consumes the result. */
  private def observeCorpus(tk: DataFrame, obs: Observation): DataFrame =
    tk.observe(obs, count(lit(1)).as("n_docs"),
      coalesce(sum(greatest(size(col("toks")).cast("long") - 1L, lit(0L))), lit(0L))
        .as("n_bigrams"))

  private def writeLmBatch(docs: DataFrame, id: String, text: String,
      indexPath: String, batchId: String, buckets: Int,
      wholeIndex: Boolean): Unit = {
    val tk = tokd(docs, id, text).persist()
    tk.count(): Unit // ONE tokenize pass feeds docs, unigrams AND bigrams
    // the stats ride the membership write, which scans every doc once
    val stats = Observation()
    val members = observeCorpus(tk, stats).select(col("doc_id"))
    val unigrams = tk.select(explode(col("toks")).as("t"))
      .select(portableHash60(col("t")).as("tok_id"))
      .groupBy("tok_id").agg(count(lit(1)).as("c"))
    val bg = bigramRows(tk)
      .groupBy("bg_id", "ctx_id").agg(count(lit(1)).as("c"))
      .persist() // feeds the bigram write AND the context second-level agg
    bg.count(): Unit
    val contexts = bg.groupBy("ctx_id").agg(sum(col("c")).as("c"))
    IndexLifecycle.withIndexWriter(indexPath) {
      IndexLifecycle.inParallel(Seq(
        () => IndexLifecycle.writeIndexBatch(
          bg.withColumn("bb", pmod(col("bg_id"), lit(buckets.toLong))),
          s"$indexPath/bigrams", batchId, wholeIndex, partitionCols = Seq("bb")),
        () => IndexLifecycle.writeIndexBatch(contexts, s"$indexPath/contexts", batchId,
          wholeIndex),
        () => IndexLifecycle.writeIndexBatch(unigrams, s"$indexPath/unigrams", batchId,
          wholeIndex),
        () => IndexLifecycle.writeIndexBatch(members, s"$indexPath/docs", batchId,
          wholeIndex)))
      IndexLifecycle.writeObservedScalars(s"$indexPath/stats", batchId, stats, sign = 1L,
        Map("bb_buckets" -> buckets.toLong), wholeIndex)
      if (!wholeIndex) IndexLifecycle.commitVisibleBatch(indexPath, batchId) // all five tables landed
    }
    bg.unpersist(false): Unit
    tk.unpersist(false): Unit
  }
}
