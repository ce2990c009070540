package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.IndexLifecycle
import GraftFunctions.{portableHash60, wsTokensFused}
import PortableMath.lnPosLong

/** Data Selection via Importance Resampling (DSIR, Xie et al. 2023): score
  * every pool document by how much more likely its hashed n-gram features
  * are under a TARGET (exemplar) distribution than under the RAW pool
  * distribution, then keep the best slice. This is the practical
  * "make the crawl look like the trusted corpus" selector that sits next to
  * the CCNet perplexity filter ([[LmPerplexity]]) in a training-data
  * pipeline — perplexity asks "is this fluent under the trusted LM?",
  * DSIR asks "does this LOOK LIKE the trusted corpus rather than the pool?".
  *
  * Model: the paper's hashed bag-of-n-grams — unigrams AND bigrams hash into
  * `buckets` feature ids, and each side fits a Laplace-smoothed multinomial
  *
  *   p(f) = (c(f) + 1) / (T + buckets)      T = Σ_f c(f)
  *
  * A document's log importance ratio is the per-occurrence sum
  * `Σ [ln p_target(f) − ln p_raw(f)]`, length-normalized to a per-feature
  * average so long documents don't dominate. Selection is the paper's
  * deterministic top-k variant: rank by average log-ratio descending and
  * keep `keepPpm` parts-per-million of the scoreable pool — exact integer
  * algebra (`rank·10⁶ ≤ n·keepPpm`), no RNG, replayable anywhere.
  *
  * **Exactly oracle-checkable.** Every probability is a ratio of integers,
  * so each `ln` goes through [[PortableMath.lnPosLong]] (the fixed IEEE
  * tree DuckDB replays bit-for-bit), the per-document sum folds in
  * ascending (position, kind) order (the [[LmPerplexity]] ordered-fold
  * rule), and both smoothing denominators are constants whose `ln` is the
  * same fixed tree applied to the same integer on both engines. The ranking
  * therefore orders BIT-IDENTICAL doubles on both sides — ties broken by
  * doc_id — and the kept set matches exactly.
  *
  * **Shape at 100 TB.** Features travel as bucket ids in `[0, buckets)`;
  * both count tables are ≤ `buckets` rows NO MATTER THE CORPUS SIZE (one
  * combinable groupBy each), so the scoring join is a genuine broadcast —
  * text never shuffles, the model never scales with data. The rank is the
  * distributed exact prefix count ([[graft.operators.PrefixScan]]:
  * range-repartition + per-partition windows, never one global window
  * task). Total: two narrow fit passes + one map-side-combined groupBy per
  * doc + one |docs|-row range shuffle for the rank.
  */
object Dsir {

  private def tokd(docs: DataFrame, id: String, text: String): DataFrame =
    docs.select(col(id).cast("long").as("doc_id"),
      wsTokensFused(lower(col(text))).as("toks")) // fused tokenizer: A/B-adjudicated win on this pass (r13-opt)

  private val FeatRowType = "array<struct<pos:int,knd:int,fb:bigint>>"

  /** Exploded hashed-feature rows `(doc_id, pos, knd, fb)` from a STAGED
    * token frame: knd 0 = unigram at `pos`, knd 1 = bigram starting at
    * `pos`. `(pos, knd)` is unique within a doc — the deterministic fold
    * order. A doc with no token contributes no rows. */
  private[graft] def featureRows(tokdStaged: DataFrame, buckets: Int): DataFrame =
    // fused single-pass feature hashing (PortableHashRows, bit-identical to
    // the uni ++ bi transform/portableHash60 composition it replaced)
    tokdStaged.select(col("doc_id"),
      explode(PortableHashRows.dsirFeatureRows(col("toks"), buckets)).as("f"))
      .select(col("doc_id"), col("f.pos").as("pos"),
        col("f.knd").as("knd"), col("f.fb").as("fb"))

  /** Per-doc importance scores over the pool: `(doc_id, n_feats, logratio)`
    * with `logratio` the ROUNDED average log importance ratio (NULL for a
    * doc with no feature — no tokens, unassessable) plus the exact unrounded
    * `__avg` for downstream ranking. */
  private def scored(target: DataFrame, pool: DataFrame,
      id: String, text: String, buckets: Int): (DataFrame, () => Unit) = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val tTokd = tokd(target, id, text).persist()
    tTokd.count(): Unit // ONE tokenize pass feeds counts AND the total
    val cT = featureRows(tTokd, buckets)
      .groupBy("fb").agg(count(lit(1)).as("c_t")).persist()
    val tT = cT.agg(coalesce(sum(col("c_t")), lit(0L))).first().getLong(0)
    val pTokd = tokd(pool, id, text).persist()
    pTokd.count(): Unit // feeds raw counts, the score explode AND the join
    val pFeats = featureRows(pTokd, buckets).persist()
    pFeats.count(): Unit
    val cR = pFeats.groupBy("fb").agg(count(lit(1)).as("c_r")).persist()
    val tR = cR.agg(coalesce(sum(col("c_r")), lit(0L))).first().getLong(0)
    val out = scoreAgainst(pTokd, pFeats, cT, cR, tT, tR, buckets)
    (out, () => {
      cR.unpersist(false): Unit
      pFeats.unpersist(false): Unit
      pTokd.unpersist(false): Unit
      cT.unpersist(false): Unit
      tTokd.unpersist(false): Unit
    })
  }

  /** Score STAGED frames against count frames `(fb, c_t)` / `(fb, c_r)`
    * with driver-known occurrence totals — the shared core of the one-shot
    * and fit-free paths (the counts are the same integers wherever they are
    * stored, so the two score bit-for-bit identically). */
  private def scoreAgainst(pTokd: DataFrame, pFeats: DataFrame,
      cT: DataFrame, cR: DataFrame, tT: Long, tR: Long,
      buckets: Int): DataFrame = {
    require(tT > 0, "DSIR needs a non-empty target feature set")
    // model is <= buckets rows by construction — a true broadcast
    val model = cT.join(cR, Seq("fb"), "full_outer")
    val lp =
      (lnPosLong(coalesce(col("c_t"), lit(0L)) + lit(1L)) -
        lnPosLong(lit(tT + buckets))) -
        (lnPosLong(coalesce(col("c_r"), lit(0L)) + lit(1L)) -
          lnPosLong(lit(tR + buckets)))
    // ordered fold: contributions sorted by (pos, knd), summed left-to-right
    // from 0.0 (exact: equal lns subtract to +0.0, never -0.0)
    val sums = pFeats.join(broadcast(model), Seq("fb"), "left")
      .withColumn("lp", lp)
      .groupBy("doc_id").agg(
        aggregate(
          sort_array(collect_list(struct(
            col("pos").as("t"), col("knd").as("k"), col("lp").as("c")))),
          lit(0.0),
          (acc, x) => acc + x.getField("c")).as("__sum"),
        count(lit(1)).as("n_feats"))
    pTokd.select(col("doc_id"))
      .join(sums, Seq("doc_id"), "left")
      .withColumn("n_feats", coalesce(col("n_feats"), lit(0L)))
      .withColumn("__avg", when(col("n_feats") > 0,
        col("__sum") / col("n_feats").cast("double")))
      .select("doc_id", "n_feats", "__avg")
  }

  /** One-shot scoring: `(doc_id, n_feats, logratio)` for every pool doc. */
  def importance(target: DataFrame, pool: DataFrame, id: String, text: String,
      buckets: Int = 8192): DataFrame = {
    val (s, release) = scored(target, pool, id, text, buckets)
    val result = s
      .withColumn("logratio", round(col("__avg"), 6))
      .select("doc_id", "n_feats", "logratio")
      .localCheckpoint(eager = true)
    release()
    result
  }

  /** Score AND select: rank scoreable pool docs by average log importance
    * ratio descending (doc_id tie-break) and keep the top `keepPpm`
    * parts-per-million. Docs with no feature rank last, unselected, with
    * NULL rank.
    * @return (doc_id, n_feats, logratio, dsir_rank, selected) */
  def dsirSelect(target: DataFrame, pool: DataFrame, id: String, text: String,
      keepPpm: Long, buckets: Int = 8192): DataFrame = {
    require(keepPpm >= 0L && keepPpm <= 1000000L,
      s"keepPpm must be in [0, 1000000], got $keepPpm")
    val (s, release) = scored(target, pool, id, text, buckets)
    val staged = s.localCheckpoint(eager = true)
    release()
    val ranked = graft.operators.PrefixScan.runningTotal(
      staged.filter(col("n_feats") > 0),
      Seq(col("__avg").desc, col("doc_id").asc), lit(1L), "dsir_rank")
    val n = ranked.agg(count(lit(1)).as("__n"))
    val kept = ranked.crossJoin(broadcast(n))
      .withColumn("selected",
        col("dsir_rank") * lit(1000000L) <= col("__n") * lit(keepPpm))
      .select(col("doc_id"), col("n_feats"),
        round(col("__avg"), 6).as("logratio"),
        col("dsir_rank"), col("selected"))
    val unscoreable = staged.filter(col("n_feats") === 0)
      .select(col("doc_id"), col("n_feats"),
        lit(null).cast("double").as("logratio"),
        lit(null).cast("long").as("dsir_rank"),
        lit(false).as("selected"))
    kept.unionByName(unscoreable)
  }

  // ------------------------------------------------------------------
  // persisted DSIR model — additive count partials in the shared batch=/
  // versioned-compaction/atomic-CURRENT layout ([[LmPerplexity]] contract)
  //
  //   target/  (fb, c)                — frozen at build time
  //   raw/     (fb, c)                — pool counts; new pool batches fold in
  //   stats/   t_occ, r_occ, buckets  — per-batch SCALAR partials
  //            (IndexLifecycle.writeScalars), read on the driver, no job
  // ------------------------------------------------------------------

  /** Build (overwrite) the persisted DSIR model: target counts frozen,
    * pool counts as the first additive batch. */
  def buildDsirIndex(target: DataFrame, pool: DataFrame, id: String,
      text: String, indexPath: String, buckets: Int = 8192): Unit = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    IndexLifecycle.withIndexWriter(indexPath) { // rebuild + manifest restart: one writer turn
      writeDsirBatch(Some(target), pool, id, text, indexPath, "base", buckets,
        wholeIndex = true)
      // (re)start the batch-visibility manifest: from here on a pool append's
      // raw+stats partials become readable atomically, at commitVisibleBatch
      IndexLifecycle.resetVisibleBatches(indexPath)
    }
  }

  /** Fold a NEW pool batch into the raw side — every table is an additive
    * count, so incremental pool growth is just another partial batch (docs
    * must be new; a re-ingested doc would double-count itself). The target
    * exemplar stays frozen: DSIR's question is "does the NEW data look like
    * the trusted corpus", not "does the trusted corpus drift". */
  def appendDsirIndex(newPool: DataFrame, id: String, text: String,
      indexPath: String, batchId: String): Unit = IndexLifecycle.withIndexWriter(indexPath) {
    val buckets = readStats(indexPath)("buckets").toInt
    writeDsirBatch(None, newPool, id, text, indexPath, batchId, buckets,
      wholeIndex = false)
  }

  /** Fold per-batch partials into one row per bucket under a new version
    * dir, committed for all three tables by ONE family CAS
    * ([[graft.core.IndexLifecycle.compactFamily]] — no mixed versions for an
    * overlapping reader). */
  def compactDsirIndex(spark: SparkSession, indexPath: String): Unit =
    IndexLifecycle.compactFamily(spark, indexPath, Seq(
      ("target",
        (df: DataFrame) => df.groupBy("fb").agg(sum(col("c")).as("c"))
          .filter(col("c") > 0), Nil),
      ("raw",
        (df: DataFrame) => df.groupBy("fb").agg(sum(col("c")).as("c"))
          .filter(col("c") > 0), Nil)),
      scalars = Seq("stats" -> "buckets"))

  /** Score `docs` FIT-FREE against the persisted model. Scores equal
    * [[importance]] fit on the same target/pool bit-for-bit (the counts are
    * the same integers wherever they are stored). */
  def importanceIndexed(spark: SparkSession, indexPath: String,
      docs: DataFrame, id: String, text: String): DataFrame = {
    // ONE family snapshot for the whole serve (the bm25TopKIndexed
    // discipline): stats, target, and raw resolve at the same generation
    val snap = Some(IndexLifecycle.familySnapshot(indexPath))
    val stats = readStats(indexPath, snap)
    val buckets = stats("buckets").toInt
    val cT = IndexLifecycle.readVisibleTable(spark, indexPath, "target", snapshot = snap)
      .groupBy("fb").agg(sum(col("c")).as("c_t")).filter(col("c_t") > 0)
    val cR = IndexLifecycle.readVisibleTable(spark, indexPath, "raw", snapshot = snap)
      .groupBy("fb").agg(sum(col("c")).as("c_r")).filter(col("c_r") > 0)
    val pTokd = tokd(docs, id, text).persist()
    pTokd.count(): Unit // feeds the feature explode AND the zero-feat join
    val pFeats = featureRows(pTokd, buckets)
    val out = scoreAgainst(pTokd, pFeats, cT, cR, stats("t_occ"), stats("r_occ"), buckets)
      .withColumn("logratio", round(col("__avg"), 6))
      .select("doc_id", "n_feats", "logratio")
    val result = out.localCheckpoint(eager = true)
    pTokd.unpersist(false): Unit
    result
  }

  /** `t_occ`, `r_occ` and `buckets` folded over the visible scalar
    * partials — no Spark job; every batch must agree on `buckets`. */
  private def readStats(indexPath: String,
      snap: Option[IndexLifecycle.FamilySnapshot] = None): Map[String, Long] =
    IndexLifecycle.readScalars(indexPath, "stats", "buckets", snap)

  private def writeDsirBatch(target: Option[DataFrame], pool: DataFrame,
      id: String, text: String, indexPath: String, batchId: String,
      buckets: Int, wholeIndex: Boolean): Unit = {
    val tCounts = target.map { t =>
      val tTokd = tokd(t, id, text)
      featureRows(tTokd, buckets).groupBy("fb").agg(count(lit(1)).as("c"))
        .persist()
    }
    val tOcc = tCounts.map { c =>
      c.count(): Unit // ONE fit pass feeds the write AND the total
      c.agg(coalesce(sum(col("c")), lit(0L))).first().getLong(0)
    }.getOrElse(0L)
    if (wholeIndex) require(tOcc > 0,
      "DSIR needs a non-empty target feature set")
    // the pool's occurrence total rides the raw-count write
    val rOcc = Observation()
    val rCounts = featureRows(tokd(pool, id, text), buckets)
      .groupBy("fb").agg(count(lit(1)).as("c"))
      .observe(rOcc, coalesce(sum(col("c")), lit(0L)).as("r_occ"))
    IndexLifecycle.withIndexWriter(indexPath) {
      IndexLifecycle.inParallel(
        tCounts.map(c => () => IndexLifecycle.writeIndexBatch(c, s"$indexPath/target",
          batchId, wholeIndex)).toSeq :+ (
        () => IndexLifecycle.writeIndexBatch(rCounts, s"$indexPath/raw", batchId,
          wholeIndex)))
      IndexLifecycle.writeObservedScalars(s"$indexPath/stats", batchId, rOcc, sign = 1L,
        Map("t_occ" -> tOcc, "buckets" -> buckets.toLong), wholeIndex)
      // atomic visibility: a pool batch's raw counts and its stats partial
      // appear together — no window where doc counts and occurrence totals
      // disagree
      if (!wholeIndex) IndexLifecycle.commitVisibleBatch(indexPath, batchId)
    }
    tCounts.foreach(_.unpersist(false): Unit)
  }
}
