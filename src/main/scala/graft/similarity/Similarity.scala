package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector

import graft.functions.CosineSimilarity

/** Approximate-nearest-neighbor search over an embedding column
  * (extension surface, BASELINE.json north star).
  *
  * Two paths:
  *  - [[bruteForceTopK]]: exact baseline. Queries are broadcast (they are the
  *    small side by construction); the corpus streams through one
  *    WholeStageCodegen stage scoring with the native [[CosineSimilarity]]
  *    expression. Linear in |corpus| × |queries| — correct at any scale when
  *    |queries| is bounded, and the oracle for the approximate path.
  *  - [[ivfTopK]]: IVF (inverted-file) scale path. KMeans coarse quantizer;
  *    corpus partitioned by nearest centroid; a query probes only `nProbe`
  *    nearest cells, cutting scored candidates by ~nProbe/nCells. The
  *    centroid table is tiny and broadcast everywhere.
  *
  * Self-matches: queries and corpus may be DISTINCT id spaces, in which case a
  * coincidental id equality must NOT drop a legitimate neighbor — so excluding
  * `query_id == nbr_id` is opt-in (`excludeSelf`), for the common
  * corpus-searches-itself case.
  *
  * Cosine scores are emitted raw (no rounding): the scoring loop is plain
  * sequential double accumulation, bit-identical to a DuckDB
  * `list_cosine_similarity(a::DOUBLE[], b::DOUBLE[])` oracle.
  */
object Similarity {

  /** Oracle fixture hook — dump the candidate id pairs and read them BACK,
    * so the set the external oracle re-scores is byte-identical to the one
    * this pipeline ranks. One implementation, shared with the dedup suite. */
  private def sinkCandidates(cand: DataFrame, sink: Option[String]): DataFrame =
    graft.dedup.Dedup.sinkCandidates(cand, sink)

  /** Shared rerank tail: join the vectors back onto ids-only candidate pairs
    * (candidates never shuffle vectors through dedup — the verify/rerank join
    * moves |candidates| rows of ids plus one vector fetch per side), score
    * with the native codegen [[CosineSimilarity]], rank, cut at k. */
  private def rankCandidates(
      candidates: DataFrame,
      corpusVecs: DataFrame, // (nbr_id, cv)
      queryVecs: DataFrame,  // (query_id, qv)
      k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("nbr_id").asc)
    candidates
      .join(corpusVecs, Seq("nbr_id"))
      .join(broadcast(queryVecs), Seq("query_id"))
      .withColumn("cosine", CosineSimilarity(col("qv"), col("cv")))
      .withColumn("nbr_rank", row_number().over(w).cast("long"))
      .filter(col("nbr_rank") <= k)
      .select(col("query_id"), col("nbr_rank"), col("nbr_id"), col("cosine"))
  }

  /** Exact top-k neighbors per query. `queries` must be small (broadcast). */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      id: String,
      vec: String,
      k: Int,
      excludeSelf: Boolean = false): DataFrame = {
    val c = corpus.select(col(id).as("nbr_id"), col(vec).as("cv"))
    val q = queries.select(col(id).as("query_id"), col(vec).as("qv"))
    val cond = if (excludeSelf) col("query_id") =!= col("nbr_id") else lit(true)
    val scored = c.join(broadcast(q), cond)
      .withColumn("cosine", CosineSimilarity(col("qv"), col("cv")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("nbr_id").asc)
    scored.withColumn("nbr_rank", row_number().over(w).cast("long"))
      .filter(col("nbr_rank") <= k)
      .select(col("query_id"), col("nbr_rank"), col("nbr_id"), col("cosine"))
  }

  /** Exact top-k in HAMMING space over 64-bit signatures (perceptual image
    * hashes — [[graft.multimodal.Multimodal.dHash63]] — or simhashes): the
    * retrieval face of [[graft.dedup.Dedup.hammingNearDupPairs]]. The scan
    * reads 8-byte signatures, never pixels or vectors — the PQ "stage 1
    * reads no payload" story taken to its extreme, which is why exact
    * brute force IS the 100 TB shape here: |corpus| codegen `bit_count`
    * ops per query against a broadcast query table, then the rank-limit
    * window (partial WindowGroupLimit = map-side top-k before the single
    * narrow exchange). Ties break (hamming asc, nbr_id asc) so the
    * ranking is deterministic and cross-engine replayable.
    * Input frames: `(id, sh: long)` on both sides. */
  def hammingTopK(
      corpus: DataFrame,
      queries: DataFrame,
      id: String,
      sig: String,
      k: Int,
      excludeSelf: Boolean = false): DataFrame = {
    // Null signatures (dHash63 emits sig=null for undecodable images) are
    // excluded from BOTH sides: hamming64(x, null) is null and the asc window
    // sorts nulls first, so an unfiltered corrupt image would occupy rank 1
    // for every query. A corrupt image is not a neighbor.
    val c = corpus.select(col(id).as("nbr_id"), col(sig).as("c_sh"))
      .where(col("c_sh").isNotNull)
    val q = queries.select(col(id).as("query_id"), col(sig).as("q_sh"))
      .where(col("q_sh").isNotNull)
    val cond = if (excludeSelf) col("query_id") =!= col("nbr_id") else lit(true)
    val scored = c.join(broadcast(q), cond)
      .withColumn("hamming", graft.functions.GraftFunctions
        .hamming64(col("q_sh"), col("c_sh")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("hamming").asc, col("nbr_id").asc)
    scored.withColumn("nbr_rank", row_number().over(w).cast("long"))
      .filter(col("nbr_rank") <= k)
      .select(col("query_id"), col("nbr_rank"), col("nbr_id"), col("hamming"))
  }

  /** IVF approximate top-k: KMeans(nCells) coarse quantizer, probe nProbe cells.
    *
    * @param fitSampleFraction fraction of the corpus the quantizer trains on.
    *   At 100 TB fitting KMeans on the full corpus is the bottleneck (each
    *   iteration is a full scan); a coarse quantizer only needs enough points
    *   per centroid to place cells, so training on a sample (the standard
    *   IVF practice) keeps fit cost constant while assignment stays a single
    *   full-corpus pass.
    */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      id: String,
      vec: String,
      k: Int,
      nCells: Int = 16,
      nProbe: Int = 4,
      seed: Long = 42L,
      excludeSelf: Boolean = false,
      fitSampleFraction: Double = 1.0,
      fitMaxIter: Int = 20,
      candidateSink: Option[String] = None): DataFrame = {

    val c = corpus.select(col(id).as("nbr_id"), col(vec).as("cv"))
      .withColumn("features", array_to_vector(col("cv").cast("array<double>")))
    val fitSet = if (fitSampleFraction < 1.0) c.sample(fitSampleFraction, seed) else c
    val km = new KMeans().setK(nCells).setSeed(seed).setMaxIter(fitMaxIter)
      .setFeaturesCol("features")
    val model = km.fit(fitSet)
    val assigned = model.transform(c).select(col("nbr_id"), col("prediction").as("cell"))

    // tiny centroid table — runs on the driver, broadcast into the probe join
    val spark = corpus.sparkSession
    import spark.implicits._
    val centroids = model.clusterCenters.zipWithIndex
      .map { case (v, i) => (i, v.toArray.map(_.toFloat)) }.toSeq.toDF("cell", "centroid")

    val q = queries.select(col(id).as("query_id"), col(vec).as("qv"))
    val probes = q.join(broadcast(centroids), lit(true))
      .withColumn("cdist", CosineSimilarity(col("qv"), col("centroid")))
      .withColumn("crank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("cdist").desc, col("cell").asc)))
      .filter(col("crank") <= nProbe)
      .select(col("query_id"), col("cell"))

    val cond = if (excludeSelf) col("query_id") =!= col("nbr_id") else lit(true)
    val cand0 = assigned.join(broadcast(probes), Seq("cell"))
      .filter(cond)
      .select(col("query_id"), col("nbr_id")) // a corpus vector lives in ONE cell → pairs unique
    val candidates = sinkCandidates(cand0, candidateSink)
    rankCandidates(candidates, c.select(col("nbr_id"), col("cv")), q, k)
  }

  /** IVF top-k against a PERSISTED index — the SERVING shape at 100 TB:
    * [[ivfTopK]] re-fits the quantizer per call, which is the exploration
    * mode; production builds the index ONCE
    * ([[graft.dedup.Dedup.buildSemanticIndex]]: `<indexPath>/centroids` +
    * cell-assigned `<indexPath>/vectors`, replay-safe per-batch partitions)
    * and every query batch afterwards runs fit-free: probing broadcasts the
    * tiny centroid FileScan, candidate generation is one equi-join on cell,
    * rerank joins vectors back by id. New corpus batches fold in through
    * the same frozen-centroid assignment the incremental dedup flow uses —
    * no MLlib on this path at all. */
  def ivfTopKIndexed(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      queries: DataFrame,
      id: String,
      vec: String,
      k: Int,
      nProbe: Int = 4,
      excludeSelf: Boolean = false,
      candidateSink: Option[String] = None): DataFrame = {
    val centroids = spark.read.parquet(s"$indexPath/centroids")
      .select(col("cell").cast("int").as("cell"), col("centroid"))
    val assigned =
      graft.core.IndexLifecycle.readIndexTable(spark, s"$indexPath/vectors")
      .select(col("doc_id").as("nbr_id"), col("cell").cast("int").as("cell"), col("v").as("cv"))
    val q = queries.select(col(id).as("query_id"), col(vec).as("qv"))
    val probes = q.join(broadcast(centroids), lit(true))
      .withColumn("cdist", CosineSimilarity(col("qv"), col("centroid")))
      .withColumn("crank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("cdist").desc, col("cell").asc)))
      .filter(col("crank") <= nProbe)
      .select(col("query_id"), col("cell"))
    val cond = if (excludeSelf) col("query_id") =!= col("nbr_id") else lit(true)
    val cand0 = assigned.join(broadcast(probes), Seq("cell"))
      .filter(cond)
      .select(col("query_id"), col("nbr_id"))
    val candidates = sinkCandidates(cand0, candidateSink)
    rankCandidates(candidates, assigned.select(col("nbr_id"), col("cv")), q, k)
  }

  /** kNN GRAPH over a persisted FLAT semantic index: every indexed vector's
    * k nearest neighbors by exact cosine — the all-pairs building block of
    * SemDeDup-style cluster pruning, kNN-classifier quality scoring, and
    * graph-based diversity sampling. This is NOT [[ivfTopKIndexed]] with
    * queries = corpus: that path broadcasts the query table and ranks
    * centroids per query through an n·k-row cross join + window — both
    * non-starters when every doc is a query. Here both sides are map-only:
    * candidates come from each doc probing its `nProbe` nearest cells via
    * the codegen [[graft.functions.NearestCentroids]] top-p argmin (zero
    * exchanges to choose probes), then ONE equi-join on cell against the
    * stored assignment. Ranking joins the vectors back by id (shuffle
    * joins — no broadcast assumption) and takes the rank-limit window
    * (partial WindowGroupLimit pushes the top-k below the exchange).
    *
    * Multi-probe recall: a doc's own cell is probe 1 by construction (same
    * metric as the stored assignment); probe 2+ catches neighbors across
    * cell boundaries — the standard IVF recall dial, here applied
    * symmetrically to the self-join. Candidates stay unique without a
    * distinct: a neighbor lives in exactly one cell and probes are
    * distinct cells.
    *
    * @param maxCell skew guard: cells larger than this are dropped whole
    *   (template/replicated content better collapsed by exact dedup first
    *   — the [[graft.dedup.Dedup.semanticDedup]] maxCluster trade)
    * @return (query_id, nbr_rank, nbr_id, cosine), one row per indexed doc
    *   per neighbor rank ≤ k
    */
  def knnGraphIndexed(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      k: Int,
      nProbe: Int = 2,
      maxCell: Int = 10000,
      candidateSink: Option[String] = None,
      nProbeTop: Int = 2): DataFrame =
    selfJoinTopK(spark, indexPath, k, nProbe, maxCell, candidateSink,
      labels = None, nProbeTop = nProbeTop)

  /** HARD-NEGATIVE mining for contrastive training data: for every indexed
    * doc (the anchor), its k most-similar docs carrying a DIFFERENT label —
    * the negatives that actually teach a contrastive model something
    * (random negatives are trivially separable; the informative ones sit
    * just across the decision boundary, i.e. nearest-by-cosine with the
    * wrong label). Same scale shape as [[knnGraphIndexed]] — map-only
    * multi-probe, one cell equi-join — with the label-inequality filter
    * applied AT CANDIDATE TIME (labels ride the assignment rows, so the
    * filter is a column comparison inside the join, not a post-rank pass
    * that would under-fill k). Ranks are therefore contiguous 1..k within
    * each anchor's different-label pool.
    *
    * @param labels (id, label) for every indexed doc; anchors missing a
    *   label are dropped (no label — no notion of "negative") */
  def hardNegativesIndexed(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      labels: DataFrame, // (doc_id, label)
      k: Int,
      nProbe: Int = 4,
      maxCell: Int = 10000,
      candidateSink: Option[String] = None,
      nProbeTop: Int = 2): DataFrame =
    selfJoinTopK(spark, indexPath, k, nProbe, maxCell, candidateSink,
      labels = Some(labels.select(col("doc_id"), col("label"))),
      nProbeTop = nProbeTop)

  /** Driver-side cell geometry of a persisted semantic index — FLAT (one
    * codebook) or TWO-LEVEL (coarse tops + per-top leaf codebooks, the
    * k ∝ n regime past ~1024 cells). Both faces are MAP-ONLY:
    * `assignCell` is the single-cell argmin (what the stored assignment
    * used), `probeCells` the multi-probe expansion. Bounded by
    * construction: ≤ 4096 flat cells / ≤ 16384 two-level leaves — the
    * same driver-fits-the-codebook argument the dedup family makes. */
  private[graft] sealed trait IndexGeometry {
    /** (doc_id, cell, v): each input row with its stored-geometry cell. */
    def assignFrame(df: DataFrame, id: String, v: String): DataFrame
    /** (doc_id, cell) probe frame: `nProbe` candidate cells per vector —
      * for two-level, `nProbe` leaves within each of the `nProbeTop`
      * nearest tops (the own cell is always probe #1: same argmin the
      * stored assignment used). */
    def probeCells(df: DataFrame, id: String, v: String, nProbe: Int): DataFrame
  }

  private final class FlatGeometry(ids: Seq[Int], cb: Seq[Seq[Double]])
      extends IndexGeometry {
    def assignFrame(df: DataFrame, id: String, v: String): DataFrame =
      df.select(col(id).as("doc_id"),
        element_at(typedLit(ids),
          graft.functions.NearestCentroid(col(v).cast("array<double>"), cb) + 1)
          .as("cell"),
        col(v).as("v"))
    def probeCells(df: DataFrame, id: String, v: String, nProbe: Int): DataFrame =
      df.select(col(id).as("doc_id"),
        explode(transform(
          graft.functions.NearestCentroids(col(v).cast("array<double>"), cb, nProbe),
          i => element_at(typedLit(ids), i + 1))).as("cell"))
  }

  private final class TwoLevelGeometry(
      q: graft.dedup.Dedup.TwoLevelQuantizer, nProbeTop: Int)
      extends IndexGeometry {
    private val leafMats: Array[Array[Array[Double]]] =
      q.leaves.map(_.map(_._2.toArray).toArray).toArray
    private val leafIds: Seq[Seq[Int]] = q.leaves.map(_.map(_._1))
    private val topMat: Seq[Seq[Double]] = q.tops
    def assignFrame(df: DataFrame, id: String, v: String): DataFrame =
      df.select(col(id).as("doc_id"),
        graft.dedup.Dedup.assignTwoLevel(col(v).cast("array<double>"), q).as("cell"),
        col(v).as("v"))
    def probeCells(df: DataFrame, id: String, v: String, nProbe: Int): DataFrame = {
      val vd = col(v).cast("array<double>")
      df.select(col(id).as("doc_id"), vd.as("__v"),
          explode(graft.functions.NearestCentroids(vd, topMat,
            math.min(nProbeTop, topMat.size))).as("__top"))
        .select(col("doc_id"),
          explode(transform(
            graft.functions.NearestCentroids(col("__v"), col("__top"), leafMats, nProbe),
            j => element_at(element_at(typedLit(leafIds), col("__top") + 1), j + 1)))
            .as("cell"))
    }
  }

  /** Over-[[graft.dedup.Dedup.CodebookLiteralMaxBytes]] FLAT geometry: the
    * codebook stays a FRAME (never collected, never in the plan); cell
    * assignment is [[graft.dedup.Dedup.assignCellsViaJoin]] and probe
    * selection a broadcast meet + rank window — identical argmin /
    * ordering semantics (SimilaritySpec asserts parity). */
  private final class FlatJoinGeometry(centroids: DataFrame)
      extends IndexGeometry {
    private def cen = broadcast(centroids.select(
      col("cell").cast("int").as("__cell"),
      col("centroid").cast("array<double>").as("__cen")))
    def assignFrame(df: DataFrame, id: String, v: String): DataFrame =
      graft.dedup.Dedup.assignCellsViaJoin(
        df.select(col(id).as("doc_id"), col(v).as("v")), centroids)
    def probeCells(df: DataFrame, id: String, v: String, nProbe: Int): DataFrame = {
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("__d2").asc, col("__cell").asc)
      df.select(col(id).as("doc_id"), col(v).as("__v"))
        .crossJoin(cen)
        .withColumn("__d2", graft.dedup.Dedup.squaredL2Col(
          col("__v").cast("array<double>"), col("__cen")))
        .withColumn("__rn", row_number().over(w)).filter(col("__rn") <= nProbe)
        .select(col("doc_id"), col("__cell").as("cell"))
    }
  }

  /** Over-cap TWO-LEVEL geometry: tops stay a literal argmin (√k̄ —
    * bounded), the leaf level joins on `top` so each row meets only its
    * own tops' sub-codebooks — the k ∝ n regime's scale shape. */
  private final class TwoLevelJoinGeometry(
      tops: IndexedSeq[Seq[Double]], leaves: DataFrame, nProbeTop: Int)
      extends IndexGeometry {
    private def leaf = leaves.select(col("top").cast("int").as("__top"),
      col("cell").cast("int").as("__cell"),
      col("centroid").cast("array<double>").as("__cen"))
    def assignFrame(df: DataFrame, id: String, v: String): DataFrame =
      graft.dedup.Dedup.assignTwoLevelViaJoin(
        df.select(col(id).as("doc_id"), col(v).as("v")), tops, leaves)
    def probeCells(df: DataFrame, id: String, v: String, nProbe: Int): DataFrame = {
      val vd = col(v).cast("array<double>")
      val w = Window.partitionBy(col("doc_id"), col("__top"))
        .orderBy(col("__d2").asc, col("__cell").asc)
      df.select(col(id).as("doc_id"), vd.as("__v"),
          explode(graft.functions.NearestCentroids(vd, tops,
            math.min(nProbeTop, tops.size))).as("__top"))
        .join(leaf, Seq("__top"))
        .withColumn("__d2", graft.dedup.Dedup.squaredL2Col(
          col("__v").cast("array<double>"), col("__cen")))
        .withColumn("__rn", row_number().over(w)).filter(col("__rn") <= nProbe)
        .select(col("doc_id"), col("__cell").as("cell"))
    }
  }

  private[graft] def loadGeometry(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      nProbeTop: Int = 2,
      literalMaxBytes: Long = graft.dedup.Dedup.CodebookLiteralMaxBytes): IndexGeometry = {
    val centroids = spark.read.parquet(s"$indexPath/centroids")
    val overCap = graft.dedup.Dedup.codebookBytes(centroids) > literalMaxBytes
    if (centroids.columns.contains("top")) {
      if (overCap)
        new TwoLevelJoinGeometry(
          graft.dedup.Dedup.loadTops(spark, indexPath), centroids, nProbeTop)
      else new TwoLevelGeometry(
        graft.dedup.Dedup.loadTwoLevel(spark, indexPath), nProbeTop)
    } else if (overCap) {
      new FlatJoinGeometry(centroids)
    } else {
      val rows = centroids.select(col("cell").cast("int"), col("centroid"))
        .collect().map(r => (r.getInt(0), r.getSeq[Double](1))).sortBy(_._1)
      require(rows.nonEmpty, "loadGeometry: empty centroid table")
      new FlatGeometry(rows.map(_._1).toSeq, rows.map(_._2.toSeq).toSeq)
    }
  }

  /** Broadcast cap for the rerank join's id→vector side. */
  private[graft] val VecBroadcastMaxBytes: Long = 256L << 20

  /** Size-gate the rerank join's id→vector side. The candidate frame is
    * O(n·probeWidth) rows while the vector table is O(n) rows of dim
    * floats: letting Catalyst pick by its 10 MB default turns both rerank
    * joins into sort-merge past ~40k vectors, which shuffles and sorts the
    * candidate set TWICE (measured on the sf10 decade: q217's 119M
    * candidates against a 55 MB vector side — the dominant cost of the
    * 1660 s reading). Broadcast up to the cap; past it (a serve-scale index
    * — 10⁹ vectors can never broadcast) the exchange is the honest plan. */
  private def sizeGatedVecs(vecs: DataFrame, vcol: String): DataFrame = {
    val n = vecs.count()
    val dim =
      if (n == 0L) 0
      else vecs.select(org.apache.spark.sql.functions.size(col(vcol))).head.getInt(0)
    val bytes = n * (math.max(dim, 1).toLong * 4L + 40L)
    if (bytes <= VecBroadcastMaxBytes) broadcast(vecs) else vecs
  }

  /** Shared core of the index self-join family: map-only probe selection
    * (codegen [[graft.functions.NearestCentroids]]), one equi-join on cell,
    * optional label-inequality candidate filter, id-joined exact-cosine
    * ranking under the rank-limit window. */
  private def selfJoinTopK(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      k: Int,
      nProbe: Int,
      maxCell: Int,
      candidateSink: Option[String],
      labels: Option[DataFrame],
      nProbeTop: Int = 2): DataFrame = {
    val geo = loadGeometry(spark, indexPath, nProbeTop)

    val assigned0 = graft.core.IndexLifecycle.readIndexTable(spark, s"$indexPath/vectors")
      .select(col("doc_id"), col("cell").cast("int").as("cell"), col("v"))
    // labels ride the assignment rows: ONE narrow join here instead of two
    // per-side joins against the expanded candidate set later
    val assigned = labels match {
      case Some(l) => assigned0.join(l, Seq("doc_id"))
      case None => assigned0.withColumn("label", lit(null).cast("int"))
    }
    val okCells = assigned.groupBy("cell").agg(count(lit(1)).as("n"))
      .filter(col("n") <= maxCell).select("cell")

    // map-only probe selection (flat or two-level via the geometry); when
    // labels matter, the anchor's rides back in through a narrow id join
    val probes0 = geo.probeCells(assigned, "doc_id", "v", nProbe)
      .withColumnRenamed("doc_id", "query_id")
    val probes = labels match {
      case Some(_) => probes0.join(assigned.select(col("doc_id").as("query_id"),
        col("label").as("q_label")), Seq("query_id"))
      case None => probes0.withColumn("q_label", lit(null).cast("int"))
    }

    val joined = probes
      .join(broadcast(okCells), Seq("cell")) // ≤ |cells| rows — a true broadcast
      .join(assigned.select(col("doc_id").as("nbr_id"), col("cell"),
        col("label").as("n_label")), Seq("cell"))
      .filter(col("query_id") =!= col("nbr_id"))
    val cand0 = (labels match {
      case Some(_) => joined.filter(col("q_label") =!= col("n_label"))
      case None => joined
    }).select(col("query_id"), col("nbr_id"))
    val candidates = sinkCandidates(cand0, candidateSink)

    val vecs = sizeGatedVecs(assigned0.select(col("doc_id"), col("v")), "v")
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("nbr_id").asc)
    candidates
      .join(vecs.select(col("doc_id").as("nbr_id"), col("v").as("cv")), Seq("nbr_id"))
      .join(vecs.select(col("doc_id").as("query_id"), col("v").as("qv")), Seq("query_id"))
      .withColumn("cosine", CosineSimilarity(col("qv"), col("cv")))
      .withColumn("nbr_rank", row_number().over(w).cast("long"))
      .filter(col("nbr_rank") <= k)
      .select(col("query_id"), col("nbr_rank"), col("nbr_id"), col("cosine"))
  }

  // ==================== persisted kNN graph + INCREMENTAL maintenance ====
  //
  // The graph is a serving artifact (SemDeDup pruning, diversity sampling,
  // kNN quality scores) — at 100 TB nobody rebuilds all-pairs top-k because
  // a daily batch arrived. Layout under `graphPath`:
  //   edges/batch=*   (query_id, nbr_rank, nbr_id, cosine, gen)
  //   probes/batch=*  (doc_id, cell) — each doc's nProbe probe cells
  // `gen` resolves supersession: an append re-ranks the anchors it touches
  // and writes their NEW top-k under a higher gen; the read path (and
  // compaction) keep each anchor's max-gen rows. Vectors live in the
  // semantic index (`indexPath/vectors`) — appends fold new vectors there,
  // the same frame semanticDedupIncremental maintains.

  /** Build the persisted graph: [[knnGraphIndexed]] + the probes table
    * (the affected-anchor lookup appends need). Returns the edge frame. */
  def knnGraphBuild(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      graphPath: String,
      k: Int,
      nProbe: Int = 2,
      maxCell: Int = 10000,
      candidateSink: Option[String] = None,
      nProbeTop: Int = 2): DataFrame =
      graft.core.IndexLifecycle.withIndexWriter(indexPath) {
      graft.core.IndexLifecycle.withIndexWriter(graphPath) {
    // full-span locks, ANN index → graph order (the knnGraphAppend rule):
    // the self-join reads the resolved vectors files a concurrent index
    // compaction's cleanup would delete mid-job
    import graft.core.IndexLifecycle
    val edges = selfJoinTopK(spark, indexPath, k, nProbe, maxCell,
      candidateSink, labels = None, nProbeTop = nProbeTop)
    val p = edges.localCheckpoint(eager = true)
    val probes = loadGeometry(spark, indexPath, nProbeTop).probeCells(
      IndexLifecycle.readIndexTable(spark, s"$indexPath/vectors"),
      "doc_id", "v", nProbe)
    IndexLifecycle.inParallel(Seq(
      () => IndexLifecycle.writeIndexBatch(p.withColumn("gen", lit(0L)),
        s"$graphPath/edges", "base", wholeIndex = true),
      () => IndexLifecycle.writeIndexBatch(probes, s"$graphPath/probes", "base",
        wholeIndex = true)))
    // (re)start the batch-visibility manifest: an append's probes and
    // edges become readable atomically, at commitVisibleBatch
    IndexLifecycle.resetVisibleBatches(graphPath)
    p
  } }

  /** INCREMENTAL graph maintenance: fold a new vector batch in and update
    * exactly the anchors whose neighborhoods can have changed.
    *
    *   - NEW anchors probe their nProbe cells against old ∪ new — the
    *     [[knnGraphIndexed]] step restricted to the batch;
    *   - AFFECTED old anchors are found through the STORED probes table
    *     (frozen centroids → probe sets are stable): any old anchor with a
    *     probe cell the new batch landed in. Their candidates are their
    *     PRIOR top-k edges plus only the NEW docs in those cells —
    *     top-k(top-k(old) ∪ new) = top-k(old ∪ new), the standard
    *     truncation-stability argument, so the merge is EXACT, not a decay
    *     approximation (equivalence to a from-scratch rebuild is spec-
    *     gated; caps must not bind for the equality to be literal).
    *
    * Per-batch cost follows the batch: |new|·nProbe probe rows, new-cell
    * postings, and |affected|·(k + new-in-cell) candidate rows — never a
    * rescan of the settled graph. Replay-safe: all reads exclude
    * `batch=g<gen>`, all writes overwrite exactly that partition.
    *
    * @return the re-ranked edges of every touched anchor (new + affected) */
  def knnGraphAppend(
      newDf: DataFrame,
      id: String,
      vec: String,
      indexPath: String,
      graphPath: String,
      gen: Long,
      k: Int,
      nProbe: Int = 2,
      maxCell: Int = 10000,
      candidateSink: Option[String] = None,
      nProbeTop: Int = 2): DataFrame =
      graft.core.IndexLifecycle.withIndexWriter(indexPath) {
      graft.core.IndexLifecycle.withIndexWriter(graphPath) {
    // full-span writer locks on BOTH families (reads included): candidate
    // generation reads the resolved vectors/probes/edges files, which a
    // concurrent compaction's cleanup would delete mid-job; acquisition
    // order is ANN index → graph everywhere (no cycle)
    import graft.core.IndexLifecycle
    import graft.dedup.Dedup
    require(gen >= 1, s"append generations start at 1, got $gen")
    val spark = newDf.sparkSession
    val batchId = s"g$gen"
    val geo = loadGeometry(spark, indexPath, nProbeTop)

    val newKeyed = newDf.filter(col(vec).isNotNull && size(col(vec)) > 0)
      .select(col(id).as("doc_id"), col(vec).as("v"))
    val newAssigned = geo.assignFrame(newKeyed, "doc_id", "v").persist()
    newAssigned.count(): Unit
    val newProbes = geo.probeCells(newKeyed, "doc_id", "v", nProbe)

    val oldVecs = IndexLifecycle.readIndexTable(spark, s"$indexPath/vectors")
      .filter(col("batch") =!= lit(batchId))
      .select(col("doc_id"), col("cell"), col("v"))
    val allAssigned = oldVecs.unionByName(newAssigned)
    val okCells = allAssigned.groupBy("cell").agg(count(lit(1)).as("n"))
      .filter(col("n") <= maxCell).select("cell")

    // new anchors: the full knnGraph step, batch-restricted
    val candNew = newProbes
      .join(broadcast(okCells), Seq("cell"))
      .join(allAssigned.select(col("doc_id").as("nbr_id"), col("cell")), Seq("cell"))
      .filter(col("doc_id") =!= col("nbr_id"))
      .select(col("doc_id").as("query_id"), col("nbr_id"))

    // affected old anchors: stored probes hitting cells the batch landed in;
    // their only NEW competition is the new docs in those cells
    val newCells = newAssigned.select(col("cell")).distinct()
    val oldProbes = IndexLifecycle
      .readVisibleTable(spark, graphPath, "probes", Some(batchId))
      .select(col("doc_id"), col("cell"))
    val candAffected = oldProbes
      .join(newCells, Seq("cell"), "left_semi")
      .join(broadcast(okCells), Seq("cell"))
      .join(newAssigned.select(col("doc_id").as("nbr_id"), col("cell")), Seq("cell"))
      .filter(col("doc_id") =!= col("nbr_id"))
      .select(col("doc_id").as("query_id"), col("nbr_id"))

    // prior edges of exactly the anchors being re-ranked (id pairs only —
    // cosines recompute from the index vectors, one hash space everywhere)
    val touched = candAffected.select(col("query_id")).distinct()
    // exclude THIS batch's edges: a crashed prior attempt may have left a
    // partially-written batch=g<gen> whose gen would win the max-gen
    // resolution — replay must rank against the pre-attempt graph only
    val oldEdges = knnGraphRead(spark, graphPath, excludeBatch = Some(batchId))
      .join(touched, Seq("query_id"), "left_semi")
      .select(col("query_id"), col("nbr_id"))

    val candidates = Dedup.sinkCandidates(
      candNew.unionByName(candAffected).unionByName(oldEdges).distinct(),
      candidateSink)

    val vecs = sizeGatedVecs(allAssigned.select(col("doc_id"), col("v")), "v")
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("nbr_id").asc)
    val updated = candidates
      .join(vecs.select(col("doc_id").as("nbr_id"), col("v").as("cv")), Seq("nbr_id"))
      .join(vecs.select(col("doc_id").as("query_id"), col("v").as("qv")), Seq("query_id"))
      .withColumn("cosine", CosineSimilarity(col("qv"), col("cv")))
      .withColumn("nbr_rank", row_number().over(w).cast("long"))
      .filter(col("nbr_rank") <= k)
      .select(col("query_id"), col("nbr_rank"), col("nbr_id"), col("cosine"))

    val p = updated.localCheckpoint(eager = true)
    IndexLifecycle.inParallel(Seq(
      () => IndexLifecycle.writeIndexBatch(newAssigned, s"$indexPath/vectors", batchId),
      () => IndexLifecycle.writeIndexBatch(newProbes, s"$graphPath/probes", batchId),
      () => IndexLifecycle.writeIndexBatch(p.withColumn("gen", lit(gen)),
        s"$graphPath/edges", batchId)))
    // atomic visibility of the GRAPH tables (probes + edges appear
    // together); the vector fold-in belongs to the ANN index family and
    // keeps its own replay discipline (both family writer locks are held
    // by the whole function)
    IndexLifecycle.commitVisibleBatch(graphPath, batchId)
    newAssigned.unpersist(false): Unit
    p
  } }

  /** The resolved graph: each anchor's max-gen edge rows (an append
    * supersedes, never merges with, an anchor's older rows).
    * `excludeBatch` drops one `batch=` partition before resolving — the
    * replay-safe read [[knnGraphAppend]] uses so a crashed prior attempt's
    * partial edges never win the max-gen resolution. */
  def knnGraphRead(
      spark: org.apache.spark.sql.SparkSession,
      graphPath: String,
      excludeBatch: Option[String] = None): DataFrame = {
    import graft.core.IndexLifecycle
    val e = IndexLifecycle.readVisibleTable(spark, graphPath, "edges", excludeBatch)
    val latest = e.groupBy(col("query_id")).agg(max(col("gen")).as("gen"))
    e.join(latest, Seq("query_id", "gen"))
      .select(col("query_id"), col("nbr_rank"), col("nbr_id"), col("cosine"))
  }

  /** Fold the graph's per-batch partitions into one generation, resolving
    * supersession physically (only max-gen rows survive); edges and probes
    * commit under ONE family CAS ([[graft.core.IndexLifecycle.compactFamily]]). */
  def compactKnnGraph(
      spark: org.apache.spark.sql.SparkSession,
      graphPath: String): Unit = {
    import graft.core.IndexLifecycle
    IndexLifecycle.compactFamily(spark, graphPath, Seq(
      ("edges",
        (df: DataFrame) => {
          val latest = df.groupBy(col("query_id")).agg(max(col("gen")).as("gen"))
          df.join(latest, Seq("query_id", "gen"))
        }, Nil),
      ("probes", (df: DataFrame) => df, Nil)))
  }

  /** Reciprocal-rank fusion of retrieval arms — the HYBRID retrieval step
    * (Cormack et al. '09: RRF beats learned fusion surprisingly often, needs
    * zero training, and consumes nothing but RANKS, which makes it the one
    * fusion rule an independent engine can replay bit-for-bit). Each arm is
    * any rank frame `(query_id, doc_id, rank)` — [[bruteForceTopK]] /
    * [[ivfadcTopKIndexed]] renamed, or
    * [[graft.functions.LexicalRetrieval.bm25TopKIndexed]] as-is — so the
    * fusion is arm-agnostic: production fuses the PERSISTED-index serving
    * paths of both families.
    *
    * Scale shape: arms arrive already top-N-truncated (each N·|queries|
    * rows), so everything here is narrow — the chained full-outer joins and
    * the rank-limit window run on request-batch-sized frames. Score =
    * Σ 1/(kRrf + rank) with missing-arm terms 0.0, summed in ARM ORDER (a
    * compile-time list — the q174 fixed-expression-order rule; each term is
    * one IEEE division, no transcendentals).
    *
    * @return (query_id, rank, doc_id, rrf) — fused top-k per query, ties →
    *   lower doc_id */
  def rrfFuse(arms: Seq[DataFrame], k: Int = 10, kRrf: Int = 60): DataFrame = {
    require(arms.nonEmpty && arms.size <= 8,
      "rrfFuse: 1..8 arms (terms sum in fixed expression order)")
    val keyed = arms.zipWithIndex.map { case (a, i) =>
      a.select(col("query_id"), col("doc_id"),
        col("rank").cast("long").as(s"__r$i"))
    }
    val joined = keyed.reduce((l, r) =>
      l.join(r, Seq("query_id", "doc_id"), "full_outer"))
    val score = keyed.indices
      .map(i => coalesce(
        lit(1.0) / (lit(kRrf.toDouble) + col(s"__r$i").cast("double")),
        lit(0.0)))
      .reduceLeft(_ + _)
    val w = Window.partitionBy("query_id")
      .orderBy(col("rrf").desc, col("doc_id").asc)
    joined.withColumn("rrf", round(score, 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "doc_id", "rrf")
  }

  /** LSH-bucketed approximate top-k — the training-free scale path (no
    * quantizer fit at all): `tables` independent random-hyperplane hash
    * tables; a query only scores corpus vectors sharing a bucket in at least
    * one table. Candidate volume ∝ tables / 2^bits of the corpus per query;
    * recall grows with `tables` (union of independent buckets). All bucketing
    * is seed-derived (no state to ship); the per-table candidate join is an
    * equi-join on the 64-bit bucket key.
    */
  def lshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      id: String,
      vec: String,
      k: Int,
      bits: Int = 8,
      tables: Int = 4,
      excludeSelf: Boolean = false,
      candidateSink: Option[String] = None): DataFrame = {

    import graft.functions.GraftFunctions.hyperplaneLshKey
    val c = corpus.select(col(id).as("nbr_id"), col(vec).as("cv"))
    val q = queries.select(col(id).as("query_id"), col(vec).as("qv"))
    val cond = if (excludeSelf) col("query_id") =!= col("nbr_id") else lit(true)

    // ALL tables' bucket keys in one pass per side (round 2 re-scanned the
    // corpus once per table), exploded to (table, bucket) and equi-joined;
    // ids-only through the union + dedup, vectors joined back once for
    // scoring (rankCandidates)
    def keyed(df: DataFrame, vcol: String, idc: String) = df.select(col(idc),
      posexplode(array((0 until tables).map(t =>
        hyperplaneLshKey(col(vcol), bits, 1000L * (t + 1))): _*)).as(Seq("t", "b")))
    val cand0 = keyed(c, "cv", "nbr_id")
      .join(broadcast(keyed(q, "qv", "query_id")), Seq("t", "b"))
      .filter(cond)
      .select(col("query_id"), col("nbr_id"))
      .dropDuplicates("query_id", "nbr_id")
    val candidates = sinkCandidates(cand0, candidateSink)
    rankCandidates(candidates, c, q, k)
  }

  // ------------------------------------------------------------ compression

  /** Symmetric per-vector int8 scale: 127 / max|x|, or 0.0 for an all-zero
    * vector (quantizing the zero vector must yield zeros, not NaNs from a
    * division by zero). Computed in doubles so an external oracle applying
    * the same IEEE ops reproduces it bit-for-bit. */
  def int8Scale(vec: Column): Column = {
    val ma = array_max(transform(vec, x => abs(x.cast("double"))))
    when(ma > 0, lit(127.0) / ma).otherwise(lit(0.0))
  }

  /** int8 scalar quantization of a float-vector column — the storage/serving
    * compression step a 100 TB vector corpus wants (4 bytes → 1 per dim)
    * before ANN serving; recall loss is negligible for cosine top-k at 64+
    * dims. Map-only codegen (transform + round), zero exchanges. Dequantize
    * with x ≈ q / scale. */
  def int8Quantize(vec: Column, scale: Column): Column =
    transform(vec, x => round(x.cast("double") * scale).cast("int"))

  /** Two-stage compressed-domain retrieval — the serving shape for a 100 TB
    * vector corpus: stage 1 scans only the INT8 index (1 byte/dim — 4× less
    * scan IO than fp32) and scores with an integer dot product. The
    * per-vector scales CANCEL out of the quantized cosine
    * (dot₈ / (‖q₈‖·‖c₈‖)), so stage 1 is integer algebra plus one sqrt —
    * no float vectors are read at all. Stage 2 reranks only the top-`m`
    * survivors per query against the fp32 vectors (exact codegen
    * [[graft.functions.CosineSimilarity]]) and cuts at `k`. `m/k` is the
    * recall lever; SimilaritySpec proves m = |corpus| degenerates to exact
    * brute force, and the clustered-fixture spec bounds recall at small m.
    * The stage-1 rank filter plants a partial WindowGroupLimit (map-side
    * top-m before the exchange), so the shuffle moves ≤ m·|queries| id
    * rows, never scores for the whole corpus. */
  /** Product-quantization two-stage top-k (Jégou–Douze–Schmid TPAMI'11,
    * public method) — the EXTREME-compression serving shape: each vector is
    * stored for stage 1 as `m` small codes (m bytes at codebookSize ≤ 256 —
    * 32× less than 64-dim fp32, 4× less than the int8 path), and stage-1
    * scoring never touches a vector at all: per query, an ADC table of
    * m × codebookSize precomputed sub-distances is broadcast, and each
    * corpus row's score is m ARRAY LOOKUPS + adds — pure codegen Column
    * algebra, no UDF.
    *
    * Both sides are L2-NORMALIZED first, so the stage-1 squared-L2 ADC
    * metric is 2 − 2·cosine — rank-equivalent to cosine — and stage 2
    * reranks the `shortlist` survivors per query with the exact codegen
    * [[CosineSimilarity]] on the original vectors (same rerank tail and
    * candidate-dump oracle contract as every other ANN path here).
    *
    * Quantizer fit: m independent KMeans fits on the SAMPLE's subspaces
    * (each tiny — subDim-dimensional, codebookSize centroids), so fit cost
    * stays constant as the corpus grows; encoding is one full-corpus
    * codegen pass (m·codebookSize fused sub-distance expressions per row).
    * `shortlist/k` is the recall lever; shortlist = |corpus| degenerates to
    * exact brute force (SimilaritySpec).
    *
    * The ADC broadcast is SIZE-GATED (same dial as [[ivfadcTopK]]): past
    * `adcBroadcastMaxBytes` the stage-1 join degrades to a blocked shuffle
    * equi-join (enc gets a bounded block id, ADC rows replicate per block)
    * — no cartesian, no BNLJ, no driver-side materialization of a table
    * that grows with the query batch. Memory discipline in the fallback is
    * SPILL-based, not magic: each block's task streams its enc slice
    * against the full ADC group, which Spark's join buffers spill to disk
    * past the in-memory threshold; parallelism equals the shuffle-partition
    * count. A query batch that large against a FLAT code table is at the
    * edge of this operator's design — [[ivfadcTopK]]'s cell-partitioned
    * probes are the intended shape there (its ADC tables carry a cell key,
    * so nothing ever meets the whole corpus). */
  def pqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      id: String,
      vec: String,
      k: Int,
      m: Int = 4,
      codebookSize: Int = 16,
      shortlist: Int = 50,
      seed: Long = 42L,
      excludeSelf: Boolean = false,
      fitSampleFraction: Double = 1.0,
      fitMaxIter: Int = 20,
      candidateSink: Option[String] = None,
      adcBroadcastMaxBytes: Long = 256L << 20): DataFrame = {
    require(m >= 1 && codebookSize >= 2 && shortlist >= k,
      "need m >= 1, codebookSize >= 2, shortlist >= k")

    val c0 = corpus.select(col(id).as("nbr_id"), col(vec).as("cv"))
    val q0 = queries.select(col(id).as("query_id"), col(vec).as("qv"))

    val cn = c0.withColumn("nv", l2normCol(col("cv")))
    val dim = cn.select(size(col("nv"))).limit(1).collect().headOption
      .map(_.getInt(0))
      .getOrElse(throw new IllegalArgumentException(
        "pqTopK: empty corpus — nothing to quantize"))
    require(dim >= m, s"vector dim $dim must be >= m=$m")
    // ragged/null vectors would produce null ADC scores that sort nulls-
    // first under s1 ASC and pollute the shortlist — fail loudly instead
    // (one cheap agg over the already-required scan). Null ELEMENTS are in
    // the same class: NearestCentroid's ArrayData.getDouble reads an
    // undefined 0.0 for them — silent misquantization, not an error
    val bad = cn.filter(col("nv").isNull || size(col("nv")) =!= dim ||
      exists(col("nv"), _.isNull)).limit(1).count()
    require(bad == 0, s"pqTopK: corpus has null, null-element, or non-$dim-dim vectors")
    // subspace j covers [starts(j), starts(j) + lens(j)) — last takes remainder
    val base = dim / m
    val starts = (0 until m).map(j => j * base + 1) // slice() is 1-based
    val lens = (0 until m).map(j => if (j == m - 1) dim - base * (m - 1) else base)

    // m independent sub-quantizer fits on the sample: each KMeans sees only
    // its subDim-dim projection, so fit cost is m small fits, not one big
    // one — and the m fits run CONCURRENTLY (independent jobs on the shared
    // context; Spark schedules them fine, and each fit is driver-
    // synchronized per iteration, so serial fits would sum their latencies)
    val fitSet = (if (fitSampleFraction < 1.0) cn.sample(fitSampleFraction, seed) else cn)
      .select((0 until m).map(j =>
        array_to_vector(slice(col("nv"), starts(j), lens(j))).as(s"__f$j")): _*)
      .persist()
    fitSet.count(): Unit
    val codebooks: IndexedSeq[IndexedSeq[Seq[Double]]] = {
      import scala.concurrent.{Await, ExecutionContext, Future}
      implicit val ec: ExecutionContext = ExecutionContext.global
      Await.result(Future.sequence((0 until m).map { j =>
        Future {
          new KMeans().setK(codebookSize).setSeed(seed + j).setMaxIter(fitMaxIter)
            .setFeaturesCol(s"__f$j").fit(fitSet)
            .clusterCenters.toIndexedSeq.map(_.toArray.toSeq)
        }
      }), scala.concurrent.duration.Duration(30, scala.concurrent.duration.MINUTES))
    }
    fitSet.unpersist(false)

    // sub-distance over a PRE-SLICED subvector column: slicing once per
    // subspace (not once per centroid) cuts array copies codebookSize×
    def sqDist(sub: Column, cen: Seq[Double]): Column =
      aggregate(zip_with(sub, typedLit(cen),
        (x, cc) => (x - cc) * (x - cc)), lit(0.0), (acc, d) => acc + d)
    def withSubs(df: DataFrame): DataFrame = df.select(df.columns.map(col) ++
      (0 until m).map(j => slice(col("nv"), starts(j), lens(j)).as(s"__s$j")): _*)

    // encode: per subspace, argmin over the codebook — m·codebookSize fused
    // sub-distance expressions, one pass, output is m small ints
    // per-subspace argmin is ONE codegen'd NearestCentroid scan (the HOF
    // form also re-evaluated the distance array twice — no CSE across
    // array_position/array_min)
    val codes = (0 until m).map { j =>
      graft.functions.NearestCentroid(col(s"__s$j"), codebooks(j).map(_.toSeq))
    }
    val enc = withSubs(cn).select(col("nbr_id"), array(codes: _*).as("pqc"))

    // per-query ADC tables: m × codebookSize exact sub-distances, carried as
    // an array-of-arrays into the broadcast — stage 1 reads NO vectors
    val qn = withSubs(q0.withColumn("nv", l2normCol(col("qv"))))
    val adc = qn.select(col("query_id"), array((0 until m).map { j =>
      array(codebooks(j).map(cen => sqDist(col(s"__s$j"), cen)): _*)
    }: _*).as("adc"))

    val cond = if (excludeSelf) col("query_id") =!= col("nbr_id") else lit(true)
    val score = (0 until m).map(j =>
      element_at(element_at(col("adc"), j + 1), element_at(col("pqc"), j + 1) + 1))
      .reduce(_ + _)
    val w = Window.partitionBy(col("query_id")).orderBy(col("s1").asc, col("nbr_id").asc)
    // flat PQ has no cell key, so the ADC side grows as |queries| · (m ·
    // codebookSize doubles) with nothing to equi-join on — a large query
    // batch would force an oversized broadcast (driver OOM). One cheap
    // count on the small side gates the hint; past the gate, stage 1
    // becomes a BLOCKED equi-join: enc takes a bounded block id, the ADC
    // rows replicate once per block, and the join shuffles on __blk — no
    // cartesian, no BNLJ, executor memory bounded by |adc| (it was anyway:
    // broadcast ships the whole table to every executor too), and the
    // driver never materializes the table
    val adcBytes = q0.count() * (16L + 8L * m * codebookSize)
    val scored = if (adcBytes <= adcBroadcastMaxBytes) {
      enc.join(broadcast(adc), cond)
    } else {
      val blocks = math.max(1,
        enc.sparkSession.sessionState.conf.numShufflePartitions)
      enc.withColumn("__blk", pmod(hash(col("nbr_id")), lit(blocks)))
        .join(adc.withColumn("__blk",
          explode(sequence(lit(0), lit(blocks - 1)))), Seq("__blk"))
        .drop("__blk")
        .filter(cond)
    }
    val cand0 = scored
      .withColumn("s1", score) // squared L2 on normalized vectors: 2 − 2·cos
      .withColumn("r1", row_number().over(w)).filter(col("r1") <= shortlist)
      .select(col("query_id"), col("nbr_id"))
    val candidates = sinkCandidates(cand0, candidateSink)
    rankCandidates(candidates, c0, q0, k)
  }

  /** IVFADC (Jégou et al. '11 §IV — the FAISS-standard serving shape):
    * coarse IVF cells + product-quantization codes on the RESIDUAL
    * (v − centroid(cell)). Composes the two existing approximations and
    * beats both at scale: vs [[pqTopK]], stage 1 scores only the probed
    * cells' codes (~nProbe/nCells of the corpus) instead of every code;
    * vs [[ivfTopK]], the probed candidates cost m bytes each instead of a
    * full fp32 vector. Residual coding is what makes the shared sub-
    * codebooks work across cells: residuals of different cells live in a
    * comparable zero-centered ball, so ONE set of m sub-quantizers covers
    * the whole corpus (the paper's core observation).
    *
    * Plan shape: coarse centroids live in literals (map-only cell
    * assignment + residual computation — no joins); the per-(query, probed
    * cell) ADC tables form a tiny frame BROADCAST into an EQUI-join on
    * cell (only probed cells' codes are ever read — with the codes table
    * bucketed/partitioned by cell at 100 TB, that join prunes to nProbe
    * partitions per query batch); exact-cosine rerank on the shortlist is
    * [[rankCandidates]], same oracle contract as q18/q148 (candidate dump,
    * external re-rank). nProbe = nCells ∧ shortlist = |corpus| degenerates
    * to exact brute force (SimilaritySpec). */
  def ivfadcTopK(
      corpus: DataFrame,
      queries: DataFrame,
      id: String,
      vec: String,
      k: Int,
      nCells: Int = 16,
      nProbe: Int = 4,
      m: Int = 4,
      codebookSize: Int = 16,
      shortlist: Int = 50,
      seed: Long = 42L,
      excludeSelf: Boolean = false,
      fitSampleFraction: Double = 1.0,
      fitMaxIter: Int = 20,
      candidateSink: Option[String] = None,
      adcBroadcastMaxBytes: Long = 256L << 20,
      coarseLiteralMaxBytes: Long = graft.dedup.Dedup.CodebookLiteralMaxBytes): DataFrame = {
    require(nCells >= 1 && nProbe >= 1 && nProbe <= nCells,
      "need 1 <= nProbe <= nCells")
    require(m >= 1 && codebookSize >= 2 && shortlist >= k,
      "need m >= 1, codebookSize >= 2, shortlist >= k")

    val c0 = corpus.select(col(id).as("nbr_id"), col(vec).as("cv"))
    val q0 = queries.select(col(id).as("query_id"), col(vec).as("qv"))
    val cn = c0.withColumn("nv", l2normCol(col("cv")))
    val dim = guardedDim(cn, "ivfadcTopK")
    require(dim >= m, s"vector dim $dim must be >= m=$m")

    val model = fitIvfadcModel(cn, dim, nCells, m, codebookSize, seed,
      fitSampleFraction, fitMaxIter, coarseLiteralMaxBytes)
    val ops = new CoarseOps(model, corpus.sparkSession, coarseLiteralMaxBytes)
    val enc = encodeIvfadc(cn, model, ops)
    val cand0 = ivfadcCandidates(enc, q0, model, ops, nProbe, shortlist,
      excludeSelf, adcBroadcastMaxBytes)
    val candidates = sinkCandidates(cand0, candidateSink)
    rankCandidates(candidates, c0, q0, k)
  }

  // ---------------------------------------------- shared IVFADC machinery

  /** Frozen IVFADC geometry: coarse centroids + the m shared residual
    * sub-codebooks. Plain driver-side arrays, bounded by the CODEBOOK
    * sizes (nCells·dim + m·codebookSize·(dim/m) doubles — never the data),
    * so assignment/encode/ADC are pure literal expressions and the serving
    * path carries no MLlib model object. */
  private[graft] case class IvfadcModel(
      coarse: IndexedSeq[Seq[Double]],
      codebooks: IndexedSeq[IndexedSeq[Seq[Double]]],
      dim: Int) {
    def kc: Int = coarse.size
    def m: Int = codebooks.size
  }

  /** L2-normalize (zero vectors stay zero — they score worst everywhere).
    * Fused single-pass native expression (r13-opt): the HOF composition it
    * replaces re-evaluated the norm aggregate per element — O(d²) per row.
    * Bit-identity against the composed form is pinned in L2NormalizeSpec. */
  private def l2normCol(v: Column): Column = graft.functions.L2Normalize(v)

  /** Reject empty corpora and null / null-element / ragged vectors — all
    * of which would misquantize silently downstream. Returns the corpus
    * dim. */
  private def guardedDim(cn: DataFrame, who: String): Int = {
    val dim = cn.select(size(col("nv"))).limit(1).collect().headOption
      .map(_.getInt(0))
      .getOrElse(throw new IllegalArgumentException(
        s"$who: empty corpus — nothing to quantize"))
    val bad = cn.filter(col("nv").isNull || size(col("nv")) =!= dim ||
      exists(col("nv"), _.isNull)).limit(1).count()
    require(bad == 0, s"$who: corpus has null, null-element, or non-$dim-dim vectors")
    dim
  }

  /** Subspace j covers 1-based slice [starts(j), +lens(j)) — last takes the
    * remainder. */
  private def subSpans(dim: Int, m: Int): (Seq[Int], Seq[Int]) = {
    val base = dim / m
    ((0 until m).map(j => j * base + 1),
      (0 until m).map(j => if (j == m - 1) dim - base * (m - 1) else base))
  }

  /** Map-only coarse-cell operations (assignment, residual, probe) over a
    * gated codebook carrier: under [[graft.dedup.Dedup.CodebookLiteralMaxBytes]]
    * the coarse matrix embeds in the plan as before (fastest at small kc);
    * past it, the plan carries only a BROADCAST handle — the k ∝ n regime's
    * fix for the coarse codebook, keeping assignment map-only (a join-based
    * assignment would put an n·kc exchange on the hot path for no reason:
    * the codebook must meet every row either way). Bit-identical both
    * sides — SimilaritySpec asserts it. */
  private final class CoarseOps(model: IvfadcModel,
      spark: org.apache.spark.sql.SparkSession, literalMaxBytes: Long) {
    private val overCap = model.kc.toLong * model.dim * 8L > literalMaxBytes
    private val ref: graft.functions.CodebookRef = {
      val mat = Array(model.coarse.map(_.toArray).toArray)
      if (overCap) graft.functions.BroadcastCodebooks(spark.sparkContext.broadcast(mat))
      else graft.functions.PlainCodebooks(mat)
    }
    def cell(v: Column): Column =
      graft.functions.NearestCentroid(v, lit(0), ref)
    def residual(v: Column, cellIdx: Column): Column =
      zip_with(v, graft.functions.CentroidLookup(cellIdx, ref), (a, b) => a - b)
    /** The min(nProbe, kc) nearest cells, ascending by d2 (ties → lower
      * cell id) — array<int>. */
    def probes(v: Column, nProbe: Int): Column =
      graft.functions.NearestCentroids(v, lit(0), ref, math.min(nProbe, model.kc))
  }

  /** Fit the coarse quantizer + the m residual sub-quantizers (one small
    * MLlib fit each, the m sub-fits concurrent — independent jobs on the
    * shared context, each driver-synchronized per iteration). Fit cost is
    * sample-bounded, constant as the corpus grows. */
  private def fitIvfadcModel(cn: DataFrame, dim: Int, nCells: Int, m: Int,
      codebookSize: Int, seed: Long, fitSampleFraction: Double,
      fitMaxIter: Int,
      coarseLiteralMaxBytes: Long = graft.dedup.Dedup.CodebookLiteralMaxBytes): IvfadcModel = {
    val fitSet0 = (if (fitSampleFraction < 1.0) cn.sample(fitSampleFraction, seed) else cn)
      .withColumn("__f", array_to_vector(col("nv"))).persist()
    fitSet0.count(): Unit
    val coarse: IndexedSeq[Seq[Double]] = new KMeans().setK(nCells).setSeed(seed)
      .setMaxIter(fitMaxIter).setFeaturesCol("__f").fit(fitSet0)
      .clusterCenters.toIndexedSeq.map(_.toArray.toSeq)
    // MLlib may return < nCells centroids on tiny corpora — kc is authority
    val partial = IvfadcModel(coarse, IndexedSeq.empty, dim)

    // PQ sub-quantizers fit on SAMPLE residuals, shared across cells:
    // residuals of different cells live in a comparable zero-centered ball
    // (Jégou '11's core observation)
    val (starts, lens) = subSpans(dim, m)
    val partialOps = new CoarseOps(partial, cn.sparkSession, coarseLiteralMaxBytes)
    val fitRes = fitSet0
      .withColumn("__cell", partialOps.cell(col("nv")))
      .withColumn("__r", partialOps.residual(col("nv"), col("__cell")))
      .select((0 until m).map(j =>
        array_to_vector(slice(col("__r"), starts(j), lens(j))).as(s"__f$j")): _*)
      .persist()
    fitRes.count(): Unit
    fitSet0.unpersist(false)
    val codebooks: IndexedSeq[IndexedSeq[Seq[Double]]] = {
      import scala.concurrent.{Await, ExecutionContext, Future}
      implicit val ec: ExecutionContext = ExecutionContext.global
      Await.result(Future.sequence((0 until m).map { j =>
        Future {
          new KMeans().setK(codebookSize).setSeed(seed + j).setMaxIter(fitMaxIter)
            .setFeaturesCol(s"__f$j").fit(fitRes)
            .clusterCenters.toIndexedSeq.map(_.toArray.toSeq)
        }
      }), scala.concurrent.duration.Duration(30, scala.concurrent.duration.MINUTES))
    }
    fitRes.unpersist(false)
    IvfadcModel(coarse, codebooks, dim)
  }

  private def sqDistLit(sub: Column, cen: Seq[Double]): Column =
    aggregate(zip_with(sub, typedLit(cen),
      (x, cc) => (x - cc) * (x - cc)), lit(0.0), (acc, d) => acc + d)

  /** Encode the normalized corpus to (nbr_id, cell, pqc) — m small ints per
    * vector, each subspace's argmin ONE codegen'd NearestCentroid scan. */
  private def encodeIvfadc(cn: DataFrame, model: IvfadcModel,
      ops: CoarseOps): DataFrame = {
    val (starts, lens) = subSpans(model.dim, model.m)
    val encSubs = (0 until model.m).map(j =>
      slice(col("__r"), starts(j), lens(j)).as(s"__s$j"))
    val codes = (0 until model.m).map { j =>
      graft.functions.NearestCentroid(col(s"__s$j"), model.codebooks(j).map(_.toSeq))
    }
    cn.withColumn("cell", ops.cell(col("nv")))
      .withColumn("__r", ops.residual(col("nv"), col("cell")))
      .select(Seq(col("nbr_id"), col("cell")) ++ encSubs: _*)
      .select(col("nbr_id"), col("cell"), array(codes: _*).as("pqc"))
  }

  /** Stage 1 over encoded codes: per query, probe the nProbe nearest cells
    * (map-only: sort the literal-scored struct array, slice, explode),
    * build the per-(query, probed cell) ADC table on THAT cell's residual,
    * equi-join on cell (only probed cells' codes are ever read), score by
    * m array lookups + adds, shortlist by rank. Returns (query_id, nbr_id)
    * candidates. */
  private def ivfadcCandidates(enc: DataFrame, q0: DataFrame,
      model: IvfadcModel, ops: CoarseOps, nProbe: Int, shortlist: Int,
      excludeSelf: Boolean, adcBroadcastMaxBytes: Long): DataFrame = {
    val m = model.m
    val kc = model.kc
    val (starts, lens) = subSpans(model.dim, m)
    val qn = q0.withColumn("nv", l2normCol(col("qv")))
    // top-nProbe cells per query in ONE codegen pass (NearestCentroids —
    // same (d2 asc, idx asc) order the previous literal array_sort form
    // produced, without materializing a kc-struct array per row)
    val probed = qn
      .withColumn("cell", explode(ops.probes(col("nv"), nProbe)))
      .withColumn("__r", ops.residual(col("nv"), col("cell")))
    val adc = probed
      .select(Seq(col("query_id"), col("cell")) ++
        (0 until m).map(j => slice(col("__r"), starts(j), lens(j)).as(s"__s$j")): _*)
      .select(col("query_id"), col("cell"), array((0 until m).map { j =>
        array(model.codebooks(j).map(cen => sqDistLit(col(s"__s$j"), cen)): _*)
      }: _*).as("adc"))

    // equi-join on cell: only probed cells' codes are read
    val cond = if (excludeSelf) col("query_id") =!= col("nbr_id") else lit(true)
    val codebookSize = model.codebooks.head.size
    val score = (0 until m).map(j =>
      element_at(element_at(col("adc"), j + 1), element_at(col("pqc"), j + 1) + 1))
      .reduce(_ + _)
    val w = Window.partitionBy(col("query_id")).orderBy(col("s1").asc, col("nbr_id").asc)
    // the ADC side grows as |queries| · nProbe · (m · codebookSize doubles)
    // — a large query batch would force an oversized broadcast (driver
    // OOM). One cheap count on the small side gates the hint; past the gate
    // stage 1 degrades to a shuffle equi-join on cell — same plan shape,
    // one more exchange (the Graph.triangleCounts fallback pattern)
    val adcBytes = q0.count() * math.min(nProbe, kc) *
      (16L + 8L * m * codebookSize)
    val adcSide = if (adcBytes <= adcBroadcastMaxBytes) broadcast(adc)
                  else adc.hint("shuffle_merge")
    enc.join(adcSide, Seq("cell"))
      .filter(cond)
      .withColumn("s1", score)
      .withColumn("r1", row_number().over(w)).filter(col("r1") <= shortlist)
      .select(col("query_id"), col("nbr_id"))
  }

  /** Build a PERSISTED IVFADC index — the fit-once serving shape (VERDICT
    * r7 item 5: at 100 TB nobody refits codebooks per query batch). Layout
    * under `indexPath`:
    *   - `coarse`:      (cell, centroid) — the frozen cell geometry
    *   - `pqcodebooks`: (sub, code, centroid) — the m residual sub-codebooks
    *   - `codes`:       (nbr_id, cell, pqc) — m-byte codes, THE stage-1 scan
    *     (at 100 TB partition/bucket this by cell so a probe prunes to
    *     nProbe partitions; the stage-1 join is already cell-equi)
    *   - `vectors`:     (nbr_id, cv) — fp32 originals, rerank-only
    * The fit is the exact machinery [[ivfadcTopK]] uses, so a query served
    * from the index agrees bit-for-bit with the refit path on the same
    * (corpus, params, seed) — asserted by SimilaritySpec. */
  def buildIvfadcIndex(
      corpus: DataFrame,
      id: String,
      vec: String,
      indexPath: String,
      nCells: Int = 16,
      m: Int = 4,
      codebookSize: Int = 16,
      seed: Long = 42L,
      fitSampleFraction: Double = 1.0,
      fitMaxIter: Int = 20,
      coarseLiteralMaxBytes: Long = graft.dedup.Dedup.CodebookLiteralMaxBytes): Unit = {
    require(nCells >= 1 && m >= 1 && codebookSize >= 2,
      "need nCells >= 1, m >= 1, codebookSize >= 2")
    val spark = corpus.sparkSession
    import spark.implicits._
    val c0 = corpus.select(col(id).as("nbr_id"), col(vec).as("cv"))
    val cn = c0.withColumn("nv", l2normCol(col("cv")))
    val dim = guardedDim(cn, "buildIvfadcIndex")
    require(dim >= m, s"vector dim $dim must be >= m=$m")
    // the fit reads only the input corpus — stage it OUTSIDE the lock so a
    // rebuild doesn't serialize its heaviest (index-independent) compute
    val model = fitIvfadcModel(cn, dim, nCells, m, codebookSize, seed,
      fitSampleFraction, fitMaxIter, coarseLiteralMaxBytes)
    val ops = new CoarseOps(model, spark, coarseLiteralMaxBytes)
    // EVERY index-table write — codebooks included — happens inside one
    // writer turn: the codebook overwrites would otherwise race a locked
    // append's loadIvfadcModel (files deleted mid-read, or a batch encoded
    // against geometry the rebuild is retiring)
    graft.core.IndexLifecycle.withIndexWriter(indexPath) { // rebuild: one writer turn
      model.coarse.zipWithIndex.map { case (cen, i) => (i, cen) }
        .toDF("cell", "centroid")
        .write.mode("overwrite").parquet(s"$indexPath/coarse")
      model.codebooks.zipWithIndex
        .flatMap { case (cb, j) => cb.zipWithIndex.map { case (cen, c) => (j, c, cen) } }
        .toDF("sub", "code", "centroid")
        .write.mode("overwrite").parquet(s"$indexPath/pqcodebooks")
      // codes + vectors live in batch=<id> partitions (the dedup-index
      // layout): the base build statically clears every partition, later
      // [[appendIvfadcIndex]] batches overwrite only their own — replay-safe
      // codes land DIRECTORY-PARTITIONED BY CELL (the 100 TB layout the class
      // doc promises): the stage-1 cell equi-join then prunes the scan to the
      // probed cells' directories via dynamic partition pruning — at scale a
      // nProbe/nCells probe reads nProbe/nCells of the FILES, not just of the
      // rows (plan-gated in SimilaritySpec)
      writeBatched(encodeIvfadc(cn, model, ops), s"$indexPath/codes", "base",
        wholeIndex = true, partitionCols = Seq("cell"))
      writeBatched(c0, s"$indexPath/vectors", "base", wholeIndex = true)
      // rebuild = new generation: the previous one's tombstones, which would
      // hide current vectors at serve time and suppress legitimate future
      // deletes, are cleared in place; an append's codes and reorder vectors
      // become readable atomically, at commitVisibleBatch
      graft.core.IndexLifecycle.resetVisibleBatches(indexPath, markers = Seq("tombstones"))
    }
  }

  // one copy of the replay-idempotence machinery: IndexLifecycle.writeIndexBatch is
  // the shared engine (batchId validation, dynamic-overwrite selection,
  // CURRENT-pointer resolution) — keeping a clone here would mean two copies
  // of the contract to keep in sync
  private def writeBatched(df: DataFrame, path: String, batchId: String,
      wholeIndex: Boolean = false, partitionCols: Seq[String] = Nil): Unit =
    graft.core.IndexLifecycle.writeIndexBatch(df, path, batchId, wholeIndex, partitionCols)

  /** Fold a NEW corpus batch into a persisted IVFADC index FIT-FREE — the
    * incremental serving story (the [[graft.dedup.Dedup.minhashLshIncremental]]
    * contract for ANN): the batch encodes against the FROZEN codebooks (one
    * map-only pass — cell assignment + residual PQ are literal-codebook
    * codegen expressions, no MLlib, no shuffles) and its codes + vectors
    * land in `batch=<batchId>` partitions, so a crash-retried or replayed
    * batch overwrites its own bytes instead of double-folding. Codebook
    * drift is the documented operational caveat: after enough distribution
    * shift, rebuild with [[buildIvfadcIndex]] rather than refitting in
    * place (frozen geometry is what keeps old codes valid). */
  def appendIvfadcIndex(
      newDf: DataFrame,
      id: String,
      vec: String,
      indexPath: String,
      batchId: String,
      coarseLiteralMaxBytes: Long = graft.dedup.Dedup.CodebookLiteralMaxBytes): Unit =
      graft.core.IndexLifecycle.withIndexWriter(indexPath) {
    // full-span lock, model load INCLUDED: a rebuild committing new
    // codebooks between an unlocked load and the write would fold codes
    // encoded against retired geometry into the rebuilt index — corrupt
    // ADC distances at serve time
    val spark = newDf.sparkSession
    val model = loadIvfadcModel(spark, indexPath)
    val ops = new CoarseOps(model, spark, coarseLiteralMaxBytes)
    val c0 = newDf.select(col(id).as("nbr_id"), col(vec).as("cv"))
    val cn = c0.withColumn("nv", l2normCol(col("cv")))
    val dim = guardedDim(cn, "appendIvfadcIndex")
    require(dim == model.dim,
      s"appendIvfadcIndex: batch dim $dim != index dim ${model.dim}")
    writeBatched(encodeIvfadc(cn, model, ops), s"$indexPath/codes", batchId,
      partitionCols = Seq("cell"))
    writeBatched(c0, s"$indexPath/vectors", batchId)
    // atomic visibility: codes and reorder vectors appear together — a torn
    // append can no longer surface candidates whose exact vectors are
    // missing (the rerank join would silently drop them, degrading top-k)
    graft.core.IndexLifecycle.commitVisibleBatch(indexPath, batchId)
  }

  /** Compact the per-batch codes/vectors partitions into one `batch=base`
    * under a new version dir — both tables commit under ONE family CAS
    * ([[graft.core.IndexLifecycle.compactFamily]]: an overlapping reader can never
    * see codes at version N with reorder vectors at N−1). A year of daily
    * appends is 365 partition dirs of small files — the
    * [[graft.dedup.Dedup.compactMinhashIndex]] maintenance pattern. */
  def compactIvfadcIndex(
      spark: org.apache.spark.sql.SparkSession, indexPath: String): Unit =
    compactIvfadcTables(spark, indexPath, erase = identity)

  /** One family commit for codes + vectors + tombstones. The marker table
    * folds WITH the data tables (identity under a plain compaction —
    * pending markers survive into the new generation's base; the purge's
    * anti-join under a purge — markers retire in the SAME CAS that erases
    * their rows), so every generation carries its own marker view and a
    * serve pinned at the superseded generation keeps its pending deletes
    * for the full retention cycle. */
  private def compactIvfadcTables(
      spark: org.apache.spark.sql.SparkSession, indexPath: String,
      erase: DataFrame => DataFrame): Unit =
    graft.core.IndexLifecycle.compactFamily(spark, indexPath, Seq(
      ("codes", erase, Seq("cell")),
      ("vectors", erase, Nil),
      ("tombstones", erase, Nil)))

  /** Tombstone vectors OUT of a persisted IVFADC index — the erasure path
    * for ANN serving ([[graft.core.FeatureStore.deleteRecords]]'s semantic
    * applied to the vector index; a store that can forget a user but whose
    * embedding index still retrieves them has not forgotten them). Ids land
    * in replay-idempotent `tombstones/batch=<id>` partitions; serving
    * ([[ivfadcTopKIndexed]]) anti-joins them out of the stage-1 codes scan
    * (tombstones are id-only narrow rows — broadcast-sized until purge),
    * and [[purgeIvfadcIndex]] physically erases them. Re-appending a
    * tombstoned id stays hidden until a purge clears the marker — the
    * documented semantic (erasure outranks resurrection). */
  def deleteFromIvfadcIndex(keys: DataFrame, id: String, indexPath: String,
      batchId: String): Unit = graft.core.IndexLifecycle.withIndexWriter(indexPath) {
    writeBatched(keys.select(col(id).as("nbr_id")).distinct(),
      s"$indexPath/tombstones", batchId)
    graft.core.IndexLifecycle.commitVisibleBatch(indexPath, batchId)
  }

  private def readTombstones(
      spark: org.apache.spark.sql.SparkSession, indexPath: String,
      snap: Option[graft.core.IndexLifecycle.FamilySnapshot] = None): Option[DataFrame] =
    graft.core.IndexLifecycle.readMarkerTable(spark, indexPath, "tombstones",
      snapshot = snap).map(_.select("nbr_id").distinct())

  /** Physical purge: ONE family commit that anti-joins the pending
    * tombstones out of codes, vectors AND the tombstone table itself (a
    * marker retires in the same CAS that erases its rows — a reader can
    * never see purged data with pending markers or vice versa). Writers
    * serialize on the family lock, so no delete can land mid-purge; a
    * crash before the CAS changes nothing (surviving tombstones still
    * anti-join at serve time) and a retry completes the purge.
    * Version retention: the superseded generation holds the erased vectors
    * AND its marker view one more cycle, so a serve that pinned it keeps
    * excluding the deleted ids — [[graft.core.IndexLifecycle.vacuumIndex]] per
    * table for an immediate full erase (the purgeBm25Index caveat). */
  def purgeIvfadcIndex(
      spark: org.apache.spark.sql.SparkSession, indexPath: String): Unit =
      graft.core.IndexLifecycle.withIndexWriter(indexPath) {
    readTombstones(spark, indexPath) match {
      case Some(t0) =>
        val t = broadcast(t0)
        compactIvfadcTables(spark, indexPath,
          erase = _.join(t, Seq("nbr_id"), "left_anti"))
      case None => compactIvfadcIndex(spark, indexPath)
    }
  }

  /** Rebuild the frozen [[IvfadcModel]] from a persisted index — codebook-
    * bounded collects only, no MLlib. */
  private[graft] def loadIvfadcModel(
      spark: org.apache.spark.sql.SparkSession, indexPath: String): IvfadcModel = {
    val coarse = spark.read.parquet(s"$indexPath/coarse")
      .select(col("cell").cast("int"), col("centroid")).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1))).sortBy(_._1)
      .map(_._2.toSeq).toIndexedSeq
    require(coarse.nonEmpty, s"empty coarse codebook at $indexPath")
    val cbRows = spark.read.parquet(s"$indexPath/pqcodebooks")
      .select(col("sub").cast("int"), col("code").cast("int"), col("centroid"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toSeq))
    val m = cbRows.map(_._1).max + 1
    val codebooks = IndexedSeq.tabulate(m)(j =>
      cbRows.filter(_._1 == j).sortBy(_._2).map(_._3).toIndexedSeq)
    IvfadcModel(coarse, codebooks, coarse.head.size)
  }

  /** IVFADC against a PERSISTED index ([[buildIvfadcIndex]]) — fit-free
    * serving, the q86 pattern for the PQ family: stage 1 reads ONLY the
    * m-byte codes table (equi-joined on cell, probe-pruned), rerank joins
    * the stored fp32 vectors back by id. Same candidate-dump oracle
    * contract as [[ivfadcTopK]].
    *
    * @param preloadedModel the frozen geometry, loaded ONCE by long-lived
    *   callers ([[graft.streaming.StreamingAnnServe]] serves many
    *   micro-batches against one index — re-collecting the codebooks per
    *   batch is pure fixed overhead on the request path; the index contract
    *   freezes them, so a pre-start load stays valid for the stream's
    *   lifetime). Codes and tombstones are still read per call — those DO
    *   change under fold-in/deletes.
    * @param allowed FILTERED ANN (the metadata-constrained production
    *   query: "top-k among docs WHERE <predicate>"): a frame whose FIRST
    *   column holds the allowed ids. It SEMI-JOINS the stage-1 codes scan
    *   BEFORE shortlisting, so filtering is exact — post-filtering a fixed
    *   shortlist under-fills k whenever the predicate is selective (the
    *   classic filtered-ANN recall bug). Ids-only and narrow at any scale;
    *   at full nProbe with an uncapped shortlist the result degenerates to
    *   the EXACT filtered top-k (q230's pure-SQL oracle relies on it). */
  def ivfadcTopKIndexed(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      queries: DataFrame,
      id: String,
      vec: String,
      k: Int,
      nProbe: Int = 4,
      shortlist: Int = 50,
      excludeSelf: Boolean = false,
      candidateSink: Option[String] = None,
      adcBroadcastMaxBytes: Long = 256L << 20,
      preloadedModel: Option[IvfadcModel] = None,
      coarseLiteralMaxBytes: Long = graft.dedup.Dedup.CodebookLiteralMaxBytes,
      allowed: Option[DataFrame] = None): DataFrame = {
    require(shortlist >= k, "need shortlist >= k")
    // ONE family snapshot for the whole serve: codes, reorder vectors and
    // tombstones resolve at the same generation under the same manifest
    // (the bm25TopKIndexed discipline; the codebooks are rebuild-only
    // overwrite-in-place tables outside the versioned set)
    val snap = Some(graft.core.IndexLifecycle.familySnapshot(indexPath))
    val model = preloadedModel.getOrElse(loadIvfadcModel(spark, indexPath))
    val ops = new CoarseOps(model, spark, coarseLiteralMaxBytes)
    val enc1 = graft.core.IndexLifecycle.readVisibleTable(spark, indexPath, "codes",
        snapshot = snap)
      .select(col("nbr_id"), col("cell").cast("int").as("cell"), col("pqc"))
    // pending tombstones hide deleted vectors from stage 1 (id-only
    // broadcast anti-join); candidates therefore never contain them, so the
    // rerank join needs no second filter
    val enc0 = readTombstones(spark, indexPath, snap)
      .fold(enc1)(t => enc1.join(broadcast(t), Seq("nbr_id"), "left_anti"))
    // metadata filter applies at stage 1 too (see `allowed`)
    val enc = allowed.fold(enc0)(a =>
      enc0.join(a.select(col(a.columns.head).as("nbr_id")), Seq("nbr_id"), "left_semi"))
    val q0 = queries.select(col(id).as("query_id"), col(vec).as("qv"))
    val cand0 = ivfadcCandidates(enc, q0, model, ops, nProbe, shortlist,
      excludeSelf, adcBroadcastMaxBytes)
    val candidates = sinkCandidates(cand0, candidateSink)
    val stored = graft.core.IndexLifecycle.readVisibleTable(spark, indexPath, "vectors",
        snapshot = snap)
      .select(col("nbr_id"), col("cv"))
    rankCandidates(candidates, stored, q0, k)
  }

  def twoStageTopK(
      corpus: DataFrame,
      queries: DataFrame,
      id: String,
      vec: String,
      k: Int,
      m: Int,
      excludeSelf: Boolean = false,
      candidateSink: Option[String] = None): DataFrame = {
    val c0 = corpus.select(col(id).as("nbr_id"), col(vec).as("cv"))
    val q0 = queries.select(col(id).as("query_id"), col(vec).as("qv"))
    def l2sq(a: String) = expr(s"aggregate($a, 0L, (acc, x) -> acc + CAST(x AS BIGINT) * x)")
    val c = c0.withColumn("cq", int8Quantize(col("cv"), int8Scale(col("cv"))))
      .withColumn("c_l2", l2sq("cq")).select("nbr_id", "cq", "c_l2")
    val q = q0.withColumn("qq", int8Quantize(col("qv"), int8Scale(col("qv"))))
      .withColumn("q_l2", l2sq("qq")).select("query_id", "qq", "q_l2")
    val cond = if (excludeSelf) col("query_id") =!= col("nbr_id") else lit(true)
    val scored = c.join(broadcast(q), cond)
      .withColumn("dot8",
        expr("aggregate(zip_with(qq, cq, (x, y) -> CAST(x AS BIGINT) * y), 0L, (acc, v) -> acc + v)"))
      .withColumn("s1", when(col("q_l2") > 0 && col("c_l2") > 0,
          col("dot8").cast("double") /
            (sqrt(col("q_l2").cast("double")) * sqrt(col("c_l2").cast("double"))))
        .otherwise(lit(-2.0)))
    val w = Window.partitionBy(col("query_id")).orderBy(col("s1").desc, col("nbr_id").asc)
    val cand0 = scored.withColumn("r1", row_number().over(w)).filter(col("r1") <= m)
      .select(col("query_id"), col("nbr_id"))
    val candidates = sinkCandidates(cand0, candidateSink)
    rankCandidates(candidates, c0, q0, k)
  }
}
