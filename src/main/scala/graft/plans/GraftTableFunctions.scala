package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{IntegerType, StringType}

/** TABLE-VALUED SQL surface for the engine's serving faces — the forms a
  * SQL-text user (the reference's population: its users query through SQL,
  * historical_features.py:28-32) reaches without touching the Column API:
  *
  *   SELECT * FROM bm25_topk('/idx/path', 'spark window hash', 10)
  *   SELECT * FROM dedup_exact_marks('/data/docs.parquet', 'doc_id', 'text')
  *   SELECT * FROM lm_ppl('/idx/lm', '/data/docs.parquet', 'doc_id', 'text')
  *
  * Each READ builder runs at ANALYSIS time: it resolves its literal
  * arguments, constructs exactly the Column-API plan (the same code path —
  * SQL and Scala cannot drift; GraftExtensionsSpec asserts ≡, and q232–q234
  * oracle the SQL forms against the Column-API queries' DuckDB oracles),
  * and returns its analyzed LogicalPlan for the outer query to splice. The
  * WRITE/MAINTENANCE faces (feature_store_merge / _delete / _compact /
  * _vacuum, index_vacuum) instead return [[FeatureStoreCommands]] nodes
  * whose side effects run at EXECUTION time — see that file for the
  * EXPLAIN / failed-analysis contract. Tuning arguments must be literals,
  * exactly like Spark's own `range(0, 10)` TVF.
  *
  * Note on `lm_ppl`: [[graft.functions.LmPerplexity.perplexityIndexed]]
  * materializes its result (the staged probe plan collects the request
  * batch's bigram buckets), so this TVF computes when the statement is
  * ANALYZED — serving-call semantics, not lazy-view semantics. */
object GraftTableFunctions {

  private def litStr(e: Expression, what: String): String = e match {
    case Literal(v, StringType) if v != null => v.toString
    case other =>
      throw new IllegalArgumentException(s"$what must be a STRING literal, got $other")
  }

  private def litInt(e: Expression, what: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other =>
      throw new IllegalArgumentException(s"$what must be an INT literal, got $other")
  }

  private def session: SparkSession = SparkSession.getActiveSession.getOrElse(
    throw new IllegalStateException("graft TVF invoked with no active SparkSession"))

  type TvfDescriptor =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => LogicalPlan)

  /** `bm25_topk(indexPath, query[, k])` — top-k serve from a PERSISTED BM25
    * index ([[graft.functions.LexicalRetrieval.bm25TopKIndexed]]: term-
    * bucket-pruned postings scan, tombstones excluded). The query string
    * splits on whitespace; k defaults to 10. Output (rank, doc_id, dl,
    * score) — the single-query shape. */
  private[plans] val bm25TopKDescriptor: TvfDescriptor = (
    FunctionIdentifier("bm25_topk"),
    new ExpressionInfo(GraftTableFunctions.getClass.getName, null, "bm25_topk"),
    (args: Seq[Expression]) => {
      require(args.length == 2 || args.length == 3,
        s"bm25_topk expects (indexPath, query[, k]), got ${args.length} arguments")
      val idx = litStr(args(0), "bm25_topk indexPath")
      val query = litStr(args(1), "bm25_topk query").trim
      require(query.nonEmpty, "bm25_topk query must be a non-empty string")
      val k = if (args.length == 3) litInt(args(2), "bm25_topk k") else 10
      val s = session
      import s.implicits._
      val queries = Seq((1L, query.split("\\s+").toSeq)).toDF("query_id", "terms")
      graft.functions.LexicalRetrieval.bm25TopKIndexed(s, idx, queries, k = k)
        .select("rank", "doc_id", "dl", "score")
        .queryExecution.analyzed
    })

  /** `dedup_exact_marks(docsPath[, idCol, textCol])` — exact-duplicate
    * marks ([[graft.dedup.Dedup.exact]]) over a parquet corpus: one row per
    * distinct text hash with the kept id and the copy count. */
  private[plans] val dedupExactMarksDescriptor: TvfDescriptor = (
    FunctionIdentifier("dedup_exact_marks"),
    new ExpressionInfo(GraftTableFunctions.getClass.getName, null, "dedup_exact_marks"),
    (args: Seq[Expression]) => {
      require(args.length == 1 || args.length == 3,
        s"dedup_exact_marks expects (docsPath[, idCol, textCol]), got ${args.length} arguments")
      val path = litStr(args(0), "dedup_exact_marks docsPath")
      val idCol = if (args.length == 3) litStr(args(1), "idCol") else "doc_id"
      val textCol = if (args.length == 3) litStr(args(2), "textCol") else "text"
      val s = session
      graft.dedup.Dedup.exact(s.read.parquet(path), idCol, textCol)
        .queryExecution.analyzed
    })

  /** `lm_ppl(indexPath, docsPath[, idCol, textCol])` — perplexity of each
    * document in a parquet corpus against a PERSISTED LM
    * ([[graft.functions.LmPerplexity.perplexityIndexed]]: bucket-pruned
    * bigram probe). Output (doc_id, n_bigrams, logppl). */
  private[plans] val lmPplDescriptor: TvfDescriptor = (
    FunctionIdentifier("lm_ppl"),
    new ExpressionInfo(GraftTableFunctions.getClass.getName, null, "lm_ppl"),
    (args: Seq[Expression]) => {
      require(args.length == 2 || args.length == 4,
        s"lm_ppl expects (indexPath, docsPath[, idCol, textCol]), got ${args.length} arguments")
      val idx = litStr(args(0), "lm_ppl indexPath")
      val path = litStr(args(1), "lm_ppl docsPath")
      val idCol = if (args.length == 4) litStr(args(2), "idCol") else "doc_id"
      val textCol = if (args.length == 4) litStr(args(3), "textCol") else "text"
      val s = session
      graft.functions.LmPerplexity.perplexityIndexed(
          s, idx, s.read.parquet(path).select(col(idCol), col(textCol)), idCol, textCol)
        .queryExecution.analyzed
    })

  /** `ann_topk(indexPath, queriesPath[, k, nProbe[, idCol, vecCol]])` — ANN
    * top-k over a persisted IVF (flat) semantic index
    * ([[graft.similarity.Similarity.ivfTopKIndexed]]): every query vector
    * in the parquet file probes its `nProbe` nearest cells, candidates are
    * reranked by exact cosine. `nProbe` ≥ the index's cell count
    * degenerates to the EXACT top-k (the q230 adjudication — q235 oracles
    * that form in pure SQL). Defaults: k=10, nProbe=4, idCol=vec_id,
    * vecCol=embedding. Output (query_id, nbr_rank, nbr_id, cosine). */
  private[plans] val annTopKDescriptor: TvfDescriptor = (
    FunctionIdentifier("ann_topk"),
    new ExpressionInfo(GraftTableFunctions.getClass.getName, null, "ann_topk"),
    (args: Seq[Expression]) => {
      require(args.length == 2 || args.length == 4 || args.length == 6,
        s"ann_topk expects (indexPath, queriesPath[, k, nProbe[, idCol, vecCol]]), got ${args.length} arguments")
      val idx = litStr(args(0), "ann_topk indexPath")
      val path = litStr(args(1), "ann_topk queriesPath")
      val k = if (args.length >= 4) litInt(args(2), "ann_topk k") else 10
      val nProbe = if (args.length >= 4) litInt(args(3), "ann_topk nProbe") else 4
      val idCol = if (args.length == 6) litStr(args(4), "idCol") else "vec_id"
      val vecCol = if (args.length == 6) litStr(args(5), "vecCol") else "embedding"
      val s = session
      graft.similarity.Similarity.ivfTopKIndexed(
          s, idx, s.read.parquet(path), idCol, vecCol, k = k, nProbe = nProbe)
        .queryExecution.analyzed
    })

  /** `feature_store_merge(storeDir, group, changesPath, opCol[, tiebreakCol])`
    * — the MERGE-INTO-shaped SQL WRITE face of the feature store (the last
    * asymmetry in the SQL surface: reads had TVFs, writes were Scala-only).
    * The parquet at `changesPath` is a CDC batch: rows whose `opCol` reads
    * `'D'` are deletions, everything else upserts — the q111 CdcMerge
    * semantics wired to [[graft.core.FeatureStore.ingest]] /
    * [[graft.core.FeatureStore.deleteRecordsFrame]]. The batch first
    * collapses to ONE NET change per key (latest by the group's event-time
    * column, then `tiebreakCol` when given — sequential-apply semantics
    * without sequential execution), then net upserts commit as one ingest
    * and net deletions as one tombstone sequence AFTER it (within one
    * batch, deletion outranks an upsert it nets against — per-key netting
    * means a key is one or the other). Key and event-time columns come
    * from the group's declared schema; the group must exist.
    *
    * EXECUTION-TIME semantics (round 12): the builder only parses its
    * literal arguments and returns a [[FeatureStoreMergeCommand]] — the
    * merge runs when Spark executes the command (eager on `spark.sql`,
    * like INSERT), never on EXPLAIN or a failed outer analysis. Summary
    * row: (n_upserted, n_deleted, ingest_seq, delete_seq; -1 = empty). */
  private[plans] val featureStoreMergeDescriptor: TvfDescriptor = (
    FunctionIdentifier("feature_store_merge"),
    new ExpressionInfo(GraftTableFunctions.getClass.getName, null, "feature_store_merge"),
    (args: Seq[Expression]) => {
      require(args.length == 4 || args.length == 5,
        s"feature_store_merge expects (storeDir, group, changesPath, opCol[, tiebreakCol]), got ${args.length} arguments")
      FeatureStoreMergeCommand(
        storeDir = litStr(args(0), "feature_store_merge storeDir"),
        group = litStr(args(1), "feature_store_merge group"),
        changesPath = litStr(args(2), "feature_store_merge changesPath"),
        opCol = litStr(args(3), "feature_store_merge opCol"),
        tiebreak = if (args.length == 5) Seq(litStr(args(4), "tiebreakCol")) else Nil)
    })

  /** `feature_store_delete(storeDir, group, keysCsv)` — the DELETE-shaped
    * GDPR face: `keysCsv` is the statement's explicit key list
    * (`'17,23,99'` ≙ `DELETE ... WHERE key IN (17, 23, 99)`), applied via
    * [[graft.core.FeatureStore.deleteRecords]] — online removal at once,
    * offline tombstone, physical erase at the next compaction (the
    * documented GDPR pipeline). Execution-time command semantics
    * ([[FeatureStoreDeleteCommand]]); returns (n_keys, delete_seq). */
  private[plans] val featureStoreDeleteDescriptor: TvfDescriptor = (
    FunctionIdentifier("feature_store_delete"),
    new ExpressionInfo(GraftTableFunctions.getClass.getName, null, "feature_store_delete"),
    (args: Seq[Expression]) => {
      require(args.length == 3,
        s"feature_store_delete expects (storeDir, group, keysCsv), got ${args.length} arguments")
      val keys = litStr(args(2), "feature_store_delete keysCsv")
        .split(",").iterator.map(_.trim).filter(_.nonEmpty).toSeq
      require(keys.nonEmpty, "feature_store_delete: empty key list")
      FeatureStoreDeleteCommand(
        storeDir = litStr(args(0), "feature_store_delete storeDir"),
        group = litStr(args(1), "feature_store_delete group"),
        keys = keys)
    })

  /** `feature_store_compact(storeDir, group)` — statement face of offline
    * compaction ([[FeatureStoreCompactCommand]] →
    * [[graft.core.FeatureStore.compactOffline]]): folds tombstones into a
    * rewritten history version (the physical GDPR erase) and GCs superseded
    * versions. Returns (n_files). */
  private[plans] val featureStoreCompactDescriptor: TvfDescriptor = (
    FunctionIdentifier("feature_store_compact"),
    new ExpressionInfo(GraftTableFunctions.getClass.getName, null, "feature_store_compact"),
    (args: Seq[Expression]) => {
      require(args.length == 2,
        s"feature_store_compact expects (storeDir, group), got ${args.length} arguments")
      FeatureStoreCompactCommand(
        storeDir = litStr(args(0), "feature_store_compact storeDir"),
        group = litStr(args(1), "feature_store_compact group"))
    })

  /** `feature_store_vacuum(storeDir, group[, keep])` — statement face of
    * online snapshot retention ([[FeatureStoreVacuumCommand]] →
    * [[graft.core.FeatureStore.gcOnline]]); keep defaults to 2, never drops
    * LATEST. Returns (n_dropped, n_kept). */
  private[plans] val featureStoreVacuumDescriptor: TvfDescriptor = (
    FunctionIdentifier("feature_store_vacuum"),
    new ExpressionInfo(GraftTableFunctions.getClass.getName, null, "feature_store_vacuum"),
    (args: Seq[Expression]) => {
      require(args.length == 2 || args.length == 3,
        s"feature_store_vacuum expects (storeDir, group[, keep]), got ${args.length} arguments")
      val keep = if (args.length == 3) litInt(args(2), "feature_store_vacuum keep") else 2
      require(keep >= 1, s"feature_store_vacuum keep must be >= 1, got $keep")
      FeatureStoreVacuumCommand(
        storeDir = litStr(args(0), "feature_store_vacuum storeDir"),
        group = litStr(args(1), "feature_store_vacuum group"),
        keep = keep)
    })

  /** `index_vacuum(familyPath)` — statement face of
    * [[graft.core.IndexLifecycle.vacuumFamily]] ([[IndexVacuumCommand]]): drops
    * superseded index generations below the family retention floor — the
    * byte-level erasure SLA's final step, now reachable from SQL so the
    * documented GDPR pipeline (delete → compact → vacuum) runs entirely as
    * statements. Returns (family, vacuumed). */
  private[plans] val indexVacuumDescriptor: TvfDescriptor = (
    FunctionIdentifier("index_vacuum"),
    new ExpressionInfo(GraftTableFunctions.getClass.getName, null, "index_vacuum"),
    (args: Seq[Expression]) => {
      require(args.length == 1,
        s"index_vacuum expects (familyPath), got ${args.length} arguments")
      IndexVacuumCommand(litStr(args(0), "index_vacuum familyPath"))
    })

  /** `feature_store_create(storeDir, group, keyCol, eventTimeCol,
    * 'name:type,...')` — CREATE-FEATURE-GROUP DDL
    * ([[FeatureStoreCreateGroupCommand]]). */
  private[plans] val featureStoreCreateDescriptor: TvfDescriptor = (
    FunctionIdentifier("feature_store_create"),
    new ExpressionInfo(GraftTableFunctions.getClass.getName, null, "feature_store_create"),
    (args: Seq[Expression]) => {
      require(args.length == 5,
        s"feature_store_create expects (storeDir, group, keyCol, eventTimeCol, schemaSpec), got ${args.length} arguments")
      FeatureStoreCreateGroupCommand(
        litStr(args(0), "storeDir"), litStr(args(1), "group"),
        litStr(args(2), "keyCol"), litStr(args(3), "eventTimeCol"),
        litStr(args(4), "schemaSpec"))
    })

  /** `feature_store_drop_group(storeDir, group)` — DROP-TABLE-shaped DDL
    * ([[FeatureStoreDropGroupCommand]]). */
  private[plans] val featureStoreDropGroupDescriptor: TvfDescriptor = (
    FunctionIdentifier("feature_store_drop_group"),
    new ExpressionInfo(GraftTableFunctions.getClass.getName, null, "feature_store_drop_group"),
    (args: Seq[Expression]) => {
      require(args.length == 2,
        s"feature_store_drop_group expects (storeDir, group), got ${args.length} arguments")
      FeatureStoreDropGroupCommand(litStr(args(0), "storeDir"), litStr(args(1), "group"))
    })

  /** The four schema-evolution statements — thin [[FeatureStoreEvolveCommand]]
    * faces over add/drop/rename/widen (see `FeatureStore`'s evolution API
    * for each one's exact read contract). */
  private def evolveDescriptor(fn: String, op: String, twoArgs: Boolean): TvfDescriptor = (
    FunctionIdentifier(fn),
    new ExpressionInfo(GraftTableFunctions.getClass.getName, null, fn),
    (args: Seq[Expression]) => {
      val n = if (twoArgs) 4 else 3
      require(args.length == n, s"$fn expects $n arguments, got ${args.length}")
      FeatureStoreEvolveCommand(
        litStr(args(0), "storeDir"), litStr(args(1), "group"), op,
        litStr(args(2), s"$fn arg"),
        if (twoArgs) litStr(args(3), s"$fn arg") else "")
    })

  private[plans] val featureStoreAddFeatureDescriptor: TvfDescriptor =
    evolveDescriptor("feature_store_add_feature", "add", twoArgs = true)
  private[plans] val featureStoreDropFeatureDescriptor: TvfDescriptor =
    evolveDescriptor("feature_store_drop_feature", "drop", twoArgs = false)
  private[plans] val featureStoreRenameFeatureDescriptor: TvfDescriptor =
    evolveDescriptor("feature_store_rename_feature", "rename", twoArgs = true)
  private[plans] val featureStoreWidenFeatureDescriptor: TvfDescriptor =
    evolveDescriptor("feature_store_widen_feature", "widen", twoArgs = true)

  /** `feature_store_describe(storeDir, group)` — metadata READ face
    * (analysis-time plan like every read TVF; side-effect free): one row
    * per declared feature — (feature, ftype, is_key, is_event_time,
    * since, state) — plus one row per LINGERING column name whose
    * orphaned bytes may still sit in history after a drop or rename
    * (state `lingering_pending_compaction`, since = -1): the
    * operator-visible face of the claim type-conflict registry, so a
    * refused `feature_store_add_feature`/`_rename_feature` is diagnosable
    * from SQL. A declared feature mid-widen-recovery shows state
    * `widening_pending`. All rows derive from ONE manifest read (a
    * concurrent mutation cannot make the declared view and the registry
    * disagree within one result). */
  private[plans] val featureStoreDescribeDescriptor: TvfDescriptor = (
    FunctionIdentifier("feature_store_describe"),
    new ExpressionInfo(GraftTableFunctions.getClass.getName, null, "feature_store_describe"),
    (args: Seq[Expression]) => {
      require(args.length == 2,
        s"feature_store_describe expects (storeDir, group), got ${args.length} arguments")
      val store = litStr(args(0), "storeDir")
      val group = litStr(args(1), "group")
      val s = session
      import s.implicits._
      val (g, lingering, widening) =
        new graft.core.FeatureStore(s, store).evolutionState(group)
      val declared = g.features.map(f => (f.name, graft.core.FType.name(f.ftype),
        f.name == g.keyCol, f.name == g.eventTimeCol, f.since,
        if (widening.contains(f.name)) "widening_pending" else "declared"))
      val orphans = lingering.map { case (n, t) =>
        (n, graft.core.FType.name(t), false, false, -1L, "lingering_pending_compaction") }
      (declared ++ orphans)
        .toDF("feature", "ftype", "is_key", "is_event_time", "since", "state")
        .queryExecution.analyzed
    })

  private[plans] val all: Seq[TvfDescriptor] =
    Seq(bm25TopKDescriptor, dedupExactMarksDescriptor, lmPplDescriptor,
      annTopKDescriptor, featureStoreMergeDescriptor, featureStoreDeleteDescriptor,
      featureStoreCompactDescriptor, featureStoreVacuumDescriptor,
      indexVacuumDescriptor, featureStoreCreateDescriptor,
      featureStoreDropGroupDescriptor, featureStoreAddFeatureDescriptor,
      featureStoreDropFeatureDescriptor, featureStoreRenameFeatureDescriptor,
      featureStoreWidenFeatureDescriptor, featureStoreDescribeDescriptor)

  /** Programmatic alternative when the session already exists (tests, REPL)
    * — mirrors [[GraftExtensions.register]]. */
  def register(spark: SparkSession): Unit =
    all.foreach { case (id, info, builder) =>
      spark.sessionState.tableFunctionRegistry.registerFunction(id, info, builder)
    }
}
