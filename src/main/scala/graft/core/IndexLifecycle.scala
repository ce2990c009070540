package graft.core

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, GraftBridge, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, Metadata, StructType}

import graft.core.Coordination.{listDir, writeAtomically}

/** The persisted-index lifecycle every index family shares — signature,
  * vector, IVFADC, BM25, LM, DSIR, span and zone-mapped tables: the
  * replay-idempotent batch write and its write sizing, version-pointer
  * resolution (flat, per-table `CURRENT`, family-wide `FAMILY`), the
  * batch-visibility manifest, family and single-table compaction, the
  * retention policy and the explicit vacuums. Every commit here goes
  * through [[OptimisticPointer.casSwap]] and every writer lock through
  * [[Coordination]]; what an index STORES (signatures, postings, codes)
  * stays with its family.
  *
  * THE GENERATION RULE: every table a family's compaction lists — marker
  * (tombstone) tables included — versions with the family's `FAMILY`
  * pointer, so from the first compaction on each listed table has a dir
  * at every retained generation. A rebuild writes in place at the current
  * generation and resets the marker tables there
  * ([[resetVisibleBatches]]), and the batch-visibility manifest `VISIBLE`
  * comes from the build: absent, only `base` is visible. A rebuild in
  * place over a layout from before round 11 is not supported; rebuild
  * such an index into an empty path.
  *
  * Index metadata is read without Spark jobs. Every parquet layout (a
  * flat table dir or a `_v<N>` generation) records its schema in a hidden
  * `_schema` file when it is written ([[readLayout]] lists its dirs on the
  * driver and never infers from footers), and a family's corpus constants
  * are per-batch scalar files in the same layouts ([[writeScalars]],
  * [[scalarTotals]]). An index written by an earlier build has neither
  * and fails loudly, asking for a rebuild.
  *
  * Spark jobs run here carry a `spark.job.description` naming the phase
  * (table write, table or family compaction); the caller's description
  * is restored afterwards and its job group is never touched. */
object IndexLifecycle {

  /** Replay-idempotent batch write shared by every persisted index family
    * (signature, vector, IVFADC codes/vectors/tombstones): rows land in
    * `batch=<id>` under the resolved layout. `partitionCols` adds further
    * layout columns after `batch` (the IVFADC codes table partitions by
    * `cell` for probe-time pruning). */
  private[graft] def writeIndexBatch(sig: DataFrame, indexPath: String, batchId: String,
      wholeIndex: Boolean = false, partitionCols: Seq[String] = Nil): Unit = {
    // validate BEFORE the lock: withIndexWriter creates the index root, and
    // a rejected first write must not leave a lock-file-only marker dir
    // that Files.exists-gated readers (readTombstones) mistake for a table
    require(batchId.matches("[A-Za-z0-9_.-]+"),
      s"batchId '$batchId' must be path-safe ([A-Za-z0-9_.-]+)")
    withIndexWriter(indexPath) {
    labelled(sig.sparkSession, s"index table write ${tableName(indexPath)}") {
    // the layout is resolved INSIDE the writer lock: a compaction can no
    // longer flip the pointer between this resolve and the write, which
    // would strand the batch's bytes in a version dir the compaction's
    // cleanup then deletes (single-table indexes lock their own root here;
    // multi-table sequences hold the family-level lock around the whole
    // write+commit — reentrant, so this inner lock is free)
    val stamped = sig.withColumn("batch", lit(batchId))
    val layout = resolveIndexDir(indexPath)
    val schema = layoutSchema(stamped, "batch" +: partitionCols)
    // an append lands next to batches already recorded: its files must hold
    // the recorded columns, or the one schema the reader declares would
    // misread them
    val appends = !wholeIndex && hasBatchData(layout)
    if (appends) {
      val recorded = recordedSchema(layout).getOrElse(throw rebuildNeeded(layout, "recorded schema"))
      if (!recorded.sameColumns(schema)) throw new IllegalArgumentException(
        s"append of batch $batchId to $layout: schema ${schema.describe} differs " +
          s"from the recorded ${recorded.describe}")
    }
    // CLUSTER on the layout's partition columns before partitionBy: without
    // it every upstream task writes a file into every partition dir —
    // tasks × buckets small files per index write (measured: the sf10 LM
    // lifecycle spent 12× the one-shot compute writing and then re-listing
    // ~32k bigram files). Clustered, the write is one file per partition
    // value; the values are hash buckets (bb/tb) or capped cells, so the
    // per-task skew is bounded by construction. The same fix as the online
    // snapshot's repartition-before-partitionBy (FeatureStore).
    //
    // r12-opt adjudication: REBALANCE-before-write (guide §6) was tried
    // here and in compactFamily — it cut write-stage TASK time ~3x (the
    // 32-task writer open/commit cycles collapse to advisory-sized
    // stages) but measured NEUTRAL at 32 cores and a 5-15% REGRESSION at
    // 8 cores on q180/q202/q227 (isolated minima, both trees): the added
    // shuffle + AQE barrier per write costs more wall than the writer
    // inits it saves, and coalescing a CPU-bound parquet encode to one
    // task serializes it. Reverted to the clustered repartition.
    //
    // r13-opt: the clustered repartition now carries an EXPLICIT width
    // derived from the optimizer's size estimate ([[sizedForWrite]]) —
    // same single exchange, no AQE replan, but a stats-table write no
    // longer launches one parquet writer commit cycle per core.
    sizedForWrite(stamped, partitionCols)
      .write
      .partitionBy("batch" +: partitionCols: _*)
      // whole-index rebuild clears every partition; per-batch append clears
      // only batch=<id> (replay-idempotent)
      .option("partitionOverwriteMode", if (wholeIndex) "static" else "dynamic")
      .mode("overwrite")
      .parquet(layout)
    // after the write: a static overwrite clears the whole layout dir
    if (!appends) recordSchema(layout, schema)
    }}
  }

  /** Write-stage width for an index-table write, derived from the
    * optimizer's size estimate AT WRITE TIME — guide §6 coalesce-on-write
    * without REBALANCE's extra shuffle + AQE barrier (the r12 adjudication
    * above). One writer task per `graft.write.targetPartitionBytes`
    * (default 128 MB — the guide's output-file sizing band), clamped to
    * [1, max(defaultParallelism, shuffle.partitions)]: a 1-row stats table
    * writes with ONE task instead of one per core, while a corpus-sized
    * table keeps full width. Estimates only ever err LARGE here (filter
    * selectivity defaults keep child size; parquet scans report true file
    * bytes), which errs toward MORE parallelism — the safe side.
    *
    * Stats come from the ANALYZED plan, not the optimized one: forcing
    * `optimizedPlan` here ran the whole optimizer a SECOND time per write
    * (the write command re-optimizes its child), which measurably regressed
    * the deep-plan FeatureStore lifecycles (q236/q241 isolated minima
    * −16/−25%). The size visitor walks any logical plan; the analyzed
    * estimate only differs by pre-pushdown shape, i.e. errs larger. */
  private[graft] def writeWidth(df: DataFrame): Int = {
    val spark = df.sparkSession
    val target = math.max(1L, spark.conf.getOption("graft.write.targetPartitionBytes")
      .map(_.trim.toLong).getOrElse(128L << 20))
    val cap = math.max(math.max(1, spark.sparkContext.defaultParallelism),
      spark.sessionState.conf.numShufflePartitions)
    val est = df.queryExecution.analyzed.stats.sizeInBytes
    ((est + target - 1) / target).max(1).min(cap).toInt
  }

  /** Cluster + size a frame for a `partitionBy` index write.
    *
    *  - partition-column writes keep their clustering exchange (the
    *    tasks × buckets small-file rationale above) but at the
    *    estimate-derived [[writeWidth]] instead of the session default;
    *  - flat writes are left on their upstream partitioning — EXCEPT when
    *    the estimate says the whole table is tiny
    *    (`graft.write.smallTableBytes`, default 16 MB: stats rows, term-df
    *    tables, doc-id lists), where a one-task repartition trades a
    *    provably-tiny exchange for core-count-minus-one writer commit
    *    cycles. A heavy map-side producer (signature hashing) stays wide:
    *    its estimate rides the scan's real file bytes past the gate, and
    *    repartition — unlike coalesce — never serializes upstream compute
    *    anyway.
    *
    * CALLER CONTRACT for the one-task flat-write gate: it assumes the
    * frame's size is proportional to the scans under it. The analyzed-plan
    * estimate gives a `Generate` (explode) its child's row count, scaled
    * only by row width, and does not model an expanding join's fan-out —
    * so a frame that multiplies rows past its inputs can pass the gate and
    * write a large table from ONE task. A
    * caller writing an exploded frame must not rely on the gate: it sizes
    * or clusters that write itself. */
  private[graft] def sizedForWrite(df: DataFrame, partitionCols: Seq[String]): DataFrame = {
    if (partitionCols.nonEmpty) df.repartition(writeWidth(df), partitionCols.map(col): _*)
    else {
      val small = math.max(0L, df.sparkSession.conf
        .getOption("graft.write.smallTableBytes").map(_.trim.toLong)
        .getOrElse(16L << 20))
      if (df.queryExecution.analyzed.stats.sizeInBytes <= small)
        df.repartition(1)
      else df
    }
  }

  /** Physical dir of a (possibly compacted) index table: a compacted
    * single-table index lives in `<path>/_v<N>` named by the `<path>/CURRENT`
    * pointer, a compacted family table in `<path>/_v<N>` named by the
    * family's `FAMILY` pointer; an uncompacted one is the flat path itself.
    * The underscore prefix is
    * load-bearing: Spark's hidden-path filter makes flat-layout readers skip
    * `_v*` dirs, so a compaction that crashed between writing the version
    * dir and swapping the pointer leaves readers completely unaffected (a
    * bare `v1` among the `batch=*` dirs would corrupt partition discovery). */
  private[graft] def resolveIndexDir(indexPath: String): String = {
    // FAMILY-versioned table: `<family>/FAMILY` names the version EVERY
    // table of a multi-table family serves at — one pointer, one commit
    // ([[compactFamily]]), so readers can never observe the family's
    // tables at mixed versions
    val p = Paths.get(indexPath)
    resolveIndexDirPinned(indexPath,
      Option(p.getParent).flatMap(par => readFamilyPointer(par.toString)))
  }

  private[graft] def readFamilyPointer(familyPath: String): Option[String] =
    Coordination.readPointerFile(Paths.get(familyPath, "FAMILY"))

  /** [[resolveIndexDir]] with the family version PINNED by the caller —
    * the snapshot-read primitive: a multi-table read resolves every table
    * at the same generation it captured once, instead of re-reading the
    * pointer per table (a compaction committing between two of a serve's
    * table reads would otherwise hand it mixed generations; version
    * retention keeps the pinned generation's files alive one cycle, so
    * the pinned read COMPLETES instead of failing).
    *
    * Every listed table has a dir at every retained generation, so a
    * PINNED generation missing from a table that holds `_v*` dirs was
    * VACUUMED out from under an in-flight serve (an operator
    * [[vacuumIndex]] racing a lock-free reader) and fails loudly: falling
    * through to another generation would hand a multi-table serve MIXED
    * generations, the anomaly [[FamilySnapshot]] exists to prevent. A dir
    * with no `_v*` dirs (a side dir the fold does not list, such as
    * IVFADC's `coarse`) resolves to its own path. */
  private[graft] def resolveIndexDirPinned(indexPath: String,
      famVersion: Option[String]): String = {
    val p = Paths.get(indexPath)
    famVersion.map(p.resolve).filter(Files.exists(_)) match {
      case Some(d) => d.toString
      case None =>
        if (famVersion.isDefined &&
            listDir(p).exists(d => versionOf("_v")(d.getFileName.toString).isDefined))
          throw new IllegalStateException(
            s"pinned version ${famVersion.get} of $indexPath no longer exists " +
              "but newer generations do — it was vacuumed while this serve " +
              "had it pinned. Re-plan the serve against the current version " +
              "(retention keeps superseded generations one compaction cycle; " +
              "an explicit vacuumIndex during a serve re-opens that window).")
        Coordination.readPointerFile(p.resolve("CURRENT"))
          .fold(indexPath)(p.resolve(_).toString)
    }
  }

  /** Does the layout dir hold any data — `batch=<id>` partitions or
    * scalar partials? An EMPTY generation is a
    * first-class state for marker tables — a purge folds every pending
    * marker away and commits a version dir with no `batch=*` partitions
    * (possibly no files at all), which `spark.read.parquet` would reject
    * with a schema-inference error. Readers of maybe-empty tables gate on
    * this instead of `Files.exists` ([[readMarkerTable]]). */
  private[graft] def hasBatchData(layout: String): Boolean =
    listDir(Paths.get(layout)).exists(_.getFileName.toString.startsWith("batch="))

  /** Read one maybe-empty family table under the shared snapshot, or None
    * when the table holds no data at the snapshot's generation — the one
    * read path for MARKER tables (pending-delete tombstones), which are
    * versioned and retained exactly like data tables (round 11: a serve
    * pinned at generation N reads generation N's OWN marker view, closing
    * the documented purge-race erasure window). */
  private[graft] def readMarkerTable(spark: SparkSession, familyPath: String,
      table: String, excludeBatch: Option[String] = None,
      snapshot: Option[FamilySnapshot] = None): Option[DataFrame] = {
    val snap = snapshot.getOrElse(familySnapshot(familyPath))
    val dir = resolveIndexDirPinned(s"$familyPath/$table", snap.version)
    if (!hasBatchData(dir)) None
    else Some(readVisibleTable(spark, familyPath, table, excludeBatch, Some(snap)))
  }

  /** One ATOMIC capture of a family's read state: the VISIBLE batch ids
    * and the FAMILY version, taken once at the start of a multi-table
    * read ([[readVisibleTable]]'s `snapshot` parameter). Read order is
    * load-bearing — VISIBLE first, FAMILY second: both writer orders
    * (append = tables → VISIBLE; compaction = FAMILY CAS → VISIBLE
    * retire) then yield a consistent view for any interleaving (an
    * uncommitted append stays invisible; a mid-compaction reader lands on
    * the NEW generation whose base already folds the retired ids — the
    * extra manifest ids filter as no-ops). Capturing FAMILY first could
    * instead pair the OLD generation with the RETIRED manifest and
    * silently drop the folded batches' rows.
    *
    * MARKER TABLES ARE IN THE SNAPSHOT (round 11 — closes the round-10
    * residual window): tombstone dirs are versioned family tables like any
    * other — every [[compactFamily]] commit stages them a generation dir
    * (EMPTY when nothing is pending, [[hasBatchData]] gates the read), a
    * purge folds their markers away inside the SAME family CAS that erases
    * the data rows, and retention keeps the superseded generation — WITH
    * its marker view — one full cycle. A serve pinned at generation N
    * therefore always evaluates N's own pending-delete markers, even when
    * a purge commits N+1 mid-plan; the old in-place marker sweep (which
    * could hand a pinned serve a pre-purge data view without its pending
    * deletions) is gone. */
  private[graft] final case class FamilySnapshot(visible: Set[String],
      version: Option[String])

  private[graft] def familySnapshot(familyPath: String): FamilySnapshot = {
    val vis = visibleBatches(familyPath) // FIRST — see scaladoc
    FamilySnapshot(vis, readFamilyPointer(familyPath))
  }

  /** Batch-visibility manifest of a multi-table family: `<family>/VISIBLE`
    * lists the batch ids whose partitions have landed in ALL the family's
    * tables. An append writes its per-table `batch=<id>` partitions first
    * and then commits the id with ONE atomic manifest rewrite — readers
    * going through [[readVisibleTable]] see the batch in every table at
    * once or in none (the torn-append window of multi-table families:
    * postings at batch N with term-df still at N−1). The manifest is
    * created by the family's BUILD; an absent manifest lists no batch.
    * `batch=base` (build/compact output) is always visible. */
  private[graft] def visibleBatches(familyPath: String): Set[String] = {
    val p = Paths.get(familyPath, "VISIBLE")
    if (!Files.exists(p)) Set.empty
    else new String(Files.readAllBytes(p), UTF_8)
      .linesIterator.map(_.trim).filter(_.nonEmpty).toSet
  }

  // manifest updates are read-modify-write: serialize them through the
  // [[graft.core.Coordination]] seam (default: same-process monitor per
  // path + cross-process file lock) so a delete committing mid-compaction
  // can never be lost
  private def withVisibleLock[A](familyPath: String)(body: => A): A =
    Coordination.current.withWriterLock(
      Paths.get(familyPath), "VISIBLE.lock")(body)

  /** Serialize the WRITERS of one persisted index root — append/delete
    * batches and compactions. Without this, an append that resolved the
    * pre-compaction layout can write its partitions into a version dir the
    * compaction then flips away from and deletes: the batch id stays in the
    * manifest while its bytes are gone (a BM25 delete racing a compaction
    * would permanently over-count n_docs — the fold cannot see partials
    * that land after it read). The lock is the [[withVisibleLock]]
    * discipline writ large: a same-process monitor (REENTRANT — a compound
    * op may nest table-level writes under its family-level lock) plus a
    * cross-process file lock (`_writer.lock`, underscore-hidden from
    * Spark's listings). Readers never take it — reads stay lock-free
    * (quiet-reader as before). Acquisition goes through the
    * [[graft.core.Coordination]] seam: on a multi-driver cluster the
    * backend is a catalog lease, swapped in with `Coordination.use`
    * without touching this call site. */
  private[graft] def withIndexWriter[A](indexPath: String)(body: => A): A =
    Coordination.current.withWriterLock(
      Paths.get(indexPath), "_writer.lock")(body)

  private def writeVisibleFile(familyPath: String, ids: Set[String]): Unit =
    writeAtomically(Paths.get(familyPath, "VISIBLE"), ids.toSeq.sorted.mkString("\n"))

  /** Start a new index generation in place — the last step of a family's
    * BUILD, under its writer lock: each marker table's `batch=` entries at
    * the FAMILY generation are cleared (that dir is created when missing,
    * so every listed table has one), then the manifest is rewritten empty.
    * Markers of the previous index would otherwise hide rebuilt rows and
    * suppress legitimate deletes. */
  private[graft] def resetVisibleBatches(familyPath: String,
      markers: Seq[String] = Nil): Unit = {
    val gen = readFamilyPointer(familyPath)
    markers.foreach { m =>
      val table = Paths.get(familyPath, m)
      val layout = gen.fold(table)(table.resolve)
      listDir(layout).filter(_.getFileName.toString.startsWith("batch="))
        .foreach(Coordination.deleteRecursively)
      Files.createDirectories(layout)
    }
    withVisibleLock(familyPath)(writeVisibleFile(familyPath, Set.empty))
  }

  /** Commit `batchId` as visible — the LAST step of a multi-table append
    * (all per-table partitions already written; a crash before this line
    * leaves the whole batch invisible and a same-id retry overwrites it).
    * Creates the manifest when absent. Idempotent. */
  private[graft] def commitVisibleBatch(familyPath: String, batchId: String): Unit =
    withVisibleLock(familyPath) {
      writeVisibleFile(familyPath, visibleBatches(familyPath) + batchId)
    }

  /** Read one family table with the batch-visibility filter applied (and,
    * optionally, the replay discipline's own-batch exclusion). The filter
    * is a static partition predicate — invisible batches' files are pruned
    * from the listing, never scanned. */
  private[graft] def readVisibleTable(spark: SparkSession, familyPath: String,
      table: String, excludeBatch: Option[String] = None,
      snapshot: Option[FamilySnapshot] = None): DataFrame = {
    // `snapshot`: pass ONE [[familySnapshot]] across all of a multi-table
    // read's calls so every table resolves at the same generation under
    // the same manifest (without it, each call re-captures — fine for a
    // single-table read or any read under the writer lock, racy for a
    // lock-free multi-table serve overlapping a commit)
    val snap = snapshot.getOrElse(familySnapshot(familyPath))
    val vis = readLayout(spark, resolveIndexDirPinned(s"$familyPath/$table", snap.version),
      Some(snap.visible))
    excludeBatch.fold(vis)(b => vis.filter(col("batch") =!= lit(b)))
  }

  /** Compact EVERY table of a multi-table index family under ONE commit:
    * the per-table folds stage in parallel (wall time of the widest table,
    * the [[inParallel]] win), then a SINGLE compare-and-swap of the
    * family's `FAMILY` pointer promotes all staged version dirs inside one
    * critical section. Readers resolve every table through that one
    * pointer ([[resolveIndexDir]]), so a reader overlapping the compaction
    * can never see, e.g., postings at version N with term-df at N−1 — the
    * cross-table snapshot-isolation gap of committing per-table CURRENT
    * pointers in parallel (VERDICT r9 missing #3). A crash before the swap
    * leaves every table serving its old version; a racing compaction loses
    * the CAS loudly. MARKER tables (pending-delete tombstones) are listed
    * like any other table — a plain compaction folds them with `identity`
    * (markers survive into the new generation's base), a purge folds them
    * with the same anti-join that erases the data rows (both commit under
    * the ONE CAS, so no reader can see purged data with pending markers or
    * vice versa). A listed table whose source holds NO data commits an
    * EMPTY generation dir ([[hasBatchData]] gates the read) — the invariant
    * every pinned read relies on: from its first compaction onward, a
    * family's generation N carries generation N's marker view.
    *
    * WRITER SERIALIZATION: the whole compaction holds the family's
    * [[withIndexWriter]] lock, and every append/delete holds it across its
    * table writes + visibility commit — so no batch can land partials in a
    * layout this fold has already read past (the lost-update the lock
    * exists for: an append writing into the old version dir after the fold
    * captured its input would survive in the manifest but lose its bytes
    * to the post-flip cleanup). A racing writer simply blocks and then
    * proceeds against the compacted generation.
    *
    * VISIBILITY ACCOUNTING: the fold reads only visible batches, and
    * afterwards the manifest is updated to `current − captured` (folded
    * ids retire; under writer serialization current == captured — the
    * subtraction is kept as crash defense). Marker batches fold and retire
    * with everything else.
    *
    * SCALAR TABLES (a family's corpus constants, [[writeScalars]]) stage
    * like the parquet tables: their visible partials fold on the driver
    * into one `base` partial in the staged generation, under the same CAS.
    *
    * @param tables (name, fold transform, extra partition cols after batch)
    * @param scalars (name, the key every partial must agree on) of each
    *   scalar table; every other key sums
    */
  private[graft] def compactFamily(spark: SparkSession, familyPath: String,
      tables: Seq[(String, DataFrame => DataFrame, Seq[String])],
      scalars: Seq[(String, String)] = Nil): Unit =
      withIndexWriter(familyPath) {
      labelled(spark, s"index family compaction ${tableName(familyPath)}") {
    val root = Paths.get(familyPath)
    val expected = readFamilyPointer(familyPath)
    val names = tables.map(_._1) ++ scalars.map(_._1)
    val committed = expected.map(_.stripPrefix("_v").toLong).getOrElse(0L) + 1
    val next = s"_v$committed"
    // fold only VISIBLE batches: a torn
    // append's half-landed partitions are physically dropped by the fold —
    // the compaction doubles as the self-heal for crashed appends
    val visible = visibleBatches(familyPath)
    val staged = names.map { name =>
      val oldDir = resolveIndexDirPinned(s"$familyPath/$name", expected)
      val finalDir = Paths.get(familyPath, name, next)
      (name, oldDir, OptimisticPointer.stagingFor(finalDir), finalDir)
    }.map(s => s._1 -> s).toMap
    // a data-less source (marker table with nothing pending, or a table
    // never written) still commits a generation: an EMPTY staging dir —
    // readers gate on hasBatchData. This is what lets EVERY generation
    // carry its own marker view (possibly "none pending").
    staged.values.foreach { case (_, oldDir, stagingDir, _) =>
      if (!hasBatchData(oldDir)) Files.createDirectories(stagingDir): Unit
    }
    scalars.foreach { case (name, pinned) =>
      val (_, oldDir, stagingDir, _) = staged(name)
      if (hasBatchData(oldDir))
        writeScalarFile(stagingDir, "base", scalarTotals(oldDir, visible, pinned))
    }
    inParallel(tables.map { case (name, transform, extraCols) =>
      () => {
        val (_, oldDir, stagingDir, _) = staged(name)
        if (hasBatchData(oldDir)) {
          val folded = transform(readLayout(spark, oldDir, Some(visible)).drop("batch"))
            .withColumn("batch", lit("base"))
          // cluster on the layout's partition columns — the writeIndexBatch
          // rationale: unclustered, a compaction re-explodes the file count
          // it exists to shrink (tasks × buckets small files); width sized
          // from the fold's estimate (r13-opt, see sizedForWrite)
          sizedForWrite(folded, extraCols)
            .write.partitionBy("batch" +: extraCols: _*).mode("overwrite")
            .parquet(stagingDir.toString)
          // the staged generation carries its own record into the CAS
          recordSchema(stagingDir.toString, layoutSchema(folded, "batch" +: extraCols))
        }
      }
    })
    OptimisticPointer.casSwap(root, "FAMILY", expected, next,
      stages = names.map(staged).map(s => s._3 -> s._4))
    // retire the folded ids (marker batches folded with everything else;
    // kept as a subtraction rather than a blank for crash defense)
    withVisibleLock(familyPath) {
      writeVisibleFile(familyPath, visibleBatches(familyPath) -- visible)
    }
    // retention sweep per table (post-flip): keep each table's
    // immediately superseded layout for in-flight lock-free readers,
    // VACUUM everything older ([[sweepSupersededVersions]])
    names.foreach(name => sweepSupersededVersions(Paths.get(familyPath, name), committed))
  }}

  /** Run independent index-maintenance tasks CONCURRENTLY — a multi-table
    * index (BM25's postings/termdf/doclens, the LM's five counts)
    * pays one fixed Spark-job latency per table when written or compacted
    * serially, and the tables are disjoint directories over already-staged
    * (persisted) inputs, so the only thing serialization buys is wall
    * time. Spark schedules concurrent actions fine (FIFO within the pool);
    * exceptions propagate to the caller. */
  private[graft] def inParallel(tasks: Seq[() => Unit]): Unit = {
    // DEGRADE TO SEQUENTIAL under the analyzer's catalog monitor: a SQL
    // statement face (feature_store_merge) executes lifecycle ops INSIDE
    // analysis, where Spark holds the SessionCatalog lock — a worker
    // thread building a Dataset then needs that same lock for its own
    // analysis and the join deadlocks (observed: a feature-store commit's
    // parallel stats job parked under ResolveFunctions). Parallelism here is a
    // latency optimization, never a semantic; sequential is always correct.
    val underCatalogLock = org.apache.spark.sql.SparkSession.getActiveSession
      .exists(s => Thread.holdsLock(s.sessionState.catalog))
    if (tasks.size <= 1 || underCatalogLock) { tasks.foreach(_()); return }
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(tasks.size, 8))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.sequence(tasks.map(t => Future(t()))), Duration.Inf): Unit
    finally pool.shutdown()
  }

  /** VERSION RETENTION for lock-free readers: after committing version N,
    * keep N−1 (the immediately superseded layout) and VACUUM everything
    * older — `_v<k>` dirs with k < N−1, plus the pre-versioning flat
    * `batch=*` dirs once N ≥ 2. Writers serialize on [[withIndexWriter]],
    * but READERS deliberately take no lock; deleting the superseded
    * version at commit time made a reader that resolved it mid-scan fail
    * on vanished files. Keep-one bounds that window to a full compaction
    * CYCLE (the Delta/Iceberg VACUUM-after-retention contract): only a
    * reader still scanning after TWO compactions of the same index can
    * observe deleted files. Disk cost: one extra copy of one index,
    * reclaimed at the next compaction. */
  private def sweepSupersededVersions(root: Path,
      committed: Long): Unit =
    sweepSuperseded(root, committed, versionOf("_v"), isFlatLayout)

  /** An entry of the pre-versioning flat layout: its `batch=` partitions
    * (or scalar partials) and its recorded schema. */
  private def isFlatLayout(name: String): Boolean =
    name.startsWith("batch=") || name == SchemaFile

  /** Version number of a `<prefix><K>` dir name — `_v` for the index
    * layouts (underscore-hidden from Spark's listing of the flat layout),
    * `v` for the feature-store and zone-map table layouts. */
  private[graft] def versionOf(prefix: String)(n: String): Option[Long] =
    if (n.startsWith(prefix) && n.length > prefix.length &&
        n.drop(prefix.length).forall(_.isDigit))
      Some(n.drop(prefix.length).toLong)
    else None

  /** RETENTION POLICY: how many superseded generations each versioned
    * layout keeps for in-flight lock-free readers before the commit-time
    * sweep reclaims them. 1 (the default) bounds a reader's window to one
    * full compaction cycle — the Delta/Iceberg VACUUM-after-retention
    * contract; raise it when long-running readers (multi-hour training
    * jobs over a pinned snapshot) must survive several maintenance cycles.
    * Seeds from `GRAFT_RETENTION_CYCLES` (defensively parsed — an
    * unparseable value falls back to the default, it must not fail every
    * commit), overridable at runtime with [[setRetentionCycles]].
    * The EXPLICIT vacuums ([[vacuumIndex]], [[vacuumFamily]],
    * [[graft.sources.ZoneMap.vacuum]]) always sweep to keep-0 — erasure
    * timeliness is the operator's call, not the policy's. */
  @volatile private var retentionCyclesVar: Int =
    sys.env.get("GRAFT_RETENTION_CYCLES")
      .flatMap(s => scala.util.Try(s.trim.toInt).toOption)
      .filter(_ >= 1).getOrElse(1)

  def retentionCycles: Int = retentionCyclesVar

  def setRetentionCycles(n: Int): Unit = {
    require(n >= 1, s"retention must keep >= 1 superseded generation, got $n")
    retentionCyclesVar = n
  }

  /** The retention rule, layout-agnostic (shared with
    * [[graft.sources.ZoneMap]], whose versions are `v<N>` and whose
    * pre-versioning layout is named dirs instead of `batch=*`): delete
    * every version older than `committed − keep`, and the flat legacy
    * layout once `committed ≥ 1 + keep` (it is then more than `keep`
    * generations old). `keep` defaults to the configured
    * [[retentionCycles]]; explicit vacuums pass 0. ONE implementation — a
    * future change to the retention rule must not silently diverge
    * between the index and table-format layouts. */
  private[graft] def sweepSuperseded(root: Path, committed: Long,
      versionOf: String => Option[Long], isFlatLegacy: String => Boolean,
      keep: Int = retentionCycles): Unit =
    listDir(root).foreach { p =>
      val n = p.getFileName.toString
      val staleVersion = versionOf(n).exists(_ < committed - keep)
      val staleFlat = committed >= 1 + keep && isFlatLegacy(n)
      if (staleVersion || staleFlat) Coordination.deleteRecursively(p)
    }

  /** Drop every SUPERSEDED layout of one index table NOW, keeping only the
    * current version — the explicit final step of a GDPR erase under
    * version retention: a purge's rewrite physically erases the SERVING
    * layout immediately, but the retained previous version (kept one cycle
    * for lock-free readers) still holds the erased rows' bytes until the
    * next maintenance cycle or this call. The
    * [[graft.core.FeatureStore.gcOnline]] precedent: erasure timeliness is
    * an explicit operator decision, because sweeping early re-opens the
    * reader window retention exists to close. Works on a flat, CURRENT-
    * pointer, or FAMILY-pointer table path; for a multi-table family,
    * call it per table. */
  def vacuumIndex(indexPath: String): Unit = {
    // a FAMILY-governed table must vacuum under the FAMILY lock (the
    // family→table acquisition order everywhere): locking only the table
    // would let a concurrent compactFamily advance the pointer between
    // this resolve and the sweep — the vacuum would silently keep the
    // version it was asked to remove
    val parent = Option(Paths.get(indexPath).getParent)
      .filter(p => Files.exists(p.resolve("FAMILY")))
    def body(): Unit = withIndexWriter(indexPath) {
      // crashed-compaction staging debris lives INSIDE the table dir
      // (`_staging__vN_*`) where the `_v<k>`/`batch=*` sweep never matched
      // it (round-12 ADVICE: purged-generation bytes survived the erasure
      // SLA's final step). The writer lock excludes a live compaction, so
      // any staging dir present here is debris by definition.
      listDir(Paths.get(indexPath)).filter(_.getFileName.toString.startsWith("_staging_"))
        .foreach(Coordination.deleteRecursively)
      val cur = resolveIndexDir(indexPath)
      if (cur != indexPath) {
        versionOf("_v")(Paths.get(cur).getFileName.toString)
          .foreach { committed =>
            // keep = 0: delete every _v<k> with k < committed and the
            // pre-versioning flat batch dirs — an explicit vacuum always
            // sweeps to the current generation, whatever retentionCycles is
            sweepSuperseded(Paths.get(indexPath), committed,
              versionOf("_v"), isFlatLayout, keep = 0)
          }
      }
    }
    parent match {
      case Some(fam) => withIndexWriter(fam.toString)(body())
      case None => body()
    }
  }

  /** Vacuum EVERY table of a multi-table family NOW — the one-call final
    * step of the family-level erasure SLA (purge → vacuumFamily ⇒ the
    * deleted rows' bytes are gone from disk, including the retained
    * superseded generations and any crashed compaction's staging debris).
    * Takes the family lock for the whole sweep, so a concurrent
    * compaction cannot advance pointers between a table's resolve and its
    * sweep (the [[vacuumIndex]] rationale, family-wide). */
  def vacuumFamily(familyPath: String): Unit = withIndexWriter(familyPath) {
    listDir(Paths.get(familyPath)).filter(Files.isDirectory(_)).foreach { d =>
      if (d.getFileName.toString.startsWith("_staging_"))
        Coordination.deleteRecursively(d) // crashed-loser debris
      else vacuumIndex(d.toString)
    }
  }

  private[graft] def compactBatchedDir(spark: SparkSession, indexPath: String,
      transform: DataFrame => DataFrame = identity,
      extraPartitionCols: Seq[String] = Nil): Unit = withIndexWriter(indexPath) {
      labelled(spark, s"index table compaction ${tableName(indexPath)}") {
    val root = Paths.get(indexPath)
    val oldDir = resolveIndexDir(indexPath)
    val oldVersion =
      if (oldDir == indexPath) 0L
      else Paths.get(oldDir).getFileName.toString.stripPrefix("_v").toLong
    val next = oldVersion + 1
    // one shuffle-free rewrite: rows are read and rewritten as-is (schema-
    // generic — whatever the index stores besides the partition column),
    // through the caller's optional transform (e.g. a tombstone anti-join
    // that makes the compaction a physical purge).
    // A retry after a pre-swap crash starts a fresh staging dir; a
    // crashed attempt's _v<next> debris is replaced at promotion time.
    // Rewrite into a PRIVATE staging dir (a racing compaction derives the
    // same _v<next> name; only the CAS winner may touch it)
    val finalDir = root.resolve(s"_v$next")
    val stagingDir = OptimisticPointer.stagingFor(finalDir)
    val folded = transform(readLayout(spark, oldDir).drop("batch"))
      .withColumn("batch", lit("base"))
    folded.write.partitionBy("batch" +: extraPartitionCols: _*).mode("overwrite")
      .parquet(stagingDir.toString)
    recordSchema(stagingDir.toString, layoutSchema(folded, "batch" +: extraPartitionCols))
    // compare-and-swap commit: a concurrent compaction that already moved
    // CURRENT makes this one fail loudly instead of silently superseding a
    // version whose rows this rewrite never read
    OptimisticPointer.casSwap(root, "CURRENT",
      expected = if (oldDir == indexPath) None else Some(s"_v$oldVersion"),
      next = s"_v$next", stage = Some(stagingDir -> finalDir))
    // retention sweep: keep the immediately superseded layout for
    // in-flight lock-free readers, VACUUM everything older
    // ([[sweepSupersededVersions]])
    sweepSupersededVersions(root, next)
  }}

  // ---- job labels ----

  private val JobDescription = "spark.job.description"

  /** Run `body` with its Spark jobs described as `label`, then restore the
    * caller's description. Only the description is set: the job group
    * stays the caller's (tracers attribute jobs through it). Threads that
    * `body` starts inherit the label with the rest of Spark's local
    * properties, so [[inParallel]]'s pool threads carry it. */
  private[graft] def labelled[A](spark: SparkSession, label: String)(body: => A): A = {
    val sc = spark.sparkContext
    val caller = sc.getLocalProperty(JobDescription)
    sc.setLocalProperty(JobDescription, label)
    try body finally sc.setLocalProperty(JobDescription, caller)
  }

  /** `<family>/<table>` (or the last path element of a single-table
    * index), for labels and messages. */
  private def tableName(indexPath: String): String = {
    val p = Paths.get(indexPath)
    Option(p.getParent).map(_.getFileName.toString + "/").getOrElse("") + p.getFileName
  }

  // ---- recorded schemas ----

  /** The schema one parquet layout records in its `_schema` file: the
    * partition columns (`batch` first) and the data columns, nullable as a
    * file read reports them. Partition column TYPES are not recorded: the
    * read infers them from the dir names, with the same Spark code that
    * `spark.read.parquet` runs (`tb=3` reads as int). */
  private[graft] final case class LayoutSchema(partitions: Seq[String], data: StructType) {
    def describe: String = s"${data.simpleString} partitioned by ${partitions.mkString(", ")}"
    /** Same columns and types. Field metadata may differ between batches
      * (an ML prediction column carries attributes, a recomputed one does
      * not): the layout keeps its first write's, as footer inference keeps
      * one file's. */
    def sameColumns(o: LayoutSchema): Boolean = partitions == o.partitions &&
      data.map(_.copy(metadata = Metadata.empty)) == o.data.map(_.copy(metadata = Metadata.empty))
  }

  private val SchemaFile = "_schema"

  private def layoutSchema(df: DataFrame, partitions: Seq[String]): LayoutSchema =
    LayoutSchema(partitions,
      GraftBridge.asNullable(StructType(df.schema.filterNot(f => partitions.contains(f.name)))))

  private def recordSchema(layout: String, s: LayoutSchema): Unit =
    writeProps(Paths.get(layout, SchemaFile),
      Seq("partitions" -> s.partitions.mkString(","), "data" -> s.data.json))

  private[graft] def recordedSchema(layout: String): Option[LayoutSchema] = {
    val p = Paths.get(layout, SchemaFile)
    if (!Files.exists(p)) None
    else {
      val m = readProps(p)
      Some(LayoutSchema(m("partitions").split(",").toSeq,
        DataType.fromJson(m("data")).asInstanceOf[StructType]))
    }
  }

  private def rebuildNeeded(layout: String, what: String): IllegalStateException =
    new IllegalStateException(s"index layout $layout has no $what: the index is " +
      "missing or was written by an earlier build. Rebuild the index with this build.")

  /** The one read of a parquet index layout: its partition dirs are listed
    * on the driver and read with the recorded schema, so neither a listing
    * job nor a footer-inference job runs ([[ListedParquet]]). With a
    * `visible` set, only `base` and those batches are read — a static
    * partition predicate, so the other batches' files are never scanned. */
  private def readLayout(spark: SparkSession, layout: String,
      visible: Option[Set[String]] = None): DataFrame = {
    val s = recordedSchema(layout).getOrElse(throw rebuildNeeded(layout, "recorded schema"))
    val leaves = s.partitions.foldLeft(Seq(Paths.get(layout))) { (dirs, c) =>
      dirs.flatMap(d => listDir(d).filter(p =>
        p.getFileName.toString.startsWith(s"$c=") && Files.isDirectory(p)))
    }
    val df = ListedParquet.read(spark, layout, leaves.map(_.toString), s.data)
    visible.fold(df)(ids => df.filter(col("batch").isInCollection("base" +: ids.toSeq)))
  }

  /** Read a single-table index at its current layout (flat or `CURRENT`-
    * versioned): the recorded-schema read of [[resolveIndexDir]]. */
  private[graft] def readIndexTable(spark: SparkSession, indexPath: String): DataFrame =
    readLayout(spark, resolveIndexDir(indexPath))

  // ---- scalar tables ----

  /** Write one batch's partial of a SCALAR table — a family's corpus
    * constants, e.g. BM25's (n_docs, sum_dl, tb_buckets) — as the file
    * `batch=<id>.scalars` in the table's current layout. It obeys the
    * parquet tables' rules: replay overwrites the batch's own file, a
    * whole-index write clears the layout's other partials, the partial is
    * visible only once [[commitVisibleBatch]] names its batch, compaction
    * folds it ([[compactFamily]]'s `scalars`), and retention and the
    * vacuums sweep it with the `batch=` layout. No Spark job runs. */
  private[graft] def writeScalars(tablePath: String, batchId: String,
      values: Map[String, Long], wholeIndex: Boolean = false): Unit =
    withIndexWriter(tablePath) {
      val layout = Paths.get(resolveIndexDir(tablePath))
      if (wholeIndex)
        listDir(layout).filter(_.getFileName.toString.startsWith("batch="))
          .foreach(Coordination.deleteRecursively)
      writeScalarFile(layout, batchId, values)
    }

  /** [[writeScalars]] of the metrics a finished write observed
    * (`Dataset.observe` on rows it already scans), each times `sign` (−1
    * for a deletion's negative partial), plus the layout parameters in
    * `fixed`. */
  private[graft] def writeObservedScalars(tablePath: String, batchId: String,
      observed: Observation, sign: Long, fixed: Map[String, Long],
      wholeIndex: Boolean): Unit =
    writeScalars(tablePath, batchId,
      observed.get.map { case (k, v) => k -> sign * v.asInstanceOf[Long] } ++ fixed, wholeIndex)

  private val ScalarSuffix = ".scalars"

  private def writeScalarFile(layout: Path, batchId: String, values: Map[String, Long]): Unit = {
    Files.createDirectories(layout)
    writeProps(layout.resolve(s"batch=$batchId$ScalarSuffix"),
      values.toSeq.sorted.map { case (k, v) => k -> v.toString })
  }

  /** The visible partials of a scalar table, folded: `pinned` (a layout
    * parameter such as a bucket count) must agree across them, every other
    * key sums. A layout with no partial fails loudly: every build writes
    * one, so it is missing, torn or an earlier build's `stats` table. */
  private def scalarTotals(layout: String, visible: Set[String],
      pinned: String): Map[String, Long] = {
    val parts = listDir(Paths.get(layout)).flatMap { p =>
      val n = p.getFileName.toString
      if (n.startsWith("batch=") && n.endsWith(ScalarSuffix))
        Some(n.stripPrefix("batch=").stripSuffix(ScalarSuffix) -> p)
      else None
    }.filter { case (id, _) => id == "base" || visible.contains(id) }
      .map { case (_, p) => readProps(p).map { case (k, v) => k -> v.toLong } }
    if (parts.isEmpty) throw rebuildNeeded(layout, "corpus constants")
    val pins = parts.map(_(pinned)).distinct
    require(pins.size == 1, s"index table $layout has ${pins.size} distinct bucket " +
      s"counts ($pinned: ${pins.sorted.mkString(", ")})")
    parts.reduce((a, b) => a.map { case (k, v) => k -> (if (k == pinned) v else v + b(k)) })
  }

  /** [[scalarTotals]] of one family table under the shared snapshot —
    * the 0-job read of a family's corpus constants. */
  private[graft] def readScalars(familyPath: String, table: String, pinned: String,
      snapshot: Option[FamilySnapshot] = None): Map[String, Long] = {
    val snap = snapshot.getOrElse(familySnapshot(familyPath))
    scalarTotals(resolveIndexDirPinned(s"$familyPath/$table", snap.version),
      snap.visible, pinned)
  }

  // ---- small files ----

  /** `key=value` lines, replaced atomically. */
  private def writeProps(p: Path, props: Seq[(String, String)]): Unit =
    writeAtomically(p, props.map { case (k, v) => s"$k=$v\n" }.mkString)

  private def readProps(p: Path): Map[String, String] =
    new String(Files.readAllBytes(p), UTF_8).linesIterator.filter(_.nonEmpty).map { l =>
      val i = l.indexOf('=')
      l.take(i) -> l.drop(i + 1)
    }.toMap
}
