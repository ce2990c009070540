package graft.core

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, LongType, StructField, StructType, TimestampType}

import graft.operators.LatestPerKey

/** Dual online/offline feature store (SURVEY.md §1.1).
  *
  * Layout under `root`:
  * {{{
  *   <root>/<group>/manifest.json        — schema + key/event-time + next batch id
  *   <root>/<group>/offline/v<N>/        — append-only history, parquet,
  *                                         partitioned by _ingest_date
  *                                         (reference: offline S3 parquet store,
  *                                          setup.sh:86,139-141 — unpartitioned
  *                                          there; we add date partitioning so
  *                                          pruning actually prunes files)
  *   <root>/<group>/offline/CURRENT      — pointer file: active offline version
  *                                         (absent ⇒ v1; flipped atomically by
  *                                          compaction)
  *   <root>/<group>/online/v<N>/         — latest-per-key snapshot, stored
  *                                         once: `_serving/bucket=<b>.kv`,
  *                                         one typed, key-sorted, sparse-
  *                                         indexed KV file per non-empty
  *                                         bucket b = crc32(key) mod buckets,
  *                                         and `_meta` (bucket count, per-
  *                                         bucket key counts, fingerprint,
  *                                         the version's columns). Lookups
  *                                         and frame reads both read the KV
  *                                         files. Commits are INCREMENTAL:
  *                                         untouched buckets carry from
  *                                         v<N-1> by hard link.
  *   <root>/<group>/online/LATEST        — pointer file: currently active N
  *   <root>/<group>/models/              — model artifacts
  * }}}
  *
  * Online-store semantics (reference: setup.sh:87 EnableOnlineStore, read path
  * real_time_inference.py:16-19): exactly one current record per entity key;
  * an ingest with a newer event_time replaces the visible record. We maintain
  * it as a materialized latest-per-key snapshot, swapped atomically by writing
  * a staged v<N+1> and then flipping the LATEST pointer — a crash mid-swap
  * leaves the old snapshot active (SURVEY.md §7 risk 5). Writer safety
  * without Delta/Iceberg (documented substitution): every pointer commit is
  * a COMPARE-AND-SWAP against the version the rewrite derived from
  * ([[OptimisticPointer]]) — concurrent writers cannot silently clobber
  * each other; the loser fails loudly.
  *
  * The online store has ONE format, typed KV. It is derived data: a
  * version an earlier build wrote (a parquet snapshot — no `schema=` line
  * in `_meta`, no typed KV header) is not read; every read of it throws,
  * naming `refreshOnline(describeGroup(g), None)`, which rebuilds LATEST
  * from the offline history alone. The next ingest or delete on such a
  * group rebuilds from history too. The superseded versions stay on disk,
  * unreadable, until `gcOnline(g, keep = 1)` removes them.
  */
/** @param maxServingCacheRows upper bound on the DRIVER-side serving cache:
  *   a snapshot with more entity keys than this is never collected — lookups
  *   read the key's bucket KV file instead (one open, no Spark job). This is
  *   the driver-memory guard rail; at cluster scale the cache seam is an
  *   external KV store loaded from the same bucket files, keyed by version
  *   like the cache.
  * @param targetKeysPerBucket sizing dial for the online snapshot's key-hash
  *   bucketing: commits choose the bucket count from the PREVIOUS version's
  *   recorded key count (`buckets = nextPow2(keys / target)`, floor
  *   [[FeatureStore.OnlineKeyBuckets]], cap
  *   [[FeatureStore.MaxOnlineKeyBuckets]]); once a version's keys exceed
  *   4× target × buckets, the next refresh rebuckets with a full rewrite —
  *   a billion-key store lands at ~64 Ki keys per bucket instead of the
  *   fixed-64 layout's ~16 M (VERDICT r9 "serving-KV bucket scaling").
  *   It also sets the commit's write width: one writer task per `target`
  *   rows the commit can write ([[FeatureStore.writeTasks]]), so a store
  *   whose buckets sit far below the target (the 64-bucket floor) commits
  *   small batches with one task instead of one per bucket. Every
  *   incremental commit (an ingest, a delete) rewrites its touched buckets
  *   with ONE per-bucket merge ([[FeatureStore.mergeBuckets]]: a
  *   bucket's base KV entries and its changes → its new entries), run in
  *   one of two places. THE ONE-TASK RULE: a commit whose rewrite would be
  *   one writer task (`writeTasks(rowBound, target, touched buckets) ==
  *   1`, that is at most `target` rows or a single touched bucket) and
  *   whose changes the driver holds runs the merge on the driver, with no
  *   Spark job, and hands this instance's serving cache the touched
  *   buckets instead of a rebuild; every other commit runs it in the
  *   writer tasks of one Spark pass. Both write with
  *   [[FeatureStore.KvBucketWriter]], so both write the same bytes.
  * @param clock serving-time source for [[getRecordFresh]]'s staleness gate —
  *   injectable so the gate is deterministic under test; production uses the
  *   default wall clock. */
final class FeatureStore(spark: SparkSession, root: String,
    maxServingCacheRows: Int = 1 << 20,
    targetKeysPerBucket: Long = FeatureStore.DefaultTargetKeysPerBucket,
    clock: () => java.time.Instant = () => java.time.Instant.now()) {

  // charset check at the PATH chokepoint: every group-addressed path —
  // read or write — goes through here, so an unvalidated name (or a
  // traversal like "../x" from the SQL faces' string args) can never
  // resolve outside the store root
  private def groupDir(name: String): Path = {
    require(name.matches("[A-Za-z0-9_]+"), s"illegal feature group name: '$name'")
    Paths.get(root, name)
  }
  private def manifestPath(name: String): Path = groupDir(name).resolve("manifest.json")
  /** The offline store is VERSIONED (`offline/v<N>/` + `CURRENT` pointer),
    * so compaction can commit by one atomic pointer move instead of the
    * round-3 two-move directory swap whose crash window lost the store until
    * a re-run. No CURRENT file means v1 (the pointer is only ever written by
    * [[compactOffline]]'s commit). */
  private def offlineRoot(name: String): Path = groupDir(name).resolve("offline")
  private def offlineVersion(name: String): Long =
    Coordination.readPointerFile(offlineRoot(name).resolve("CURRENT")).map(_.toLong).getOrElse(1L)
  private def offlineDir(name: String): String =
    offlineRoot(name).resolve(s"v${offlineVersion(name)}").toString
  private def onlineDir(name: String): Path = groupDir(name).resolve("online")
  def modelDir(name: String): String = groupDir(name).resolve("models").toString

  // ---- catalog (reference: setup.sh feature-group / database / table DDL; cleanup.sh drops) ----

  def groupExists(name: String): Boolean = Files.exists(manifestPath(name))

  /** Serialize the manifest's read-modify-write commits through the
    * [[Coordination]] seam — the same discipline the index families
    * follow. Two concurrent ingests must never both claim one
    * `_ingest_seq` (the deterministic last-writer tie-break depends on
    * uniqueness), and two schema mutations must never interleave their
    * read→validate→write. Sections are kept NARROW: the lock never spans
    * a Spark job, so a widen's multi-second materialization blocks other
    * writers via the `widening` flag, not via lock hold time, and READERS
    * never take it (reads resolve through immutable versions + the atomic
    * manifest swap). */
  private def withManifestLock[A](groupName: String, mustExist: Boolean = true)(
      body: => A): A = {
    // existence precedes acquisition: the lock CREATES its root directory,
    // so probing a typo'd group through a mutator must error before it
    // materializes a phantom group dir (round-12 review; the name charset
    // itself is validated at [[groupDir]], the path chokepoint)
    require(!mustExist || groupExists(groupName),
      s"no such feature group: $groupName")
    Coordination.current.withWriterLock(groupDir(groupName), "manifest.lock")(body)
  }

  def createGroup(g: FeatureGroup): Unit =
    withManifestLock(g.name, mustExist = false) {
      require(!groupExists(g.name), s"feature group ${g.name} already exists")
      Files.createDirectories(groupDir(g.name))
      writeManifest(g, nextSeq = 0L, epoch = 0L)
    }

  def describeGroup(name: String): FeatureGroup = readManifest(name).group

  /** Evolution state surfaced to operators (the SQL describe face), from
    * ONE manifest read so the declared view and the registry can never
    * disagree: the declared group, the LINGERING-column registry — names
    * whose bytes may remain in offline files at the recorded type without
    * a declared owner (from drops and from renames' alias eras), each
    * blocking a conflicting-type claim until [[compactOffline]] erases
    * them — and any pending widen awaiting its recovery re-run. */
  def evolutionState(name: String): (FeatureGroup, Seq[(String, FType)], Option[String]) = {
    val m = readManifest(name)
    (m.group, m.lingering.map(e => (e._1, e._2)), m.widening)
  }

  /** Schema EVOLUTION: declare a new feature on an existing group. A
    * metadata-only commit — one atomic manifest swap, no data rewritten
    * (the Delta/Iceberg `ADD COLUMN` semantic; at 100 TB rewriting history
    * for a new column is not an option). History written before the change
    * reads as NULL for the new feature ([[offline]] reads with the DECLARED
    * schema, so parquet fills absent columns); the online snapshot grows the
    * column at the next [[refreshOnline]] (it conforms every frame to the
    * declared schema); [[getRecord]] serves null until then — the caller's
    * default applies, the reference's missing-feature semantic (P4). */
  def addFeature(groupName: String, f: FeatureDef): Unit = withManifestLock(groupName) {
    val m = readManifest(groupName)
    requireNoPendingWiden(m, groupName, s"declare '${f.name}'")
    require(!m.group.features.exists(_.name == f.name),
      s"feature ${f.name} already declared on $groupName")
    requireNoLingeringConflict(m, groupName, f.name, f.ftype)
    // a feature added to a group WITH history is only real from the next
    // ingest seq on — for a brand-new name that is a no-op (old files lack
    // the column, parquet fills nulls), but for a RE-ADD after dropFeature
    // the old bytes still exist and must read as null (FeatureDef.since)
    val stamped = f.copy(since = if (m.nextSeq > 0L) m.nextSeq else 0L)
    // FeatureGroup's constructor re-validates the name charset; a
    // compatible (same-type) re-claim clears the name's lingering entry —
    // the re-declared column owns the name again, masking handles the old
    // bytes, and any later drop/rename-away re-records it
    writeManifest(m.group.copy(features = m.group.features :+ stamped),
      m.nextSeq, m.lastBatchId, m.lingering.filterNot(_._1 == f.name), m.widening,
      m.epoch + 1)
  }

  /** Guard for every operation that CLAIMS a column name (re-add, rename
    * target): refuse when offline files may still hold bytes under `name`
    * at a type parquet cannot read as `t` — the registry's recorded type.
    * A conflicting claim would make the offline read (and
    * [[compactOffline]], the only erase path, which reads through it)
    * throw on the long↔double/string conversion, permanently wedging the
    * group; refuse up front with the erase step named. Same-type claims
    * pass — `since` masking / era-exact reads keep the old bytes invisible
    * (round-12 review findings: the original guard covered only re-adds
    * of DROPPED names; rename targets and renames' alias eras wedge the
    * same way). */
  private def requireNoLingeringConflict(m: Manifest, groupName: String,
      name: String, t: FType): Unit =
    m.lingering.find(_._1 == name).foreach { case (_, orphanT, _) =>
      require(orphanT == t,
        s"cannot declare '$name' as ${FType.name(t)}: bytes of type " +
          s"${FType.name(orphanT)} may remain under that column in " +
          s"$groupName's offline history and parquet cannot read them as " +
          s"${FType.name(t)} — run compactOffline(\"$groupName\") to erase " +
          "them first, then re-declare")
    }

  /** Schema EVOLUTION: DROP COLUMN — metadata-only, like [[addFeature]]
    * (at 100 TB, rewriting history to remove a column is not an option).
    * Offline reads project the declared schema, so the column vanishes
    * from every read path at once; the online snapshot is rewritten
    * without it at the next commit (the schema mismatch forces
    * a full refresh), while [[getRecord]] paths over the pre-drop
    * snapshot render DECLARED features only. The bytes are physically
    * erased at the next [[compactOffline]] (which rewrites through the
    * declared-schema read). A later [[addFeature]] of the same name gets
    * FRESH NULLS for pre-re-add history, not the orphaned bytes
    * (FeatureDef.since masking) — but only at the SAME type: a re-claim at
    * a different type is refused while orphaned bytes may remain, because
    * parquet cannot read them under the new declared schema (the manifest's
    * LINGERING registry tracks this; compact first to erase, then re-add).
    * The key and event-time columns are not droppable. */
  def dropFeature(groupName: String, featureName: String): Unit = withManifestLock(groupName) {
    val m = readManifest(groupName)
    val g = m.group
    requireNoPendingWiden(m, groupName, s"drop '$featureName'")
    val f = g.features.find(_.name == featureName).getOrElse(
      throw new IllegalArgumentException(s"no such feature $featureName on $groupName"))
    require(featureName != g.keyCol && featureName != g.eventTimeCol,
      s"cannot drop the group's key/event-time column: $featureName")
    // a drop on a group WITH history leaves orphaned bytes in parquet under
    // the feature's current name AND any alias names (files written while
    // an alias was current, not yet compacted) — all at the drop-time type,
    // since widen (the only type changer) materializes before clearing its
    // alias. Record a lingering entry for each, stamped with THIS write's
    // epoch (entry IDENTITY for compaction's fold — a re-record after the
    // compaction's plan capture carries a later epoch, so a compaction
    // that never read those bytes cannot clear it); entries clear on a
    // compatible re-claim or when [[compactOffline]] erases the bytes.
    // an alias name can have been RE-CLAIMED by a later same-type add —
    // it has a declared owner again, so it gets no entry (the registry's
    // invariant is "no declared owner"; an entry here would also make the
    // describe face list one name as both declared and lingering)
    val declaredAfter = g.features.iterator
      .filterNot(_.name == featureName).map(_.name).toSet
    val orphans =
      if (m.nextSeq > 0L)
        ((featureName, f.ftype, m.epoch + 1) +:
          f.renames.map { case (n, _) => (n, f.ftype, m.epoch + 1) })
          .distinctBy(_._1)
          .filterNot(o => declaredAfter(o._1))
      else Nil
    writeManifest(g.copy(features = g.features.filterNot(_.name == featureName)),
      m.nextSeq, m.lastBatchId,
      m.lingering.filterNot(d => orphans.exists(_._1 == d._1)) ++ orphans, m.widening,
      m.epoch + 1)
  }

  /** Schema EVOLUTION: RENAME COLUMN — metadata-only like the other two
    * (no 100 TB rewrite). The rename is stamped with the next ingest seq
    * and recorded in [[FeatureDef.renames]]; every read path resolves a
    * row's ERA to the name that held the value when the row was written
    * ([[eraColumn]]), so pre-rename history serves under the NEW name
    * immediately. New ingests must carry the new name (the declared-schema
    * validation). A rewrite (compaction, online full refresh) materializes
    * the history under the new name; the adaptive era rule then reads the
    * current column wherever the alias column no longer exists, so reads
    * stay correct before, during, and after the rewrite with no manifest
    * mutation. Era-exactness also means a rename TO a name whose orphaned
    * bytes linger from an earlier [[dropFeature]] cannot resurrect them —
    * rows of the alias era read the alias column, never the orphan — but
    * the TYPE of those orphans still constrains the claim: the next ingest
    * would write `to`-named bytes at this feature's type next to them, so
    * a conflicting-type claim is refused ([[requireNoLingeringConflict]]).
    * Symmetrically, the rename leaves `from`-named bytes lingering in
    * un-compacted files and records them in the registry. The key and
    * event-time columns are not renameable (their names anchor bucketing,
    * tombstones, and the manifest contract). */
  def renameFeature(groupName: String, from: String, to: String): Unit = withManifestLock(groupName) {
    val m = readManifest(groupName)
    val g = m.group
    requireNoPendingWiden(m, groupName, s"rename '$from'")
    val f = g.features.find(_.name == from).getOrElse(
      throw new IllegalArgumentException(s"no such feature $from on $groupName"))
    require(!g.features.exists(_.name == to),
      s"feature $to already declared on $groupName")
    require(from != g.keyCol && from != g.eventTimeCol,
      s"cannot rename the group's key/event-time column: $from")
    requireNoLingeringConflict(m, groupName, to, f.ftype)
    val renamed = g.features.map {
      case ff if ff.name == from =>
        ff.copy(name = to, renames = (from, m.nextSeq) +: ff.renames)
      case ff => ff
    }
    // registry bookkeeping mirrors [[dropFeature]]'s: with history, the
    // alias-era bytes under `from` linger until compaction (stamped with
    // this write's epoch); the claim of `to` clears any same-type entry
    val lingering0 = m.lingering.filterNot(_._1 == to)
    val lingering =
      if (m.nextSeq > 0L)
        lingering0.filterNot(_._1 == from) :+ ((from, f.ftype, m.epoch + 1))
      else lingering0
    // FeatureGroup's constructor re-validates the new name's charset
    writeManifest(g.copy(features = renamed), m.nextSeq, m.lastBatchId,
      lingering, m.widening, m.epoch + 1)
  }

  /** Schema EVOLUTION: WIDEN a feature's type (Integral→Fractional,
    * Integral→FString, Fractional→FString). The one evolution that
    * REWRITES history: Spark's parquet reader upcasts int→long and
    * long→decimal natively but NOT long→double/string (probed on 4.1), so
    * the widened type must be materialized into the files. The sequence
    * is crash-safe at every step:
    *
    *  1. metadata flip — the new type plus a SELF-ALIAS rename entry,
    *     which routes reads through the era/merge path where the old
    *     files' column is CAST on read (reads are correct immediately,
    *     before any rewrite);
    *  2. one [[compactOffline]] under its CAS commit materializes the
    *     type into v<N+1> (cost class: a compaction — at 100 TB schedule
    *     it like one);
    *  3. every rename alias is cleared (the rewrite materialized all
    *     eras under current names), returning reads to the
    *     explicit-schema fast path;
    *  4. the online snapshot rebuilds in the new type.
    *
    * A crash between any two steps leaves a readable store, and re-running
    * `widenFeature` with the same arguments completes the remaining steps
    * (same-type re-runs are accepted for exactly that recovery). A widen
    * left pending by a crash BLOCKS ingest and every other schema mutator
    * until the re-run materializes it (the manifest's `widening` flag,
    * armed atomically with the flip — [[requireNoPendingWiden]]): an
    * ingest landing between the flip and the rewrite would put new-typed
    * files next to old-typed ones under one column name — unreadable by
    * any parquet schema merge — so the store fails fast with the recovery
    * step named instead of wedging; deletes alone stay legal (GDPR never
    * waits, and they cannot create mixed-type files). The key and
    * event-time columns are not widenable (the key's string rendering
    * anchors bucket hashing and KV entries). */
  def widenFeature(groupName: String, featureName: String, to: FType): Unit = {
    // FLIP section (one arbitrated RMW — the lock is NOT held across the
    // materializing compaction below; the `widening` flag carries the
    // cross-step guard instead)
    val hadHistory = withManifestLock(groupName) {
      val m = readManifest(groupName)
      val g = m.group
      val f = g.features.find(_.name == featureName).getOrElse(
        throw new IllegalArgumentException(s"no such feature $featureName on $groupName"))
      require(featureName != g.keyCol && featureName != g.eventTimeCol,
        s"cannot widen the group's key/event-time column: $featureName")
      require(f.ftype == to || FeatureStore.isWidening(f.ftype, to),
        s"not a widening: ${FType.name(f.ftype)} -> ${FType.name(to)} " +
          "(allowed: Integral->Fractional, Integral->FString, Fractional->FString)")
      // while a widen's crash window is open, the only legal widen is the
      // recovery re-run on the SAME feature (any target type — reads cast
      // through the era path, so a chained recovery widen stays sound)
      require(m.widening.forall(_ == featureName),
        s"feature group $groupName has an unfinished widenFeature on " +
          s"'${m.widening.getOrElse("")}' — re-run it before widening $featureName")
      if (f.ftype != to) {
        val flipped = g.features.map {
          case ff if ff.name == featureName =>
            ff.copy(ftype = to, renames = (featureName, m.nextSeq) +: ff.renames)
          case ff => ff
        }
        // `widening` armed in the SAME atomic manifest swap as the flip:
        // until the materializing rewrite lands, ingest and every other
        // schema mutator refuse (see [[requireNoPendingWiden]]) — the
        // self-alias alone cannot carry that guard, because a rename could
        // move the feature's name out from under a shape-based check
        // (round-12 review finding)
        writeManifest(g.copy(features = flipped), m.nextSeq, m.lastBatchId,
          m.lingering, widening = Some(featureName), epoch = m.epoch + 1)
      }
      m.nextSeq > 0L
    }
    if (hadHistory) { // a group with history: materialize + clear aliases
      compactOffline(groupName): Unit
      val cleared = withManifestLock(groupName) {
        val m2 = readManifest(groupName)
        val c = m2.group.copy(
          features = m2.group.features.map(_.copy(renames = Nil)))
        writeManifest(c, m2.nextSeq, m2.lastBatchId, m2.lingering,
          widening = None, epoch = m2.epoch + 1)
        c
      }
      refreshOnline(cleared, None)
    } else {
      // no history yet — the flip alone suffices; drop every alias (no
      // files exist, so aliases are dead weight). UNCONDITIONAL so a
      // same-type re-run clears a crash-stranded self-alias + widening
      // flag too (the documented recovery; round-12 review finding).
      withManifestLock(groupName) {
        val m2 = readManifest(groupName)
        writeManifest(m2.group.copy(
            features = m2.group.features.map(_.copy(renames = Nil))),
          m2.nextSeq, m2.lastBatchId, m2.lingering, widening = None,
          epoch = m2.epoch + 1)
      }
    }
  }

  /** Guard shared by the metadata mutators: while a widen's crash window is
    * open ([[widenFeature]]'s step-1 flip landed, its materializing rewrite
    * has not — the manifest's `widening` flag) the ONLY legal next step is
    * re-running that widen. Any other schema mutation could move the
    * pending feature's identity out from under the recovery contract (the
    * rename-away-and-back attack from the round-12 review). Deletes stay
    * legal during the window: tombstones carry no feature columns and the
    * online rewrite conforms per immutable version, so no mixed-type file
    * can arise from them — GDPR never waits on a crashed widen. */
  private def requireNoPendingWiden(m: Manifest, groupName: String,
      action: String): Unit =
    require(m.widening.isEmpty,
      s"cannot $action on $groupName: unfinished widenFeature on " +
        s"'${m.widening.getOrElse("")}' — re-run it to materialize first")

  /** The era-resolved SOURCE expression of feature `f` over a layout whose
    * columns are `avail` (requires `_ingest_seq` in the frame): rows at or
    * past the newest rename's seq read the current column; older rows read
    * the alias that held the value in their era — unless that alias is
    * absent from the layout, which means a rewrite already materialized
    * the era under the current name (the adaptive rule in
    * [[renameFeature]]'s doc). Plain column (or typed null) when the
    * feature was never renamed. */
  private[core] def eraColumn(f: FeatureDef, avail: Set[String]): org.apache.spark.sql.Column = {
    def colOrNull(n: String): org.apache.spark.sql.Column =
      if (avail.contains(n)) col(n).cast(f.ftype.spark)
      else lit(null).cast(f.ftype.spark)
    val cur = colOrNull(f.name)
    if (f.renames.isEmpty) cur
    else {
      // era i's value lives under its own name — or, when a rewrite
      // already materialized it, under the first NEWER name in the chain
      // that the layout still carries (a rewrite renders to the name
      // current AT REWRITE TIME, which may be an intermediate alias, not
      // necessarily today's). Schema-level first-present pick, NOT a
      // runtime coalesce: a legit null under the era name must not fall
      // through to a newer name's orphaned bytes.
      def eraExpr(i: Int): org.apache.spark.sql.Column =
        ((i to 0 by -1).map(j => f.renames(j)._1) :+ f.name)
          .find(avail.contains) match {
          case Some(n) => col(n).cast(f.ftype.spark)
          case None => lit(null).cast(f.ftype.spark)
        }
      val seqC = col(EngineColumns.IngestSeq)
      var e = when(seqC >= f.renames.head._2, cur)
      f.renames.init.zipWithIndex.foreach { case (_, i) =>
        e = e.when(seqC >= f.renames(i + 1)._2, eraExpr(i))
      }
      e.otherwise(eraExpr(f.renames.size - 1))
    }
  }

  /** Null out each feature's stored values where the row predates the
    * feature's `since` seq — the RE-ADD read mask (see [[FeatureDef]]).
    * Identity for never-evolved groups. Requires `_ingest_seq` in `df`. */
  private[core] def maskSince(g: FeatureGroup, df: DataFrame): DataFrame =
    if (g.features.forall(_.since == 0L)) df
    else df.select(df.columns.toSeq.map { c =>
      g.features.find(f => f.name == c && f.since > 0L) match {
        case Some(f) =>
          when(col(EngineColumns.IngestSeq) >= f.since, col(c)).as(c)
        case None => col(c)
      }
    }: _*)

  def dropGroup(name: String): Unit = {
    Coordination.deleteRecursively(groupDir(name))
    states.remove(name): Unit // a recreated group re-reaches v1
  }

  // ---- ingest (reference: update_feature_store.py — per-row put_record; ours is set-oriented) ----

  /** Batch ingest: validates against the declared schema, appends full history
    * to the offline store, and refreshes the online snapshot incrementally
    * (only keys present in the batch are recomputed — old ∪ batch → argmax,
    * SURVEY.md §4 "caching / incremental view maintenance").
    *
    * Crash safety: the sequence is bumped and persisted BEFORE the data
    * append, so a retried ingest after a crash never reuses an `_ingest_seq`
    * (which would break the deterministic last-writer tie-break). A crash
    * between the manifest bump and the append just skips a sequence number.
    *
    * Concurrency: the seq claim is one arbitrated manifest RMW and the
    * append job is serialized per group ([[Coordination]] writer locks —
    * see [[withManifestLock]]), so concurrent ingests can never duplicate
    * a seq or clobber each other's committer staging; their ONLINE commits
    * still race through the snapshot CAS, where the loser fails loudly and
    * its appended history rows surface at the group's next commit.
    *
    * @param batchId streaming replay guard: when given (foreachBatch batch id),
    *                an id at or below the last recorded one is a replay and is
    *                skipped (returns -1) — otherwise foreachBatch retries would
    *                append duplicate rows to offline history. The id is
    *                recorded AFTER the append commits, so a crash (or a
    *                stale-schema rejection) before the rows are durable
    *                leaves the batch unclaimed and the stream's retry lands
    *                it — at-least-once: only a crash in the narrow window
    *                between the append's commit and the record can duplicate
    *                the batch's offline rows (fresh seq; argmax serving is
    *                unaffected), never lose them.
    */
  def ingest(groupName: String, df: DataFrame, batchId: Option[Long] = None): Long = {
    // seq claim = one arbitrated manifest RMW: two concurrent ingests must
    // never both read nextSeq=N and stamp duplicate `_ingest_seq` values
    // (which would silently break the deterministic last-writer tie-break
    // — far worse than the loud CAS loss their online commits race into)
    val claimed = withManifestLock(groupName) {
      val m = readManifest(groupName)
      if (batchId.exists(_ <= m.lastBatchId)) None
      else {
        // a PENDING widen (the manifest flag a crashed widenFeature left
        // between its metadata flip and its materializing rewrite) must
        // complete before new data lands: an ingest here would write
        // new-typed files next to old-typed ones under ONE column name,
        // which no parquet schema merge can read back — fail fast with the
        // recovery step instead of wedging the store. The guard keys on
        // `widening`, not the self-alias SHAPE: a shape check either
        // misses a rename-away (head only) or false-positives on a
        // legitimate rename-back (exists) — round-12 review finding;
        // renames are blocked while the flag is set, so the recorded name
        // stays the feature's name.
        require(m.widening.isEmpty, {
          val w = m.widening.getOrElse("")
          val t = m.group.features.find(_.name == w).map(f => FType.name(f.ftype))
            .getOrElse("<widened type>")
          s"feature group $groupName has an unfinished widenFeature on '$w' — " +
            s"re-run widenFeature(\"$groupName\", \"$w\", $t) to materialize it " +
            "before ingesting"
        })
        val missing = m.group.featureNames.filterNot(df.columns.contains)
        require(missing.isEmpty, s"ingest batch missing declared features: $missing")
        // NOTE the claim does NOT advance lastBatchId — that records only
        // after the append COMMITS (below). Recording it here would make
        // any failure between claim and append (a crash, a stale-schema
        // rejection) read as a replay on the stream's retry and silently
        // drop the micro-batch: permanent row loss. The post-append record
        // means a crash inside the window can instead DUPLICATE the
        // batch's offline rows under a fresh seq on retry — at-least-once,
        // the argmax serve unaffected — which is the recoverable side of
        // that trade (round-12 review).
        writeManifest(m.group, m.nextSeq + 1, m.lastBatchId,
          m.lingering, m.widening, m.epoch + 1)
        Some((m.group, m.nextSeq))
      }
    }
    val (g, seq) = claimed.getOrElse(return -1L)

    val typed = df.select(g.features.map(f => col(f.name).cast(f.ftype.spark).as(f.name)): _*)
      .withColumn(EngineColumns.IngestSeq, lit(seq))
      .withColumn(EngineColumns.IngestDate, to_date(col(g.eventTimeCol)))

    // integrity metrics ride the append job (Dataset.observe — zero extra
    // scans, exactly what a 100 TB ingest wants); the UN-observed `typed`
    // goes to refreshOnline because an Observation binds to one action
    val obs = org.apache.spark.sql.Observation(s"ingest_${groupName}_$seq")
    phaseTimings.remove(groupName): Unit
    timedPhase(groupName, "offline_append") {
      // appends to ONE directory share the committer's `_temporary`
      // staging — two concurrent append jobs there can delete each
      // other's in-flight task output (silent row loss). One lock acquire
      // per BATCH serializes just the append job; version commits still
      // arbitrate through their own CAS (losers loud, as spec'd).
      // compactOffline holds this same lock across its rewrite+CAS, so an
      // append never lands in a version dir the post-flip GC deletes.
      Coordination.current.withWriterLock(offlineRoot(groupName), "append.lock") {
        // VALIDATE-AT-APPEND: the seq claim admitted this batch under the
        // manifest it read; if a schema evolution landed between the claim
        // and this append — e.g. while it waited behind a compaction
        // holding this lock (a widen's materialization) — the typed
        // frame's casts are stale and could write unmergeable bytes into
        // the new layout. Fail loudly with the claimed seq skipped (the
        // crash rule already tolerates skipped seqs) instead.
        // A failure here needs no rollback: the batch id records only
        // after the append commits, so the stream's retry of this same
        // micro-batch is not a replay and lands under the evolved schema.
        val now = readManifest(groupName)
        require(now.widening.isEmpty && FeatureStore.declaredFingerprint(now.group)
            == FeatureStore.declaredFingerprint(g),
          s"feature group $groupName evolved while ingest seq=$seq was in " +
            "flight — the batch was NOT appended (seq skipped); re-run the ingest")
        typed.observe(obs,
            count(lit(1)).as("rows"),
            count(when(col(g.keyCol).isNull, 1)).as("null_keys"),
            count(when(col(g.eventTimeCol).isNull, 1)).as("null_event_times"),
            // rides the same append job (zero extra scans) so the BOOTSTRAP
            // commit can size its bucket count without a second persist+count
            // pass over the store — see fullRefresh (VERDICT r10 item 2: the
            // per-commit fixed tax behind the q59 regression)
            approx_count_distinct(col(g.keyCol)).as("distinct_keys"))
          .write.mode("append").partitionBy(EngineColumns.IngestDate).parquet(offlineDir(groupName))
      }
    }
    // the batch id becomes a replay-skippable fact only now that its rows
    // are DURABLY in offline history (see the claim's NOTE)
    batchId.foreach { b =>
      withManifestLock(groupName) {
        val mm = readManifest(groupName)
        if (mm.lastBatchId < b)
          writeManifest(mm.group, mm.nextSeq, b, mm.lingering, mm.widening,
            mm.epoch + 1)
      }
    }
    val o = obs.get
    metrics.put(groupName, IngestMetrics(o("rows").asInstanceOf[Long],
      o("null_keys").asInstanceOf[Long], o("null_event_times").asInstanceOf[Long]))
    timedPhase(groupName, "seq_marker")(recordSeqCommit(groupName, seq))

    // seq 0 ⇒ this batch IS the whole offline history: the refresh can
    // size its buckets from the append job's observed key count
    refreshOnline(g, Some(typed),
      firstIngestKeys = if (seq == 0L) Some(o("distinct_keys").asInstanceOf[Long]) else None)
    seq
  }

  // ---- time travel (read-as-of) ----

  private def seqLogDir(name: String): Path = groupDir(name).resolve("seqlog")

  /** One empty marker file per committed ingest, `seq-<n>-<epochMillis>` —
    * the seq→wall-clock mapping [[ingestSeqAt]] resolves timestamps
    * against. Lives OUTSIDE the versioned offline dirs so compaction GC
    * never sweeps it; the filename carries both fields, so resolution is a
    * directory listing with zero file reads (at minute-level micro-batches
    * that is ~500k tiny names per year — list-cheap on any store; prune old
    * markers with retention if a group outlives its reproducibility
    * window). Written AFTER the offline append: a crashed ingest that never
    * materialized data never becomes a resolvable point in time. */
  private def recordSeqCommit(name: String, seq: Long): Unit = {
    Files.createDirectories(seqLogDir(name))
    Files.write(seqLogDir(name).resolve(s"seq-$seq-${System.currentTimeMillis}"),
      Array.emptyByteArray): Unit
  }

  /** Offline history pinned at an ingest sequence — the time-travel read:
    * exactly the rows a consumer saw when `asOfSeq` was the newest committed
    * batch, no matter how much the store has ingested since. The pin is a
    * plain filter on the `_ingest_seq` column every offline row carries, so
    * it survives [[compactOffline]] (compaction rewrites files, never rows)
    * and composes with partition pruning like any other predicate.
    *
    * GDPR wins over reproducibility: [[deleteRecords]] tombstones (and the
    * physical erase a later compaction performs) apply to EVERY read,
    * pinned or not — time travel never resurrects a deleted key. */
  def offlineAsOf(name: String, asOfSeq: Long): DataFrame =
    offline(name).filter(col(EngineColumns.IngestSeq) <= asOfSeq)

  /** [[historicalQuery]] against the [[offlineAsOf]] pinned view — the
    * reproducible-training-frame read: re-running with the same `asOfSeq`
    * returns the same frame against a store that kept ingesting. */
  def historicalQueryAsOf(groupName: String, columns: Seq[String],
      start: String, end: String, asOfSeq: Long): DataFrame =
    historicalRange(offlineAsOf(groupName, asOfSeq), describeGroup(groupName),
      columns, start, end)

  /** Resolve a wall-clock instant to the newest ingest seq committed at or
    * before it (the `(timestamp)` form of read-as-of: pass the result to
    * [[offlineAsOf]]/[[historicalQueryAsOf]]). None when no ingest had
    * committed yet — or for groups whose ingests predate the seq log (the
    * seq form still works there; `_ingest_seq` is as old as the store). */
  def ingestSeqAt(groupName: String, asOf: java.time.Instant): Option[Long] =
    Coordination.listDir(seqLogDir(groupName)).flatMap { p =>
      p.getFileName.toString.split("-") match {
        case Array("seq", s, t) if s.forall(_.isDigit) && t.forall(_.isDigit) =>
          Some((s.toLong, t.toLong))
        case _ => None
      }
    }.filter(_._2 <= asOf.toEpochMilli).map(_._1).maxOption

  private val metrics = new java.util.concurrent.ConcurrentHashMap[String, IngestMetrics]()

  /** Metrics observed during the MOST RECENT [[ingest]] for the group (this
    * store instance). None before any ingest; a replayed/skipped batch does
    * not overwrite them. */
  def lastIngestMetrics(groupName: String): Option[IngestMetrics] =
    Option(metrics.get(groupName))

  // per-commit phase timings (observability for the fixed per-ingest tax:
  // which term — append, sizing, snapshot write, KV, CAS — a slow commit
  // spent its time in). Driver-side nanoTime pairs, zero Spark overhead.
  private val phaseTimings =
    new java.util.concurrent.ConcurrentHashMap[String, Vector[(String, Double)]]()

  private def timedPhase[A](groupName: String, phase: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val a = f
    phaseTimings.merge(groupName, Vector(phase -> (System.nanoTime() - t0) / 1e9),
      (old, one) => old ++ one)
    a
  }

  /** Driver-side wall-clock breakdown of the MOST RECENT [[ingest]] (or
    * [[refreshOnline]]) for the group, in call order — the per-commit tax
    * decomposed by term. Empty before any commit on this instance. */
  def lastCommitPhases(groupName: String): Seq[(String, Double)] =
    Option(phaseTimings.get(groupName)).getOrElse(Vector.empty)

  /** Conform a frame to the DECLARED schema + ingest seq (absent columns →
    * typed null): after addFeature the previous snapshot lacks the new
    * column and must not silently drop it from the incoming batch. */
  private def conformToDeclared(g: FeatureGroup, df: DataFrame): DataFrame = {
    val avail = df.columns.toSet
    df.select(g.features.map(f => eraColumn(f, avail).as(f.name))
      :+ col(EngineColumns.IngestSeq): _*)
  }

  /** Recompute the online snapshot. With `batch` given and a previous
    * snapshot whose bucket meta and schema allow it, the refresh is
    * INCREMENTAL IN THE BUCKET DIMENSION: only the key buckets the batch
    * touches are rewritten, each by THE per-bucket merge
    * ([[FeatureStore.mergeBuckets]]: base entries ∪ batch rows →
    * latest-per-key), and every untouched bucket's KV file carries forward
    * into v<next> by reference — O(batch ∩ buckets) compute and I/O per
    * commit instead of O(store), the shape a minute-level micro-batch
    * cadence over 10⁹ keys requires (VERDICT r9 missing #1). The merge runs
    * on the driver for a commit of one writer task — a batch of at most
    * `targetKeysPerBucket` rows, and `writeTasks == 1` over the touched
    * buckets' rows — with no Spark job, and in [[writeVersion]]'s tasks
    * otherwise (the one-task rule, see the class doc). The batch decides:
    * its first `targetKeysPerBucket + 1` rows are collected (no job for a
    * driver-local frame, one bounded read for any other), and a batch with
    * more rows is pinned and probed for its rows per bucket.
    * Falls back to a full rewrite when: no previous snapshot; no batch
    * (explicit rebuild from history — the one-call rebuild of a version an
    * earlier build wrote); the snapshot's bucket meta does not parse; the
    * schema evolved since the snapshot (addFeature), or an earlier build
    * wrote it; the batch has null keys; the store outgrew its bucket
    * count (the rebucketing commit — see `targetKeysPerBucket`); or a
    * bucket file of the base version is torn or missing (the rewrite then
    * reads history, which already holds the batch). */
  def refreshOnline(g: FeatureGroup, batch: Option[DataFrame],
      firstIngestKeys: Option[Long] = None): Unit = {
    val base = latestState(g) // the version this refresh derives from
    val incremental = (base, batch) match {
      case (Some(s), Some(b)) =>
        s.meta.layout.flatMap { case (buckets, counts) =>
          val total = counts.values.sum
          val grow = buckets < FeatureStore.MaxOnlineKeyBuckets &&
            total > 4L * targetKeysPerBucket * buckets
          if (grow || !snapshotSchemaMatches(g, s)) None
          else Some((s, buckets, counts, b))
        }
      case _ => None
    }
    incremental match {
      case Some((s, buckets, counts, b)) =>
        // the batch's first target + 1 rows decide the path, each key with
        // its string as the writer casts it
        val conformed = conformToDeclared(g, b)
        val n = conformed.columns.length
        val rows = timedPhase(g.name, "snapshot_write")(conformed
          .withColumn(FeatureStore.KvKeyCol, col(g.keyCol).cast("string"))
          .limit((targetKeysPerBucket + 1L).min(Int.MaxValue).toInt).collect())
        // the ingest seq follows the features
        val upsert = Some((g.features.indexWhere(_.name == g.keyCol),
          g.features.indexWhere(_.name == g.eventTimeCol), g.features.size))
        if (rows.length > targetKeysPerBucket) {
          // a batch the driver does not hold: pinned, so the probe and the
          // rewrite see the same rows (cost, and a correctness hazard if
          // the caller's plan is nondeterministic)
          val pinned = conformed.persist()
          try {
            val perBucket = bucketRows(pinned, g.keyCol, buckets)
            // null keys (bucket -1): the full path writes them
            if (perBucket.contains(-1L)) fullRefresh(g, batch, base, Some(buckets))
            else commitChanges(g, s, buckets, counts, upsert, perBucket, pinned, None)
          } finally pinned.unpersist(false): Unit
        }
        else if (rows.exists(_.isNullAt(n))) fullRefresh(g, batch, base, Some(buckets))
        else if (rows.nonEmpty) {
          val entries = rows.toSeq.map(r => (FeatureStore.keyBucketOf(r.getString(n), buckets),
            r.getString(n), Row.fromSeq(r.toSeq.take(n))))
          commitChanges(g, s, buckets, counts, upsert, entries.groupMapReduce(_._1)(_ => 1L)(_ + _),
            spark.createDataFrame(java.util.Arrays.asList(rows: _*), rows.head.schema),
            Some(entries))
        }
      case None =>
        // full rewrite: bucket count re-derived from the previous version's
        // recorded key count; with no parseable prior meta (bootstrap /
        // corrupt `_meta`) it is derived from the COMPUTED latest frame
        // inside fullRefresh — without that, a large store's first commit lands at
        // the 64-bucket floor and its second commit pays a guaranteed
        // full rebucketing rewrite (measured: a 64-key batch into a fresh
        // 1M-key store cost the whole store again)
        fullRefresh(g, batch, base, rewriteBuckets(base), firstIngestKeys)
    }
  }

  /** Rows of `df` per key bucket of its `keyCol` — a null key counts in
    * bucket -1, the null-key file's: at most `buckets` + 1 groups, so the
    * collect is driver-bounded at any data scale. */
  private def bucketRows(df: DataFrame, keyCol: String, buckets: Long): Map[Long, Long] =
    df.groupBy(coalesce(pmod(crc32(col(keyCol).cast("string")), lit(buckets)), lit(-1L)))
      .count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** THE incremental commit: v<base+1> over base state `s` rewrites ONLY
    * the `touched` buckets — each given with the most rows its changes
    * add, 0 for a delete — with [[FeatureStore.mergeBuckets]] (`upsert`
    * an ingest's merge, None a delete's), and carries every other bucket's
    * KV file forward by hard link. On a cluster filesystem this link step
    * is the metadata-only "new version references old files" a
    * manifest-based table format gets for free; the local-FS analogue is a
    * hard link — old versions stay readable ([[onlineAt]] time travel) and
    * [[gcOnline]] only unlinks names, the shared inodes survive as long as
    * any version references them. The one-task rule (class doc) picks
    * where the merge runs: on the driver when the commit is one writer
    * task and the changes are `local` (entries: bucket, key string, row)
    * — and then this instance's serving map of the new version
    * is `s`'s, when loaded and the new key total is within the cache cap,
    * with the touched buckets' rows replaced — else in [[writeVersion]]'s
    * tasks over `changes` (rows of `g`'s columns; a delete's key column
    * alone). A torn or missing bucket file of `s` (a touched one read, or
    * an untouched one `_meta` counts) fails the commit as a
    * [[FeatureStore.TornKvFile]], and the commit is rebuilt from history
    * instead, which already holds an ingest's batch and is filtered by a
    * delete's tombstones. With no bucket touched nothing is committed. */
  private def commitChanges(g: FeatureGroup, s: OnlineVersion, buckets: Long,
      baseCounts: Map[Long, Long], upsert: Option[(Int, Int, Int)], touched: Map[Long, Long],
      changes: => DataFrame, local: Option[Seq[(Long, String, Row)]]): Unit =
    if (touched.nonEmpty) {
      val rowBound = touched.iterator.map { case (b, n) => baseCounts.getOrElse(b, 0L) + n }.sum
      val tasks = FeatureStore.writeTasks(rowBound, targetKeysPerBucket, touched.size)
      val base = FeatureStore.BucketBase(s.dir.resolve("_serving").toString, s.columns,
        touched.keySet.filter(baseCounts.getOrElse(_, 0L) > 0L))
      val next = s.v + 1
      val finalDir = versionDirOf(g.name, next)
      val dir = OptimisticPointer.stagingFor(finalDir)
      val staged =
        try {
          // staging holds ONLY the touched buckets until the links below
          val (newCounts, serving) = timedPhase(g.name, "snapshot_write")(
            local.filter(_ => tasks == 1) match {
              case Some(entries) =>
                val merged =
                  FeatureStore.mergeBuckets(base, upsert, entries.sortBy(_._1).iterator).toSeq
                (FeatureStore.writeKvBuckets(dir.resolve("_serving").toString,
                  FeatureStore.versionColumns(g), merged.iterator.map(m => m._1 -> m._3)),
                  s.loadedServing.map(m => m -- merged.flatMap(_._2).map(e => servingKey(g, e._2)) ++
                    merged.flatMap(_._3).map(e => servingKey(g, e._2) -> e._2)))
              case None => (writeVersion(g, changes, dir, buckets, tasks, Some(base -> upsert)), None)
            })
          timedPhase(g.name, "link_untouched")(linkUntouched(s, dir, touched.keySet))
          val counts = (baseCounts -- touched.keySet) ++ newCounts
          writeVersionMeta(dir, buckets, counts, g)
          Some(serving.filter(_ => counts.values.sum <= maxServingCacheRows))
        } catch {
          case e: Exception =>
            Coordination.deleteRecursively(dir)
            if (!FeatureStore.isTornKv(e)) throw e
            None
        }
      staged match {
        case Some(serving) => promote(g, dir, finalDir, Some(s.v), next, serving)
        case None => fullRefresh(g, None, Some(s), rewriteBuckets(Some(s)))
      }
    }

  private def fullRefresh(g: FeatureGroup, batch: Option[DataFrame],
      baseState: Option[OnlineVersion], bucketsOpt: Option[Long],
      firstIngestKeys: Option[Long] = None): Unit = {
    val baseVersion = baseState.map(_.v)
    // the FIRST ingest of a group (seq 0, no committed snapshot): the batch
    // IS the whole offline history, so size buckets from the append job's
    // observed approx-distinct key count instead of a persist+count pass
    // (cut from the per-commit fixed tax the q59 driver tail exposed; the
    // power-of-two bucket envelope absorbs the ±few-% approximation error).
    // Its rows still come from history below: the declared-schema read of
    // what the append just wrote
    val bootstrap = firstIngestKeys.filter(_ => baseVersion.isEmpty && batch.isDefined)
    // the version this rewrite derives from and CASes against, read once —
    // never a re-resolved LATEST a racing commit may have moved
    val base = (baseState, batch) match {
      case (Some(bs), Some(b)) if bs.typed =>
        // maskSince on the snapshot side: a full refresh crossing a
        // drop/re-add boundary must NOT carry the orphaned pre-drop values
        // into the rewritten snapshot (conformToDeclared era-resolves
        // names but cannot see `since`; identity for never-evolved
        // groups — round-12 review finding)
        declaredVersion(g, bs).unionByName(maskSince(g, conformToDeclared(g, b)))
      // no base, no batch, or a base this build does not read: history
      // alone (it holds the batch, which ingest appended first)
      case _ => conformToDeclared(g, offline(g.name)) // offline() masks
    }
    val latest0 = LatestPerKey.viaMaxBy(base, Seq(g.keyCol), g.eventTimeCol,
      Seq(EngineColumns.IngestSeq))
    bucketsOpt.orElse(bootstrap.map(k =>
      FeatureStore.bucketCountFor(k, targetKeysPerBucket))) match {
      // the bootstrap's width comes from the same observed (approximate)
      // key count as its bucket count; a rewrite over a base version holds
      // no row bound without a job (its `_meta` omits null keys) and keeps
      // full width
      case Some(b) => commitOnlineSnapshot(g, latest0, baseVersion, b, bootstrap)
      case None =>
        // non-ingest bootstrap (no base, or a base without a parseable
        // `_meta`): size the bucket count from the actual key count (one
        // spill-safe persist + count; these refreshes are rare and this saves the
        // otherwise-certain O(store) rebucket on the next commit)
        val p = latest0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val keys = timedPhase(g.name, "bootstrap_sizing_count")(p.count())
          commitOnlineSnapshot(g, p, baseVersion,
            FeatureStore.bucketCountFor(keys, targetKeysPerBucket), Some(keys))
        } finally p.unpersist(false): Unit
    }
  }

  /** Write `latest` as the next online snapshot version and atomically
    * advance the LATEST pointer (shared by [[fullRefresh]] and
    * [[deleteRecords]]' full rewrite). `baseVersion` is the version the
    * snapshot DERIVED from (None = no snapshot existed): the commit is a
    * compare-and-swap against it, so two concurrent writers can never
    * silently clobber each other — the loser throws, the store stays on
    * the winner's version (FeatureStoreSpec's two-writer race). `rowBound`
    * sizes the write ([[FeatureStore.writeTasks]]); None writes one task
    * per bucket. */
  private def commitOnlineSnapshot(g: FeatureGroup, latest: DataFrame,
      baseVersion: Option[Long], buckets: Long, rowBound: Option[Long]): Unit = {
    val next = baseVersion.getOrElse(0L) + 1
    Files.createDirectories(onlineDir(g.name))
    // rewrite into a PRIVATE staging dir: a racing writer derives the same
    // v<next> name, and only the CAS winner may touch it (promotion happens
    // inside the commit's critical section)
    val finalDir = versionDirOf(g.name, next)
    val dir = OptimisticPointer.stagingFor(finalDir)
    val counts = timedPhase(g.name, "snapshot_write")(
      writeVersion(g, latest, dir, buckets, rowBound.fold(buckets.toInt)(n =>
        FeatureStore.writeTasks(n, targetKeysPerBucket, buckets))))
    writeVersionMeta(dir, buckets, counts, g)
    promote(g, dir, finalDir, baseVersion, next)
  }

  /** CAS the LATEST pointer from `expected` to `next`, promoting the staged
    * `dir` to `finalDir`. With `serving` (the committing instance's map of
    * `next`, see [[commitChanges]]) the CAS runs inside the group's
    * state update, which installs `next`'s state with that map: a reader
    * that resolves the new LATEST first waits there for the state instead
    * of loading it ([[latestState]]); a lost CAS installs nothing. */
  private def promote(g: FeatureGroup, dir: Path, finalDir: Path,
      expected: Option[Long], next: Long,
      serving: Option[Map[String, Row]] = None): Unit = {
    def cas(): Unit = timedPhase(g.name, "pointer_cas")(OptimisticPointer.casSwap(
      onlineDir(g.name), "LATEST", expected = expected.map(_.toString),
      next = next.toString, stage = Some(dir -> finalDir)))
    serving match {
      case Some(m) =>
        states.compute(g.name, (_, _) => { cas(); new OnlineVersion(g, next, Some(m)) }): Unit
      case None => cas()
    }
  }

  /** Write one online version's rows into the staged `dir` in ONE Spark
    * pass: one typed KV file per non-empty bucket,
    * `_serving/bucket=<b>.kv` (see [[FeatureStore.KvBucketWriter]]).
    * Returns the per-bucket key counts the tasks wrote. Without `merge`,
    * `rows` are the version's rows; with it they are an incremental
    * commit's changes ([[commitChanges]]), and each task merges its
    * buckets' base entries with them ([[FeatureStore.mergeBuckets]]).
    *
    * Clustering on the bucket puts each bucket's rows in one task, so each
    * bucket gets one KV file; a task may own several buckets, and Spark's
    * spill-capable sort orders its rows by (bucket, key) for the writer.
    * `numTasks` is a width knob, not a correctness constraint: callers size
    * it with [[FeatureStore.writeTasks]] from an upper bound on the rows
    * written that they already hold — one task per `targetKeysPerBucket`
    * rows, at most one per bucket written — so a 64-row commit into a small
    * store writes with one task, not one per touched bucket. The bound is
    * arithmetic on counts already in memory, not a plan estimate:
    * (r13-opt) sizing from IndexLifecycle.writeWidth was tried and
    * REVERTED — the per-commit estimate walk cost q241 18%. */
  private def writeVersion(g: FeatureGroup, rows: DataFrame, dir: Path,
      buckets: Long, numTasks: Int,
      merge: Option[(FeatureStore.BucketBase, Option[(Int, Int, Int)])] = None): Map[Long, Long] = {
    val servingDir = dir.resolve("_serving")
    // an empty snapshot writes no bucket file: layout present, all buckets empty
    Files.createDirectories(servingDir)
    val servingPath = servingDir.toString
    val cols = FeatureStore.versionColumns(g)
    // a delete's changes are its keys: no values
    val values = if (merge.exists(_._2.isEmpty)) Nil else cols.map(c => col(c._1))
    val n = values.size
    val key = col(g.keyCol).cast("string")
    val written = rows
      .select(values :+ pmod(crc32(key), lit(buckets)).as(EngineColumns.KeyBucket) :+
        key.as(FeatureStore.KvKeyCol): _*)
      .repartition(numTasks, col(EngineColumns.KeyBucket))
      .sortWithinPartitions(col(EngineColumns.KeyBucket), col(FeatureStore.KvKeyCol))
      .rdd.mapPartitions { it =>
        // null keys bucket to null (crc32(null) is null): the -1 file
        val es = it.map(r => (if (r.isNullAt(n)) -1L else r.getLong(n), r.getString(n + 1),
          Row.fromSeq(r.toSeq.take(n))))
        // a torn base file ends its task without failing the job: a failed
        // job's other tasks may still be writing into `dir` when the caller
        // deletes it
        try merge.fold(new FeatureStore.KvBucketWriter(servingPath, cols).write(es)) {
          case (base, upsert) => FeatureStore.writeKvBuckets(servingPath, cols,
            FeatureStore.mergeBuckets(base, upsert, es).map(m => m._1 -> m._3))
        }.iterator.map(Right(_): Either[Throwable, (Long, Long)])
        catch { case t: Throwable if FeatureStore.isTornKv(t) => Iterator(Left(t)) }
      }.collect()
    written.foreach(_.left.foreach(throw _))
    written.flatMap(_.toOption).toMap
  }

  /** Hard-link every UNTOUCHED bucket's KV file of base state `s` into the
    * staged next version (see [[commitChanges]]). The null-key file
    * `bucket=-1.kv`, when present, is always carried (the incremental path
    * is only taken for batches without null keys, so it is untouched by
    * construction). An untouched bucket `_meta` counts keys in but whose
    * file is missing throws a [[FeatureStore.TornKvFile]]: the new version
    * would carry its count without its rows. A filesystem without hard
    * links gets a copy: correct everywhere, O(bytes) — on an object store
    * the real implementation is a manifest entry, and this is where it
    * plugs in. */
  private def linkUntouched(s: OnlineVersion, staged: Path, touched: Set[Long]): Unit =
    s.storedBuckets.filterNot(touched).foreach { b =>
      val (f, dst) = (s.file(b), staged.resolve("_serving").resolve(s"bucket=$b.kv"))
      if (!Files.exists(f)) throw FeatureStore.missingKvFile(f)
      try Files.createLink(dst, f): Unit
      catch {
        case _: UnsupportedOperationException | _: java.nio.file.FileSystemException =>
          Files.copy(f, dst, StandardCopyOption.REPLACE_EXISTING): Unit
      }
    }

  private def versionDirOf(name: String, v: Long): Path =
    onlineDir(name).resolve(s"v$v")

  private def writeVersionMeta(vd: Path, buckets: Long,
      counts: Map[Long, Long], g: FeatureGroup): Unit = {
    // kvfp = the FULL declared fingerprint at commit time: only a version
    // committed under the current one is served from its KV entries as is
    // and carried forward incrementally. Not `fp`, which parquet-snapshot
    // builds trust: they would read a typed version as empty and commit
    // over it. schema = every entry's columns and types, in order (names
    // are [A-Za-z0-9_]+); its presence marks the version as typed KV.
    val body = s"buckets=$buckets\n" +
      s"counts=${counts.toSeq.sorted.map { case (b, c) => s"$b:$c" }.mkString(",")}\n" +
      s"kvfp=${FeatureStore.declaredFingerprint(g)}\n" +
      s"schema=${FeatureStore.versionColumns(g).map { case (n, t) =>
        s"$n:${FType.name(t)}" }.mkString(",")}\n"
    Files.write(vd.resolve("_meta"), body.getBytes(StandardCharsets.UTF_8)): Unit
  }

  /** What this instance knows about one committed online version, read
    * under declared group `g`: its `_meta`, parsed once, and — loaded on
    * first use, or `preloaded` by the commit that wrote it — its serving
    * map of `g`'s declared-view rows. A version is immutable once LATEST
    * names it, so nothing here is ever invalidated; a newer version or
    * another declared group gets a new state ([[latestState]]). */
  private final class OnlineVersion(val g: FeatureGroup, val v: Long,
      preloaded: Option[Map[String, Row]] = None) {
    val dir: Path = versionDirOf(g.name, v)
    /** Bucket `b`'s KV file (absent for an empty bucket). */
    def file(b: Long): Path = dir.resolve("_serving").resolve(s"bucket=$b.kv")
    /** Does bucket `b` hold rows: a file, or keys counted in `_meta`? A
      * counted bucket without a file reads as torn, never as empty. */
    def stored(b: Long): Boolean =
      meta.layout.exists(_._2.getOrElse(b, 0L) > 0L) || Files.exists(file(b))
    /** Every bucket that [[stored]] holds, the null-key bucket -1 too. */
    def storedBuckets: Seq[Long] =
      (FeatureStore.kvFiles(dir.resolve("_serving")).flatMap(FeatureStore.kvBucketOf) ++
        meta.layout.fold(Iterable.empty[Long])(_._2.collect { case (b, n) if n > 0 => b })
      ).distinct.sorted
    val meta: FeatureStore.VersionMeta = FeatureStore.parseMeta(dir)
    /** The version's KV entry columns: `_meta`'s `schema` line, or for a
      * `_meta` that lost its last lines the first KV header that parses. */
    private val kvColumns: Option[Seq[(String, FType)]] =
      meta.columns.orElse(FeatureStore.kvHeaderColumns(dir.resolve("_serving")))
    /** Is the version typed KV, the one format this build reads? If not,
      * every read of it throws ([[columns]]), and a full rewrite over it
      * takes its rows from history: the version is only its CAS base and
      * its `_meta` bucket sizing. */
    def typed: Boolean = kvColumns.isDefined
    /** The columns to read the version with; throws for a version an
      * earlier build wrote, naming the one-call rebuild. */
    def columns: Seq[(String, FType)] = kvColumns.getOrElse(throw new IllegalStateException(
      s"online version v$v of feature group ${g.name} was written by an earlier build " +
        "in a format this build does not read: rebuild it from the offline history with " +
        s"refreshOnline(describeGroup(\"${g.name}\"), None), then gcOnline(\"${g.name}\", 1) " +
        "removes the old versions"))
    @volatile private var loaded = preloaded.isDefined
    /** `preloaded`, else [[loadServing]]'s answer, single-flight:
      * concurrent first readers wait for the one load, and a load that
      * throws is retried by the next reader (a lazy val's initializer is
      * locked and retried). */
    lazy val serving: Option[Map[String, Row]] = {
      val m = preloaded.orElse(loadServing(this))
      loaded = true
      m
    }
    /** [[serving]] when it is already loaded; never loads it. */
    def loadedServing: Option[Map[String, Row]] = if (loaded) serving else None
  }

  /** One state per group: the latest version this instance resolved. */
  private val states = new java.util.concurrent.ConcurrentHashMap[String, OnlineVersion]()

  /** The state of `g`'s latest committed version; None when no version
    * is committed. LATEST is read once, and a cached state of that version
    * and declared group is used as is. Otherwise the state is replaced
    * inside `compute`, which re-reads LATEST and installs the version
    * LATEST names THEN: a reader that resolved v after another installed
    * v+1 uses v+1, and never reloads the superseded v over it. A group
    * dropped and recreated by another instance reloads too, because its
    * version differs; so does a schema evolution, because the cached rows
    * are the previous declared view. */
  private def latestState(g: FeatureGroup): Option[OnlineVersion] =
    currentVersion(g.name).flatMap { v =>
      val s = states.get(g.name)
      if (s != null && s.v == v && s.g == g) Some(s)
      else Option(states.compute(g.name, (_, old) => currentVersion(g.name) match {
        case Some(now) if old != null && old.v == now && old.g == g => old
        case Some(now) => new OnlineVersion(g, now)
        case None => null
      }))
    }

  /** Does version `s`'s layout encode exactly the CURRENT declared view?
    * True ⇒ its KV entries and carried-forward buckets are authoritative
    * (committed under this very fingerprint, and commits materialize
    * masking/era resolution). False ⇒ some evolution happened since (or an
    * earlier build wrote the version: its `_meta` has no `kvfp` line):
    * serve the declared view ([[declaredVersion]] masks and era-resolves
    * at read time) and take the FULL refresh on the next commit. */
  private def snapshotSchemaMatches(g: FeatureGroup, s: OnlineVersion): Boolean =
    s.meta.fp.contains(FeatureStore.declaredFingerprint(g))

  /** A full rewrite's bucket count, from the base version's recorded key
    * count — a schema mismatch distrusts the version's LAYOUT, not its
    * sizing metadata. None without a parseable `_meta`. */
  private def rewriteBuckets(base: Option[OnlineVersion]): Option[Long] =
    base.flatMap(_.meta.layout).map { case (_, counts) =>
      FeatureStore.bucketCountFor(counts.values.sum, targetKeysPerBucket) }

  private def currentVersion(name: String): Option[Long] =
    Coordination.readPointerFile(onlineDir(name).resolve("LATEST")).map(_.toLong)

  /** The ONE reader of online version `s`: the given key buckets, or with
    * `buckets` None every bucket of the version (the null-key row too), in
    * the version's own columns — [[declaredVersion]] resolves eras by the
    * names the rows were written under. It reads the buckets' KV files
    * through a [[FeatureStore.KvRelation]]: building the frame launches no
    * job, and a bucket with no file is empty — unless `_meta` counts keys
    * in it: then its file is read anyway and fails the read as a torn file
    * does ([[FeatureStore.TornKvFile]]), so every reader takes its torn-file
    * path instead of serving the bucket's rows as deleted. The null-key
    * file `bucket=-1.kv` is not counted and is read when present. A version
    * an earlier build wrote throws
    * ([[OnlineVersion.columns]]). This is the version exactly as committed
    * ([[onlineAt]]); every served answer reads it through
    * [[declaredVersion]]. */
  private def readVersion(s: OnlineVersion, buckets: Option[Iterable[Long]] = None): DataFrame =
    spark.baseRelationToDataFrame(new FeatureStore.KvRelation(spark.sqlContext, s.columns,
      buckets.fold(s.storedBuckets)(_.toSeq.filter(s.stored).distinct.sorted).map(s.file)))

  /** Version `s` as declared group `g` serves it: the features in `g`
    * order, cast, era-resolved ([[eraColumn]]) and masked ([[maskSince]]),
    * then the ingest seq. A snapshot committed before a dropFeature /
    * addFeature / rename / widen still carries the OLD layout until the
    * next commit rewrites it; its reads show the declared view at once.
    * Identity up to casts for a version committed under `g`'s fingerprint. */
  private def declaredVersion(g: FeatureGroup, s: OnlineVersion,
      buckets: Option[Iterable[Long]] = None): DataFrame =
    maskSince(g, conformToDeclared(g, readVersion(s, buckets)))

  // ---- reads ----

  /** Full offline history (reference: Athena external table over the offline
    * S3 parquet, setup.sh:132-143). Read with the DECLARED schema, not the
    * files': after [[addFeature]] the older files lack the new column and
    * parquet fills it with nulls — the evolution read path, and also what
    * pins column order/types against file-level drift. */
  def offline(name: String): DataFrame = {
    val g = describeGroup(name)
    val raw0 =
      if (g.features.forall(_.renames.isEmpty)) {
        // fast path (never-renamed groups): one explicit declared schema,
        // no footer merging
        val st = StructType(
          g.features.map(f => StructField(f.name, f.ftype.spark)) :+
            StructField(EngineColumns.IngestSeq, LongType) :+
            StructField(EngineColumns.IngestDate, DateType))
        spark.read.schema(st).parquet(offlineDir(name))
      } else {
        // renamed groups: merge footers so alias-era columns surface, then
        // era-resolve each feature to its declared name ([[eraColumn]];
        // post-compaction layouts lose the alias columns and the adaptive
        // rule reads the materialized current column). mergeSchema's
        // footer pass is parallel and only paid until the next compaction
        // clears the aliases from the files.
        val merged = spark.read.option("mergeSchema", "true")
          .parquet(offlineDir(name))
        val avail = merged.columns.toSet
        merged.select(g.features.map(f => eraColumn(f, avail).as(f.name))
          :+ col(EngineColumns.IngestSeq).cast(LongType).as(EngineColumns.IngestSeq)
          :+ col(EngineColumns.IngestDate).cast(DateType).as(EngineColumns.IngestDate): _*)
      }
    val raw = maskSince(g, raw0)
    // tombstone filter ([[deleteRecords]]): hide a deleted key's history up
    // to its deletion sequence — later re-ingests (seq > deleted_seq)
    // legitimately resurface the key. Tombstones are tiny (explicit delete
    // calls), so this is one broadcast anti-join every offline consumer
    // (pointInTime, historicalQuery, refreshOnline rebuild, compaction)
    // inherits for free.
    tombstones(name) match {
      case Some(t) =>
        val tk = broadcast(t.groupBy(col("key"))
          .agg(max(col("deleted_seq")).as("__del_seq")))
        raw.join(tk,
          raw(g.keyCol).cast("string") === tk("key") &&
            raw(EngineColumns.IngestSeq) <= tk("__del_seq"), "left_anti")
      case None => raw
    }
  }

  // ---- deletion (SageMaker delete_record analogue; the GDPR path) ----

  private def tombstoneDir(name: String): Path = groupDir(name).resolve("tombstones")

  private def tombstones(name: String): Option[DataFrame] =
    if (Files.exists(tombstoneDir(name)))
      Some(spark.read.schema("key STRING, deleted_seq LONG")
        .parquet(tombstoneDir(name).toString))
    else None

  /** Delete records by key — the managed feature stores' `delete_record`
    * surface, set-oriented like [[ingest]]:
    *   - ONLINE: the keys leave the serving snapshot immediately: the
    *     buckets they hash to are rewritten without them by the one
    *     per-bucket merge of an incremental commit — on the driver when the
    *     rewrite is one writer task, else in Spark tasks (the one-task
    *     rule, see the class doc) — into a new version + atomic pointer
    *     swap, which the next lookup resolves (serving state is keyed by
    *     version, so nothing is invalidated; never a full-history
    *     recompute);
    *   - OFFLINE: a tombstone (key, deleted_seq) is appended; every offline
    *     reader filters history at or below the deletion sequence, so a
    *     LATER re-ingest of the key resurfaces it (the same monotone-seq
    *     rule every other write follows). The data is logically gone at
    *     once; [[compactOffline]] materializes the filter into the files —
    *     the PHYSICAL (right-to-be-forgotten) erase — and clears the
    *     tombstones it folded in. Old ONLINE versions retain the key until
    *     [[gcOnline]] collects them (time-travel views are immutable by
    *     design); a full GDPR purge is deleteRecords → compactOffline →
    *     gcOnline(keep = 1).
    *
    * @return the deletion sequence number
    */
  def deleteRecords(groupName: String, keys: Seq[Any]): Long = {
    require(keys.nonEmpty, "deleteRecords: empty key set")
    import scala.jdk.CollectionConverters._
    val keyDf = spark.createDataFrame(
      keys.map(k => Row(k.toString)).asJava,
      StructType(Seq(StructField("key", org.apache.spark.sql.types.StringType))))
    // an explicit key list is driver-sized by construction: its touched
    // buckets are known without a job, and the tombstones are one file
    deleteKeyFrame(groupName, keyDf, Some(keys.map(_.toString).toSet))
  }

  /** [[deleteRecords]] for a CLUSTER-SIZED key frame (first column = keys,
    * any type): the keys never visit the driver — the tombstone write, the
    * per-bucket count probe and the touched buckets' rewrite stay in Spark
    * tasks, the [[expireStale]] sweep path opened to callers (a CDC batch's
    * delete set, a predicate-derived erase list). Null keys are dropped (a
    * null key is never addressable). */
  def deleteRecordsFrame(groupName: String, keys: DataFrame): Long = {
    val kc = keys.columns.headOption.getOrElse(
      throw new IllegalArgumentException("deleteRecordsFrame: no key column"))
    deleteKeyFrame(groupName,
      keys.select(col(kc).cast(org.apache.spark.sql.types.StringType).as("key"))
        .na.drop().distinct(),
      explicit = None)
  }

  /** Core of [[deleteRecords]]: `keyDf` is a one-column (`key` string)
    * frame that NEVER visits the driver — the sweep path ([[expireStale]])
    * passes a predicate-derived frame that can be arbitrarily large. Its
    * keys are written as tombstones and read back, probed for the buckets
    * they touch (the same per-bucket count probe an ingest's batch takes)
    * and dropped from those buckets by the merge in [[writeVersion]]'s
    * tasks. Only an explicit driver-provided key list (`explicit`, the
    * keys' strings) gets single-file tombstones, touched buckets without a
    * job, and — for a rewrite of one writer task — the same merge on the
    * driver (the one-task rule, see the class doc). */
  private def deleteKeyFrame(groupName: String, keyDf0: DataFrame,
      explicit: Option[Set[String]]): Long = {
    // seq bumped and persisted FIRST — the ingest crash-safety rule: a
    // crash mid-delete leaves at worst a skipped sequence number, never a
    // reused one; the bump is the same arbitrated RMW ingest uses, so a
    // delete racing an ingest can never claim the same seq
    val (g, seq) = withManifestLock(groupName) {
      val m = readManifest(groupName)
      writeManifest(m.group, m.nextSeq + 1, m.lastBatchId, m.lingering,
        m.widening, m.epoch + 1)
      (m.group, m.nextSeq)
    }
    val marks = keyDf0.select(col("key"),
      lit(seq).cast(LongType).as("deleted_seq"))
    // same serialized-append rule as ingest's offline append: concurrent
    // marker writes to one directory share the committer's `_temporary`
    // staging (silent marker loss = silent resurrection)
    Coordination.current.withWriterLock(groupDir(groupName), "tombstones.lock") {
      // holding the only marker-write lock, any `_temporary` present is a
      // CRASHED writer's staging debris — clear it here, because the
      // compaction sweep deliberately skips directories (it must not
      // destroy a LIVE writer's staging) and would otherwise never
      // collect it (round-12 review)
      Coordination.deleteRecursively(tombstoneDir(groupName).resolve("_temporary"))
      (if (explicit.isDefined) marks.coalesce(1) else marks)
        .write.mode("append").parquet(tombstoneDir(groupName).toString)
    }
    latestState(g) match {
      case Some(bs) =>
        // read the just-written markers back rather than re-running keyDf0's
        // plan: the sweep's frame derives from this very snapshot, and the
        // parquet roundtrip both cuts that self-reference and guarantees the
        // rewrite drops EXACTLY the keys the tombstones record. A null key
        // (expireStale sweeps the null-key row) is never addressable: the
        // rewrite leaves it out, so it touches no bucket
        lazy val keyDf = tombstones(groupName).get
          .filter(col("deleted_seq") === seq && col("key").isNotNull).select(col("key"))
        // the incremental path carries RAW base-version rows forward, so it
        // must not run across an evolution boundary (same fingerprint gate
        // as refreshOnline): a delete landing between a drop/re-add/rename/
        // widen and the next commit would otherwise stamp the current
        // fingerprint onto a version whose KV entries still hold the
        // pre-evolution view (round-12 review follow-up)
        bs.meta.layout.filter(_ => snapshotSchemaMatches(g, bs)) match {
          case Some((buckets, counts)) =>
            // INCREMENTAL delete: keys live only in their own buckets, so
            // only the deleted keys' buckets are rewritten — untouched
            // buckets carry forward by link, O(deleted ∩ buckets) instead of
            // O(store) per delete. A delete adds no rows to a bucket
            val local = explicit.map(_.toSeq.map(k =>
              (FeatureStore.keyBucketOf(k, buckets), k, Row.empty)))
            val touched = local.fold(bucketRows(keyDf, "key", buckets).keySet)(_.map(_._1).toSet)
            commitChanges(g, bs, buckets, counts, None, touched.map(_ -> 0L).toMap,
              keyDf.select(col("key").as(g.keyCol)), local)
          case None if !bs.typed =>
            // a base an earlier build wrote: rebuild from history, which
            // the markers just written already filter
            fullRefresh(g, None, Some(bs), rewriteBuckets(Some(bs)))
          case None =>
            // unparseable meta OR evolution since the base version: full
            // rewrite, CONFORMED + MASKED so the new version's
            // entries and fingerprint stamp present the declared view
            val conformed = declaredVersion(g, bs)
            val hinted = if (explicit.isDefined) broadcast(keyDf) else keyDf
            // bucket count still derives from the base version's recorded
            // key counts (the refreshOnline None-branch rule). Falling to
            // the 64-bucket floor here would rewrite a large store into 64
            // buckets and force a second O(store) rebucket at the next
            // ingest (round-12 review finding)
            commitOnlineSnapshot(g,
              conformed.join(hinted,
                conformed(g.keyCol).cast("string") === hinted("key"), "left_anti"),
              Some(bs.v), rewriteBuckets(Some(bs)).getOrElse(FeatureStore.OnlineKeyBuckets),
              None)
        }
      case None => () // no snapshot yet: online() derives from the (now filtered) offline history
    }
    seq
  }

  /** Online latest-per-key view (reference: get_record point lookups,
    * real_time_inference.py:16-19). */
  def online(name: String): DataFrame = {
    val g = describeGroup(name)
    latestState(g) match {
      case Some(s) => declaredVersion(g, s)
      case None => // what the next full refresh would commit; offline() masks
        LatestPerKey.viaMaxBy(offline(g.name), Seq(g.keyCol), g.eventTimeCol,
          Seq(EngineColumns.IngestSeq)).drop(EngineColumns.IngestDate)
    }
  }

  /** TIME TRAVEL over serving states: every [[refreshOnline]] writes a new
    * immutable `online/v<N>/` and flips the LATEST pointer, so each previous
    * snapshot remains readable exactly as it was served — audits ("what did
    * the model see at version N?"), A/B rollbacks, and training-serving skew
    * forensics. Superseded versions persist until [[gcOnline]]. */
  def onlineVersions(name: String): Seq[Long] =
    Coordination.listDir(onlineDir(name))
      .flatMap(p => IndexLifecycle.versionOf("v")(p.getFileName.toString)).sorted

  /** The online snapshot EXACTLY as served at `version` (see [[onlineVersions]]). */
  def onlineAt(name: String, version: Long): DataFrame = {
    require(Files.exists(versionDirOf(name, version)), s"no online snapshot v$version for $name")
    // the cached state when `version` is the latest this instance
    // resolved; any other version is parsed on demand and not cached
    val g = describeGroup(name)
    readVersion(Option(states.get(name)).filter(_.v == version)
      .getOrElse(new OnlineVersion(g, version)))
  }

  /** CHANGE DATA FEED between two served snapshot versions (see
    * [[onlineAt]]): which entity keys were added, removed, or changed — the
    * Delta CDF / Iceberg changelog semantic, derived from the immutable
    * version directories instead of a transaction log. One key-equi shuffle
    * join of two snapshots (each one row per key); change detection is
    * null-safe column-wise comparison over the DECLARED features (schema
    * evolution between the versions reads as null vs value = changed).
    *
    * @return (keyCol, change_type ∈ added|removed|changed, <features of the
    *         `toV` side, null for removed>)
    */
  def onlineDiff(name: String, fromV: Long, toV: Long): DataFrame = {
    val g = describeGroup(name)
    def conformed(df: DataFrame): DataFrame = df.select(g.features.map { f =>
      (if (df.columns.contains(f.name)) col(f.name).cast(f.ftype.spark)
       else lit(null).cast(f.ftype.spark)).as(f.name)
    }: _*)
    val a = conformed(onlineAt(name, fromV)).alias("a")
    val b = conformed(onlineAt(name, toV)).alias("b")
    val k = g.keyCol
    val sameRow = g.featureNames
      .map(f => col(s"a.$f") <=> col(s"b.$f"))
      .reduce(_ && _)
    a.join(b, col(s"a.$k") === col(s"b.$k"), "full_outer")
      .withColumn("change_type",
        when(col(s"a.$k").isNull, lit("added"))
          .when(col(s"b.$k").isNull, lit("removed"))
          .when(!sameRow, lit("changed")))
      .filter(col("change_type").isNotNull)
      .select(coalesce(col(s"b.$k"), col(s"a.$k")).as(k) +:
        col("change_type") +:
        g.featureNames.filterNot(_ == k).map(f => col(s"b.$f").as(f)): _*)
  }

  /** Drop superseded online snapshots, keeping the newest `keep` versions
    * (the retention knob for [[onlineAt]] time travel). Never drops LATEST. */
  def gcOnline(name: String, keep: Int = 2): Unit = {
    val vs = onlineVersions(name)
    val cur = currentVersion(name).getOrElse(return)
    vs.filter(v => v != cur && v <= cur - keep)
      .foreach(v => Coordination.deleteRecursively(onlineDir(name).resolve(s"v$v")))
  }

  /** The serving map of version `s` (SURVEY.md §3.3): the reference's
    * `get_record` is a millisecond KV hit (real_time_inference.py:16-19);
    * launching a Spark job per point lookup is the wrong cost model for
    * that path. The online snapshot is one row per entity key — the working
    * set the reference holds in DynamoDB — so the single-node analogue is a
    * driver map of the declared-view rows ([[declaredVersion]]), built ONCE
    * per version and declared group ([[OnlineVersion.serving]]) and
    * replaced when a lookup resolves a newer LATEST or another declared
    * group. At cluster scale this becomes an external KV store fed by the
    * same snapshot; the version-keyed replacement carries over. Keys are
    * string-normalized so a caller's Int key hits a stored Long; a null key
    * is not addressable, so its row is left out. None when the version
    * exceeds `maxServingCacheRows`: when its `_meta` key total already
    * does, that costs no Spark job, otherwise (or without a `_meta`) the
    * load itself is the bounded probe. None too when a bucket file is torn
    * ([[FeatureStore.TornKvFile]]); any other failure propagates, and the
    * next lookup retries the load. */
  private def loadServing(s: OnlineVersion): Option[Map[String, Row]] = {
    val layout = s.meta.layout
    if (layout.exists(_._2.values.sum > maxServingCacheRows)) None
    else {
      val g = s.g
      // never collects more than cap+1 rows: a `_meta` total within the
      // cap counts every keyed row (it omits the null key), so one job
      // collects them all; without a `_meta`, limit(cap+1) is the bounded
      // probe (a job per scale-up round of its take)
      val keyed = declaredVersion(g, s).filter(col(g.keyCol).isNotNull)
      val rows =
        try Some((if (layout.isDefined) keyed else keyed.limit(maxServingCacheRows + 1)).collect())
        catch { case e: Exception if FeatureStore.isTornKv(e) => None }
      rows.filter(_.length <= maxServingCacheRows).map { rs =>
        rs.map(r => servingKey(g, r) -> r).toMap
      }
    }
  }

  /** The serving map's key of declared-view row `r` of `g`: its key's
    * string form, as lookups ask for it. */
  private def servingKey(g: FeatureGroup, r: Row): String =
    String.valueOf(r.get(g.features.indexWhere(_.name == g.keyCol)))

  /** Point lookup, stringly-typed API shim matching the reference's wire
    * format (`ValueAsString`, update_feature_store.py:65-73): returns
    * feature-name → string-value, None when the key is absent
    * (real_time_inference.py:20-22). Event time formatted ISO-8601 Zulu
    * (update_feature_store.py:36). Serves from the driver-side snapshot
    * cache — NO Spark job per lookup (asserted by FeatureStoreSpec); the
    * over-cap path launches no job either: it reads the key's bucket file
    * (`v<N>/_serving/bucket=<crc32(key) mod buckets>.kv`, sorted, typed,
    * sparse-indexed) DIRECTLY — one open + binary search +
    * ≤[[FeatureStore.KvIndexStride]]-entry block scan, no full-bucket scan
    * regardless of bucket size (servingBench's `bucket_pruned` row) — and
    * renders the decoded row like a cache hit. A job serves only a version
    * whose entries are not the declared view (an evolution since its
    * commit), a store with no version at all,
    * and a torn bucket file, which DEGRADES to latest-per-key derived from
    * history rather than failing the lookup. Every path looks a key up by
    * its string form, so a null key is not addressable: `null` asks for the
    * string key "null". */
  def getRecord(groupName: String, key: Any): Option[Map[String, String]] =
    recordOf(describeGroup(groupName), key)

  private def recordOf(g: FeatureGroup, key: Any): Option[Map[String, String]] = {
    val skey = String.valueOf(key)
    val s = latestState(g)
    s.flatMap(_.serving) match {
      case Some(m) => m.get(skey).map(FeatureStore.renderWireRow(g, _))
      case None => lookupUncached(g, s, Seq(skey))(skey)
    }
  }

  /** One open of bucket `bucket`'s KV file answering a SET of keys (the
    * batch face: many keys of the same bucket cost one open), for a
    * version whose entries are `g`'s declared view. A verdict for EVERY
    * target key: each target costs one binary search over the sparse index
    * plus one ≤stride-entry block scan. An empty bucket has no file. Throws
    * when the file is unreadable (short, bad magic, torn index — e.g.
    * hardware corruption) or missing although `_meta` counts keys in it. */
  private def servingKvScan(g: FeatureGroup, s: OnlineVersion, bucket: Long,
      targets: Seq[String]): Map[String, Option[Map[String, String]]] = {
    val f = s.file(bucket)
    val found =
      if (Files.exists(f)) FeatureStore.kvLookup(f, targets.toSet)
      else if (s.stored(bucket)) throw FeatureStore.missingKvFile(f)
      else Map.empty[String, Row]
    targets.map(t => t -> found.get(t).map(FeatureStore.renderWireRow(g, _))).toMap
  }

  /** Multi-key point lookup — the managed feature stores' batch_get_record
    * face: one answer per requested key (stringly wire format, None for
    * absent keys). Cost model by path: cache hits are map lookups; the KV
    * path opens ONE bucket file per distinct bucket the keys hash to (not
    * one per key); the job paths run a SINGLE Spark job over all requested
    * keys (never a job per key). Duplicate keys collapse; answers are keyed
    * by the key's string form. */
  def batchGetRecords(groupName: String,
      keys: Seq[Any]): Map[String, Option[Map[String, String]]] = {
    val g = describeGroup(groupName)
    val skeys = keys.map(String.valueOf(_)).distinct
    if (skeys.isEmpty) return Map.empty
    val s = latestState(g)
    s.flatMap(_.serving) match {
      case Some(m) =>
        skeys.map(k => k -> m.get(k).map(FeatureStore.renderWireRow(g, _))).toMap
      case None => lookupUncached(g, s, skeys)
    }
  }

  /** The lookup chain below the driver cache, shared by [[getRecord]] and
    * [[batchGetRecords]]: the KV files of the keys' buckets (one open per
    * bucket, no Spark job) of a version whose entries are the declared
    * view; else ONE bucket-pruned job over the keys' buckets — an evolved
    * version ([[declaredVersion]] serves the declared view); else an
    * unpruned job when the bucket meta is corrupt (a
    * guessed modulus would answer present keys as authoritatively absent);
    * else, with no version at all (`state` None) or a torn KV file in the
    * version ([[FeatureStore.TornKvFile]]: it holds no second copy of its
    * rows), the keys' latest rows in history. Every
    * read is of the state's version, not a re-resolved
    * LATEST: the buckets were hashed with its modulus, and a rebucketing
    * commit landing in between would make the pruned read miss a present
    * key. */
  private def lookupUncached(g: FeatureGroup, state: Option[OnlineVersion],
      skeys: Seq[String]): Map[String, Option[Map[String, String]]] = {
    // ONE job collects the keys' rows of `df`; a key with several rows
    // (history) answers its newest, as online() keeps it
    def jobPath(df: DataFrame): Map[String, Option[Map[String, String]]] = {
      val Seq(k, t, seq) = Seq(g.keyCol, g.eventTimeCol, EngineColumns.IngestSeq)
        .map(df.schema.fieldIndex)
      val hit = FeatureStore.latestPerKey(
          df.filter(col(g.keyCol).cast("string").isInCollection(skeys)).collect().toSeq,
          k, t, seq)(identity)
        .map(r => String.valueOf(r.get(k)) -> r).toMap
      skeys.map(key => key -> hit.get(key).map(FeatureStore.renderWireRow(g, _))).toMap
    }
    def history = jobPath(offline(g.name).drop(EngineColumns.IngestDate))
    state match {
      case Some(s) =>
        try s.meta.layout match {
          case Some((buckets, _)) =>
            val byBucket = skeys.groupBy(FeatureStore.keyBucketOf(_, buckets))
            if (snapshotSchemaMatches(g, s))
              byBucket.flatMap { case (b, ks) => servingKvScan(g, s, b, ks) }
            else jobPath(declaredVersion(g, s, Some(byBucket.keys)))
          case None => jobPath(declaredVersion(g, s))
        } catch {
          case e: Exception if FeatureStore.isTornKv(e) => history
        }
      case None => history
    }
  }

  /** [[getRecord]] with a STALENESS GATE — the managed feature stores'
    * record-TTL semantic (serve-side form): a record whose event time is
    * older than `maxStaleness` behind the serving clock is answered with
    * None, exactly like an absent key, so a model never silently consumes a
    * feature that stopped updating (the staleness bug class TTLs exist
    * for). The gate reads the row the normal lookup already fetched — zero
    * extra jobs, cache path intact; a record with a NULL event time never
    * passes (unknown age = stale). The clock is the store's injectable
    * [[clock]], so specs pin it. */
  def getRecordFresh(groupName: String, key: Any,
      maxStaleness: java.time.Duration): Option[Map[String, String]] = {
    val g = describeGroup(groupName)
    recordOf(g, key).filter { rec =>
      Option(rec(g.eventTimeCol)).exists { iso =>
        val et = java.time.Instant.from(FeatureStore.WireTimestamp.parse(iso))
        !et.plus(maxStaleness).isBefore(clock())
      }
    }
  }

  /** Batch face of [[getRecordFresh]]'s staleness gate: SWEEP every record
    * whose event time lags the store clock by more than `maxStaleness` out
    * of the serving view (the managed stores' record-TTL maintenance job —
    * the serve-side gate protects each lookup, the sweep reclaims the
    * snapshot). Composes [[deleteRecords]], so the sweep inherits its whole
    * contract: seq-aware tombstones (a later re-ingest of the key
    * resurfaces it — TTL expiry must never block a genuine update),
    * hidden history until [[compactOffline]], a new version the next
    * lookup resolves. A NULL
    * event time is swept (unknown age = stale, the [[getRecordFresh]]
    * rule). The stale key set stays a DataFrame end to end — the store
    * explicitly serves snapshots LARGER than the serving cache cap (bucket
    * -pruned reads), so a mostly-stale over-cap store must never funnel
    * its key set through the driver. Returns the swept keys' count. */
  def expireStale(groupName: String, maxStaleness: java.time.Duration): Long = {
    val g = describeGroup(groupName)
    val cutoff = java.sql.Timestamp.from(clock().minus(maxStaleness))
    val stale = online(groupName)
      .filter(col(g.eventTimeCol).isNull || col(g.eventTimeCol) < lit(cutoff))
      .select(col(g.keyCol).cast("string").as("key"))
    val n = stale.count()
    if (n == 0L) 0L
    else { deleteKeyFrame(groupName, stale, explicit = None); n }
  }

  /** Row-level stringly-typed upsert mirroring the reference's wire API
    * (`put_record` with `ValueAsString` fields, update_feature_store.py:39-50):
    * values are cast from strings to the declared types (timestamps accept
    * ISO-8601 Zulu or `yyyy-MM-dd HH:mm:ss`). Set-oriented [[ingest]] is the
    * right call for anything bigger than one record — this shim exists for
    * API parity and pays a full ingest per row. */
  def putRecord(groupName: String, record: Map[String, String]): Long = {
    val g = describeGroup(groupName)
    val missing = g.featureNames.filterNot(record.contains)
    require(missing.isEmpty, s"putRecord missing declared features: $missing")
    import scala.jdk.CollectionConverters._
    val strSchema = org.apache.spark.sql.types.StructType(
      g.features.map(f => org.apache.spark.sql.types.StructField(f.name, org.apache.spark.sql.types.StringType)))
    val row = Row.fromSeq(g.features.map(f => record(f.name)))
    val df = spark.createDataFrame(Seq(row).asJava, strSchema)
      .select(g.features.map { f =>
        val c = col(f.name)
        (f.ftype match {
          case FType.FTimestamp => // try_*: ANSI to_timestamp throws on pattern mismatch
            coalesce(try_to_timestamp(c, lit(FeatureStore.WireTimestampPattern)), try_to_timestamp(c))
          case other => c.cast(other.spark)
        }).as(f.name)
      }: _*)
    ingest(groupName, df)
  }

  /** Compact the offline store: rewrite each `_ingest_date` partition's
    * accumulated small files (one set per ingest batch — a file per
    * micro-batch per date under streaming ingest) into one file per date.
    * Scan parallelism and footer overhead degrade until compaction (README
    * "Running at cluster scale"; at 100 TB run this per-partition on recent
    * dates only).
    *
    * CRASH-SAFE: the rewrite lands in `offline/v<N+1>/`; the ONLY commit
    * point is the atomic move of the CURRENT pointer file (the same pattern
    * that versions the online snapshot). A crash before the flip leaves the
    * old version intact and a partial v<N+1> that the retry overwrites; a
    * crash after the flip leaves superseded version dirs that the next
    * compaction garbage-collects. Single-writer assumption still applies
    * (SURVEY.md §7 risk 6 — Delta/Iceberg would arbitrate writers; jars not
    * available in this environment).
    *
    * @return number of parquet data files after compaction
    */
  def compactOffline(groupName: String): Long = {
    require(groupExists(groupName), s"no such feature group: $groupName")
    // the whole plan→rewrite→CAS span holds the group's APPEND lock: an
    // in-flight ingest's append either lands before the rewrite's read
    // (its rows materialize into v<N+1>) or waits and then resolves the
    // NEW version dir — without this, an append admitted before the
    // compaction could land its files in a version dir the post-flip GC
    // deletes (silent row loss) or, across a widen, put old-typed files
    // inside the new-typed layout (round-12 review finding). The hold
    // spans a Spark job by design: compaction is maintenance, appends
    // queue behind it exactly as they do behind each other.
    val (cur, finalNextDir, lingeringAtPlan, tombstoneFilesAtPlan) =
        Coordination.current.withWriterLock(offlineRoot(groupName), "append.lock") {
      // capture (value, presence) in ONE read: the commit below is a
      // compare-and-swap against exactly this observation
      val curPointerAtPlan: Option[Long] =
        Coordination.readPointerFile(offlineRoot(groupName).resolve("CURRENT"))
          .map(_.toLong)
      val cur = curPointerAtPlan.getOrElse(1L)
      // lingering-column registry snapshot: the rewrite below reads the
      // DECLARED schema, so bytes of entries recorded at plan time are
      // physically absent from v<N+1> — those entries clear after the
      // flip. Any entry recorded AFTER this capture survives the fold
      // (later epoch — even an identical-looking re-record), which is
      // deliberately CONSERVATIVE: a drop landing between this read and
      // the rewrite's own manifest read keeps its entry although the
      // rewrite already erased its bytes; the stale guard just refuses a
      // conflicting claim until the next compaction clears it.
      val lingeringAtPlan = readManifest(groupName).lingering
      val finalNextDir = offlineRoot(groupName).resolve(s"v${cur + 1}")
      val nextDir = OptimisticPointer.stagingFor(finalNextDir)
      // tombstone FILES are snapshotted BEFORE the rewrite and only that list
      // is deleted after the flip: a deleteRecords landing mid-compaction
      // writes a new marker file that survives the sweep (its rows re-apply
      // against v<N+1> until the next compaction), instead of being destroyed
      // without ever materializing — which would silently resurrect the key.
      // FILES only: a deleteRecords marker write may be in flight (it
      // serializes against other marker writes, not against compaction),
      // and capturing its committer's `_temporary` DIRECTORY here would
      // make the post-flip sweep throw on a non-empty dir — failing the
      // compaction after CURRENT already moved — or destroy the live
      // job's staging (round-12 review)
      val tombstoneFilesAtPlan: List[Path] =
        Coordination.listDir(tombstoneDir(groupName)).filterNot(Files.isDirectory(_)).toList
      val foldInput = offline(groupName) // declared-schema read: compaction also materializes post-evolution columns (incl. the widen cast via eraColumn)
      foldInput
        // estimate-derived width (r13-opt, IndexLifecycle.writeWidth): the
        // clustered rewrite keeps one exchange but a small store no longer
        // launches one writer commit cycle per core
        .repartition(IndexLifecycle.writeWidth(foldInput),
          col(EngineColumns.IngestDate))
        .write.mode("overwrite") // a crashed prior attempt's partial dir is overwritten
        .partitionBy(EngineColumns.IngestDate).parquet(nextDir.toString)
      // commit: one compare-and-swap pointer move — a concurrent compaction
      // that already advanced CURRENT makes this one fail loudly instead of
      // silently superseding a version whose rows it never read
      OptimisticPointer.casSwap(offlineRoot(groupName), "CURRENT",
        expected = curPointerAtPlan.map(_.toString), next = (cur + 1).toString,
        stage = Some(nextDir -> finalNextDir))
      (cur, finalNextDir, lingeringAtPlan, tombstoneFilesAtPlan)
    }
    // GC superseded versions: keep = 0 deletes every v<k> with k <= cur
    // (best-effort: a crash here just leaves orphans for the next
    // compaction to collect)
    IndexLifecycle.sweepSuperseded(offlineRoot(groupName), cur + 1,
      IndexLifecycle.versionOf("v"), _ => false, keep = 0)
    // the rewrite above went through offline(), which filters tombstoned
    // history — the deleted rows are now PHYSICALLY absent from v<N+1>
    // (the GDPR erase), so the folded-in tombstones are cleared: only the
    // files snapshotted at plan time (any marker appended since survives
    // and re-applies until the next compaction). A crash between the flip
    // and this delete just leaves already-materialized markers to re-clear.
    tombstoneFilesAtPlan.foreach(p => Files.deleteIfExists(p): Unit)
    // same folding rule for the lingering-column registry: the declared-
    // schema rewrite erased the plan-time orphans' bytes, so their claim-
    // guard entries clear. Identity is the FULL triple incl. the recording
    // EPOCH: an entry re-recorded since plan time (even one value-identical
    // in name and type) carries a later epoch and survives — see
    // lingeringAtPlan's capture comment.
    if (lingeringAtPlan.nonEmpty) withManifestLock(groupName) {
      val mEnd = readManifest(groupName)
      val remaining = mEnd.lingering.filterNot(lingeringAtPlan.contains)
      if (remaining.size != mEnd.lingering.size)
        writeManifest(mEnd.group, mEnd.nextSeq, mEnd.lastBatchId,
          remaining, mEnd.widening, mEnd.epoch + 1)
    }
    if (Files.isDirectory(tombstoneDir(groupName)) &&
        Coordination.listDir(tombstoneDir(groupName)).isEmpty)
      Files.delete(tombstoneDir(groupName))
    val files = Files.walk(finalNextDir)
    try files.filter(p => p.toString.endsWith(".parquet")).count()
    finally files.close()
  }

  /** Point-in-time training-set construction — the full form of the
    * feature-store "as-of join" the reference degenerates to a time-range
    * filter (SURVEY.md §2.6 J2, historical_features.py:28-32): for each
    * entity row (key, asOfTsCol) attach the latest feature record with
    * event_time <= asOfTs (ties → max ingest seq), optionally bounded by
    * `tolerance` staleness. One shuffle on the key (union-then-window), no
    * row explosion — the shape that survives 100 TB of history.
    *
    * @param entityDf  rows to enrich; must contain the group's key column and `asOfTsCol`
    * @param featureCols feature columns to attach (default: all non-key, non-time)
    * @param asOfSeq pin the history at an ingest seq ([[offlineAsOf]]) —
    *                the reproducible-training-frame form: the same pin
    *                rebuilds the same frame after any number of later ingests
    */
  def pointInTime(
      groupName: String,
      entityDf: DataFrame,
      asOfTsCol: String,
      featureCols: Seq[String] = Nil,
      tolerance: Option[String] = None,
      asOfSeq: Option[Long] = None): DataFrame = {
    val g = describeGroup(groupName)
    val attach = if (featureCols.nonEmpty) featureCols
      else g.featureNames.filterNot(n => n == g.keyCol || n == g.eventTimeCol)
    graft.operators.AsOfJoin.backward(
      entityDf, asOfSeq.fold(offline(groupName))(offlineAsOf(groupName, _)),
      leftKey = g.keyCol, rightKey = g.keyCol,
      leftTime = asOfTsCol, rightTime = g.eventTimeCol,
      rightTiebreak = EngineColumns.IngestSeq,
      rightValueCols = attach,
      tolerance = tolerance)
  }

  /** Multi-group point-in-time enrichment — the canonical training-set
    * construction: attach the as-of-latest features from SEVERAL groups to
    * one entity frame in a single call. Each group contributes one
    * union-then-window pass (one shuffle per group on its key); columns are
    * prefixed `<group>_asof_…` so same-named features never collide. The
    * reference's single-group demo generalizes here the way real feature
    * stores do (a training set joins user, item, context groups at once).
    *
    * @param groups (groupName, featureCols) — Nil attaches all non-key,
    *               non-time features of that group
    */
  def pointInTimeMulti(
      groups: Seq[(String, Seq[String])],
      entityDf: DataFrame,
      asOfTsCol: String,
      tolerance: Option[String] = None,
      asOfSeq: Option[Long] = None): DataFrame =
    groups.foldLeft(entityDf) { case (acc, (groupName, featureCols)) =>
      val g = describeGroup(groupName)
      val attach = if (featureCols.nonEmpty) featureCols
        else g.featureNames.filterNot(n => n == g.keyCol || n == g.eventTimeCol)
      graft.operators.AsOfJoin.backward(
        acc, asOfSeq.fold(offline(groupName))(offlineAsOf(groupName, _)),
        leftKey = g.keyCol, rightKey = g.keyCol,
        leftTime = asOfTsCol, rightTime = g.eventTimeCol,
        rightTiebreak = EngineColumns.IngestSeq,
        rightValueCols = attach,
        asofPrefix = s"${groupName}_asof_",
        tolerance = tolerance)
    }

  /** Historical time-range retrieval — the reference's Athena query
    * (historical_features.py:28-32): explicit projection + inclusive BETWEEN
    * on event time. Projection and predicate reach the parquet scan via
    * Catalyst (column pruning + predicate pushdown; the reference wrote both
    * by hand into SQL text). */
  def historicalQuery(groupName: String, columns: Seq[String], start: String, end: String): DataFrame =
    historicalRange(offline(groupName), describeGroup(groupName), columns, start, end)

  /** One copy of the range pipeline for the pinned ([[historicalQueryAsOf]])
    * and unpinned ([[historicalQuery]]) reads — they must never diverge on
    * the predicate details. */
  private def historicalRange(base: DataFrame, g: FeatureGroup,
      columns: Seq[String], start: String, end: String): DataFrame =
    base
      // derived PARTITION filter: _ingest_date = to_date(event_time), so the
      // event-time range implies a date range — this is what actually prunes
      // offline files (the row filter below only prunes row groups within
      // the files that survive). Shows up as PartitionFilters in the scan.
      .filter(col(EngineColumns.IngestDate).between(
        to_date(lit(start).cast(TimestampType)), to_date(lit(end).cast(TimestampType))))
      .filter(col(g.eventTimeCol).between(
        lit(start).cast(TimestampType), lit(end).cast(TimestampType)))
      .select(columns.map(col): _*)

  // ---- manifest (hand-rolled flat JSON; no extra deps) ----

  /** @param epoch total manifest writes for this group — monotone because
    *   every writer passes `m.epoch + 1` from the Manifest it read under
    *   the manifest lock. Lingering entries stamp the epoch of the write
    *   that recorded them — their IDENTITY for compaction's fold, strict
    *   even when two records of one name happen at the same ingest seq. */
  private final case class Manifest(group: FeatureGroup, nextSeq: Long, lastBatchId: Long,
      lingering: Seq[(String, FType, Long)] = Nil, widening: Option[String] = None,
      epoch: Long = 0L)

  // Flat JSON without an escape-aware parser — sound because FeatureGroup
  // restricts every name to [A-Za-z0-9_]+ (no quotes/backslashes possible).
  /** @param lingering column names whose bytes may remain in offline files
    *   without a declared owner — recorded by [[dropFeature]] (the feature
    *   + its aliases) and [[renameFeature]] (the vacated name) on groups
    *   WITH history, each with the type those bytes carry and the manifest
    *   EPOCH that recorded the entry. [[requireNoLingeringConflict]]
    *   refuses conflicting-type claims against it; an entry clears on a
    *   same-type re-claim or when [[compactOffline]] erases the bytes
    *   (matched by the full triple — the epoch is the entry's IDENTITY,
    *   so any re-record after the compaction's plan capture survives the
    *   fold, even one value-identical to a cleared entry).
    * @param widening name of a feature whose [[widenFeature]] flip landed
    *   but whose materializing rewrite has not — every OTHER mutator
    *   refuses while set (the crash-window guard); widenFeature itself
    *   sets it at the flip and clears it after materializing. */
  private def writeManifest(g: FeatureGroup, nextSeq: Long, lastBatchId: Long = -1L,
      lingering: Seq[(String, FType, Long)] = Nil, widening: Option[String] = None,
      // REQUIRED, no default: a caller that forgot it would silently
      // rewind the monotone epoch and break lingering-entry identity
      epoch: Long): Unit = {
    def q(s: String) = "\"" + s + "\""
    val feats = g.features
      .map { f =>
        val since = if (f.since > 0L) s""","since":${f.since}""" else ""
        // renames newest-first as "name:seq|name:seq" — names are charset-
        // restricted, so the flat encoding round-trips without escaping
        val was =
          if (f.renames.isEmpty) ""
          else s""","was":${q(f.renames.map { case (n, s) => s"$n:$s" }.mkString("|"))}"""
        s"""{"name":${q(f.name)},"type":${q(FType.name(f.ftype))}$since$was}"""
      }
      .mkString("[", ",", "]")
    val lingeringJson =
      if (lingering.isEmpty) ""
      else s""","lingering":${q(lingering.map { case (n, t, s) =>
        s"$n:${FType.name(t)}:$s" }.mkString("|"))}"""
    val wideningJson = widening.map(w => s""","widening":${q(w)}""").getOrElse("")
    // `epoch` is caller-supplied as m.epoch + 1 from the Manifest the
    // caller read under the manifest lock — ONE computation of "the epoch
    // this write gets", shared with the lingering-entry stamps recorded in
    // the same write (a second file-read-and-parse here could drift from
    // them; round-12 review)
    val json =
      s"""{"name":${q(g.name)},"keyCol":${q(g.keyCol)},"eventTimeCol":${q(g.eventTimeCol)},
         |"nextSeq":$nextSeq,"lastBatchId":$lastBatchId,"epoch":$epoch$lingeringJson$wideningJson,"features":$feats}""".stripMargin
    Coordination.writeAtomically(manifestPath(g.name), json)
  }

  private def readManifest(name: String): Manifest = {
    require(groupExists(name), s"no such feature group: $name")
    val json = new String(Files.readAllBytes(manifestPath(name)), StandardCharsets.UTF_8)
    def opt(k: String): Option[String] =
      FeatureStore.ManifestStrings(k).findFirstMatchIn(json).map(_.group(1))
    def field(k: String): String = opt(k).getOrElse(sys.error(s"manifest missing $k"))
    def num(k: String, default: Long): Long =
      FeatureStore.ManifestNumbers(k).findFirstMatchIn(json).map(_.group(1).toLong).getOrElse(default)
    val feats = FeatureStore.ManifestFeature.findAllMatchIn(json).map { m =>
      val renames = Option(m.group(4)).filter(_.nonEmpty).map(_.split("\\|").toSeq
        .map { e => val Array(n, s) = e.split(":", 2); (n, s.toLong) })
        .getOrElse(Nil)
      FeatureDef(m.group(1), FType.fromName(m.group(2)),
        Option(m.group(3)).map(_.toLong).getOrElse(0L), renames)
    }.toSeq
    val lingering = opt("lingering").filter(_.nonEmpty).map(_.split("\\|").toSeq
      .map { e =>
        e.split(":", 3) match {
          case Array(n, t, s) => (n, FType.fromName(t), s.toLong)
          case Array(n, t)    => (n, FType.fromName(t), 0L) // pre-seq encoding
          case _ => sys.error(s"manifest lingering entry malformed: $e")
        }
      })
      .getOrElse(Nil)
    Manifest(FeatureGroup(field("name"), field("keyCol"), field("eventTimeCol"), feats),
      num("nextSeq", 0L), num("lastBatchId", -1L), lingering, opt("widening"),
      num("epoch", 0L))
  }
}

object FeatureStore {
  /** MINIMUM bucket count of the online snapshot's
    * key-hash partitioning. Each VERSION records its own bucket count in
    * `v<N>/_meta` — commits derive it from the previous version's key
    * count (see `targetKeysPerBucket`), so per-bucket size stays bounded
    * as the store grows; the read side computes a key's bucket driver-side
    * with the same modulus (CRC32 is bit-identical between
    * java.util.zip.CRC32 and Spark's `crc32`). */
  val OnlineKeyBuckets = 64L

  /** Bucket-count growth cap: 2^16 directories ≈ 15 K keys/bucket even at
    * 10⁹ keys — past this, bucket FILE size is the dial, not count. */
  val MaxOnlineKeyBuckets = 1L << 16

  /** Default for `targetKeysPerBucket`: ~64 Ki keys per bucket keeps a
    * bucket's KV file in the single-digit-MB range at typical row widths. */
  val DefaultTargetKeysPerBucket = 1L << 16

  /** Serving KV file magic ("GKV3": typed values). Earlier builds'
    * "GKV2" files held wire strings and fail it: their version is
    * unreadable until `refreshOnline` rebuilds it. */
  private[core] val KvMagic = 0x474B5633
  /** Sparse-index trailer magic ("GKIX"). */
  private[core] val KvIndexMagic = 0x474B4958
  /** Entries per sparse-index block — the lookup's worst-case block scan. */
  private[core] val KvIndexStride = 64

  /** Writer tasks for an online version of at most `rowBound` rows spread
    * over `buckets` written buckets: one task per `targetKeysPerBucket`
    * rows, at least one, and at most one per bucket (each bucket's rows
    * stay in one task, so each bucket still gets one KV file). */
  private[core] def writeTasks(rowBound: Long, targetKeysPerBucket: Long, buckets: Long): Int = {
    val target = math.max(targetKeysPerBucket, 1L)
    val perTarget = rowBound / target + (if (rowBound % target == 0) 0 else 1)
    math.max(1L, math.min(perTarget, buckets)).toInt
  }

  /** Smallest power-of-two bucket count (≥ the floor, ≤ the cap) keeping
    * keys-per-bucket at or under the target. */
  private[core] def bucketCountFor(totalKeys: Long, targetKeysPerBucket: Long): Long = {
    var n = OnlineKeyBuckets
    while (n < MaxOnlineKeyBuckets && totalKeys > targetKeysPerBucket * n) n <<= 1
    n
  }

  /** Driver-side mirror of the snapshot writer's bucket expression
    * `pmod(crc32(key_as_string), buckets)` — `buckets` MUST be the count
    * the target version was written with (its `_meta`). */
  private[core] def keyBucketOf(key: String, buckets: Long): Long = {
    val c = new java.util.zip.CRC32()
    c.update(key.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.lang.Math.floorMod(c.getValue, buckets)
  }

  /** A committed version's `_meta`, parsed once ([[parseMeta]]).
    * @param layout the bucket count the snapshot was written with (the read
    *   side MUST hash with the same modulus) and the per-bucket key counts
    *   incremental commits maintain the total from. None when `_meta` is
    *   missing or does not parse: a guessed modulus would answer a present
    *   key as authoritatively absent, so lookups scan unpruned and the next
    *   commit takes the full rewrite.
    * @param fp the `kvfp` line: the declared fingerprint at commit time.
    * @param columns the `schema` line: the version's KV entry columns and
    *   their types. A version an earlier build wrote has none. */
  private[core] final case class VersionMeta(layout: Option[(Long, Map[Long, Long])],
      fp: Option[String], columns: Option[Seq[(String, FType)]])

  /** The ONE parser of a version's `_meta`. A missing or unreadable file
    * parses like one without lines — an untrusted layout degrades to the
    * slower path, it never crashes a refresh or a lookup. */
  private[core] def parseMeta(vd: Path): VersionMeta = {
    val lines = scala.util.Try(new String(Files.readAllBytes(vd.resolve("_meta")),
      StandardCharsets.UTF_8).linesIterator.toList).getOrElse(Nil)
    def line(key: String): Option[String] =
      lines.find(_.startsWith(key + "=")).map(_.drop(key.length + 1).trim)
    val layout = line("buckets").flatMap(n => scala.util.Try {
      val buckets = n.toLong
      require(buckets >= 1, s"nonsense bucket count $buckets") // Try → None: untrusted layout
      val counts = line("counts").getOrElse("").split(",").iterator
        .filter(_.nonEmpty).map { kv =>
          val Array(b, c) = kv.split(":")
          b.toLong -> c.toLong
        }.toMap
      (buckets, counts)
    }.toOption)
    val columns = line("schema").flatMap(l => scala.util.Try(l.split(",").toSeq.map { c =>
      val Array(n, t) = c.split(":")
      n -> FType.fromName(t)
    }).toOption)
    VersionMeta(layout, line("kvfp"), columns)
  }

  /** Read exactly `n` bytes at `pos` (flipped, ready to get). */
  private[core] def readFullyAt(ch: java.nio.channels.SeekableByteChannel,
      pos: Long, n: Int): java.nio.ByteBuffer = {
    val bb = java.nio.ByteBuffer.allocate(n)
    ch.position(pos)
    while (bb.hasRemaining)
      if (ch.read(bb) < 0) throw new java.io.EOFException(s"EOF at $pos+$n")
    bb.flip()
    bb
  }

  /** Column the snapshot pass carries each key's string form in — the KV
    * entry key and the within-bucket sort key (see `writeVersion`). */
  private[core] val KvKeyCol = "__skey"

  /** The columns of a version committed under `g`: its features in `g`
    * order, then the ingest seq — every KV entry's values, in order. */
  private[core] def versionColumns(g: FeatureGroup): Seq[(String, FType)] =
    g.features.map(f => f.name -> f.ftype) :+ (EngineColumns.IngestSeq -> FType.Integral)

  /** Streaming writer of one partition's bucket KV files. A file is a
    * header — magic, each column's name and type, the entry count — then
    * one entry per row, sorted by key string in UTF-8 byte order: the key
    * string, then per column a null flag and a typed value (Integral: long;
    * Fractional: raw double bits, so NaN payloads and −0.0 survive; String:
    * UTF-8; Timestamp: epoch microseconds), then a sparse index footer. The
    * entries — bucket, key string, a Row of `cols` — arrive clustered by
    * bucket and sorted by key; a null key (bucket -1) is written as the
    * string "null", which no key-addressed lookup reaches. One instance per
    * task, built inside the closure. Tracks its own byte position (the
    * sparse index needs entry offsets without per-entry flushes),
    * back-patches the entry count on close, and PUBLISHES each finished
    * file by atomic rename from an attempt-unique temp name — a
    * speculative or zombie attempt can never interleave bytes into a live
    * file. A failure while rows stream in deletes the open bucket's temp
    * file; every bucket already published is complete. */
  private[core] final class KvBucketWriter(servingPath: String, cols: Seq[(String, FType)]) {
    private val attempt: String = Option(org.apache.spark.TaskContext.get())
      .map(_.taskAttemptId().toString)
      .getOrElse(java.util.UUID.randomUUID().toString.take(8))
    private val types = cols.map(_._2).toArray
    private var ch: java.nio.channels.SeekableByteChannel = _
    private var out: java.io.DataOutputStream = _
    private var pos = 0L
    private var countPos = 0L
    private var count = 0
    private var curBucket = Long.MinValue
    private var tmp: java.nio.file.Path = _
    private var fin: java.nio.file.Path = _
    private val idxKeys = scala.collection.mutable.ArrayBuffer.empty[String]
    private val idxOffs = scala.collection.mutable.ArrayBuffer.empty[Long]
    private val idxCnts = scala.collection.mutable.ArrayBuffer.empty[Int]
    private val written = scala.collection.mutable.Map.empty[Long, Long]

    private def wInt(v: Int): Unit = { out.writeInt(v); pos += 4 }
    private def wLong(v: Long): Unit = { out.writeLong(v); pos += 8 }
    private def wBool(v: Boolean): Unit = { out.writeBoolean(v); pos += 1 }
    private def wStr(s: String): Unit = {
      val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      out.writeInt(b.length); out.write(b); pos += 4 + b.length
    }
    private def wValue(t: FType, v: Any): Unit = t match {
      case FType.Integral => wLong(v.asInstanceOf[Number].longValue)
      case FType.Fractional =>
        wLong(java.lang.Double.doubleToRawLongBits(v.asInstanceOf[Number].doubleValue))
      case FType.FString => wStr(v.toString)
      case FType.FTimestamp => wLong(org.apache.spark.sql.catalyst.util.DateTimeUtils
        .fromJavaTimestamp(v.asInstanceOf[java.sql.Timestamp]))
    }

    private def open(bucket: Long): Unit = {
      curBucket = bucket
      count = 0; pos = 0L
      idxKeys.clear(); idxOffs.clear(); idxCnts.clear()
      fin = java.nio.file.Paths.get(servingPath, s"bucket=$bucket.kv")
      tmp = java.nio.file.Paths.get(servingPath, s"bucket=$bucket.kv.attempt-$attempt")
      ch = java.nio.file.Files.newByteChannel(tmp,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE,
        java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
      out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
        java.nio.channels.Channels.newOutputStream(ch)))
      wInt(KvMagic)
      wInt(cols.size)
      cols.foreach { case (n, t) => wStr(n); wStr(FType.name(t)) }
      countPos = pos
      wInt(0) // nEntries placeholder, back-patched on bucket close
    }

    private def close(): Unit = if (out != null) {
      val indexStart = pos
      var i = 0
      while (i < idxKeys.length) {
        wStr(idxKeys(i)); wLong(idxOffs(i)); wInt(idxCnts(i)); i += 1
      }
      wLong(indexStart); wInt(idxKeys.length); wInt(KvIndexMagic)
      out.flush()
      // back-patch the entry count (the stream never buffered the bucket's
      // rows to count them up front)
      val bb = java.nio.ByteBuffer.allocate(4).putInt(count)
      bb.flip()
      ch.position(countPos)
      ch.write(bb): Unit
      ch.close()
      // the atomic rename IS the commit: a racing attempt renames its own
      // complete, identical file — never interleaved bytes
      java.nio.file.Files.move(tmp, fin,
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      if (curBucket >= 0) written(curBucket) = count.toLong
      out = null; ch = null
    }

    private def abort(): Unit = if (ch != null) {
      try ch.close() catch { case _: Throwable => () }
      out = null; ch = null
      java.nio.file.Files.deleteIfExists(tmp): Unit
    }

    private def append(e: (Long, String, Row)): Unit = {
      val (b, key, r) = e
      if (b != curBucket || out == null) { close(); open(b) }
      val skey = String.valueOf(key)
      if (count % KvIndexStride == 0) {
        idxKeys += skey; idxOffs += pos; idxCnts += 0
      }
      idxCnts(idxCnts.length - 1) += 1
      wStr(skey)
      var i = 0
      while (i < types.length) {
        if (r.isNullAt(i)) wBool(false)
        else { wBool(true); wValue(types(i), r.get(i)) }
        i += 1
      }
      count += 1
    }

    /** Write every entry of `it`; the last bucket publishes when `it` is
      * exhausted. Returns each published bucket's entry count, the
      * null-key file `bucket=-1.kv` not counted. */
    def write(it: Iterator[(Long, String, Row)]): Map[Long, Long] =
      try { it.foreach(append); close(); written.toMap }
      catch { case t: Throwable => abort(); throw t }
  }

  /** The bucket a KV file name stands for (`bucket=<b>.kv`; -1 holds the
    * null key); None for any other name. */
  private[core] def kvBucketOf(f: java.nio.file.Path): Option[Long] = {
    val n = f.getFileName.toString
    if (!n.startsWith("bucket=") || !n.endsWith(".kv")) None
    else n.slice(7, n.length - 3).toLongOption
  }

  /** Every bucket KV file of a version's `_serving` dir, in bucket order. */
  private[core] def kvFiles(servingDir: java.nio.file.Path): Seq[java.nio.file.Path] =
    Coordination.listDir(servingDir).flatMap(f => kvBucketOf(f).map(_ -> f)).sortBy(_._1).map(_._2)

  /** A KV file's header: its columns and its entry count. */
  private def readKvHeader(in: java.io.DataInputStream,
      f: Any): (Seq[(String, FType)], Int) = {
    require(in.readInt() == KvMagic, s"bad serving KV magic in $f")
    val cols = Seq.fill(in.readInt())(readKvStr(in) -> FType.fromName(readKvStr(in)))
    (cols, in.readInt())
  }

  /** THE entry decoder: one entry's values (after its key) as the external
    * values a Row of the version holds — Long, Double, String,
    * java.sql.Timestamp, null — exactly what a parquet read gives. */
  private def readKvRow(in: java.io.DataInputStream, types: Array[FType]): Row = {
    val vals = new Array[Any](types.length)
    var i = 0
    while (i < types.length) {
      if (in.readBoolean()) vals(i) = types(i) match {
        case FType.Integral => in.readLong()
        case FType.Fractional => java.lang.Double.longBitsToDouble(in.readLong())
        case FType.FString => readKvStr(in)
        case FType.FTimestamp =>
          org.apache.spark.sql.catalyst.util.DateTimeUtils.toJavaTimestamp(in.readLong())
      }
      i += 1
    }
    Row.fromSeq(scala.collection.immutable.ArraySeq.unsafeWrapArray(vals))
  }

  /** The columns a version's KV files hold, from the first header that
    * parses as typed KV; None when none does (no file, or an earlier
    * build's). Asked only when `_meta` does not answer. */
  private[core] def kvHeaderColumns(servingDir: java.nio.file.Path): Option[Seq[(String, FType)]] =
    kvFiles(servingDir).iterator.flatMap { f =>
      val in = new java.io.DataInputStream(new java.io.BufferedInputStream(
        java.nio.file.Files.newInputStream(f)))
      try scala.util.Try(readKvHeader(in, f)._1).toOption finally in.close()
    }.nextOption()

  /** A bucket KV file that is missing although `_meta` counts keys in its
    * bucket, short, foreign or torn: the version's only copy of its rows. */
  private[core] final class TornKvFile(f: Any, cause: Throwable)
      extends java.io.IOException(s"unreadable serving KV file $f", cause)

  /** Is a [[TornKvFile]] the cause of `t` (a failed job carries its task's)? */
  private[core] def isTornKv(t: Throwable): Boolean =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).exists(_.isInstanceOf[TornKvFile])

  /** `read` of KV file `f`, any failure of it reported as a [[TornKvFile]]. */
  private def decoding[A](f: Any)(read: => A): A =
    try read catch { case scala.util.control.NonFatal(e) => throw new TornKvFile(f, e) }

  /** Every entry of KV file `f`, in file order, as its key string and a
    * Row of its columns, which must be `cols`. The file is read and decoded
    * whole before the first entry is returned: a bucket holds about
    * `targetKeysPerBucket` keys. */
  private[core] def kvEntries(f: String,
      cols: Seq[(String, FType)]): Iterator[(String, Row)] = decoding(f) {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f))))
    val (fileCols, n) = readKvHeader(in, f)
    require(fileCols == cols, s"$f holds $fileCols, not the version's $cols")
    val types = cols.map(_._2).toArray
    Array.fill(n)(readKvStr(in) -> readKvRow(in, types))
  }.iterator

  /** A bucket file `_meta` counts keys in that does not exist. */
  private[core] def missingKvFile(f: java.nio.file.Path): TornKvFile =
    new TornKvFile(f, new java.nio.file.NoSuchFileException(f.toString))

  /** Write `buckets` — each a bucket and its entries (key string and a Row
    * of `cols`), entries sorted by [[Utf8Ordering]] — into `servingDir`
    * with [[KvBucketWriter]]; returns the written buckets' key counts. */
  private[core] def writeKvBuckets(servingDir: String, cols: Seq[(String, FType)],
      buckets: Iterator[(Long, Seq[(String, Row)])]): Map[Long, Long] = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(servingDir))
    new KvBucketWriter(servingDir, cols).write(
      for ((b, es) <- buckets; (k, r) <- es.iterator) yield (b, k, r))
  }

  /** The driver's [[graft.operators.LatestPerKey]]: of `entries`, each
    * key's newest by [[EventOrder]], where `row` gives an entry's row and
    * `k`, `t`, `q` its key, event time and ingest seq fields. Keys group as
    * Spark's `groupBy` compares them (-0.0 equals 0.0, every NaN is one
    * NaN). Which of several rows tied on key, event time and seq wins is
    * undefined, as in `LatestPerKey.viaMaxBy`. */
  private[core] def latestPerKey[E](entries: Seq[E], k: Int, t: Int, q: Int)(
      row: E => Row): Seq[E] =
    entries.groupBy(e => row(e).get(k) match {
      case d: Double => java.lang.Double.doubleToLongBits(d + 0.0)
      case v => v
    }).values.map(_.maxBy { e => val r = row(e); (r.get(t), r.get(q)) }(EventOrder)).toSeq

  /** The base version an incremental commit rewrites buckets of: its
    * `_serving` dir, its columns, and the touched buckets its `_meta`
    * counts keys in (a counted bucket without a file is torn, never
    * empty). Serializable: [[mergeBuckets]] runs in Spark tasks too. */
  private[core] final case class BucketBase(servingDir: String,
      cols: Seq[(String, FType)], counted: Set[Long])

  /** THE per-bucket rewrite of an incremental commit, run on the driver
    * for a commit of one writer task and in `writeVersion`'s tasks
    * otherwise: `changes` — entries (bucket, key string, row) clustered by
    * bucket — give each bucket they touch as the bucket, its base entries
    * and its new entries, sorted by [[Utf8Ordering]]. With `upsert` (the
    * key, event time and ingest seq fields) the changes are an ingest's
    * rows, merged with the base latest-per-key ([[latestPerKey]]); without
    * it they are a delete's keys, dropped from the base. Lazy per bucket: a
    * caller that streams the result holds one bucket's base entries and
    * changes at a time. */
  private[core] def mergeBuckets(base: BucketBase, upsert: Option[(Int, Int, Int)],
      changes: Iterator[(Long, String, Row)])
      : Iterator[(Long, Seq[(String, Row)], Seq[(String, Row)])] = {
    val cs = changes.buffered
    Iterator.continually(cs).takeWhile(_.hasNext).map { _ =>
      val b = cs.head._1
      val mine = Seq.newBuilder[(String, Row)]
      while (cs.hasNext && cs.head._1 == b) { val (_, k, r) = cs.next(); mine += k -> r }
      val f = java.nio.file.Paths.get(base.servingDir, s"bucket=$b.kv")
      val old = if (base.counted(b) || java.nio.file.Files.exists(f))
        kvEntries(f.toString, base.cols).toSeq else Nil
      (b, old, upsert match {
        case Some((k, t, q)) =>
          latestPerKey(old ++ mine.result(), k, t, q)(_._2).sortBy(_._1)(Utf8Ordering)
        case None =>
          val gone = mine.result().iterator.map(_._1).toSet
          old.filterNot(e => gone(e._1))
      })
    }
  }

  /** The entries of `targets` in KV file `f`, each a Row of the file's
    * columns: one binary search over the sparse index and one
    * ≤stride-entry block scan per block holding a target. Throws a
    * [[TornKvFile]] on a short, foreign or torn file. */
  private[core] def kvLookup(f: java.nio.file.Path,
      targets: Set[String]): Map[String, Row] = decoding(f) {
    val ch = java.nio.file.Files.newByteChannel(f, java.nio.file.StandardOpenOption.READ)
    try {
      val size = ch.size()
      require(size >= 28, s"short serving KV file $f")
      // fixed tail: indexStart(8) + nBlocks(4) + magic(4)
      val tail = readFullyAt(ch, size - 16, 16)
      val indexStart = tail.getLong
      val nBlocks = tail.getInt
      require(tail.getInt == KvIndexMagic, s"bad serving KV index magic in $f")
      require(indexStart >= 0 && indexStart <= size - 16 && nBlocks >= 0,
        s"torn serving KV index in $f")
      def streamAt(pos: Long): java.io.DataInputStream = {
        ch.position(pos)
        new java.io.DataInputStream(new java.io.BufferedInputStream(
          java.nio.channels.Channels.newInputStream(ch)))
      }
      val types = readKvHeader(streamAt(0L), f)._1.map(_._2).toArray
      // sparse index: (first key, offset, entry count) per block
      val idx = streamAt(indexStart)
      val iKeys = new Array[String](nBlocks)
      val iOffs = new Array[Long](nBlocks)
      val iCnts = new Array[Int](nBlocks)
      var bi = 0
      while (bi < nBlocks) {
        iKeys(bi) = readKvStr(idx)
        iOffs(bi) = idx.readLong()
        iCnts(bi) = idx.readInt()
        bi += 1
      }
      // rightmost block whose first key <= target (UTF-8 binary order —
      // the writer's sort order); -1 = target below the smallest key
      def blockFor(t: String): Int = {
        var lo = 0; var hi = nBlocks - 1; var res = -1
        while (lo <= hi) {
          val mid = (lo + hi) >>> 1
          if (Utf8Ordering.compare(iKeys(mid), t) <= 0) { res = mid; lo = mid + 1 }
          else hi = mid - 1
        }
        res
      }
      var found = Map.empty[String, Row]
      targets.toSeq.flatMap(t => blockFor(t) match {
        case -1 => None; case b => Some(b -> t)
      }).groupBy(_._1).toSeq.sortBy(_._1).foreach { case (b, ts) =>
        val want = ts.map(_._2).toSet
        val maxT = want.max(Utf8Ordering)
        val in = streamAt(iOffs(b))
        var i = 0
        var done = false
        while (i < iCnts(b) && !done) {
          val k = readKvStr(in)
          if (Utf8Ordering.compare(k, maxT) > 0) done = true // sorted: no target later
          else {
            val r = readKvRow(in, types)
            if (want.contains(k)) found = found.updated(k, r)
          }
          i += 1
        }
      }
      found
    } finally ch.close()
  }

  /** A typed version's bucket files as a relation: one scan task per group
    * of files, no directory listing and no job to build the frame, and a
    * `sizeInBytes` of the files' bytes so broadcast and join choices see a
    * real size. No files is an empty frame of `cols`. */
  private[core] final class KvRelation(val sqlContext: org.apache.spark.sql.SQLContext,
      cols: Seq[(String, FType)], files: Seq[java.nio.file.Path])
      extends org.apache.spark.sql.sources.BaseRelation with org.apache.spark.sql.sources.TableScan {
    val schema: StructType = StructType(cols.map { case (n, t) => StructField(n, t.spark) })
    // a missing file adds nothing here and fails the scan ([[kvEntries]])
    override val sizeInBytes: Long =
      files.map(f => scala.util.Try(java.nio.file.Files.size(f)).getOrElse(0L)).sum
    def buildScan(): org.apache.spark.rdd.RDD[Row] = {
      val (paths, c) = (files.map(_.toString), cols)
      val sc = sqlContext.sparkContext
      sc.parallelize(paths, math.max(1, math.min(paths.size, sc.defaultParallelism)))
        .flatMap(kvEntries(_, c).map(_._2))
    }
  }

  /** FULL declared-schema fingerprint — changes on EVERY evolution,
    * including the ones column names cannot see (a re-add that only bumps
    * `since`, a widen that only changes the type). Names/types are
    * charset-restricted, so the flat encoding is unambiguous. */
  private[core] def declaredFingerprint(g: FeatureGroup): String =
    g.features.map(f => s"${f.name}:${FType.name(f.ftype)}:${f.since}:" +
      f.renames.map { case (n, s) => s"$n@$s" }.mkString("|")).mkString(";")

  /** [[FeatureStore.readManifest]]'s patterns, compiled once: the string
    * fields, the numeric fields, and one feature entry. `since` and `was`
    * are optional — manifests written before the drop/re-add/rename
    * evolution story (round 12) carry only name+type. */
  private val ManifestStrings: Map[String, scala.util.matching.Regex] =
    Seq("name", "keyCol", "eventTimeCol", "lingering", "widening")
      .map(k => k -> ("\"" + k + "\"\\s*:\\s*\"([^\"]*)\"").r).toMap
  private val ManifestNumbers: Map[String, scala.util.matching.Regex] =
    Seq("nextSeq", "lastBatchId", "epoch")
      .map(k => k -> ("\"" + k + "\"\\s*:\\s*(-?\\d+)").r).toMap
  private val ManifestFeature = ("\\{\"name\":\"([^\"]*)\",\"type\":\"([^\"]*)\"" +
    "(?:,\"since\":(\\d+))?(?:,\"was\":\"([^\"]*)\")?\\}").r

  /** The legal [[FeatureStore.widenFeature]] directions — information-
    * preserving casts only (a narrow would silently destroy data). */
  private[core] def isWidening(from: FType, to: FType): Boolean = (from, to) match {
    case (FType.Integral, FType.Fractional) => true
    case (FType.Integral, FType.FString) => true
    case (FType.Fractional, FType.FString) => true
    case _ => false
  }

  /** The wire timestamp format: ISO-8601 Zulu at second precision, in UTC
    * (update_feature_store.py:36). `putRecord` parses the same pattern. */
  private[core] val WireTimestampPattern = "yyyy-MM-dd'T'HH:mm:ss'Z'"
  private[core] val WireTimestamp: java.time.format.DateTimeFormatter =
    java.time.format.DateTimeFormatter.ofPattern(WireTimestampPattern)
      .withZone(java.time.ZoneOffset.UTC)

  /** The stringly wire rendering (shared by the cache, KV and job paths —
    * one definition, so they can never drift):
    * null → null, timestamps → ISO-8601 Zulu, everything else → toString. */
  private[core] def renderWireValue(raw: Any): String = raw match {
    case null                  => null
    case t: java.sql.Timestamp => WireTimestamp.format(t.toInstant)
    case other                 => other.toString
  }

  /** A declared-view row of `g` (its features in `g` order, the ingest seq
    * after them — [[FeatureStore.declaredVersion]]) in the wire format:
    * feature name → [[renderWireValue]]. The one renderer of cache hits,
    * decoded KV entries and job-path rows. */
  private[core] def renderWireRow(g: FeatureGroup, r: Row): Map[String, String] =
    g.features.iterator.zipWithIndex
      .map { case (f, i) => f.name -> renderWireValue(r.get(i)) }.toMap

  /** UTF-8 byte-wise string order — what Spark's UTF8String sort (and
    * therefore the serving KV files' entry order) uses; Java's native
    * UTF-16 compareTo diverges for supplementary characters. */
  private[core] val Utf8Ordering: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int = {
      val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val n = math.min(x.length, y.length)
      var i = 0
      while (i < n) {
        val c = (x(i) & 0xFF) - (y(i) & 0xFF)
        if (c != 0) return c
        i += 1
      }
      x.length - y.length
    }
  }

  /** Spark's order of one column's values as a Row holds them: null first,
    * strings by UTF-8 bytes, -0.0 equal to 0.0, NaN greatest. */
  private[core] val SparkOrder: Ordering[Any] = (a: Any, b: Any) => (a, b) match {
    case (null, _) | (_, null) => (a != null).compare(b != null)
    case (x: String, y: String) => Utf8Ordering.compare(x, y)
    case (x: Double, y: Double) => if (x == y) 0 else java.lang.Double.compare(x, y)
    case (x: Comparable[_], y) => x.asInstanceOf[Comparable[Any]].compareTo(y)
  }

  /** (event time, ingest seq) as Spark orders a struct of them: newest
    * last — online()'s latest-per-key order. */
  private[core] val EventOrder: Ordering[(Any, Any)] = Ordering.Tuple2(SparkOrder, SparkOrder)

  private[core] def readKvStr(in: java.io.DataInputStream): String = {
    val n = in.readInt()
    val b = new Array[Byte](n)
    in.readFully(b)
    new String(b, java.nio.charset.StandardCharsets.UTF_8)
  }
}
