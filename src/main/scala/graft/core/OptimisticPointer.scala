package graft.core

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption, StandardOpenOption}

/** Optimistic-concurrency commit for version-pointer files (the offline
  * store's `CURRENT`, the online snapshot's `LATEST`, every compacted
  * index's `CURRENT`). The repo's stores are operated single-writer by
  * DESIGN (manifest/seq RMWs additionally arbitrate through Coordination
  * writer locks — `FeatureStore.withManifestLock`), but "two operators ran
  * maintenance at once" is the most realistic
  * operational accident — without a check, the loser's pointer move would
  * silently supersede the winner's committed version (their rewrite never
  * saw the winner's rows). Here a commit states the version it DERIVED
  * FROM; if the pointer moved since, the loser fails loudly with a
  * [[java.util.ConcurrentModificationException]] and the store stays on
  * the winner's version — the compare-and-swap every table format
  * arbitrates writers with.
  *
  * The check and the move run as one critical section through the
  * [[Coordination]] seam (default: a JVM-wide monitor per pointer path
  * for same-process writers, plus an exclusive
  * [[java.nio.channels.FileChannel]] lock on a sibling `.lock` file for
  * cross-process writers on a local/NFS filesystem). On an object store
  * this maps to a conditional put / ETag check — swap the backend with
  * [[Coordination.use]]; no call site changes. */
object OptimisticPointer {

  /** Atomically: verify `pointer` currently reads `expected` (None =
    * absent), optionally promote STAGED version directories to their final
    * names, then write `next`. Throws ConcurrentModificationException on
    * mismatch — the caller's rewrite derived from a superseded version.
    *
    * `stage` is why the CAS alone is not enough: two racing writers both
    * derive version N+1 and would both WRITE the same `v<N+1>` directory —
    * the loser's overwrite could clobber the winner's committed bytes even
    * though its pointer swap fails. Writers therefore rewrite into a
    * private `_staging_*` directory (underscore → hidden from Spark
    * readers, excluded from every version listing) and pass
    * `stage = Some(stagingDir -> finalDir)`: the promotion happens INSIDE
    * the critical section, after the version check, so only the winner
    * ever touches the final name. A final dir already present at
    * promotion time is debris from a CRASHED attempt at this same version
    * (a committed one would have moved the pointer and failed the check)
    * and is replaced.
    *
    * MULTI-TABLE FAMILIES pass `stages` with one (staging → final) pair per
    * table: every table's promotion happens under the ONE pointer's
    * critical section, so readers resolving through that pointer can never
    * observe the tables at mixed versions — the family-manifest commit
    * (the directory moves themselves are sequential renames; the pointer
    * write AFTER them is the single commit point, and the pointer names
    * the version dir, so half-promoted debris from a crash mid-sequence is
    * invisible and replaced on retry).
    *
    * STAGING CLEANUP is done here, once, for every caller: whatever the
    * outcome, each staged source directory still present afterwards is
    * deleted. A winner's sources were moved away by the promotion; a
    * loser's (or a failed promotion's) are private debris no reader can
    * resolve. */
  def casSwap(dir: Path, pointerName: String, expected: Option[String],
      next: String, stage: Option[(Path, Path)] = None,
      stages: Seq[(Path, Path)] = Nil): Unit = {
    val all = stage.toSeq ++ stages
    try Coordination.current.casSwap(dir, pointerName, expected, next, all)
    finally all.foreach { case (src, _) => Coordination.deleteRecursively(src) }
  }

  /** A collision-free staging sibling for `finalDir` — the underscore
    * prefix keeps it hidden from Spark's path discovery and outside every
    * `v<digits>` version-listing filter. */
  def stagingFor(finalDir: Path): Path =
    finalDir.resolveSibling(
      s"_staging_${finalDir.getFileName}_${java.util.UUID.randomUUID().toString.take(8)}")
}
