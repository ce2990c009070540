package graft.core

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption, StandardOpenOption}

import scala.jdk.CollectionConverters._

/** The MULTI-DRIVER coordination seam. Every writer-side arbitration in
  * the engine funnels through exactly two primitives:
  *
  *  - [[Coordination.withWriterLock]] — serialize the WRITERS of one
  *    resource (an index root, a family, a batch-visibility manifest).
  *    Reentrant per thread: compound operations nest table-level writes
  *    under their family-level lock.
  *  - [[Coordination.casSwap]] — one atomic compare-and-swap of a named
  *    version pointer: verify the version the rewrite DERIVED from,
  *    promote the staged directories, publish the new pointer value. The
  *    loser of a race fails loudly with
  *    [[java.util.ConcurrentModificationException]].
  *
  * [[LocalFsCoordination]] (the default) implements both with JVM-wide
  * monitors plus exclusive [[java.nio.channels.FileChannel]] locks on
  * sibling lock files — correct across processes on ONE host (POSIX/NFS
  * advisory locks). On a real multi-driver cluster over an object store,
  * file locks do not exist: a deployment swaps in a catalog-backed
  * implementation (lease/conditional-put semantics — DynamoDB lock table,
  * Hive/Glue lock manager, etcd lease) via [[Coordination.use]] WITHOUT
  * touching any call site; [[InMemoryCoordination]] is the reference
  * model of that shape (single arbitration authority, write-through
  * pointer publication for lock-free readers) and runs the same soak
  * invariants in CoordinationSpec. */
trait Coordination {

  /** Run `body` holding the exclusive writer lock of `root` (created if
    * absent). REENTRANT within a thread. `lockName` namespaces multiple
    * independent locks on one directory (e.g. `_writer.lock` vs
    * `VISIBLE.lock`). */
  def withWriterLock[A](root: Path, lockName: String)(body: => A): A

  /** Atomically: verify the pointer file `dir/pointerName` currently reads
    * `expected` (None = absent), promote each staged directory to its
    * final name, then publish `next`. Readers resolve through the pointer
    * FILE, so every implementation must write-through to it — the
    * arbitration authority differs, the publication medium does not.
    * Throws [[java.util.ConcurrentModificationException]] on mismatch. */
  def casSwap(dir: Path, pointerName: String, expected: Option[String],
      next: String, stages: Seq[(Path, Path)]): Unit
}

object Coordination {
  @volatile private var impl: Coordination = LocalFsCoordination

  /** The active implementation — resolved at every call, so a swap takes
    * effect immediately (deployment bootstrap or test harness). */
  def current: Coordination = impl

  /** Install a different coordination backend (catalog lease on a
    * cluster; the in-memory model in specs). */
  def use(c: Coordination): Unit = { impl = c }

  /** Restore the local-FS default. */
  def useDefault(): Unit = { impl = LocalFsCoordination }

  // ---- shared mechanics (identical across arbitration backends) ----

  private[graft] def readPointerFile(pointer: Path): Option[String] =
    if (Files.exists(pointer))
      Some(new String(Files.readAllBytes(pointer), StandardCharsets.UTF_8).trim)
    else None

  /** The entries of `dir`; none when it is not a directory. */
  private[graft] def listDir(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val ls = Files.list(dir)
      try ls.iterator().asScala.toList finally ls.close()
    }

  /** Replace `p` with `text` atomically: written to the sibling
    * `<name>.tmp`, then renamed over it. */
  private[graft] def writeAtomically(p: Path, text: String): Unit = {
    val tmp = p.resolveSibling(s"${p.getFileName}.tmp")
    Files.write(tmp, text.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING): Unit
  }

  /** Promote stages and publish the pointer — the commit tail every
    * implementation shares once its own arbitration admitted the writer.
    * A final dir already present at promotion is debris from a CRASHED
    * attempt at this same version (a committed one would have moved the
    * pointer and failed the check) and is replaced. */
  private[core] def promoteAndPublish(dir: Path, pointerName: String,
      next: String, stages: Seq[(Path, Path)]): Unit = {
    stages.foreach { case (src, dst) =>
      deleteRecursively(dst)
      Files.move(src, dst, StandardCopyOption.ATOMIC_MOVE)
    }
    writeAtomically(dir.resolve(pointerName), next)
  }

  private[core] def mismatch(pointer: Path, expected: Option[String],
      actual: Option[String]): Nothing =
    throw new java.util.ConcurrentModificationException(
      s"$pointer moved from ${expected.getOrElse("<absent>")} to " +
        s"${actual.getOrElse("<absent>")} — another writer committed " +
        "first; this rewrite derived from a superseded version. " +
        "Re-run against the current version.")

  private[graft] def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
      finally walk.close()
    }
}

/** Default backend: same-process monitors + cross-process advisory file
  * locks — correct on one host, which is exactly the deployment the
  * local[n] engine runs. The monitor map is keyed on the REAL path (two
  * symlinked spellings of one root share a monitor; a second in-JVM
  * FileChannel.lock on one file would throw OverlappingFileLockException
  * instead of blocking). */
object LocalFsCoordination extends Coordination {

  private val writerMonitors =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.locks.ReentrantLock]()

  private def monitorFor(root: Path, lockName: String) = {
    val realKey =
      try root.toRealPath().toString
      catch { case _: java.io.IOException => root.toAbsolutePath.normalize.toString }
    writerMonitors.computeIfAbsent(s"$realKey#$lockName",
      _ => new java.util.concurrent.locks.ReentrantLock)
  }

  def withWriterLock[A](root: Path, lockName: String)(body: => A): A = {
    Files.createDirectories(root)
    val lk = monitorFor(root, lockName)
    lk.lock()
    try {
      if (lk.getHoldCount > 1) body // outer frame already holds the file lock
      else {
        val ch = java.nio.channels.FileChannel.open(root.resolve(lockName),
          StandardOpenOption.CREATE, StandardOpenOption.WRITE)
        try { val l = ch.lock(); try body finally l.release() }
        finally ch.close()
      }
    } finally lk.unlock()
  }

  def casSwap(dir: Path, pointerName: String, expected: Option[String],
      next: String, stages: Seq[(Path, Path)]): Unit = {
    Files.createDirectories(dir)
    val pointer = dir.resolve(pointerName)
    // the check and the move are ONE critical section: monitor for
    // same-process writers, file lock for cross-process ones
    withWriterLock(dir, pointerName + ".lock") {
      val actual = Coordination.readPointerFile(pointer)
      if (actual != expected) Coordination.mismatch(pointer, expected, actual)
      Coordination.promoteAndPublish(dir, pointerName, next, stages)
    }
  }
}

/** Reference model of a CATALOG-backED backend: one arbitration authority
  * (here: this JVM's lock + pointer registry — on a cluster: a lease
  * service / conditional put) that admits writers and validates CAS
  * expectations, with pointer values WRITTEN THROUGH to the pointer files
  * so lock-free readers resolve exactly as they do under the default
  * backend. No file locks are taken — the point of the model: everything
  * the engine needs from a cluster coordinator is these two calls. */
final class InMemoryCoordination extends Coordination {

  private val locks =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.locks.ReentrantLock]()
  // the catalog's pointer table; seeded lazily from the on-disk pointer so
  // an existing layout adopts cleanly
  private val pointers =
    new java.util.concurrent.ConcurrentHashMap[String, Option[String]]()

  private def lockFor(key: String) =
    locks.computeIfAbsent(key, _ => new java.util.concurrent.locks.ReentrantLock)

  def withWriterLock[A](root: Path, lockName: String)(body: => A): A = {
    Files.createDirectories(root)
    val lk = lockFor(s"${root.toAbsolutePath.normalize}#$lockName")
    lk.lock()
    try body finally lk.unlock()
  }

  def casSwap(dir: Path, pointerName: String, expected: Option[String],
      next: String, stages: Seq[(Path, Path)]): Unit = {
    Files.createDirectories(dir)
    val pointer = dir.resolve(pointerName)
    val key = pointer.toAbsolutePath.normalize.toString
    val lk = lockFor(s"ptr#$key")
    lk.lock()
    try {
      val actual = pointers.computeIfAbsent(key,
        _ => Coordination.readPointerFile(pointer))
      if (actual != expected) Coordination.mismatch(pointer, expected, actual)
      Coordination.promoteAndPublish(dir, pointerName, next, stages)
      pointers.put(key, Some(next)): Unit
    } finally lk.unlock()
  }
}
