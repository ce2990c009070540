package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.core.{Coordination, OptimisticPointer}

/** Cross-PROCESS soak worker for the coordination seam
  * (`graft.core.LocalFsCoordination`): CoordinationSpec proves the
  * invariants in-JVM, but the backend's cross-process claim rests on
  * FileChannel advisory locks, which only an actual second JVM exercises.
  * MultiProcessCoordinationSpec spawns several of these against ONE root
  * (`args: <root> <workerId> <iterations>`); each iteration drives both
  * primitives:
  *
  *  1. a `withWriterLock`-protected read-modify-write of `counter` — a
  *     lost update shows as a final counter below the total increment
  *     count;
  *  2. a `casSwap` advance of pointer `PTR` to value+1, promoting a
  *     staged dir tagged `workerId:iteration` — the loser of a race must
  *     fail LOUDLY (ConcurrentModificationException), clean its staging,
  *     and retry from a fresh read; a silent overwrite shows as a version
  *     dir whose tag disagrees with the winner log.
  *
  * Writes its committed versions to `wins-<id>.log` and exits 0; any
  * unexpected exception exits nonzero (the spec asserts exit codes).
  * Deliberately Spark-free so the child JVM is cheap to spawn. */
object CoordinationHammer {

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: CoordinationHammer <root> <workerId> <iterations>")
    val root = Paths.get(args(0))
    val id = args(1)
    val iters = args(2).toInt
    val co = Coordination.current
    // start barrier: workers spin until the spawner drops `GO`, so the
    // JVMs actually CONTEND instead of running one after another (a child
    // JVM takes ~0.5 s to boot; without the barrier an in-process worker
    // finishes before the children start and the soak proves nothing)
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (!Files.exists(root.resolve("GO"))) {
      require(System.nanoTime() < deadline, "GO barrier never dropped")
      Thread.sleep(10)
    }
    val wins = new StringBuilder
    var i = 0
    while (i < iters) {
      // 1. locked read-modify-write: the lock IS the protection under test,
      // so the write is deliberately non-atomic (plain read + rewrite)
      co.withWriterLock(root, "counter.lock") {
        val f = root.resolve("counter")
        val cur = Coordination.readPointerFile(f).map(_.toLong).getOrElse(0L)
        Files.write(f, (cur + 1).toString.getBytes(StandardCharsets.UTF_8)): Unit
      }
      // 2. CAS pointer advance: stage, swap, retry-on-loss from a fresh read
      var committed = false
      while (!committed) {
        val cur = Coordination.readPointerFile(root.resolve("PTR"))
        val next = cur.map(_.toLong + 1L).getOrElse(1L)
        val stage = Files.createTempDirectory(root, s"_hammerstage_${id}_")
        Files.write(stage.resolve("tag"),
          s"$id:$i".getBytes(StandardCharsets.UTF_8)): Unit
        try {
          // the loser's staging is cleaned by casSwap itself
          OptimisticPointer.casSwap(root, "PTR", cur, next.toString,
            stage = Some(stage -> root.resolve(s"v$next")))
          committed = true
          wins.append(next).append('\n'): Unit
        } catch {
          case _: java.util.ConcurrentModificationException => // loud loss: retry
        }
      }
      i += 1
    }
    Files.write(root.resolve(s"wins-$id.log"),
      wins.toString.getBytes(StandardCharsets.UTF_8)): Unit
  }
}
