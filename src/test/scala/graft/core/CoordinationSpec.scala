package graft.core

import java.nio.file.{Files, Path}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.functions.LexicalRetrieval

/** The coordination seam holds the SAME soak invariants under both
  * backends: the local-FS default (monitors + advisory file locks) and
  * the in-memory catalog model (one arbitration authority, write-through
  * pointer publication) — the shape a cluster deployment's lease service
  * must implement. Parameterized so a future backend inherits the gate. */
class CoordinationSpec extends SparkSpec {

  private val backends: Seq[(String, () => Coordination)] = Seq(
    "local-fs" -> (() => LocalFsCoordination),
    "in-memory-catalog" -> (() => new InMemoryCoordination))

  private def withBackend[A](c: Coordination)(body: => A): A = {
    Coordination.use(c)
    try body finally Coordination.useDefault()
  }

  private def storm(workers: Seq[() => Unit]): Seq[Throwable] = {
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(workers.size)
    workers.foreach(w => pool.submit(new Runnable { def run(): Unit = {
      start.await()
      try w() catch { case t: Throwable => failures.add(t): Unit }
    }}): Unit)
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(300, TimeUnit.SECONDS), "storm must finish")
    failures.asScala.toSeq
  }

  backends.foreach { case (label, mk) =>

    test(s"[$label] casSwap: exactly one winner per version; pointer and promoted dir agree") {
      withBackend(mk()) {
        val dir = Files.createTempDirectory(s"coord_cas_$label")
        def attempt(round: Int, who: Int, expected: Option[String]): Boolean = {
          val finalDir = dir.resolve(s"_v$round")
          val staging = OptimisticPointer.stagingFor(finalDir)
          Files.createDirectories(staging)
          Files.write(staging.resolve("owner"), s"$who".getBytes)
          try {
            OptimisticPointer.casSwap(dir, "CURRENT", expected, s"_v$round",
              stage = Some(staging -> finalDir))
            true
          } catch {
            // no caller-side cleanup: casSwap removes the loser's staging
            case _: java.util.ConcurrentModificationException => false
          }
        }
        (1 to 3).foreach { round =>
          val expected = if (round == 1) None else Some(s"_v${round - 1}")
          val wins = new java.util.concurrent.atomic.AtomicInteger
          val owners = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
          val failures = storm((0 until 8).map(who => () => {
            if (attempt(round, who, expected)) {
              wins.incrementAndGet(): Unit
              owners.add(who): Unit
            }
          }))
          assert(failures.isEmpty, s"unexpected failure: ${failures.headOption}")
          assert(wins.get == 1, s"round $round: exactly one CAS winner, got ${wins.get}")
          val ptr = new String(Files.readAllBytes(dir.resolve("CURRENT"))).trim
          assert(ptr == s"_v$round")
          val owner = new String(
            Files.readAllBytes(dir.resolve(s"_v$round").resolve("owner"))).trim.toInt
          assert(owner == owners.peek(),
            "the promoted dir must be the pointer winner's staging — no clobber")
          val ls = Files.list(dir)
          val leftover = try ls.iterator().asScala.map(_.getFileName.toString)
            .filter(_.startsWith("_staging_")).toList finally ls.close()
          assert(leftover.isEmpty, s"round $round: losers' staging survived: $leftover")
        }
      }
    }

    test(s"[$label] writer lock: mutual exclusion, reentrancy, distinct lock names independent") {
      withBackend(mk()) {
        val root = Files.createTempDirectory(s"coord_lock_$label")
        var counter = 0L // deliberately unsynchronized: the lock is the fence
        val failures = storm((0 until 4).map(_ => () => {
          (0 until 200).foreach { _ =>
            Coordination.current.withWriterLock(root, "_writer.lock") {
              // reentrant inner acquisition must not deadlock or double-lock
              Coordination.current.withWriterLock(root, "_writer.lock") {
                counter += 1
              }
            }
          }
        }))
        assert(failures.isEmpty, s"unexpected failure: ${failures.headOption}")
        assert(counter == 800L, s"lost updates under the writer lock: $counter")
        // a different lock name on the same root is an INDEPENDENT lock:
        // holding one must not block the other (the VISIBLE.lock vs
        // _writer.lock layering)
        Coordination.current.withWriterLock(root, "_writer.lock") {
          Coordination.current.withWriterLock(root, "VISIBLE.lock") { () }
        }
      }
    }

    test(s"[$label] BM25 writer storm: appends and deletes racing compactions are never lost") {
      withBackend(mk()) {
        import spark.implicits._
        val corpus = (1L to 12L).map(i =>
          (i, s"spark shuffle hash w$i ${if (i % 3 == 0) "alpha" else "beta"}"))
        val root = Files.createTempDirectory(s"coord_bm25_$label").toString
        val idx = s"$root/idx"
        val rebuilt = s"$root/rebuilt"
        LexicalRetrieval.buildBm25Index(corpus.toDF("doc_id", "text"),
          "doc_id", "text", idx, buckets = 4)
        val appended = Seq((101L, "fresh alpha spark"), (102L, "fresh beta hash"))
        val deleted = Seq(2L, 6L)
        val failures = storm(Seq(
          () => appended.zipWithIndex.foreach { case (d, i) =>
            LexicalRetrieval.appendBm25Index(Seq(d).toDF("doc_id", "text"),
              "doc_id", "text", idx, s"app$i") },
          () => deleted.zipWithIndex.foreach { case (id, i) =>
            LexicalRetrieval.deleteFromBm25Index(Seq(id).toDF("doc_id"),
              "doc_id", idx, s"del$i") },
          () => (0 until 3).foreach(_ =>
            LexicalRetrieval.compactBm25Index(spark, idx))))
        assert(failures.isEmpty, s"no writer may fail under the lock: ${failures.headOption}")
        LexicalRetrieval.purgeBm25Index(spark, idx)
        val survivors = (corpus ++ appended).filterNot(d => deleted.contains(d._1))
        LexicalRetrieval.buildBm25Index(survivors.toDF("doc_id", "text"),
          "doc_id", "text", rebuilt, buckets = 4)
        val n = LexicalRetrieval.describeBm25Index(spark, idx)
          .select("n_docs").collect().head.getLong(0)
        assert(n == survivors.size.toLong,
          s"n_docs must count exactly the survivors: got $n, want ${survivors.size}")
        val queries = Seq((1L, Seq("spark", "hash")), (2L, Seq("fresh"))).toDF("query_id", "terms")
        def serve(p: String) = LexicalRetrieval.bm25TopKIndexed(spark, p, queries)
          .collect().map(_.toSeq).toSet
        assert(serve(idx) == serve(rebuilt),
          "racing writers must leave the index identical to a serial rebuild")
      }
    }
  }
}
