package graft.dedup

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.IndexLifecycle
import graft.functions.LexicalRetrieval
import graft.similarity.Similarity

/** The round-11 erasure-window closure: marker (tombstone) tables are
  * versioned family tables pinned by [[IndexLifecycle.FamilySnapshot]], so a serve
  * that planned BEFORE a purge keeps evaluating the pinned generation's
  * OWN pending-delete markers — a deleted id can no longer surface in an
  * in-flight serve overlapping a purge (the round-10 documented residual).
  */
class MarkerSnapshotSpec extends SparkSpec {

  private def randomVecs(rng: Random, n: Int, dim: Int): Seq[(Long, Array[Float])] =
    Seq.tabulate(n)(i => (i.toLong, Array.fill(dim)(rng.nextFloat() * 2 - 1)))

  test("IVFADC: a serve planned before a purge still excludes the deleted ids when evaluated after it") {
    import spark.implicits._
    val rng = new Random(71)
    val all = randomVecs(rng, 120, 8).toDF("vec_id", "embedding")
    val queries = all.filter($"vec_id" < 5)
    val idx = java.nio.file.Files.createTempDirectory("marker_snap_ivf_").toString

    Similarity.buildIvfadcIndex(all, "vec_id", "embedding", idx,
      nCells = 4, m = 4, codebookSize = 8, seed = 42L, fitMaxIter = 4)
    Similarity.deleteFromIvfadcIndex(all.filter($"vec_id" % 7 === 3), "vec_id", idx, "d1")

    def rows(d: org.apache.spark.sql.DataFrame) =
      d.select("query_id", "nbr_rank", "nbr_id").as[(Long, Long, Long)].collect().toSet
    // PLAN the serve now: the family snapshot (generation + manifest) and
    // the table dirs are resolved here; evaluation happens after the purge
    val pinned = Similarity.ivfadcTopKIndexed(spark, idx, queries,
      "vec_id", "embedding", k = 4, nProbe = 4, shortlist = 120, excludeSelf = true)
    val before = rows(pinned)
    assert(!before.exists { case (_, _, n) => n % 7 == 3 },
      "sanity: pending markers hide deleted ids pre-purge")

    // purge commits a NEW generation (data anti-joined, markers retired)
    // while the planned serve still pins the old one — retention keeps the
    // superseded generation, WITH its marker view, one full cycle
    Similarity.purgeIvfadcIndex(spark, idx)
    val after = rows(pinned)
    assert(after == before,
      "a serve pinned pre-purge must evaluate identically after the purge")
    assert(!after.exists { case (_, _, n) => n % 7 == 3 },
      "the pinned serve must still exclude the deleted ids — the round-10 erasure window")

    // and a serve planned AFTER the purge sees the purged generation
    val fresh = rows(Similarity.ivfadcTopKIndexed(spark, idx, queries,
      "vec_id", "embedding", k = 4, nProbe = 4, shortlist = 120, excludeSelf = true))
    assert(fresh == before, "post-purge serving is unchanged (physical erase only)")
    assert(IndexLifecycle.readMarkerTable(spark, idx, "tombstones").isEmpty,
      "purge retires every marker from the serving generation")
  }

  test("BM25: a serve planned before a purge still excludes the deleted docs when evaluated after it") {
    import spark.implicits._
    val docs = (1L to 30L).map { i =>
      (i, s"spark shuffle partition w$i ${if (i % 5 == 2) "doomed marker" else "alpha beta"}")
    }.toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("marker_snap_bm25_").toString
    LexicalRetrieval.buildBm25Index(docs, "doc_id", "text", idx, buckets = 8)
    LexicalRetrieval.deleteFromBm25Index(
      docs.filter($"doc_id" % 5 === 2).select("doc_id"), "doc_id", idx, "e1")

    val queries = Seq((1L, Seq("doomed", "spark")), (2L, Seq("alpha"))).toDF("query_id", "terms")
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect().map(_.toSeq).toSet
    val pinned = LexicalRetrieval.bm25TopKIndexed(spark, idx, queries)
    val before = rows(pinned)
    assert(!before.exists(_(2).asInstanceOf[Long] % 5 == 2),
      "sanity: pending markers hide deleted docs pre-purge")

    LexicalRetrieval.purgeBm25Index(spark, idx)
    val after = rows(pinned)
    assert(after == before,
      "a BM25 serve pinned pre-purge must evaluate identically after the purge")
    assert(!after.exists(_(2).asInstanceOf[Long] % 5 == 2),
      "the pinned serve must still exclude the deleted docs")
  }

  test("every family commit carries a marker view: empty generation when nothing is pending, in-generation batches afterwards") {
    import spark.implicits._
    val rng = new Random(73)
    val all = randomVecs(rng, 60, 8).toDF("vec_id", "embedding")
    val idx = java.nio.file.Files.createTempDirectory("marker_snap_gen_").toString
    Similarity.buildIvfadcIndex(all, "vec_id", "embedding", idx,
      nCells = 4, m = 4, codebookSize = 8, seed = 42L, fitMaxIter = 4)

    // a plain compaction with NO deletes commits an EMPTY marker generation
    Similarity.compactIvfadcIndex(spark, idx)
    val fam = IndexLifecycle.readFamilyPointer(idx)
    assert(fam.isDefined, "family pointer committed")
    assert(java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(idx, "tombstones", fam.get)),
      "the marker table must version with the family even when empty")
    assert(IndexLifecycle.readMarkerTable(spark, idx, "tombstones").isEmpty,
      "an empty marker generation reads as no pending markers")

    // a delete after the compaction lands INSIDE the current generation and
    // a plain compaction carries it forward (markers outlive compactions)
    Similarity.deleteFromIvfadcIndex(all.filter($"vec_id" === 9L), "vec_id", idx, "d1")
    assert(IndexLifecycle.resolveIndexDir(s"$idx/tombstones")
      .endsWith(java.nio.file.Paths.get("tombstones", fam.get).toString),
      "post-compaction markers land in the current generation dir")
    Similarity.compactIvfadcIndex(spark, idx)
    val served = Similarity.ivfadcTopKIndexed(spark, idx,
        all.filter($"vec_id" === 9L), "vec_id", "embedding", k = 1,
        nProbe = 4, shortlist = 60)
      .select("nbr_id").as[Long].collect().toSet
    assert(!served.contains(9L),
      "markers folded through a plain compaction must keep hiding their ids")
  }

  test("resolveIndexDirPinned: vacuumed pin fails loudly; unversioned pin falls back to the retained flat layout") {
    val root = java.nio.file.Files.createTempDirectory("marker_snap_pin_")
    val table = root.resolve("t")
    // pinned version vanished but newer generations exist → vacuumed
    // out from under the serve: loud failure, not a silent mixed-generation
    // fallback (VERDICT r10 advice)
    java.nio.file.Files.createDirectories(table.resolve("_v2"))
    val ex = intercept[IllegalStateException] {
      IndexLifecycle.resolveIndexDirPinned(table.toString, Some("_v1"))
    }
    assert(ex.getMessage.contains("vacuumed"))
    // no versions at all (a side dir the fold does not list) → its own path
    val bare = root.resolve("bare")
    java.nio.file.Files.createDirectories(bare)
    assert(IndexLifecycle.resolveIndexDirPinned(bare.toString, Some("_v3")) == bare.toString)
  }

  test("LM rebuild clears the previous generation's unlearn markers (delete of a re-ingested doc must decrement)") {
    import spark.implicits._
    val docs = (1L to 20L).map(i => (i, s"alpha beta gamma w$i delta"))
      .toDF("doc_id", "text")
    val score = Seq((900L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("marker_snap_lm_").toString
    graft.functions.LmPerplexity.buildLmIndex(docs, "doc_id", "text", idx)
    graft.functions.LmPerplexity.deleteFromLmIndex(
      docs.filter($"doc_id" === 7L), "doc_id", "text", idx, "e1")
    // REBUILD without purging: the old marker must not suppress a fresh
    // delete of the re-ingested doc (the buildBm25Index q192 twin)
    graft.functions.LmPerplexity.buildLmIndex(docs, "doc_id", "text", idx)
    graft.functions.LmPerplexity.deleteFromLmIndex(
      docs.filter($"doc_id" === 7L), "doc_id", "text", idx, "e2")
    val got = graft.functions.LmPerplexity.perplexityIndexed(
        spark, idx, score, "doc_id", "text")
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val want = graft.functions.LmPerplexity.perplexity(
        docs.filter($"doc_id" =!= 7L), score, "doc_id", "text")
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(got == want,
      "the fresh generation's unlearn must decrement — stale markers may not suppress it")
  }
}
