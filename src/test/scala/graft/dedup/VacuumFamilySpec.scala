package graft.dedup

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.IndexLifecycle
import graft.functions.LexicalRetrieval

/** The erasure SLA (round 11): after `purge → vacuumFamily`, a deleted
  * doc's bytes are GONE from disk — not just hidden from serving. Purge
  * rewrites the serving generation without the doc; retention keeps the
  * superseded generation (which still holds the bytes) `retentionCycles`
  * more commits for lock-free readers; vacuumFamily reclaims everything
  * below the current generation in one call. Also gates the retention
  * POLICY dial: retentionCycles = N keeps N superseded generations. */
class VacuumFamilySpec extends SparkSpec {

  private def layouts(table: String): Set[String] = {
    val p = Paths.get(table)
    if (!Files.exists(p)) return Set.empty
    val ls = Files.list(p)
    try {
      import scala.jdk.CollectionConverters._
      ls.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith("_v") || n.startsWith("batch=")).toSet
    } finally ls.close()
  }

  test("purge + vacuumFamily = byte-level erase: retained generation still holds the bytes, vacuum removes it, serving unchanged") {
    import spark.implicits._
    val docs = (1L to 20L).map(i =>
      (i, s"spark shuffle w$i ${if (i == 7L) "doomedtoken" else "alpha"}"))
      .toDF("doc_id", "text")
    val idx = Files.createTempDirectory("vacfam_").toString
    LexicalRetrieval.buildBm25Index(docs, "doc_id", "text", idx, buckets = 4)
    LexicalRetrieval.deleteFromBm25Index(Seq(7L).toDF("doc_id"), "doc_id", idx, "e1")
    LexicalRetrieval.purgeBm25Index(spark, idx)

    // retention keeps the pre-purge generation: its doclens STILL HOLD the
    // deleted doc's row — the bytes exist on disk (the SLA's "not yet")
    val fam = IndexLifecycle.readFamilyPointer(idx).get
    val retained = layouts(s"$idx/doclens") - fam
    assert(retained.nonEmpty, "retention must keep the superseded generation until vacuum")
    // the superseded layout of a first-ever compaction is the flat
    // `batch=` dirs themselves; of a later one, a `_v<k>` generation dir
    val oldRows = retained.toSeq.flatMap { gen =>
      val d = Paths.get(idx, "doclens", gen)
      if (gen.startsWith("batch=") || IndexLifecycle.hasBatchData(d.toString))
        spark.read.parquet(d.toString).filter(col("doc_id") === 7L).collect().toSeq
      else Nil
    }
    assert(oldRows.nonEmpty,
      "sanity: the retained generation is where the erased bytes survive")

    val queries = Seq((1L, Seq("spark", "alpha"))).toDF("query_id", "terms")
    val before = LexicalRetrieval.bm25TopKIndexed(spark, idx, queries)
      .collect().map(_.toSeq).toSet

    IndexLifecycle.vacuumFamily(idx)
    // the SLA's "now": every table serves exactly ONE generation — the
    // current one — and no file anywhere under the family holds a doc-7 row
    Seq("postings", "doclens", "termdf", "stats", "tombstones").foreach { t =>
      val l = layouts(s"$idx/$t")
      assert(l.subsetOf(Set(fam)),
        s"vacuumFamily must leave only the current generation of $t: $l")
    }
    def anyDoc7(p: Path): Boolean = {
      val walk = Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.filter(_.toString.endsWith(".parquet")).exists { f =>
          spark.read.parquet(f.toString).columns.contains("doc_id") &&
            spark.read.parquet(f.toString).filter(col("doc_id") === 7L).count() > 0
        }
      } finally walk.close()
    }
    assert(!anyDoc7(Paths.get(idx)),
      "after purge + vacuumFamily no parquet file under the family may hold the erased doc")
    val after = LexicalRetrieval.bm25TopKIndexed(spark, idx, queries)
      .collect().map(_.toSeq).toSet
    assert(after == before, "serving unchanged by the vacuum")
  }

  test("vacuumFamily reclaims crashed-compaction staging debris INSIDE table dirs (the erasure SLA covers _staging_ bytes)") {
    import spark.implicits._
    val docs = (1L to 10L).map(i => (i, s"alpha beta w$i")).toDF("doc_id", "text")
    val idx = Files.createTempDirectory("vacfam_staging_").toString
    LexicalRetrieval.buildBm25Index(docs, "doc_id", "text", idx, buckets = 4)
    // a compaction that crashed pre-flip leaves its staging dir inside the
    // TABLE dir — named neither `_v<k>` nor `batch=*`, so the version sweep
    // never matched it and purged-generation bytes survived (round-12
    // ADVICE). Plant debris in a table dir AND at the family root.
    val tableDebris = Paths.get(idx, "doclens", "_staging__v9_deadbeef")
    val rootDebris = Paths.get(idx, "_staging__v9_cafe")
    Files.createDirectories(tableDebris)
    Files.write(tableDebris.resolve("leak.parquet"), "doomedbytes".getBytes)
    Files.createDirectories(rootDebris)
    IndexLifecycle.vacuumFamily(idx)
    assert(!Files.exists(tableDebris),
      "vacuumFamily must clear staging debris inside table dirs")
    assert(!Files.exists(rootDebris),
      "vacuumFamily must clear staging debris at the family root")
    // the family still serves
    val hits = LexicalRetrieval.bm25TopKIndexed(spark, idx,
      Seq((1L, Seq("alpha"))).toDF("query_id", "terms"), k = 2)
    assert(hits.count() == 2)
  }

  test("retentionCycles = 2 keeps two superseded generations at commit time; explicit vacuum still sweeps to keep-0") {
    import spark.implicits._
    val docs = (1L to 10L).map(i => (i, s"alpha beta w$i")).toDF("doc_id", "text")
    val idx = Files.createTempDirectory("vacfam_policy_").toString
    IndexLifecycle.setRetentionCycles(2)
    try {
      LexicalRetrieval.buildBm25Index(docs, "doc_id", "text", idx, buckets = 4)
      (1 to 3).foreach(_ => LexicalRetrieval.compactBm25Index(spark, idx))
      val fam = IndexLifecycle.readFamilyPointer(idx).get.stripPrefix("_v").toLong
      val vs = layouts(s"$idx/doclens").filter(_.startsWith("_v"))
        .map(_.stripPrefix("_v").toLong)
      assert(vs == Set(fam, fam - 1, fam - 2),
        s"policy keep=2 must retain two superseded generations, got $vs")
      IndexLifecycle.vacuumFamily(idx)
      assert(layouts(s"$idx/doclens").filter(_.startsWith("_v"))
        == Set(s"_v$fam"), "vacuum ignores the policy and sweeps to keep-0")
    } finally IndexLifecycle.setRetentionCycles(1)
  }
}
