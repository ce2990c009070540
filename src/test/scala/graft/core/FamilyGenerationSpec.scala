package graft.core

import java.nio.file.{Files, Paths}

import scala.util.Random

import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.functions.{LexicalRetrieval, LmPerplexity}
import graft.similarity.Similarity

/** The family generation rule ([[IndexLifecycle]]): every listed table of
  * a family — its marker table included — has a dir at every retained
  * generation from the first compaction on, and a rebuild resets the
  * markers in place at the current generation. Each family runs build →
  * delete → compact → rebuild → delete → compact, pins a snapshot before
  * each compaction, and ends serving what a fresh build serves. */
class FamilyGenerationSpec extends SparkSpec {

  /** The operations of one index family, over an index path. */
  private case class Family(name: String, tables: Seq[String],
      build: String => Unit, delete: (String, Seq[Long], String) => Unit,
      compact: String => Unit, serve: String => Set[Seq[Any]])

  private def fresh(prefix: String): String =
    Files.createTempDirectory(prefix).resolve("idx").toString

  /** Every listed table has a dir at the FAMILY generation and at each
    * superseded one retention keeps. */
  private def assertGenerations(f: Family, idx: String, when: String): Unit = {
    val fam = IndexLifecycle.readFamilyPointer(idx)
      .getOrElse(fail(s"${f.name} $when: no family pointer"))
    val committed = fam.stripPrefix("_v").toLong
    val retained = (committed - IndexLifecycle.retentionCycles to committed).filter(_ >= 1)
    for (t <- f.tables; g <- retained)
      assert(Files.isDirectory(Paths.get(idx, t, s"_v$g")),
        s"${f.name} $when: $t has no dir at retained generation _v$g")
  }

  /** The markers a pinned snapshot reads, as rows. */
  private def markers(idx: String, snap: IndexLifecycle.FamilySnapshot): Set[Seq[Any]] =
    IndexLifecycle.readMarkerTable(spark, idx, "tombstones", snapshot = Some(snap))
      .fold(Set.empty[Seq[Any]])(_.collect().map(_.toSeq).toSet)

  /** Compact with a snapshot pinned before it: the snapshot reads the same
    * markers after the compaction as before it. */
  private def pinnedCompact(f: Family, idx: String, when: String): Unit = {
    val snap = IndexLifecycle.familySnapshot(idx)
    val before = markers(idx, snap)
    assert(before.nonEmpty, s"${f.name} $when: sanity, the delete left pending markers")
    f.compact(idx)
    assert(markers(idx, snap) == before,
      s"${f.name} $when: a snapshot pinned before the compaction reads other markers after it")
  }

  private def lifecycle(f: Family): Unit = {
    val idx = fresh(s"famgen_${f.name}_")
    f.build(idx)
    f.delete(idx, Seq(3L, 11L), "d1")
    pinnedCompact(f, idx, "first compaction")
    assertGenerations(f, idx, "after the first compaction")
    f.build(idx)
    assertGenerations(f, idx, "after the rebuild")
    f.delete(idx, Seq(5L), "d2")
    pinnedCompact(f, idx, "second compaction")
    assertGenerations(f, idx, "after the second compaction")

    // the rebuild dropped d1's markers, so serving is a fresh build's with d2
    val ref = fresh(s"famgen_${f.name}_ref_")
    f.build(ref)
    f.delete(ref, Seq(5L), "d2")
    assert(f.serve(idx) == f.serve(ref), s"${f.name}: serving differs from a fresh build's")
  }

  private def texts: Seq[(Long, String)] = (1L to 24L).map { i =>
    i -> s"spark shuffle w$i ${if (i % 3 == 0) "alpha beta" else "gamma delta"} merge"
  }

  private val bm25 = Family("bm25",
    Seq("postings", "doclens", "termdf", "tombstones", "stats"),
    idx => {
      import spark.implicits._
      LexicalRetrieval.buildBm25Index(texts.toDF("doc_id", "text"), "doc_id", "text", idx,
        buckets = 4)
    },
    (idx, ids, batch) => {
      import spark.implicits._
      LexicalRetrieval.deleteFromBm25Index(ids.toDF("doc_id"), "doc_id", idx, batch)
    },
    idx => LexicalRetrieval.compactBm25Index(spark, idx),
    idx => {
      import spark.implicits._
      LexicalRetrieval.bm25TopKIndexed(spark, idx,
          Seq((1L, Seq("spark", "alpha")), (2L, Seq("gamma"))).toDF("query_id", "terms"), k = 30)
        .collect().map(_.toSeq).toSet
    })

  private val lm = Family("lm",
    Seq("bigrams", "contexts", "unigrams", "docs", "tombstones", "stats"),
    idx => {
      import spark.implicits._
      LmPerplexity.buildLmIndex(texts.toDF("doc_id", "text"), "doc_id", "text", idx,
        buckets = 4)
    },
    (idx, ids, batch) => {
      import spark.implicits._
      LmPerplexity.deleteFromLmIndex(texts.filter(t => ids.contains(t._1)).toDF("doc_id", "text"),
        "doc_id", "text", idx, batch)
    },
    idx => LmPerplexity.compactLmIndex(spark, idx),
    idx => {
      import spark.implicits._
      LmPerplexity.perplexityIndexed(spark, idx,
          Seq((900L, "spark shuffle alpha beta merge"), (901L, "gamma delta w5 merge"))
            .toDF("doc_id", "text"), "doc_id", "text")
        .collect().map(_.toSeq).toSet
    })

  private def vectors: DataFrame = {
    import spark.implicits._
    val rng = new Random(29)
    (1L to 40L).map(i => (i, Array.fill(8)(rng.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
  }

  private val ivfadc = Family("ivfadc", Seq("codes", "vectors", "tombstones"),
    idx => Similarity.buildIvfadcIndex(vectors, "vec_id", "embedding", idx,
      nCells = 4, m = 4, codebookSize = 8, seed = 42L, fitMaxIter = 4),
    (idx, ids, batch) => {
      import spark.implicits._
      Similarity.deleteFromIvfadcIndex(ids.toDF("vec_id"), "vec_id", idx, batch)
    },
    idx => Similarity.compactIvfadcIndex(spark, idx),
    // every cell probed and every candidate reranked exactly: the answer is
    // the brute-force top-k of the live vectors, whatever the fit
    idx => {
      import spark.implicits._
      Similarity.ivfadcTopKIndexed(spark, idx, vectors.filter($"vec_id" <= 8L),
          "vec_id", "embedding", k = 3, nProbe = 4, shortlist = 40, excludeSelf = true)
        .select("query_id", "nbr_rank", "nbr_id").collect().map(_.toSeq).toSet
    })

  test("BM25: a rebuild resets its markers in place and every listed table keeps every retained generation") {
    lifecycle(bm25)
  }

  test("LM: a rebuild resets its markers in place and every listed table keeps every retained generation") {
    lifecycle(lm)
  }

  test("IVFADC: a rebuild resets its markers in place and every listed table keeps every retained generation") {
    lifecycle(ivfadc)
  }
}
