package graft.dedup

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.IndexLifecycle

/** Containment (quote-inclusion) join: the asymmetric relation Jaccard
  * dedup cannot see. k=1 (unigram shingles) in most cases so the set
  * algebra is controlled word-for-word. */
class ContainmentJoinSpec extends SparkSpec {

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private def pairs(df: org.apache.spark.sql.DataFrame, k: Int = 1,
      tn: Int = 9, td: Int = 10, minSize: Int = 5): Map[(Long, Long), Double] =
    Dedup.containmentJoin(df, "doc_id", "text", k = k,
        thresholdNum = tn, thresholdDen = td, minSize = minSize)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(4)).toMap

  test("a short doc quoted wholesale is contained at 1.0; the reverse is not") {
    val contained = "alpha beta gamma delta epsilon zeta"
    val container = contained + " plus lots of extra framing words " +
      "one two three four five six seven eight nine ten eleven twelve"
    val out = pairs(docs(1L -> container, 2L -> contained))
    assert(out.get((1L, 2L)).contains(1.0), s"quote must be detected: $out")
    assert(!out.contains((2L, 1L)), "the long container is NOT inside the quote")
    // and Jaccard is blind to exactly this pair: 6 shared / 19 union << 0.5
    assert(out((1L, 2L)) == 1.0)
  }

  test("exact integer boundary: 9/10 kept, 8/10 dropped") {
    val b = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10" // 10 distinct unigrams
    val keep9 = "w1 w2 w3 w4 w5 w6 w7 w8 w9 x1 x2 x3 x4 x5"   // 9 of 10
    val drop8 = "w1 w2 w3 w4 w5 w6 w7 w8 y1 y2 y3 y4 y5 y6"   // 8 of 10
    val out = pairs(docs(1L -> keep9, 2L -> drop8, 3L -> b))
    assert(out.get((1L, 3L)).contains(0.9), s"9/10 is ON the threshold: $out")
    assert(!out.contains((2L, 3L)), "8/10 must be dropped")
  }

  test("minSize floor: tiny docs are never reported as contained") {
    val out = pairs(docs(
      1L -> "solo word appears here and there and everywhere again",
      2L -> "solo word"), minSize = 5)
    assert(!out.exists(_._1._2 == 2L), s"2-shingle doc below the floor: $out")
  }

  test("empty docs and self-pairs are excluded; symmetric dups contain both ways") {
    val t = "same exact text here five words more padding tokens extra"
    val out = pairs(docs(1L -> t, 2L -> t, 3L -> "", 4L -> "   "))
    assert(out.keySet == Set((1L, 2L), (2L, 1L)),
      s"exact dups contain each other, nothing else: $out")
    assert(out.values.forall(_ == 1.0))
  }

  test("incremental: both directions vs the index, cross-batch, unseen-token docs still caught") {
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("cont_inc_").toString
    val idx = s"$root/idx"
    val seedShort = "alpha beta gamma delta epsilon zeta eta theta"
    val seedComposite = "iota kappa lambda mu nu xi omicron pi rho sigma tau upsilon"
    Dedup.buildContainmentIndex(
      docs(1L -> seedShort, 2L -> seedComposite), "doc_id", "text", idx, k = 1)

    // batch 1: a NEW composite quoting seed 1 (new_container), and a NEW
    // fragment of seed 2 (new_contained); its vocabulary includes tokens
    // the frozen index never saw (df=0 path)
    val b1 = docs(
      10L -> (seedShort + " with totally novel framing vocabulary around it"),
      11L -> "iota kappa lambda mu nu xi omicron pi rho sigma")
    val out1 = Dedup.containmentIncremental(b1, "doc_id", "text", idx, "b1",
        k = 1, thresholdNum = 8, thresholdDen = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getBoolean(3))).toSet
    assert(out1.contains((10L, 1L, true, false)), s"new composite quotes seed: $out1")
    assert(out1.contains((2L, 11L, false, true)), s"new fragment subsumed by seed: $out1")

    // batch 2: a fragment of BATCH 1's composite — only the folded index
    // can catch it (cross-batch, the per-batch-blind case)
    val out2 = Dedup.containmentIncremental(
        docs(20L -> "with totally novel framing vocabulary"),
        "doc_id", "text", idx, "b2", k = 1, thresholdNum = 8, thresholdDen = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out2.contains((10L, 20L)), s"batch-2 fragment of batch-1 doc: $out2")

    // index folded every batch: 2 seed + 2 + 1 docs in sets/
    val n = spark.read.parquet(IndexLifecycle.resolveIndexDir(s"$idx/sets")).count()
    assert(n == 5L, s"sets index must hold all 5 docs, got $n")

    // no index×index pairs ever: seed 1 is a fragment-like doc but never
    // reported against seed 2 in any batch output
    assert(!out1.exists(p => p._1 <= 2L && p._2 <= 2L))
  }

  test("compaction preserves incremental answers") {
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("cont_cmp_").toString
    val idx = s"$root/idx"
    val seed = "one two three four five six seven eight nine ten"
    Dedup.buildContainmentIndex(docs(1L -> seed), "doc_id", "text", idx, k = 1)
    Dedup.containmentIncremental(docs(10L -> (seed + " plus more words here")),
      "doc_id", "text", idx, "b1", k = 1).collect()
    Dedup.compactContainmentIndex(spark, idx)
    val out = Dedup.containmentIncremental(docs(20L -> "one two three four five six seven eight nine"),
        "doc_id", "text", idx, "b2", k = 1, thresholdNum = 9, thresholdDen = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 20 is a 9/10 fragment of seed 1 AND of batch-1's doc 10 — both
    // visible through the compacted generation; and seed 1 (10 tokens) is
    // itself a 9/10-contained subset of 20's 9 tokens? No — the reverse:
    // 20 covers 9 of seed 1's 10 tokens, so seed 1 ⊆ 20 ALSO holds at
    // exactly the boundary (the relation is not antisymmetric near 1.0)
    assert(out == Set((1L, 20L), (10L, 20L), (20L, 1L)),
      s"post-compaction answers: $out")
  }

  test("removeDuplicateSpans: quote cut, self-copy halved, short docs immune, canonical keeps all") {
    val w = (1 to 30).map(i => s"w$i").mkString(" ")         // 30 distinct tokens
    val quote = (1 to 20).map(i => s"w$i").mkString(" ")     // its first 20
    val v = (1 to 30).map(i => s"v$i").mkString(" ")         // disjoint vocabulary
    val out = Dedup.removeDuplicateSpans(docs(
        1L -> w,                                  // canonical home of every w-window
        2L -> s"fresh prefix tokens here $quote", // quotes doc 1's first 20 tokens
        3L -> (v + " " + v),                      // self-duplication: copy vanishes
        4L -> "too short to carry any window"),
      "doc_id", "text", spanLen = 20)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(out(1L) == (30L, 0L, w), s"canonical doc untouched: ${out(1L)}")
    assert(out(2L) == (24L, 20L, "fresh prefix tokens here"),
      s"exactly the quoted window cut: ${out(2L)}")
    assert(out(3L) == (60L, 30L, v),
      s"self-copy halves back to the original: ${out(3L)}")
    assert(out(4L) == (6L, 0L, "too short to carry any window"))
    // a WHOLE-DOC duplicate of the canonical empties out entirely — the
    // exact-dedup degenerate case, by the same rule
    val out2 = Dedup.removeDuplicateSpans(docs(1L -> w, 2L -> w),
      "doc_id", "text", spanLen = 20)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getString(3))).toMap
    assert(out2(1L) == (0L, w) && out2(2L) == (30L, ""), s"$out2")
  }

  test("removeDuplicateSpansFaithful: original whitespace survives kept runs, single space at splices") {
    val w = (1 to 30).map(i => s"w$i").mkString(" ")
    val quote = (1 to 20).map(i => s"w$i").mkString(" ")
    // doc 2's own prose carries tabs, a newline, and a double space — all
    // must survive byte-for-byte because those tokens stay adjacent
    val fancy = "alpha\tbeta\n\ngamma  delta"
    val out = Dedup.removeDuplicateSpansFaithful(docs(
        1L -> w,
        2L -> s"$fancy $quote epsilon"), // quote cut from the middle
      "doc_id", "text", spanLen = 20)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(out(1L) == (30L, 0L, w), s"canonical doc byte-identical: ${out(1L)}")
    // kept prefix keeps its tabs/newlines/double space; the cut splices
    // prefix and suffix with ONE space
    assert(out(2L) == (25L, 20L, s"$fancy epsilon"), s"got ${out(2L)}")
    // parity with the normalized variant on single-spaced input
    val a = Dedup.removeDuplicateSpans(docs(1L -> w, 2L -> s"intro $quote"),
      "doc_id", "text", spanLen = 20)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    val b = Dedup.removeDuplicateSpansFaithful(docs(1L -> w, 2L -> s"intro $quote"),
      "doc_id", "text", spanLen = 20)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(a == b, "single-spaced corpora make the two variants coincide")
    // whole-doc duplicate still empties: the fold returns ""
    val out2 = Dedup.removeDuplicateSpansFaithful(docs(1L -> w, 2L -> w),
      "doc_id", "text", spanLen = 20)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(out2(2L) == "", s"$out2")
  }

  test("incremental span dedup faithful mode: index-hit cut preserves the batch doc's formatting") {
    val root = java.nio.file.Files.createTempDirectory("span_inc_f_").toString
    val idx = s"$root/idx"
    val w = (1 to 25).map(i => s"w$i").mkString(" ")
    Dedup.buildSpanIndex(docs(1L -> w), "doc_id", "text", idx, spanLen = 20)
    val quote = (1 to 20).map(i => s"w$i").mkString(" ")
    val fancy = "alpha\tbeta\n\ngamma  delta"
    val out = Dedup.removeDuplicateSpansIncremental(
        docs(10L -> s"$fancy $quote"), "doc_id", "text", idx, "b1",
        spanLen = 20, faithful = true)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getString(3))).toMap
    assert(out(10L) == (20L, fancy),
      s"index-quoted window cut, surviving formatting intact: ${out(10L)}")
  }

  test("incremental span dedup: index hits, batch-internal canonical, cross-batch via fold-in") {
    val root = java.nio.file.Files.createTempDirectory("span_inc_").toString
    val idx = s"$root/idx"
    val w = (1 to 25).map(i => s"w$i").mkString(" ")
    val v = (1 to 25).map(i => s"v$i").mkString(" ")
    Dedup.buildSpanIndex(docs(1L -> w), "doc_id", "text", idx, spanLen = 20)

    // batch 1: a quote of the INDEX (cut), fresh content (kept), and a
    // batch-internal duplicate of that fresh content (cut, canonical kept)
    val q20 = (1 to 20).map(i => s"w$i").mkString(" ")
    val b1 = Dedup.removeDuplicateSpansIncremental(docs(
        10L -> s"lead in tokens $q20",
        11L -> v,
        12L -> v),
      "doc_id", "text", idx, "b1", spanLen = 20)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getString(3))).toMap
    assert(b1(10L) == (20L, "lead in tokens"), s"index quote cut: ${b1(10L)}")
    assert(b1(11L) == (0L, v), s"fresh canonical kept whole: ${b1(11L)}")
    assert(b1(12L) == (25L, ""), s"batch-internal duplicate emptied: ${b1(12L)}")

    // batch 2: quotes batch 1's fresh content — only the folded index
    // catches it (the cross-batch case per-batch state cannot)
    val v20 = (1 to 20).map(i => s"v$i").mkString(" ")
    val b2 = Dedup.removeDuplicateSpansIncremental(docs(
        20L -> s"second wave $v20"),
      "doc_id", "text", idx, "b2", spanLen = 20)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getString(3))).toMap
    assert(b2(20L) == (20L, "second wave"), s"cross-batch quote cut: ${b2(20L)}")

    // compaction preserves membership
    Dedup.compactSpanIndex(spark, idx)
    val b3 = Dedup.removeDuplicateSpansIncremental(docs(30L -> q20),
      "doc_id", "text", idx, "b3", spanLen = 20)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(b3(30L) == "", s"post-compaction membership intact: $b3")
  }

  test("3-word shingles: a composite detects its components") {
    val a = "the first component document has exactly these eight words"
    val b = "and a second component text with different content entirely"
    val out = pairs(docs(1L -> a, 2L -> b, 3L -> (a + " " + b)), k = 3)
    assert(out.get((3L, 1L)).contains(1.0) && out.get((3L, 2L)).contains(1.0),
      s"both components contained in the composite: $out")
    assert(!out.contains((1L, 2L)) && !out.contains((2L, 1L)))
  }
}
