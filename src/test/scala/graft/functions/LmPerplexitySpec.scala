package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

class LmPerplexitySpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String): String =
    java.nio.file.Files.createTempDirectory(p).toString

  test("lnPosLong matches Math.log to 1e-13 over 1..100000 and key magnitudes") {
    val ns = (1L to 100000L) ++ Seq(1L << 20, (1L << 31) - 1, 1L << 40,
      (1L << 52) + 12345L)
    val got = ns.toDF("n")
      .select(col("n"), PortableMath.lnPosLong(col("n")).as("ln"))
      .collect()
    got.foreach { r =>
      val n = r.getLong(0)
      assert(math.abs(r.getDouble(1) - math.log(n.toDouble)) < 1e-13,
        s"lnPosLong($n)")
    }
  }

  test("lnPosLong is codegen-compatible (no interpreted fallback in a filter)") {
    // a plan-level smoke: the expression evaluates inside a projected scan
    val n = Seq(7L, 8L, 9L).toDF("n")
      .select(PortableMath.lnPosLong(col("n")).as("v"))
      .agg(sum("v")).collect().head.getDouble(0)
    assert(math.abs(n - (math.log(7.0) + math.log(8.0) + math.log(9.0))) < 1e-12)
  }

  test("fluent in-distribution text scores lower log-perplexity than gibberish") {
    val train = (1L to 200L)
      .map(i => (i, "the quick brown fox jumps over the lazy dog and runs home"))
      .toDF("doc_id", "text")
    val score = Seq(
      (1001L, "the quick brown fox jumps over the lazy dog"), // seen bigrams
      (1002L, "zxq vvk qqj plm wox nbd")                      // all unseen
    ).toDF("doc_id", "text")
    val out = LmPerplexity.perplexity(train, score, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out(1001L) < out(1002L),
      s"fluent ${out(1001L)} should beat gibberish ${out(1002L)}")
  }

  test("docs with fewer than 2 tokens: n_bigrams 0, NULL score") {
    val train = Seq((1L, "a b c a b")).toDF("doc_id", "text")
    val score = Seq((10L, "solo"), (11L, ""), (12L, "  "), (13L, "a b"))
      .toDF("doc_id", "text")
    val rows = LmPerplexity.perplexity(train, score, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(rows.map(_.getLong(1)).toSeq == Seq(0L, 0L, 0L, 1L))
    assert(rows.take(3).forall(_.isNullAt(2)))
    assert(!rows(3).isNullAt(2))
  }

  test("indexed serving (split build + append + compact) equals one-shot bit-for-bit") {
    val docs = (1L to 60L).map { i =>
      (i, s"alpha beta gamma t$i delta epsilon ${if (i % 3 == 0) "zeta eta" else "theta"}")
    }.toDF("doc_id", "text")
    val score = (1L to 60L).filter(_ % 5 == 0)
      .map(i => (i + 1000L, s"alpha beta unseen$i gamma delta"))
      .toDF("doc_id", "text")
    val oneShot = LmPerplexity.perplexity(docs, score, "doc_id", "text")
      .orderBy("doc_id").collect().map(_.toSeq).toSeq

    val idx = tmp("lmidx_")
    LmPerplexity.buildLmIndex(docs.filter(col("doc_id") <= 30), "doc_id", "text", idx)
    LmPerplexity.appendLmIndex(docs.filter(col("doc_id") > 30), "doc_id", "text", idx, "b2")
    val preCompact = LmPerplexity.perplexityIndexed(spark, idx, score, "doc_id", "text")
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    LmPerplexity.compactLmIndex(spark, idx)
    val postCompact = LmPerplexity.perplexityIndexed(spark, idx, score, "doc_id", "text")
      .orderBy("doc_id").collect().map(_.toSeq).toSeq

    assert(preCompact == oneShot, "partial-batch serving must equal one-shot")
    assert(postCompact == oneShot, "compacted serving must equal one-shot")
  }

  test("describeLmIndex reports the folded logical model") {
    val docs = Seq((1L, "a b c"), (2L, "a b"), (3L, "x")).toDF("doc_id", "text")
    val idx = tmp("lmidx_")
    LmPerplexity.buildLmIndex(docs, "doc_id", "text", idx, buckets = 8)
    val r = LmPerplexity.describeLmIndex(spark, idx).collect().head
    // n_docs=3, bigram positions: (a b)(b c) + (a b) = 3, vocab {a,b,c,x}=4,
    // bigram types {ab, bc}=2
    assert(r.getLong(0) == 3L && r.getLong(1) == 3L)
    assert(r.getLong(2) == 4L && r.getLong(3) == 2L)
    assert(r.getLong(4) == 8L)
  }

  test("perplexityTerciles: ranks ascending, integer tercile cuts, zero-bigram docs excluded") {
    // vocabulary must be REALISTICALLY large: with a toy vocab the Laplace
    // unseen penalty −ln(V) is weaker than in-distribution scores and the
    // ranking inverts (a real LM's V makes gibberish expensive)
    val train = (1L to 200L).map(i =>
      (i, s"alpha beta gamma delta alpha beta gamma delta u$i v$i"))
      .toDF("doc_id", "text")
    // 9 scoreable 10-token docs: i junk tokens, 10−i in-distribution + 1 unscoreable
    val cycle = Seq("alpha", "beta", "gamma", "delta")
    val corpus = ((1L to 9L).map { i =>
      val seen = (0 until (10 - i.toInt)).map(j => cycle(j % 4))
      val junk = Seq.tabulate(i.toInt)(j => s"zx${i}q$j")
      (100L + i, (seen ++ junk).mkString(" "))
    } :+ (200L, "solo")).toDF("doc_id", "text")
    val out = LmPerplexity.perplexityTerciles(train, corpus, "doc_id", "text")
      .orderBy("ppl_rank").collect()
    assert(out.length == 9, "zero-bigram doc must be excluded")
    assert(out.map(_.getLong(3)).toSeq == (1L to 9L), "dense exact ranks")
    assert(out.map(_.getString(4)).toSeq ==
      Seq("head", "head", "head", "middle", "middle", "middle", "tail", "tail", "tail"))
    // more in-distribution text ⇒ earlier rank
    val rankByDoc = out.map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(rankByDoc(101L) < rankByDoc(109L))
  }

  test("deleteFromLmIndex: scores equal a rebuild without the deleted docs, bit-for-bit") {
    val docs = (1L to 80L).map { i =>
      (i, s"alpha beta gamma w$i delta ${if (i % 4 == 0) "rare token" else "epsilon zeta"}")
    }.toDF("doc_id", "text")
    val score = Seq((900L, "alpha beta rare token epsilon"), (901L, "alpha beta gamma delta"))
      .toDF("doc_id", "text")
    val survivors = docs.filter(col("doc_id") % 4 =!= 0)

    val idx = tmp("lmidx_")
    LmPerplexity.buildLmIndex(docs, "doc_id", "text", idx)
    LmPerplexity.deleteFromLmIndex(docs.filter(col("doc_id") % 4 === 0),
      "doc_id", "text", idx, "e1")
    val pending = LmPerplexity.perplexityIndexed(spark, idx, score, "doc_id", "text")
      .orderBy("doc_id").collect().map(_.toSeq).toSeq

    val rebuilt = LmPerplexity.perplexity(survivors, score, "doc_id", "text")
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(pending == rebuilt,
      "negative partials must reproduce the rebuild-without-deleted scores exactly")

    // double-delete (same ids, new batch) must not double-decrement
    LmPerplexity.deleteFromLmIndex(docs.filter(col("doc_id") % 4 === 0),
      "doc_id", "text", idx, "e2")
    // unknown ids are a no-op too
    LmPerplexity.deleteFromLmIndex(
      Seq((5555L, "alpha beta")).toDF("doc_id", "text"), "doc_id", "text", idx, "e3")
    val after = LmPerplexity.perplexityIndexed(spark, idx, score, "doc_id", "text")
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(after == rebuilt, "double-delete and unknown-id delete must be no-ops")

    // purge: physical fold, markers cleared, scores unchanged; a re-delete
    // of a purged id stays a no-op through the membership table
    LmPerplexity.purgeLmIndex(spark, idx)
    assert(graft.core.IndexLifecycle.readMarkerTable(spark, idx, "tombstones").isEmpty,
      "purge must retire every pending marker from the serving generation")
    LmPerplexity.deleteFromLmIndex(docs.filter(col("doc_id") % 4 === 0),
      "doc_id", "text", idx, "e4")
    val purged = LmPerplexity.perplexityIndexed(spark, idx, score, "doc_id", "text")
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(purged == rebuilt, "post-purge scoring and post-purge re-delete must hold")
  }

  test("deleteFromLmIndex replay after a partial crash (tombstones landed, counts did not) recovers") {
    val docs = (1L to 40L).map { i =>
      (i, s"alpha beta gamma w$i delta ${if (i % 4 == 0) "rare token" else "epsilon zeta"}")
    }.toDF("doc_id", "text")
    val score = Seq((900L, "alpha beta rare token epsilon"), (901L, "alpha beta gamma delta"))
      .toDF("doc_id", "text")
    val idx = tmp("lmidx_crash_")
    LmPerplexity.buildLmIndex(docs, "doc_id", "text", idx)
    // simulate the crash: the tombstones partial of batch "e1" landed but
    // none of the four negative count partials did (the five writes run
    // concurrently — any prefix can land)
    graft.core.IndexLifecycle.writeIndexBatch(
      docs.filter(col("doc_id") % 4 === 0).select(col("doc_id")),
      s"$idx/tombstones", "e1")
    // replay of the SAME batchId must recompute and land all five partials
    // — not anti-join the docs away against its own half-landed attempt
    LmPerplexity.deleteFromLmIndex(docs.filter(col("doc_id") % 4 === 0),
      "doc_id", "text", idx, "e1")
    val replayed = LmPerplexity.perplexityIndexed(spark, idx, score, "doc_id", "text")
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val rebuilt = LmPerplexity.perplexity(docs.filter(col("doc_id") % 4 =!= 0),
      score, "doc_id", "text")
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(replayed == rebuilt,
      "same-batch replay must net the counts exactly like a clean delete")
    // and a DIFFERENT batch id after the recovery is still a no-op
    LmPerplexity.deleteFromLmIndex(docs.filter(col("doc_id") % 4 === 0),
      "doc_id", "text", idx, "e2")
    val after = LmPerplexity.perplexityIndexed(spark, idx, score, "doc_id", "text")
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(after == rebuilt, "cross-batch double-delete stays a no-op")
  }

  test("streaming gate admits exactly the batch-scored accept set") {
    val dir = tmp("lmgate_src_")
    val train = (1L to 100L)
      .map(i => (i, "one two three four five six seven eight"))
      .toDF("doc_id", "text")
    val idx = tmp("lmidx_")
    LmPerplexity.buildLmIndex(train, "doc_id", "text", idx)
    val incoming = Seq(
      (201L, "one two three four"),         // fluent -> admitted
      (202L, "ga bu zo meu"),               // unseen -> rejected
      (203L, "five six seven eight"),       // fluent -> admitted
      (204L, "tiny")                        // no bigram -> rejected
    ).toDF("doc_id", "text")
    incoming.write.mode("overwrite").parquet(dir)

    val scored = LmPerplexity.perplexityIndexed(spark, idx, incoming, "doc_id", "text")
    val cut = scored.filter(col("n_bigrams") > 0).agg(avg("logppl")).collect().head.getDouble(0)
    val expect = scored
      .filter(col("n_bigrams") > 0 && col("logppl") <= cut)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(expect.nonEmpty && expect != Set(201L, 202L, 203L, 204L))

    val kept = tmp("lmgate_kept_") + "/out"
    val q = graft.streaming.StreamingPerplexityGate.start(
      spark.readStream.schema("doc_id LONG, text STRING").parquet(dir),
      "doc_id", "text", idx, kept, tmp("lmgate_ckpt_"), maxLogPpl = cut)
    q.awaitTermination()
    val got = spark.read.parquet(kept).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(got == expect, s"gate admitted $got, batch scoring says $expect")
  }

  test("streaming gate that admits ZERO docs leaves a sink the documented explicit-schema read returns empty") {
    // the sf10 finding: an absolute threshold against a shifted corpus can
    // legitimately reject everything; the kept sink then has no parquet
    // footer and a schema-INFERRING read fails — the gate's read contract
    // is an explicit schema, under which the empty sink is an empty frame
    val dir = tmp("lmgate0_src_")
    val train = (1L to 50L)
      .map(i => (i, "one two three four five six seven eight"))
      .toDF("doc_id", "text")
    val idx = tmp("lmidx0_")
    LmPerplexity.buildLmIndex(train, "doc_id", "text", idx)
    Seq((201L, "ga bu zo meu"), (202L, "tiny"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(dir)
    val kept = tmp("lmgate0_kept_") + "/out"
    val q = graft.streaming.StreamingPerplexityGate.start(
      spark.readStream.schema("doc_id LONG, text STRING").parquet(dir),
      "doc_id", "text", idx, kept, tmp("lmgate0_ckpt_"),
      maxLogPpl = -1.0) // below any smoothed logppl: nothing admits
    q.awaitTermination()
    val got = spark.read.schema("doc_id LONG, text STRING, batch STRING")
      .parquet(kept).count()
    assert(got == 0L, s"reject-all gate must read as an empty frame, got $got rows")
  }
}
