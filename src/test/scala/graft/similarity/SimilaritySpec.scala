package graft.similarity

import scala.util.Random

import graft.SparkSpec

class SimilaritySpec extends SparkSpec {

  private def randomVecs(rng: Random, n: Int, dim: Int): Seq[(Long, Array[Float])] =
    Seq.tabulate(n)(i => (i.toLong, Array.fill(dim)(rng.nextFloat() * 2 - 1)))

  private def naiveCosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < math.min(a.length, b.length)) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1
    }
    if (na == 0 || nb == 0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  test("bruteForceTopK == naive top-k (excludeSelf, corpus searches itself)") {
    import spark.implicits._
    val rng = new Random(5)
    val vecs = randomVecs(rng, 50, 8)
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.filter($"vec_id" < 5)

    val got = Similarity.bruteForceTopK(df, queries, "vec_id", "embedding", k = 3, excludeSelf = true)
      .select("query_id", "nbr_rank", "nbr_id").as[(Long, Long, Long)].collect()
      .groupBy(_._1).map { case (q, rows) => q -> rows.sortBy(_._2).map(_._3).toSeq }

    val expected = vecs.filter(_._1 < 5).map { case (qid, qv) =>
      qid -> vecs.filter(_._1 != qid)
        .map { case (cid, cv) => (cid, naiveCosine(qv, cv)) }
        .sortBy { case (cid, cos) => (-cos, cid) }.take(3).map(_._1).toSeq
    }.toMap

    assert(got == expected)
  }

  test("excludeSelf=false keeps coincidental id matches (distinct id spaces)") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)), (3L, Array(1.0f, 1.0f)))
    val df = vecs.toDF("vec_id", "embedding")
    val res = Similarity.bruteForceTopK(df, df.filter($"vec_id" === 1), "vec_id", "embedding", k = 3)
      .select("nbr_id").as[Long].collect().toSet
    assert(res.contains(1L), "self id must appear when excludeSelf is off")
  }

  test("IVF top-k achieves high recall vs brute force on clustered data") {
    import spark.implicits._
    val rng = new Random(11)
    // clustered corpus: 4 well-separated centers + jitter → IVF cells align
    val centers = Seq(Array(10f, 0f, 0f), Array(0f, 10f, 0f), Array(0f, 0f, 10f), Array(-10f, -10f, 0f))
    val vecs = Seq.tabulate(200) { i =>
      val c = centers(i % 4)
      (i.toLong, c.map(x => x + rng.nextFloat() * 0.5f))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.filter($"vec_id" < 8)

    def topSets(d: org.apache.spark.sql.DataFrame) =
      d.select("query_id", "nbr_id").as[(Long, Long)].collect()
        .groupBy(_._1).map { case (q, rows) => q -> rows.map(_._2).toSet }

    val brute = topSets(Similarity.bruteForceTopK(df, queries, "vec_id", "embedding", k = 5, excludeSelf = true))
    // sample-fit quantizer (the 100 TB path): cells stay well-placed on a half sample
    val ivf = topSets(Similarity.ivfTopK(df, queries, "vec_id", "embedding", k = 5,
      nCells = 4, nProbe = 2, excludeSelf = true, fitSampleFraction = 0.5))

    // note .toSeq: mapping over Map#keys dispatches to a Set builder and
    // would dedupe equal per-query recalls before the sum
    val recall = brute.toSeq.map { case (q, bs) =>
      ivf.getOrElse(q, Set.empty).intersect(bs).size.toDouble / bs.size
    }.sum / brute.size
    assert(recall >= 0.9, s"IVF recall $recall below 0.9")

    // LSH-bucketed path on the same clustered data: same-direction vectors
    // share sign buckets, so multi-table union recovers in-cluster neighbors
    val lsh = topSets(Similarity.lshTopK(df, queries, "vec_id", "embedding", k = 5,
      bits = 6, tables = 4, excludeSelf = true))
    val lshRecall = brute.toSeq.map { case (q, bs) =>
      lsh.getOrElse(q, Set.empty).intersect(bs).size.toDouble / bs.size
    }.sum / brute.size
    assert(lshRecall >= 0.9, s"LSH recall $lshRecall below 0.9")
  }

  test("ivfTopKIndexed (persisted index, fit-free) == ivfTopK with the same quantizer") {
    import spark.implicits._
    val rng = new Random(23)
    val vecs = randomVecs(rng, 120, 8)
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.filter($"vec_id" < 6)
    val idx = java.nio.file.Files.createTempDirectory("ivf_idx_").toString

    graft.dedup.Dedup.buildSemanticIndex(df, "vec_id", "embedding", idx,
      nClusters = 8, seed = 42L, fitMaxIter = 20)

    def rows(d: org.apache.spark.sql.DataFrame) =
      d.select("query_id", "nbr_rank", "nbr_id").as[(Long, Long, Long)].collect().toSet
    val refit = rows(Similarity.ivfTopK(df, queries, "vec_id", "embedding", k = 4,
      nCells = 8, nProbe = 3, seed = 42L, excludeSelf = true))
    val indexed = rows(Similarity.ivfTopKIndexed(spark, idx, queries, "vec_id", "embedding",
      k = 4, nProbe = 3, excludeSelf = true))
    assert(indexed == refit, "the persisted index must reproduce the refit path exactly")
  }

  test("ivfadcTopKIndexed (persisted codes+codebooks, fit-free) == ivfadcTopK on the same geometry") {
    import spark.implicits._
    val rng = new Random(31)
    val vecs = randomVecs(rng, 150, 8)
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.filter($"vec_id" < 6)
    val idx = java.nio.file.Files.createTempDirectory("ivfadc_idx_").toString

    Similarity.buildIvfadcIndex(df, "vec_id", "embedding", idx,
      nCells = 8, m = 4, codebookSize = 8, seed = 42L, fitMaxIter = 8)

    def rows(d: org.apache.spark.sql.DataFrame) =
      d.select("query_id", "nbr_rank", "nbr_id").as[(Long, Long, Long)].collect().toSet
    val refit = rows(Similarity.ivfadcTopK(df, queries, "vec_id", "embedding", k = 4,
      nCells = 8, nProbe = 3, m = 4, codebookSize = 8, shortlist = 30,
      seed = 42L, excludeSelf = true, fitMaxIter = 8))
    val indexed = rows(Similarity.ivfadcTopKIndexed(spark, idx, queries,
      "vec_id", "embedding", k = 4, nProbe = 3, shortlist = 30, excludeSelf = true))
    assert(indexed == refit,
      "the persisted IVFADC index must reproduce the refit path exactly")
  }

  test("filtered ANN: full-probe filtered top-k equals brute force over the allowed subset; k stays filled") {
    import spark.implicits._
    val rng = new Random(53)
    val vecs = randomVecs(rng, 150, 8)
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.filter($"vec_id" < 6)
    val allowedPred = $"vec_id" % 7 === 0 // selective: ~21 of 150 docs
    val idx = java.nio.file.Files.createTempDirectory("ivfadc_filt_").toString
    Similarity.buildIvfadcIndex(df, "vec_id", "embedding", idx,
      nCells = 8, m = 4, codebookSize = 8, seed = 42L, fitMaxIter = 8)

    def rows(d: org.apache.spark.sql.DataFrame) =
      d.select("query_id", "nbr_rank", "nbr_id").as[(Long, Long, Long)].collect().toSet
    val filtered = Similarity.ivfadcTopKIndexed(spark, idx, queries,
      "vec_id", "embedding", k = 5, nProbe = 8, shortlist = 1 << 20,
      excludeSelf = true, allowed = Some(df.filter(allowedPred).select("vec_id")))
    val brute = Similarity.bruteForceTopK(df.filter(allowedPred), queries,
      "vec_id", "embedding", k = 5, excludeSelf = true)
    assert(rows(filtered) == rows(brute),
      "full-probe filtered ANN must equal exact top-k over the allowed subset")
    // the classic filtered-ANN bug check: a SELECTIVE filter still fills k
    // (post-filtering a fixed small shortlist would under-fill)
    val perQuery = filtered.groupBy("query_id").count()
      .collect().map(_.getLong(1)).toSet
    assert(perQuery == Set(5L), s"every query must fill k=5, got $perQuery")
    // no non-allowed id ever surfaces
    assert(filtered.select("nbr_id").as[Long].collect().forall(_ % 7 == 0),
      "the filter is exact — only allowed ids may appear")
  }

  test("appendIvfadcIndex folds fit-free; full-probe degeneracy stays exact through replay and compaction") {
    import spark.implicits._
    val rng = new Random(47)
    val vecs = randomVecs(rng, 160, 8)
    val all = vecs.toDF("vec_id", "embedding")
    val evens = all.filter($"vec_id" % 2 === 0)
    val odds = all.filter($"vec_id" % 2 === 1)
    val queries = all.filter($"vec_id" < 6)
    val idx = java.nio.file.Files.createTempDirectory("ivfadc_app_").toString

    Similarity.buildIvfadcIndex(evens, "vec_id", "embedding", idx,
      nCells = 8, m = 4, codebookSize = 8, seed = 42L, fitMaxIter = 8)
    Similarity.appendIvfadcIndex(odds, "vec_id", "embedding", idx, "b1")

    def rows(d: org.apache.spark.sql.DataFrame) =
      d.select("query_id", "nbr_rank", "nbr_id").as[(Long, Long, Long)].collect().toSet
    // nProbe = nCells ∧ shortlist = |corpus|: exact brute force over the
    // WHOLE folded corpus regardless of codebook quality — any vector the
    // append lost, duplicated, or mis-stored breaks the equality
    val brute = rows(Similarity.bruteForceTopK(all, queries, "vec_id", "embedding",
      k = 4, excludeSelf = true))
    def served() = rows(Similarity.ivfadcTopKIndexed(spark, idx, queries,
      "vec_id", "embedding", k = 4, nProbe = 8, shortlist = 160, excludeSelf = true))
    assert(served() == brute, "appended index must serve the full corpus exactly")
    // replay the same batch id: own-partition overwrite, no double-fold
    Similarity.appendIvfadcIndex(odds, "vec_id", "embedding", idx, "b1")
    assert(spark.read.parquet(s"$idx/codes").count() == 160, "replay must not double-fold")
    assert(served() == brute)
    // compaction folds partitions under an atomic pointer swap; still exact
    Similarity.compactIvfadcIndex(spark, idx)
    assert(served() == brute, "compacted index must serve identically")
  }

  test("indexed codes are cell-partitioned on disk and stage 1 prunes them via dynamic partition pruning") {
    import spark.implicits._
    val rng = new Random(59)
    val all0 = randomVecs(rng, 200, 8).toDF("vec_id", "embedding")
    // queries must come from a SOURCE relation for the gate to be honest:
    // over a local relation Catalyst folds the filter away and DPP's
    // selective-predicate requirement can never be met (production query
    // batches are reads + filters, which is exactly what DPP keys on)
    val corpusPath = java.nio.file.Files.createTempDirectory("ivfadc_dpp_src_").toString
    all0.write.mode("overwrite").parquet(corpusPath)
    val all = spark.read.parquet(corpusPath)
    val queries = all.filter($"vec_id" < 3)
    val idx = java.nio.file.Files.createTempDirectory("ivfadc_dpp_").toString
    Similarity.buildIvfadcIndex(all, "vec_id", "embedding", idx,
      nCells = 8, m = 4, codebookSize = 8, seed = 42L, fitMaxIter = 8)
    // physical layout: one cell=<n> directory per coarse cell under batch=base
    val cellDirs = java.nio.file.Files.list(
        java.nio.file.Paths.get(s"$idx/codes/batch=base")).iterator()
    val names = scala.collection.mutable.ArrayBuffer[String]()
    while (cellDirs.hasNext) names += cellDirs.next().getFileName.toString
    assert(names.forall(_.startsWith("cell=")), s"expected cell= dirs, got $names")
    assert(names.size > 1, "multiple cells must materialize as directories")

    // DPP's benefit estimator compares byte sizes that are all ~KB on the
    // test corpus — pin the fallback ratio high to expose the production
    // plan (the PlanPropertiesSpec thresholds-lowered pattern). The
    // selectivity requirement is met the way real serving meets it: the
    // query batch is a filtered subset.
    val confs = Seq(
      "spark.sql.optimizer.dynamicPartitionPruning.useStats" -> "false",
      "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio" -> "10000")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val served = Similarity.ivfadcTopKIndexed(spark, idx, queries,
        "vec_id", "embedding", k = 3, nProbe = 2, shortlist = 20, excludeSelf = true)
      val plan = served.queryExecution.executedPlan.toString
      assert(plan.contains("dynamicpruning"),
        s"stage-1 codes scan must carry a dynamic partition-pruning filter on cell:\n$plan")
      // and the probe-pruned serve still returns dense ranked rows
      val rows = served.collect()
      assert(rows.nonEmpty && rows.forall(_.getAs[Long]("nbr_rank") <= 3))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }

    // compaction and purge preserve the cell layout
    Similarity.compactIvfadcIndex(spark, idx)
    val v1 = java.nio.file.Files.list(
        java.nio.file.Paths.get(graft.core.IndexLifecycle.resolveIndexDir(s"$idx/codes"), "batch=base"))
      .iterator()
    val names2 = scala.collection.mutable.ArrayBuffer[String]()
    while (v1.hasNext) names2 += v1.next().getFileName.toString
    assert(names2.forall(_.startsWith("cell=")) && names2.nonEmpty,
      s"compaction must keep cell partitioning, got $names2")
  }

  test("an IVFADC rebuild clears the previous generation's tombstones") {
    import spark.implicits._
    val rng = new Random(71)
    val all = randomVecs(rng, 80, 8).toDF("vec_id", "embedding")
    val idx = java.nio.file.Files.createTempDirectory("ivfadc_gen_").toString
    Similarity.buildIvfadcIndex(all, "vec_id", "embedding", idx,
      nCells = 4, m = 4, codebookSize = 8, seed = 42L, fitMaxIter = 4)
    Similarity.deleteFromIvfadcIndex(all.filter($"vec_id" === 7L), "vec_id", idx, "d1")
    // rebuild WITHOUT purging: the old marker must not hide vector 7 in the
    // new generation (the BM25-twin q192 regression, same latent bug here)
    Similarity.buildIvfadcIndex(all, "vec_id", "embedding", idx,
      nCells = 4, m = 4, codebookSize = 8, seed = 42L, fitMaxIter = 4)
    val served = Similarity.ivfadcTopKIndexed(spark, idx,
        all.filter($"vec_id" === 7L), "vec_id", "embedding", k = 1,
        nProbe = 4, shortlist = 80)
      .select("nbr_id").as[Long].collect().toSet
    assert(served == Set(7L),
      "a rebuilt index must retrieve the re-ingested vector (self-match)")
  }

  test("deleteFromIvfadcIndex: tombstoned vectors vanish from serving; purge erases physically; erasure outranks resurrection") {
    import spark.implicits._
    val rng = new Random(53)
    val vecs = randomVecs(rng, 160, 8)
    val all = vecs.toDF("vec_id", "embedding")
    val doomed = all.filter($"vec_id" % 5 === 2)
    val kept = all.filter($"vec_id" % 5 =!= 2)
    val queries = all.filter($"vec_id" < 6)
    val idx = java.nio.file.Files.createTempDirectory("ivfadc_del_").toString

    Similarity.buildIvfadcIndex(all, "vec_id", "embedding", idx,
      nCells = 8, m = 4, codebookSize = 8, seed = 42L, fitMaxIter = 8)
    Similarity.deleteFromIvfadcIndex(doomed, "vec_id", idx, "d1")

    def rows(d: org.apache.spark.sql.DataFrame) =
      d.select("query_id", "nbr_rank", "nbr_id").as[(Long, Long, Long)].collect().toSet
    // full-probe degeneracy: serving minus tombstones must equal exact
    // brute force over the SURVIVING corpus — absence and ranking in one gate
    val brute = rows(Similarity.bruteForceTopK(kept, queries, "vec_id", "embedding",
      k = 4, excludeSelf = true))
    def served() = rows(Similarity.ivfadcTopKIndexed(spark, idx, queries,
      "vec_id", "embedding", k = 4, nProbe = 8, shortlist = 160, excludeSelf = true))
    val pending = served()
    assert(pending == brute, "tombstone-pending serving must equal brute force over survivors")
    assert(!pending.exists { case (_, _, n) => n % 5 == 2 }, "no deleted id may serve")

    // physical purge: codes/vectors lose the ids, serving unchanged
    Similarity.purgeIvfadcIndex(spark, idx)
    val codes = spark.read.parquet(graft.core.IndexLifecycle.resolveIndexDir(s"$idx/codes"))
    assert(codes.filter($"nbr_id" % 5 === 2).count() == 0, "purge must erase codes")
    assert(spark.read.parquet(graft.core.IndexLifecycle.resolveIndexDir(s"$idx/vectors"))
      .filter($"nbr_id" % 5 === 2).count() == 0, "purge must erase vectors")
    assert(codes.count() == kept.count(), "purge must keep every survivor")
    assert(graft.core.IndexLifecycle.readMarkerTable(spark, idx, "tombstones").isEmpty,
      "purge must retire every pending marker from the serving generation")
    assert(served() == brute, "purged index must serve identically")

    // a tombstoned id re-appended BEFORE purge stays hidden...
    Similarity.deleteFromIvfadcIndex(all.filter($"vec_id" === 7L), "vec_id", idx, "d2")
    Similarity.appendIvfadcIndex(all.filter($"vec_id" === 7L), "vec_id", "embedding", idx, "b7")
    assert(!served().exists { case (_, _, n) => n == 7L },
      "erasure outranks resurrection while the tombstone is pending")
    // ...and resurfaces when re-appended AFTER the purge clears the marker
    Similarity.purgeIvfadcIndex(spark, idx)
    Similarity.appendIvfadcIndex(all.filter($"vec_id" === 7L), "vec_id", "embedding", idx, "b7")
    val resurfaced = rows(Similarity.bruteForceTopK(
      kept.filter($"vec_id" =!= 7L).unionByName(all.filter($"vec_id" === 7L)),
      queries, "vec_id", "embedding", k = 4, excludeSelf = true))
    assert(served() == resurfaced, "post-purge re-append must serve the id again")
  }

  test("hammingTopK matches driver-side brute force; ties break by nbr_id; excludeSelf respected") {
    import spark.implicits._
    val rng = new Random(61)
    val sigs = (0L until 64L).map(i => (i, rng.nextLong() & Long.MaxValue))
    val df = sigs.toDF("id", "sh")
    val queries = df.filter($"id" < 4)
    val got = Similarity.hammingTopK(df, queries, "id", "sh", k = 6, excludeSelf = true)
      .select("query_id", "nbr_rank", "nbr_id", "hamming")
      .as[(Long, Long, Long, Int)].collect().toSet
    val want = (for {
      (qid, qs) <- sigs.take(4)
      ranked = sigs.filter(_._1 != qid)
        .map { case (nid, ns) => (nid, java.lang.Long.bitCount(qs ^ ns)) }
        .sortBy { case (nid, h) => (h, nid) }.zipWithIndex
      ((nid, h), r) <- ranked.take(6)
    } yield (qid, r + 1L, nid, h)).toSet
    assert(got == want)
    assert(!got.exists { case (q, _, n, _) => q == n }, "excludeSelf must hold")
  }

  test("int8-quantized vectors preserve brute-force top-k recall (the serving claim)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rng = new Random(7)
    // jitter 3.0 (not the IVF test's 0.5): with near-identical in-cluster
    // vectors the top-5 ranking is a tie-break on margins far below int8
    // noise — realistic embeddings have neighbor margins, so give the
    // fixture some. The serving claim is "preserves real neighbors", not
    // "preserves the order of ties".
    val centers = Seq(Array(10f, 0f, 0f), Array(0f, 10f, 0f), Array(0f, 0f, 10f), Array(-10f, -10f, 0f))
    val df = Seq.tabulate(200) { i =>
      val c = centers(i % 4)
      (i.toLong, c.map(x => x + rng.nextFloat() * 3f))
    }.toDF("vec_id", "embedding")
    // quantize → dequantize: what a serving tier scoring int8 storage sees
    val dq = df
      .withColumn("__s", Similarity.int8Scale(col("embedding")))
      .withColumn("embedding",
        transform(Similarity.int8Quantize(col("embedding"), col("__s")),
          v => (v.cast("double") / col("__s")).cast("float")))
      .drop("__s")
    val queries = df.filter($"vec_id" < 8)
    def topSets(d: org.apache.spark.sql.DataFrame) =
      d.select("query_id", "nbr_id").as[(Long, Long)].collect()
        .groupBy(_._1).map { case (q, rows) => q -> rows.map(_._2).toSet }
    val exact = topSets(Similarity.bruteForceTopK(df, queries, "vec_id", "embedding", k = 5, excludeSelf = true))
    val quant = topSets(Similarity.bruteForceTopK(dq, queries, "vec_id", "embedding", k = 5, excludeSelf = true))
    val recall = exact.toSeq.map { case (q, bs) =>
      quant.getOrElse(q, Set.empty).intersect(bs).size.toDouble / bs.size
    }.sum / exact.size
    assert(recall >= 0.9, s"int8 recall $recall below 0.9 — quantization too lossy to serve")
  }

  test("twoStageTopK with m = |corpus| degenerates to exact brute force") {
    import spark.implicits._
    val rng = new Random(13)
    val vecs = randomVecs(rng, 60, 8)
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.filter($"vec_id" < 6)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.select("query_id", "nbr_rank", "nbr_id").as[(Long, Long, Long)].collect().toSet
    // with every corpus vector surviving stage 1, the fp32 rerank IS the
    // exact search — candidate generation can't have dropped anything
    val two = rows(Similarity.twoStageTopK(df, queries, "vec_id", "embedding",
      k = 4, m = 60, excludeSelf = true))
    val brute = rows(Similarity.bruteForceTopK(df, queries, "vec_id", "embedding",
      k = 4, excludeSelf = true))
    assert(two == brute)
  }

  test("twoStageTopK recall at small m on clustered data (the 4×-less-IO claim)") {
    import spark.implicits._
    val rng = new Random(17)
    val centers = Seq(Array(10f, 0f, 0f), Array(0f, 10f, 0f), Array(0f, 0f, 10f), Array(-10f, -10f, 0f))
    val df = Seq.tabulate(200) { i =>
      val c = centers(i % 4)
      (i.toLong, c.map(x => x + rng.nextFloat() * 3f))
    }.toDF("vec_id", "embedding")
    val queries = df.filter($"vec_id" < 8)
    def topSets(d: org.apache.spark.sql.DataFrame) =
      d.select("query_id", "nbr_id").as[(Long, Long)].collect()
        .groupBy(_._1).map { case (q, rows) => q -> rows.map(_._2).toSet }
    val exact = topSets(Similarity.bruteForceTopK(df, queries, "vec_id", "embedding", k = 5, excludeSelf = true))
    val two = topSets(Similarity.twoStageTopK(df, queries, "vec_id", "embedding",
      k = 5, m = 20, excludeSelf = true))
    val recall = exact.toSeq.map { case (q, bs) =>
      two.getOrElse(q, Set.empty).intersect(bs).size.toDouble / bs.size
    }.sum / exact.size
    assert(recall >= 0.9, s"two-stage recall $recall below 0.9 at m=4k")
  }

  test("pqTopK with shortlist = |corpus| degenerates to exact brute force") {
    import spark.implicits._
    val rng = new Random(19)
    val vecs = randomVecs(rng, 60, 8)
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.filter($"vec_id" < 6)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.select("query_id", "nbr_rank", "nbr_id").as[(Long, Long, Long)].collect().toSet
    // with every corpus vector surviving stage 1, the fp32 rerank IS the
    // exact search — PQ coding can't have dropped anything
    val pq = rows(Similarity.pqTopK(df, queries, "vec_id", "embedding",
      k = 4, m = 4, codebookSize = 8, shortlist = 60, excludeSelf = true))
    val brute = rows(Similarity.bruteForceTopK(df, queries, "vec_id", "embedding",
      k = 4, excludeSelf = true))
    assert(pq == brute)
  }

  test("pqTopK recall at a small shortlist on clustered data (the 32×-compression claim)") {
    import spark.implicits._
    val rng = new Random(23)
    val centers = Seq(Array(10f, 0f, 0f, 1f), Array(0f, 10f, 0f, -1f),
      Array(0f, 0f, 10f, 1f), Array(-10f, -10f, 0f, -1f))
    val df = Seq.tabulate(200) { i =>
      val c = centers(i % 4)
      (i.toLong, c.map(x => x + rng.nextFloat() * 3f))
    }.toDF("vec_id", "embedding")
    val queries = df.filter($"vec_id" < 8)
    def topSets(d: org.apache.spark.sql.DataFrame) =
      d.select("query_id", "nbr_id").as[(Long, Long)].collect()
        .groupBy(_._1).map { case (q, rows) => q -> rows.map(_._2).toSet }
    val exact = topSets(Similarity.bruteForceTopK(df, queries, "vec_id", "embedding", k = 5, excludeSelf = true))
    val pq = topSets(Similarity.pqTopK(df, queries, "vec_id", "embedding",
      k = 5, m = 2, codebookSize = 16, shortlist = 20, excludeSelf = true))
    val recall = exact.toSeq.map { case (q, bs) =>
      pq.getOrElse(q, Set.empty).intersect(bs).size.toDouble / bs.size
    }.sum / exact.size
    assert(recall >= 0.9, s"PQ recall $recall below 0.9 at shortlist=4k")
  }

  test("pqTopK over-cap ADC gate: blocked equi-join path is bit-identical and broadcast-free") {
    import spark.implicits._
    val rng = new Random(31)
    val vecs = randomVecs(rng, 60, 8)
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.filter($"vec_id" < 6)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.select("query_id", "nbr_rank", "nbr_id").as[(Long, Long, Long)].collect().toSet
    val under = Similarity.pqTopK(df, queries, "vec_id", "embedding",
      k = 4, m = 4, codebookSize = 8, shortlist = 12, excludeSelf = true)
    // adcBroadcastMaxBytes = 1 forces the over-cap fallback: same argmin /
    // shortlist / rerank semantics through a shuffled block join. Disable
    // the optimizer's OWN size-based broadcast so the static plan reveals
    // any forced broadcast hint on the ADC side (the tiny test ADC would
    // otherwise be auto-broadcast on stats, which is fine at real scale —
    // the gate's contract is only that nothing FORCES the broadcast)
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (cKey, _) => cKey -> spark.conf.getOption(cKey) }
    confs.foreach { case (cKey, v) => spark.conf.set(cKey, v) }
    try {
      val over = Similarity.pqTopK(df, queries, "vec_id", "embedding",
        k = 4, m = 4, codebookSize = 8, shortlist = 12, excludeSelf = true,
        adcBroadcastMaxBytes = 1L)
      // capture the STATIC plan before execution (post-collect AQE rewrites
      // would reflect measured runtime sizes, not the hint discipline)
      val plan = over.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"over-cap pqTopK must not BNLJ:\n$plan")
      assert(!plan.contains("CartesianProduct"),
        s"over-cap pqTopK must not go cartesian:\n$plan")
      assert(!plan.contains("BroadcastHashJoin [__blk"),
        s"over-cap pqTopK must not force-broadcast the ADC table:\n$plan")
      assert(plan.contains("SortMergeJoin [__blk") ||
             plan.contains("ShuffledHashJoin [__blk"),
        s"over-cap pqTopK stage 1 must be a shuffled equi-join on __blk:\n$plan")
      assert(rows(over) == rows(under))
    } finally saved.foreach {
      case (cKey, Some(v)) => spark.conf.set(cKey, v)
      case (cKey, None)    => spark.conf.unset(cKey)
    }
  }

  test("coarse-codebook gate: broadcast carrier serves IVFADC bit-identically to the literal one") {
    import spark.implicits._
    val rng = new Random(37)
    val vecs = randomVecs(rng, 80, 8)
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.filter($"vec_id" < 6)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.select("query_id", "nbr_rank", "nbr_id").as[(Long, Long, Long)].collect().toSet
    val literal = rows(Similarity.ivfadcTopK(df, queries, "vec_id", "embedding",
      k = 4, nCells = 8, nProbe = 3, m = 4, codebookSize = 8, shortlist = 20,
      excludeSelf = true, coarseLiteralMaxBytes = Long.MaxValue))
    // coarseLiteralMaxBytes = 0 forces the BroadcastCodebooks carrier for
    // cell assignment, residuals, and probe selection
    val bcast = rows(Similarity.ivfadcTopK(df, queries, "vec_id", "embedding",
      k = 4, nCells = 8, nProbe = 3, m = 4, codebookSize = 8, shortlist = 20,
      excludeSelf = true, coarseLiteralMaxBytes = 0L))
    assert(bcast == literal, "broadcast coarse carrier must be bit-identical")
    // and the persisted lifecycle (build → append → serve) under the gate
    val idx = java.nio.file.Files.createTempDirectory("ivfadc_gate_").toString
    Similarity.buildIvfadcIndex(df.filter($"vec_id" % 2 === 0), "vec_id", "embedding",
      idx, nCells = 8, m = 4, codebookSize = 8, coarseLiteralMaxBytes = 0L)
    Similarity.appendIvfadcIndex(df.filter($"vec_id" % 2 === 1), "vec_id", "embedding",
      idx, "g1", coarseLiteralMaxBytes = 0L)
    val servedGated = rows(Similarity.ivfadcTopKIndexed(spark, idx, queries,
      "vec_id", "embedding", k = 4, nProbe = 3, shortlist = 20,
      excludeSelf = true, coarseLiteralMaxBytes = 0L))
    val servedLit = rows(Similarity.ivfadcTopKIndexed(spark, idx, queries,
      "vec_id", "embedding", k = 4, nProbe = 3, shortlist = 20,
      excludeSelf = true, coarseLiteralMaxBytes = Long.MaxValue))
    assert(servedGated == servedLit,
      "gated serving over a gated-built index must match the literal serve")
  }

  test("ivfadcTopK with nProbe = nCells and shortlist = |corpus| degenerates to exact brute force") {
    import spark.implicits._
    val rng = new Random(29)
    val vecs = randomVecs(rng, 60, 8)
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.filter($"vec_id" < 6)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.select("query_id", "nbr_rank", "nbr_id").as[(Long, Long, Long)].collect().toSet
    // every cell probed + every survivor reranked in fp32 ⇒ the coarse and
    // PQ approximations can't have dropped anything
    val got = rows(Similarity.ivfadcTopK(df, queries, "vec_id", "embedding",
      k = 4, nCells = 4, nProbe = 4, m = 4, codebookSize = 8, shortlist = 60,
      excludeSelf = true))
    val brute = rows(Similarity.bruteForceTopK(df, queries, "vec_id", "embedding",
      k = 4, excludeSelf = true))
    assert(got == brute)
  }

  test("ivfadcTopK recall at small nProbe + shortlist on clustered data (the pruned-scan claim)") {
    import spark.implicits._
    val rng = new Random(31)
    val centers = Seq(Array(10f, 0f, 0f, 1f), Array(0f, 10f, 0f, -1f),
      Array(0f, 0f, 10f, 1f), Array(-10f, -10f, 0f, -1f))
    val df = Seq.tabulate(200) { i =>
      val c = centers(i % 4)
      (i.toLong, c.map(x => x + rng.nextFloat() * 3f))
    }.toDF("vec_id", "embedding")
    val queries = df.filter($"vec_id" < 8)
    def topSets(d: org.apache.spark.sql.DataFrame) =
      d.select("query_id", "nbr_id").as[(Long, Long)].collect()
        .groupBy(_._1).map { case (q, rows) => q -> rows.map(_._2).toSet }
    val exact = topSets(Similarity.bruteForceTopK(df, queries, "vec_id", "embedding", k = 5, excludeSelf = true))
    val got = topSets(Similarity.ivfadcTopK(df, queries, "vec_id", "embedding",
      k = 5, nCells = 8, nProbe = 3, m = 2, codebookSize = 16, shortlist = 20,
      excludeSelf = true))
    val recall = exact.toSeq.map { case (q, bs) =>
      got.getOrElse(q, Set.empty).intersect(bs).size.toDouble / bs.size
    }.sum / exact.size
    assert(recall >= 0.9, s"IVFADC recall $recall below 0.9")
  }

  test("int8 quantization: max|x| maps to ±127, zero vector stays zero, error ≤ 0.5/scale") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rows = Seq(
      (1L, Seq(0.5f, -1.0f, 0.25f, 0.0f)),
      (2L, Seq(0.0f, 0.0f, 0.0f, 0.0f)),       // zero vector: scale 0, q all 0
      (3L, Seq(3.0f, -2.0f, 1.5f, 0.001f))
    ).toDF("vec_id", "embedding")
      .withColumn("scale", Similarity.int8Scale(col("embedding")))
      .withColumn("q", Similarity.int8Quantize(col("embedding"), col("scale")))
      .collect()
      .map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Double]("scale"), r.getSeq[Int](r.fieldIndex("q")).toList)))
      .toMap
    val (s1, q1) = rows(1L)
    assert(q1 == Seq(64, -127, 32, 0), "0.5·127 = 63.5 rounds away from zero")
    val (s2, q2) = rows(2L)
    assert(s2 == 0.0 && q2.forall(_ == 0), "zero vector must quantize to zeros, not NaN")
    val (s3, q3) = rows(3L)
    assert(q3.head == 127 && s3 > 0, "the max-magnitude element maps to full scale")
    // dequantization error bound: |x - q/scale| <= 0.5/scale
    Seq(0.5f, -1.0f, 0.25f, 0.0f).zip(q1).foreach { case (x, q) =>
      assert(math.abs(x - q / s1) <= 0.5 / s1 + 1e-12)
    }
  }

  // ---- recall gate on the REAL shipped corpus (not a synthetic fixture):
  //      quantizer drift against the actual embedding distribution is
  //      caught by CI, not by a human reading bench artifacts. Uses the
  //      largest corpus present (sf0.1 normally; falls back if absent) and
  //      q18's production parameters.
  test("IVF recall vs brute force holds on the shipped embeddings corpus at q18's settings") {
    import spark.implicits._
    val dir = Seq("/root/testdata/sf0.1", "/root/testdata/sf0.01", "/root/testdata/sf0.001")
      .find(d => new java.io.File(s"$d/embeddings.parquet").exists())
      .getOrElse(cancel("no testdata corpus present"))
    val emb = graft.Tables.embeddings(spark, dir)
    val queries = emb.filter($"vec_id" % 100 === 0) // spread probes across the corpus
    def topSets(d: org.apache.spark.sql.DataFrame) =
      d.select("query_id", "nbr_id").as[(Long, Long)].collect()
        .groupBy(_._1).map { case (q, rows) => q -> rows.map(_._2).toSet }
    val brute = topSets(Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding",
      k = 5, excludeSelf = true))
    val ivf = topSets(Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
      k = 5, nCells = 16, nProbe = 8, excludeSelf = true))
    val recall = brute.toSeq.map { case (q, bs) =>
      ivf.getOrElse(q, Set.empty).intersect(bs).size.toDouble / bs.size
    }.sum / brute.size
    // this corpus is near-uniform on the cosine sphere, so IVF recall is
    // ≈ the fraction of cells probed (measured: 0.58 at 4/16, 0.84 at
    // 8/16, 0.96 at 12/16 — the first gate run caught q18's old 4/16
    // setting under-recalling at exactly this rate). 0.8 at 8/16 is the
    // drift alarm for THIS distribution; clustered corpora clear 0.9 at
    // 4/16 (the synthetic-fixture test above)
    assert(recall >= 0.8, s"IVF recall $recall below 0.8 on $dir — quantizer drift")
  }
}
