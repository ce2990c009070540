package graft.similarity

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.IndexLifecycle
import graft.dedup.Dedup
import graft.functions.NearestCentroids

class KnnGraphSpec extends SparkSpec {

  private def vec(xs: Double*): Seq[Double] = xs

  test("NearestCentroids equals brute-force top-p by squared L2, ties to lower index") {
    import spark.implicits._
    val cb = Seq(vec(0, 0), vec(1, 0), vec(0, 1), vec(1, 1), vec(0.5, 0.5))
    val pts = Seq(vec(0.1, 0.0), vec(0.9, 0.9), vec(0.5, 0.5), vec(0.5, 0.5))
    val got = pts.toDF("v")
      .select(NearestCentroids(col("v"), cb, 3).as("p"))
      .as[Seq[Int]].collect().toSeq
    def brute(x: Seq[Double]): Seq[Int] = cb.indices
      .map(i => (cb(i).zip(x).map { case (a, b) => (a - b) * (a - b) }.sum, i))
      .sortBy(identity).take(3).map(_._2)
    assert(got == pts.map(brute), s"got $got")
    // a point equidistant to several centroids keeps scan (= index) order
    assert(got(2).head == 4 && got(2).tail.toSet.subsetOf(Set(0, 1, 2, 3)))
  }

  test("p >= centroid count returns every index, nearest first") {
    import spark.implicits._
    val cb = Seq(vec(0.0), vec(10.0))
    val got = Seq(vec(9.0)).toDF("v")
      .select(NearestCentroids(col("v"), cb, 5).as("p"))
      .as[Seq[Int]].head()
    assert(got == Seq(1, 0))
  }

  test("knnGraphIndexed with full probing equals per-doc brute-force cosine top-k") {
    import spark.implicits._
    val root = Files.createTempDirectory("knn_").toString
    // two clusters + a bridge point, deterministic coordinates
    val pts = Seq(
      1L -> vec(1.0, 0.0, 0.0), 2L -> vec(0.9, 0.1, 0.0), 3L -> vec(0.8, 0.2, 0.0),
      4L -> vec(0.0, 1.0, 0.0), 5L -> vec(0.1, 0.9, 0.0), 6L -> vec(0.0, 0.8, 0.2),
      7L -> vec(0.5, 0.5, 0.0))
    val df = pts.toDF("vec_id", "embedding")
    Dedup.buildSemanticIndex(df, "vec_id", "embedding", s"$root/idx", nClusters = 4)
    val nCells = spark.read.parquet(s"$root/idx/centroids").count().toInt
    val got = Similarity.knnGraphIndexed(spark, s"$root/idx", k = 3, nProbe = nCells)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // brute reference on the driver
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val m = pts.toMap
    pts.foreach { case (q, qv) =>
      val want = pts.filter(_._1 != q)
        .map { case (n, nv) => (n, cos(qv, nv)) }
        .sortBy { case (n, c) => (-c, n) }.take(3).map(_._1)
      val gotN = (1 to 3).map(r => got((q, r.toLong)))
      assert(gotN == want, s"query $q: got $gotN want $want (m=${m(q)})")
    }
  }

  test("codebook-literal gate: join geometries assign and probe identically to the literal ones") {
    import spark.implicits._
    val rng = new scala.util.Random(23)
    val vecs = (1L to 200L).map(i =>
      (i, Seq.fill(6)(rng.nextDouble() * 8 - 4))).toDF("vec_id", "embedding")
    def geoParity(idxDir: String): Unit = {
      val lit0 = Similarity.loadGeometry(spark, idxDir,
        literalMaxBytes = Long.MaxValue)
      val join0 = Similarity.loadGeometry(spark, idxDir, literalMaxBytes = 0L)
      val litAssign = lit0.assignFrame(vecs, "vec_id", "embedding")
        .select("doc_id", "cell").as[(Long, Int)].collect().toMap
      val joinAssign = join0.assignFrame(vecs, "vec_id", "embedding")
        .select("doc_id", "cell").as[(Long, Int)].collect().toMap
      assert(joinAssign == litAssign, s"assignFrame parity broke for $idxDir")
      val litProbes = lit0.probeCells(vecs, "vec_id", "embedding", 2)
        .as[(Long, Int)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val joinProbes = join0.probeCells(vecs, "vec_id", "embedding", 2)
        .as[(Long, Int)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      assert(joinProbes == litProbes, s"probeCells parity broke for $idxDir")
    }
    val flat = Files.createTempDirectory("geo_flat_").toString + "/idx"
    Dedup.buildSemanticIndex(vecs, "vec_id", "embedding", flat, nClusters = 8)
    geoParity(flat)
    val two = Files.createTempDirectory("geo_two_").toString + "/idx"
    Dedup.buildSemanticIndex(vecs, "vec_id", "embedding", two,
      nClusters = 8, targetCell = 10, twoLevelCutover = 4)
    assert(spark.read.parquet(s"$two/centroids").columns.contains("top"))
    geoParity(two)
  }

  test("maxCell skew guard drops hot cells whole") {
    import spark.implicits._
    val root = Files.createTempDirectory("knn_hot_").toString
    // 30 identical vectors (one hot cell) + 3 distinct ones
    val hot = (100L to 129L).map(i => i -> vec(1.0, 0.0))
    val cool = Seq(1L -> vec(0.0, 1.0), 2L -> vec(0.1, 0.9), 3L -> vec(0.0, 0.8))
    val df = (hot ++ cool).toDF("vec_id", "embedding")
    Dedup.buildSemanticIndex(df, "vec_id", "embedding", s"$root/idx", nClusters = 2)
    val out = Similarity.knnGraphIndexed(spark, s"$root/idx", k = 2, nProbe = 1,
      maxCell = 10)
    val ids = out.select("query_id").as[Long].collect().toSet
    assert(!ids.exists(_ >= 100L), s"hot-cell members must be dropped: $ids")
    assert(ids.nonEmpty, "cool cell still produces neighbors")
  }

  test("hardNegatives: only cross-label neighbors, contiguous ranks, unlabeled anchors dropped") {
    import spark.implicits._
    val root = Files.createTempDirectory("hardneg_").toString
    val pts = Seq(
      (1L, vec(1.0, 0.0), Some(0)), (2L, vec(0.95, 0.05), Some(0)),
      (3L, vec(0.9, 0.1), Some(1)), (4L, vec(0.85, 0.15), Some(1)),
      (5L, vec(0.0, 1.0), Some(0)), (6L, vec(0.1, 0.9), None))
    val df = pts.map { case (i, v, _) => (i, v) }.toDF("vec_id", "embedding")
    Dedup.buildSemanticIndex(df, "vec_id", "embedding", s"$root/idx", nClusters = 2)
    val nCells = spark.read.parquet(s"$root/idx/centroids").count().toInt
    val labels = pts.collect { case (i, _, Some(l)) => (i, l) }.toDF("doc_id", "label")
    val out = Similarity.hardNegativesIndexed(spark, s"$root/idx", labels,
        k = 2, nProbe = nCells)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val lab = pts.collect { case (i, _, Some(l)) => i -> l }.toMap
    assert(out.forall { case (q, _, n) => lab(q) != lab(n) },
      s"every reported neighbor must carry a different label: $out")
    assert(!out.exists(_._1 == 6L) && !out.exists(_._3 == 6L),
      "unlabeled docs appear on neither side")
    // anchor 1 (label 0): its different-label pool is {3, 4}; both probed
    // cells visible, so ranks 1..2 are exactly 3 then 4 (cosine order)
    assert(out.filter(_._1 == 1L).map(x => (x._2, x._3)) == Seq((1L, 3L), (2L, 4L)))
  }

  test("incremental append equals a from-scratch rebuild over the unioned index") {
    import spark.implicits._
    val root = Files.createTempDirectory("knn_app_").toString
    // deterministic spread: two loose clusters, base = first 12, batch = 6 more
    val all = (1L to 18L).map(i =>
      i -> vec(math.cos(i * 0.35), math.sin(i * 0.35), (i % 5) * 0.2))
    val (base, batch) = all.partition(_._1 <= 12L)
    Dedup.buildSemanticIndex(base.toDF("vec_id", "embedding"),
      "vec_id", "embedding", s"$root/idx", nClusters = 4)
    Similarity.knnGraphBuild(spark, s"$root/idx", s"$root/g", k = 3, nProbe = 2)
    Similarity.knnGraphAppend(batch.toDF("vec_id", "embedding"),
      "vec_id", "embedding", s"$root/idx", s"$root/g", gen = 1L, k = 3, nProbe = 2)

    // from-scratch over the SAME index (append folded the vectors in, same
    // frozen centroids, same probe discipline) — must match row for row
    val scratch = Similarity.knnGraphIndexed(spark, s"$root/idx", k = 3, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val inc = Similarity.knnGraphRead(spark, s"$root/g")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(inc == scratch, s"incremental:\n$inc\nfrom-scratch:\n$scratch")

    // compaction resolves supersession physically and preserves the graph
    Similarity.compactKnnGraph(spark, s"$root/g")
    val compacted = Similarity.knnGraphRead(spark, s"$root/g")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(compacted == inc)
    // post-compaction the edges dir holds exactly one row per (anchor, rank)
    val dup = spark.read.parquet(IndexLifecycle.resolveIndexDir(s"$root/g/edges"))
      .groupBy("query_id", "nbr_rank").count().filter(col("count") > 1).count()
    assert(dup == 0L, "compaction must leave no superseded rows")
  }

  test("append touches only new and affected anchors; untouched rows keep gen 0") {
    import spark.implicits._
    val root = Files.createTempDirectory("knn_app2_").toString
    // two far-apart clusters; the batch lands entirely in cluster B, so
    // cluster-A anchors (probing only A cells) must remain untouched
    val clusterA = (1L to 6L).map(i => i -> vec(10.0 + 0.01 * i, 0.0))
    val clusterB = (11L to 16L).map(i => i -> vec(0.0, 10.0 + 0.01 * i))
    Dedup.buildSemanticIndex((clusterA ++ clusterB).toDF("vec_id", "embedding"),
      "vec_id", "embedding", s"$root/idx", nClusters = 2)
    Similarity.knnGraphBuild(spark, s"$root/idx", s"$root/g", k = 2, nProbe = 1)
    val newB = Seq(20L -> vec(0.0, 10.05))
    val updated = Similarity.knnGraphAppend(newB.toDF("vec_id", "embedding"),
      "vec_id", "embedding", s"$root/idx", s"$root/g", gen = 1L, k = 2, nProbe = 1)
      .select("query_id").as[Long].collect().toSet
    assert(updated.contains(20L), "the new anchor is ranked")
    assert(!updated.exists(q => q >= 1L && q <= 6L),
      s"cluster-A anchors must not be re-ranked: $updated")
    // and the persisted rows agree: cluster-A edges still gen 0
    val gens = spark.read.parquet(IndexLifecycle.resolveIndexDir(s"$root/g/edges"))
      .filter(col("query_id") <= 6L).select("gen").distinct()
      .as[Long].collect().toSeq
    assert(gens == Seq(0L), s"untouched anchors keep their gen-0 rows: $gens")
  }

  test("streaming maintenance across micro-batches equals from-scratch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger

    val root = Files.createTempDirectory("knn_stream_").toString
    val base = (1L to 10L).map(i => i -> vec(math.cos(i * 0.5), math.sin(i * 0.5)))
    Dedup.buildSemanticIndex(base.toDF("vec_id", "embedding"),
      "vec_id", "embedding", s"$root/idx", nClusters = 3)
    graft.similarity.Similarity.knnGraphBuild(spark, s"$root/idx", s"$root/g",
      k = 3, nProbe = 2)

    val source = MemoryStream[(Long, Seq[Double])]
    val q = graft.streaming.StreamingKnnGraph.start(
      source.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      s"$root/idx", s"$root/g", s"$root/ckpt", k = 3, nProbe = 2,
      trigger = Trigger.ProcessingTime(0L))
    try {
      source.addData(11L -> vec(math.cos(5.5), math.sin(5.5)))
      q.processAllAvailable()
      source.addData(12L -> vec(math.cos(6.0), math.sin(6.0)),
        13L -> vec(math.cos(0.2), math.sin(0.2)))
      q.processAllAvailable()
    } finally q.stop()

    val inc = Similarity.knnGraphRead(spark, s"$root/g")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val scratch = Similarity.knnGraphIndexed(spark, s"$root/idx", k = 3, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(inc == scratch,
      s"two streamed generations must equal from-scratch:\n$inc\nvs\n$scratch")
    assert(inc.keySet.map(_._1).size == 13, "all 13 vectors are anchors")
  }

  test("two-level index: full probing equals brute force; append equals rebuild") {
    import spark.implicits._
    val root = Files.createTempDirectory("knn_2l_").toString
    val all = (1L to 30L).map(i =>
      i -> vec(math.cos(i * 0.21), math.sin(i * 0.21), (i % 4) * 0.3))
    val (base, batch) = all.partition(_._1 <= 20L)
    // nClusters > twoLevelCutover forces the hierarchical fit
    Dedup.buildSemanticIndex(base.toDF("vec_id", "embedding"),
      "vec_id", "embedding", s"$root/idx", nClusters = 9, twoLevelCutover = 4)
    assert(spark.read.parquet(s"$root/idx/centroids").columns.contains("top"),
      "fixture must actually be two-level")
    val nTops = spark.read.parquet(s"$root/idx/topcentroids").count().toInt

    // full probing (all tops, all leaves) == per-doc brute-force cosine
    val got = Similarity.knnGraphIndexed(spark, s"$root/idx", k = 3,
        nProbe = 9, nProbeTop = nTops)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    base.foreach { case (q, qv) =>
      val want = base.filter(_._1 != q)
        .map { case (n, nv) => (n, cos(qv, nv)) }
        .sortBy { case (n, c) => (-c, n) }.take(3).map(_._1)
      assert((1 to 3).map(r => got((q, r.toLong))) == want, s"anchor $q")
    }

    // incremental append over the SAME two-level geometry == from-scratch
    Similarity.knnGraphBuild(spark, s"$root/idx", s"$root/g", k = 3,
      nProbe = 2, nProbeTop = 2)
    Similarity.knnGraphAppend(batch.toDF("vec_id", "embedding"),
      "vec_id", "embedding", s"$root/idx", s"$root/g", gen = 1L, k = 3,
      nProbe = 2, nProbeTop = 2)
    val inc = Similarity.knnGraphRead(spark, s"$root/g")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val scratch = Similarity.knnGraphIndexed(spark, s"$root/idx", k = 3,
        nProbe = 2, nProbeTop = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(inc == scratch, s"two-level append == rebuild:\n$inc\nvs\n$scratch")
  }

  test("plan: no cartesian/nested-loop join; top-k pushes a partial WindowGroupLimit") {
    import spark.implicits._
    val root = Files.createTempDirectory("knn_plan_").toString
    val df = (1L to 40L).map(i => i -> vec(i.toDouble, (i % 7).toDouble))
      .toDF("vec_id", "embedding")
    Dedup.buildSemanticIndex(df, "vec_id", "embedding", s"$root/idx", nClusters = 4)
    val plan = Similarity.knnGraphIndexed(spark, s"$root/idx", k = 3, nProbe = 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"scale-killing join shape:\n$plan")
    assert(plan.sliding("WindowGroupLimit".length).count(_ == "WindowGroupLimit") >= 2,
      s"expected partial+final WindowGroupLimit around the exchange:\n$plan")
  }
}
