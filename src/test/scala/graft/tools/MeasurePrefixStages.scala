package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions.{charNgrams, xxhash64Seeded}

/** Stage-level timing of the prefix-filter Jaccard pipeline (q127 shape):
  * replays each stage of [[graft.dedup.Dedup.prefixFilterJaccard]] with a
  * noop sink so the cost of token derivation / df agg / prefix build /
  * candidate expansion / verification is attributed separately (guide §1).
  *
  *   sbt "Test/runMain graft.tools.MeasurePrefixStages /root/testdata/sf0.1"
  */
object MeasurePrefixStages {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.local(graft.GraftSession.cpus, Some(sfDir))
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")

    def time(label: String)(df: => DataFrame): Unit = {
      // warm once to amortize JIT, then measure twice, report min
      val secs = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        df.write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[stage] $label%-34s ${secs.drop(1).min}%6.2f s (cold ${secs.head}%.2f)")
    }

    val n = 8
    val base = docs.select(col("doc_id"), lower(col("text")).as("__lt"))
      .select(col("doc_id"), charNgrams(col("__lt"), n).as("g"))

    time("ngrams only") {
      base.select(col("doc_id"), size(col("g")).as("m"))
    }
    time("md5 tokens") {
      base.select(col("doc_id"),
        array_distinct(transform(col("g"),
          g => conv(substring(md5(g), 1, 15), 16, 10).cast("long"))).as("toks"))
    }
    time("md5 tokens, inner distinct first") {
      base.select(col("doc_id"),
        array_distinct(transform(array_distinct(col("g")),
          g => conv(substring(md5(g), 1, 15), 16, 10).cast("long"))).as("toks"))
    }
    time("xxhash sets") {
      base.select(col("doc_id"),
        array_sort(array_distinct(transform(col("g"),
          g => xxhash64Seeded(17L, g)))).as("hs"))
    }
    time("both (the gr frame)") {
      base.select(col("doc_id"),
        array_distinct(transform(col("g"),
          g => conv(substring(md5(g), 1, 15), 16, 10).cast("long"))).as("toks"),
        array_sort(array_distinct(transform(col("g"),
          g => xxhash64Seeded(17L, g)))).as("hs"))
    }

    // downstream stages over a persisted gr (as the real pipeline does)
    val gr = base.select(col("doc_id"),
      array_distinct(transform(col("g"),
        g => conv(substring(md5(g), 1, 15), 16, 10).cast("long"))).as("toks"),
      array_sort(array_distinct(transform(col("g"),
        g => xxhash64Seeded(17L, g)))).as("hs")).persist()
    println(s"[stage] gr rows = ${gr.count()}")
    val toks = gr.select(col("doc_id"), size(col("toks")).as("sz"),
      explode(col("toks")).as("tok"))
    val dfs = toks.groupBy("tok").agg(count(lit(1)).as("df")).persist()
    println(s"[stage] dfs rows = ${dfs.count()}")
    time("df aggregation (from cached gr)") {
      toks.groupBy("tok").agg(count(lit(1)).as("df"))
    }
    val (tnI, tdI) = (4, 5)
    def prefixOf(d: DataFrame): DataFrame = toks.join(d, "tok")
      .groupBy("doc_id", "sz")
      .agg(sort_array(collect_list(struct(col("df"), col("tok")))).as("ord"))
      .select(col("doc_id"), col("sz"),
        posexplode(slice(transform(col("ord"), s => s.getField("tok")), lit(1),
          expr(s"CAST(sz - ($tnI * sz + $tdI - 1)" +
            s" div $tdI + 1 AS INT)"))).as(Seq("pos", "tok")))
      .select(col("doc_id"), col("sz"), (col("pos") + 1).as("rn"), col("tok"))
    time("prefix build (broadcast dfs)") { prefixOf(broadcast(dfs)) }
    val prefix = prefixOf(broadcast(dfs))
    val buckets = prefix
      .groupBy("tok")
      .agg(collect_list(struct(col("doc_id"), col("sz"), col("rn"))).as("ids"))
      .filter(size(col("ids")).between(2, 200))
    val (tn, td) = (lit(4L), lit(5L))
    val candidates = buckets
      .select(array_sort(col("ids")).as("s"))
      .select(explode(flatten(transform(col("s"), (a, i) =>
        transform(slice(col("s"), i + lit(2), size(col("s"))),
          b => struct(
            a.getField("doc_id").as("id_a"), b.getField("doc_id").as("id_b"),
            a.getField("sz").as("sz_a"), b.getField("sz").as("sz_b"),
            a.getField("rn").as("rn_a"), b.getField("rn").as("rn_b")))))).as("p"))
      .select(col("p.*"))
      .filter(td * least(col("sz_a"), col("sz_b")) >=
        tn * greatest(col("sz_a"), col("sz_b")))
      .filter(lit(1) + least(col("sz_a") - col("rn_a"), col("sz_b") - col("rn_b")) >=
        expr("(4 * (sz_a + sz_b) + 8) div 9"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    time("buckets+candidates+distinct") { candidates }
    spark.stop()
  }
}
