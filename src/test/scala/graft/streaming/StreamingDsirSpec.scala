package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.functions.Dsir

/** Persisted DSIR model + streaming admission gate.
  *
  * The load-bearing claim of the indexed path is BIT-EXACT equivalence:
  * build(base) + append(day2) + compact must score identically to a
  * one-shot [[Dsir.importance]] fit on the union — the count tables are
  * additive partials of the same integers, so every downstream logratio
  * (a deterministic function of those integers through portable ln) is
  * the same double. No tolerance, no approximation. */
class StreamingDsirSpec extends SparkSpec {

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private val target = Seq(
    1L -> "alpha beta gamma delta alpha beta gamma",
    2L -> "beta gamma alpha delta beta gamma alpha")
  private val poolBase = Seq(
    10L -> "alpha beta gamma delta",
    11L -> "zork quux blarg wibble",
    12L -> "alpha beta zork quux")
  private val poolDay2 = Seq(
    13L -> "gamma delta alpha beta gamma",
    14L -> "wibble wobble zap blarg")

  test("build + append + compact scores bit-for-bit like the one-shot fit") {
    val root = Files.createTempDirectory("dsir_idx_").toString
    val idx = s"$root/model"
    Dsir.buildDsirIndex(docs(target: _*), docs(poolBase: _*),
      "doc_id", "text", idx, buckets = 256)
    Dsir.appendDsirIndex(docs(poolDay2: _*), "doc_id", "text", idx, "day2")
    Dsir.compactDsirIndex(spark, idx)

    val probe = docs((poolBase ++ poolDay2) :+ (15L -> ""): _*)
    val indexed = Dsir.importanceIndexed(spark, idx, probe, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    val oneShot = Dsir.importance(docs(target: _*),
        docs((poolBase ++ poolDay2): _*), "doc_id", "text", buckets = 256)
      .collect().map(r => r.getLong(0) -> (r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    // importance rounds to 6 dp and importanceIndexed does the same — the
    // underlying averages are the same doubles, so rounded forms match too
    (poolBase ++ poolDay2).foreach { case (id, _) =>
      assert(indexed(id) == oneShot(id),
        s"doc $id: indexed=${indexed(id)} oneShot=${oneShot(id)}")
    }
    assert(indexed(15L) == (0L -> None), "empty doc: 0 feats, null score")
  }

  test("streaming gate admits only docs clearing the frozen cutoff, across batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val root = Files.createTempDirectory("dsir_gate_").toString
    val idx = s"$root/model"
    Dsir.buildDsirIndex(docs(target: _*), docs(poolBase: _*),
      "doc_id", "text", idx, buckets = 256)

    val source = MemoryStream[(Long, String)]
    val kept = s"$root/kept"
    val q = StreamingDsirGate.start(source.toDF().toDF("doc_id", "text"),
      "doc_id", "text", idx, kept, s"$root/ckpt", minLogratio = 0.0,
      trigger = Trigger.ProcessingTime(0L))
    try {
      // batch 0: one target-like, one alien
      source.addData(100L -> "alpha beta gamma delta alpha", 101L -> "zork quux blarg")
      q.processAllAvailable()
      // batch 1: another target-like, one empty (unscoreable => rejected)
      source.addData(102L -> "beta gamma alpha delta", 103L -> "")
      q.processAllAvailable()
    } finally q.stop()

    val keptIds = spark.read.parquet(kept).select("doc_id").as[Long].collect().toSet
    assert(keptIds == Set(100L, 102L),
      s"kept $keptIds: alien 101 and empty 103 must be rejected")

    // the gate's verdicts replay offline: the same docs scored fit-free
    // against the same frozen model clear / fail the same threshold
    val offline = Dsir.importanceIndexed(spark, idx,
        docs(100L -> "alpha beta gamma delta alpha", 101L -> "zork quux blarg",
          102L -> "beta gamma alpha delta", 103L -> ""),
        "doc_id", "text")
      .filter(col("n_feats") > 0 && col("logratio") >= 0.0)
      .select("doc_id").as[Long].collect().toSet
    assert(offline == keptIds, "stream admission must equal offline replay")
  }

  test("mismatched bucket counts across stats partials fail loudly once committed; uncommitted stays invisible") {
    val root = Files.createTempDirectory("dsir_bad_").toString
    val idx = s"$root/model"
    Dsir.buildDsirIndex(docs(target: _*), docs(poolBase: _*),
      "doc_id", "text", idx, buckets = 128)
    // forge a second scalar stats partial with a different bucket count
    graft.core.IndexLifecycle.writeScalars(s"$idx/stats", "bogus",
      Map("t_occ" -> 1L, "r_occ" -> 1L, "buckets" -> 512L))
    // UNCOMMITTED (torn/foreign) partitions are invisible by the batch
    // manifest — scoring keeps working against the committed model
    assert(Dsir.importanceIndexed(spark, idx, docs(10L -> "alpha"),
      "doc_id", "text").count() == 1L)
    // once COMMITTED, the config drift is a loud error, not a mis-prune
    graft.core.IndexLifecycle.commitVisibleBatch(idx, "bogus")
    val e = intercept[IllegalArgumentException] {
      Dsir.importanceIndexed(spark, idx, docs(10L -> "alpha"), "doc_id", "text")
    }
    assert(e.getMessage.contains("distinct bucket counts"))
  }
}
