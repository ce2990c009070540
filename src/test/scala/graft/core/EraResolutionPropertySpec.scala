package graft.core

import scala.util.Random

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.SparkSpec

/** The resolution rule behind schema evolution: `maskSince` ∘ `eraColumn`
  * is the store's one era resolver — every read path, point lookups
  * included, serves rows it resolved. This spec checks it against
  * [[referenceEra]], a row-at-a-time statement of the rule (the driver-
  * side renderer the store used to serve lookups with), through
  * randomized rename chains, availability subsets, `since` masks, and row
  * seqs (fixed seed), plus the hand-picked boundary cases, and asserts
  * identical wire output. */
class EraResolutionPropertySpec extends SparkSpec {

  /** The reference rule for feature `f` over a row laid out as `r`'s
    * schema: the name that held `f` when the row was written, or — when a
    * rewrite materialized the era — the first NEWER name in the chain the
    * layout carries (a rewrite renders to the name current at rewrite
    * time, possibly an intermediate alias); null below `f.since`. */
  private def referenceEra(f: FeatureDef, r: Row): String = {
    val schema = r.schema
    def idxOf(n: String): Option[Int] =
      try Some(schema.fieldIndex(n))
      catch { case _: IllegalArgumentException => None }
    val rowSeq: Long = idxOf(EngineColumns.IngestSeq)
      .filterNot(r.isNullAt).map(r.getLong).getOrElse(Long.MaxValue)
    val srcIdx: Option[Int] =
      if (f.renames.isEmpty || rowSeq >= f.renames.head._2) idxOf(f.name)
      else {
        val i = f.renames.indices.find(j =>
          rowSeq >= f.renames.lift(j + 1).map(_._2).getOrElse(0L))
          .getOrElse(f.renames.size - 1)
        ((i to 0 by -1).map(j => f.renames(j)._1) :+ f.name)
          .iterator.map(idxOf).collectFirst { case Some(ix) => ix }
      }
    FeatureStore.renderWireValue(if (rowSeq >= f.since) srcIdx.map(r.get).orNull else null)
  }

  private def checkCase(store: FeatureStore, renames: Seq[(String, Long)],
      since: Long, avail: Seq[String], rowSeq: Long, tag: String): Unit = {
    val f = FeatureDef("cur", FType.FString, since = since, renames = renames)
    val g = FeatureGroup("g", "k", "t", Seq(
      FeatureDef("k", FType.Integral), FeatureDef("t", FType.FTimestamp), f))

    // marker values: each available column holds ITS OWN NAME, so the
    // wire output names exactly the column each path resolved
    val fields = avail.map(StructField(_, StringType)) :+
      StructField(EngineColumns.IngestSeq, LongType)
    val schema = StructType(fields)
    val values: Seq[Any] = avail.map(identity[Any]) :+ rowSeq

    // reference rule, one row at a time
    val viaRow = referenceEra(f,
      new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
        values.toArray, schema))

    // DataFrame path: maskSince(select(eraColumn)) over a one-row frame
    val df = spark.createDataFrame(
      java.util.Collections.singletonList(Row(values: _*)), schema)
    val viaDf = store.maskSince(g,
        df.select(store.eraColumn(f, avail.toSet).as("cur"),
          col(EngineColumns.IngestSeq)))
      .collect().head.getString(0)

    assert(viaRow == viaDf,
      s"[$tag] resolver differs from the reference: ref=$viaRow df=$viaDf " +
        s"(renames=$renames since=$since avail=$avail rowSeq=$rowSeq)")
  }

  test("renderWireRow and maskSince∘eraColumn resolve identically over random rename chains, availability, since, and row seqs") {
    val store = new FeatureStore(spark,
      java.nio.file.Files.createTempDirectory("era_prop_").toString)
    val rng = new Random(4242)
    var checked = 0
    (1 to 60).foreach { i =>
      val nRenames = rng.nextInt(4) // 0..3 prior names
      val seqs = Seq.fill(8)(1L + rng.nextInt(9))
        .distinct.sorted.reverse.take(nRenames)
      if (seqs.size == nRenames) {
        val renames = seqs.zipWithIndex.map { case (s, j) => (s"a$j", s) }
        val candidates = "cur" +: renames.map(_._1)
        val avail = candidates.filter(_ => rng.nextBoolean())
        val since = if (rng.nextBoolean()) 0L else rng.nextInt(6).toLong
        val rowSeq = rng.nextInt(12).toLong
        checkCase(store, renames, since, avail, rowSeq, s"rand$i")
        checked += 1
      }
    }
    assert(checked >= 40, s"generator must produce enough cases, got $checked")

    // boundaries the fuzz might miss:
    // never renamed, column absent → null both ways
    checkCase(store, Nil, 0L, Nil, 5L, "absent")
    // exact era boundary: rowSeq == rename seq serves the CURRENT name
    checkCase(store, Seq(("old", 5L)), 0L, Seq("cur", "old"), 5L, "at-boundary")
    checkCase(store, Seq(("old", 5L)), 0L, Seq("cur", "old"), 4L, "below-boundary")
    // materialized era: alias gone, current carries the value
    checkCase(store, Seq(("old", 5L)), 0L, Seq("cur"), 1L, "materialized")
    // intermediate-alias materialization (the round-12 rename-chain bug):
    // value sits under the MIDDLE name after a rewrite at that epoch
    checkCase(store, Seq(("mid", 7L), ("old", 3L)), 0L, Seq("mid"), 1L, "mid-materialized")
    checkCase(store, Seq(("mid", 7L), ("old", 3L)), 0L, Seq("old", "mid"), 1L, "oldest-era")
    // since masks exactly below its seq, both paths
    checkCase(store, Nil, 3L, Seq("cur"), 2L, "masked")
    checkCase(store, Nil, 3L, Seq("cur"), 3L, "unmasked-at")
    // widen's self-alias shape (alias name == current name)
    checkCase(store, Seq(("cur", 4L)), 0L, Seq("cur"), 2L, "self-alias")
  }
}
