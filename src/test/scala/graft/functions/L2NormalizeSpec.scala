package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Bit-identity pin for the fused [[L2Normalize]] expression against the
  * exact HOF composition it replaces in Similarity (norm as a left-fold
  * IEEE sum of squares in element order, positive branch x/n, zero/NaN/null
  * branch x*0.0) — on an adversarial vector set: empty, zero, negative
  * zero, NaN, ±Infinity, subnormals, null array, null elements, float and
  * double element types, and a long random batch compared element-by-
  * element with java.lang.Double.doubleToRawLongBits equality. */
class L2NormalizeSpec extends SparkSpec {
  import spark.implicits._

  private def composed(v: Column): Column = {
    val n = sqrt(aggregate(v, lit(0.0), (acc, x) => acc + x.cast("double") * x))
    when(n > 0, transform(v, x => x.cast("double") / n))
      .otherwise(transform(v, x => x.cast("double") * 0.0))
  }

  private def checkBitIdentical(df: org.apache.spark.sql.DataFrame, vcol: String): Unit = {
    val rows = df.select(col("id"), L2Normalize(col(vcol)).as("f"),
      composed(col(vcol)).as("c")).collect()
    rows.foreach { r =>
      val id = r.getLong(0)
      val f = if (r.isNullAt(1)) null else r.getSeq[Any](1)
      val c = if (r.isNullAt(2)) null else r.getSeq[Any](2)
      if (f == null || c == null) {
        assert(f == null && c == null, s"null mismatch at id=$id: fused=$f composed=$c")
      } else {
        assert(f.length == c.length, s"length mismatch at id=$id")
        f.zip(c).zipWithIndex.foreach { case ((fv, cv), i) =>
          (fv, cv) match {
            case (null, null) => ()
            case (fd: Double, cd: Double) =>
              assert(java.lang.Double.doubleToRawLongBits(fd)
                  == java.lang.Double.doubleToRawLongBits(cd),
                s"bit mismatch at id=$id elem=$i: fused=$fd composed=$cd")
            case _ => fail(s"type/null mismatch at id=$id elem=$i: fused=$fv composed=$cv")
          }
        }
      }
    }
  }

  test("double vectors: adversarial edge cases match the composition bit-for-bit") {
    val vecs: Seq[(Long, Seq[java.lang.Double])] = Seq(
      1L -> Seq[java.lang.Double](1.0, 2.0, 3.0),
      2L -> Seq[java.lang.Double](0.0, 0.0, 0.0),              // zero vector: ×0.0 branch
      3L -> Seq[java.lang.Double](-0.0, 0.0, -5.0),            // sign propagation
      4L -> Seq[java.lang.Double](Double.NaN, 1.0),            // NaN norm: NaN > 0 in Spark SQL ordering, so the division branch (all-NaN output)
      5L -> Seq[java.lang.Double](Double.PositiveInfinity, 1.0),
      6L -> Seq[java.lang.Double](Double.MinPositiveValue, 0.0), // subnormal: norm may be 0
      7L -> Seq[java.lang.Double](1e-200, 1e-200),             // underflowing squares
      8L -> Seq[java.lang.Double](1e200, -1e200),              // overflowing squares
      9L -> Seq[java.lang.Double](),                           // empty array
      10L -> Seq[java.lang.Double](null, 1.0, 2.0),            // null element
      11L -> Seq[java.lang.Double](3.0, null),                 // null element later
      12L -> null                                              // null array
    )
    checkBitIdentical(vecs.toDF("id", "v"), "v")
  }

  test("float vectors: the double-cast widening matches") {
    val vecs: Seq[(Long, Seq[java.lang.Float])] = Seq(
      1L -> Seq[java.lang.Float](1.5f, -2.25f, 0.1f),
      2L -> Seq[java.lang.Float](0.0f, -0.0f),
      3L -> Seq[java.lang.Float](Float.NaN, 1.0f),
      4L -> Seq[java.lang.Float](null, 2.0f),
      5L -> null
    )
    checkBitIdentical(vecs.toDF("id", "v"), "v")
  }

  test("random double batch matches bit-for-bit") {
    val rng = new scala.util.Random(42)
    val vecs = (1L to 500L).map { i =>
      i -> Seq.fill(16)(java.lang.Double.valueOf(rng.nextGaussian()))
    }
    checkBitIdentical(vecs.toDF("id", "v"), "v")
  }

  test("integer vectors cast like the composition") {
    val vecs = Seq(1L -> Seq(3, 4), 2L -> Seq(0, 0), 3L -> Seq(-3, 4))
    checkBitIdentical(vecs.toDF("id", "v"), "v")
  }
}
