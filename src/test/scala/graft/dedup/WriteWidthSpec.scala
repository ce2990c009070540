package graft.dedup

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.core.IndexLifecycle

/** The estimate-derived write-stage sizing (r13-opt): a tiny table writes
  * with one task, a large one keeps the session width, the clamp bounds
  * both ends, and the physical write actually produces the sized file
  * counts (the tasks × writer-commit-cycle cost the sizing exists to cut). */
class WriteWidthSpec extends SparkSpec {
  import spark.implicits._

  test("writeWidth is 1 for a tiny frame and capped for a huge estimate") {
    val tiny = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    assert(IndexLifecycle.writeWidth(tiny) == 1)

    // force a 1-byte target so the same frame wants many partitions: the
    // clamp must cap at max(defaultParallelism, shuffle.partitions)
    val cap = math.max(spark.sparkContext.defaultParallelism,
      spark.sessionState.conf.numShufflePartitions)
    spark.conf.set("graft.write.targetPartitionBytes", "1")
    try assert(IndexLifecycle.writeWidth(tiny) == cap)
    finally spark.conf.unset("graft.write.targetPartitionBytes")
  }

  test("sizedForWrite keeps a clustering exchange on partition columns") {
    val df = (1 to 100).map(i => (i.toLong, i % 4)).toDF("id", "bucket")
    val sized = IndexLifecycle.sizedForWrite(df.withColumn("batch", lit("b1")), Seq("bucket"))
    assert(sized.rdd.getNumPartitions == 1,
      "tiny partitioned frame should shrink to one write task")
  }

  test("a tiny flat write lands one file; partitioned writes land one file per value") {
    val dir = java.nio.file.Files.createTempDirectory("write_width_").toString
    val tiny = (1 to 50).map(i => (i.toLong, i % 3)).toDF("doc_id", "cell")
      .repartition(8) // simulate a wide upstream
    IndexLifecycle.writeIndexBatch(tiny, s"$dir/flat", "b1")
    val flatFiles = new java.io.File(s"$dir/flat/batch=b1").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(flatFiles == 1, s"expected one file from the sized flat write, got $flatFiles")

    IndexLifecycle.writeIndexBatch(tiny, s"$dir/part", "b1", partitionCols = Seq("cell"))
    val cells = new java.io.File(s"$dir/part/batch=b1").listFiles()
      .filter(_.getName.startsWith("cell=")).toSeq
    assert(cells.size == 3)
    cells.foreach { c =>
      val n = c.listFiles().count(_.getName.endsWith(".parquet"))
      assert(n == 1, s"expected one file per cell dir, got $n in ${c.getName}")
    }
    // rows survive the sizing untouched
    val back = spark.read.parquet(s"$dir/flat").drop("batch")
    assert(back.count() == 50)
  }

  test("a large-estimate flat write keeps its upstream partitioning") {
    val wide = (1 to 64).map(i => (i.toLong, i.toString)).toDF("id", "s")
      .repartition(8)
    spark.conf.set("graft.write.smallTableBytes", "0")
    try {
      val sized = IndexLifecycle.sizedForWrite(wide, Nil)
      assert(sized.rdd.getNumPartitions == 8,
        "past the small-table gate the upstream partitioning must survive")
    } finally spark.conf.unset("graft.write.smallTableBytes")
  }
}
