package graft.core

import java.nio.file.Files

import org.apache.spark.sql.functions.{col, when}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.SparkSpec

class ListedParquetSpec extends SparkSpec {

  test("explicit partition dirs read with no listing or footer job, the same rows and types as spark.read") {
    val base = Files.createTempDirectory("listed_").resolve("t").toString
    // 48 partitions plus the null default partition: past the 32-path
    // threshold at which spark.read lists with a parallel job
    spark.range(0, 482).select(
        when(col("id") < 480, col("id") % 48).as("p"), col("id").as("v"),
        col("id").cast("string").as("s"))
      .write.partitionBy("p").parquet(base)
    val data = StructType(Seq(StructField("v", LongType), StructField("s", StringType)))
    val dirs = (0 until 48).map(p => s"$base/p=$p") :+ s"$base/p=__HIVE_DEFAULT_PARTITION__" :+
      s"$base/p=999" // absent: contributes nothing
    var rows = Seq.empty[org.apache.spark.sql.Row]
    val (jobs, _) = sparkWorkDuring {
      rows = ListedParquet.read(spark, base, dirs, data).collect().toSeq
    }
    assert(jobs == 1, s"read + collect launched $jobs jobs")
    val expected = spark.read.option("basePath", base).schema(data)
      .parquet(dirs.dropRight(1): _*)
    assert(ListedParquet.read(spark, base, dirs, data).schema == expected.schema)
    assert(rows.map(_.toString).sorted == expected.collect().toSeq.map(_.toString).sorted)
    assert(rows.size == 482 && rows.count(_.isNullAt(2)) == 2) // p is the last column
  }

  test("no dirs give an empty frame of the data schema") {
    val base = Files.createTempDirectory("listed_empty_").toString
    val data = StructType(Seq(StructField("v", LongType)))
    val df = ListedParquet.read(spark, base, Nil, data)
    assert(df.schema == data && df.collect().isEmpty)
  }
}
