package graft.core

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** Parquet read of explicit partition dirs under one base path, with a
  * declared data schema, that launches no Spark job before the scan.
  *
  * `spark.read.parquet(dirs: _*)` lists more than
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32) root paths
  * with a parallel listing job, and without a schema it adds a footer
  * inference job. Here the driver lists each dir's files itself and hands
  * them to an `InMemoryFileIndex` through a pre-filled `FileStatusCache`,
  * so the index never lists; the declared schema replaces the footers.
  * Partition columns are still inferred from the paths (`basePath`), with
  * the same types `spark.read` gives them. No session conf is touched.
  *
  * The caller vouches for the schema: every file must hold exactly the
  * declared columns at the declared types. A dir that does not exist
  * contributes nothing; no dirs give an empty frame of the data schema. */
object ListedParquet {

  /** Leaf files of each root path, answered from memory. */
  private final class Prelisted(leaves: Map[Path, Array[FileStatus]]) extends FileStatusCache {
    override def getLeafFiles(path: Path): Option[Array[FileStatus]] = leaves.get(path)
    override def putLeafFiles(path: Path, files: Array[FileStatus]): Unit = ()
    override def invalidateAll(): Unit = ()
  }

  def read(spark: SparkSession, basePath: String, dirs: Seq[String],
      dataSchema: StructType): DataFrame = {
    val hadoopConf = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.newHadoopConf()
    val base = new Path(basePath)
    val fs = base.getFileSystem(hadoopConf)
    // the same hidden-file rule Spark's listing applies (`_SUCCESS`,
    // `.crc` checksums, attempt temps)
    val leaves = dirs.map(d => fs.makeQualified(new Path(d))).filter(fs.exists).map { d =>
      d -> fs.listStatus(d).filter { f =>
        val n = f.getPath.getName
        f.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
    }
    val options = Map("basePath" -> fs.makeQualified(base).toString)
    val index = new InMemoryFileIndex(spark, leaves.map(_._1), options, Some(dataSchema),
      new Prelisted(leaves.toMap))
    spark.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema,
      dataSchema, None, new ParquetFileFormat, options)(spark))
  }
}
