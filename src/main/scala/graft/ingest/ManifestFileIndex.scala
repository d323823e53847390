package org.apache.spark.sql.graftbridge

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata,
  HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** A Spark `FileIndex` over files a graft manifest already names (the
  * shape of Delta's `TahoeFileIndex` and Iceberg's manifest files): the
  * files are fixed when the index is built, so planning a scan lists
  * nothing. `rootPaths` are the data dirs, as an `InMemoryFileIndex`
  * over the same dirs would report them, and two indexes over the same
  * dirs are equal (dirs are immutable), so cached-plan matching works as
  * it does for a listing read. No partition columns: graft's flat dirs
  * carry none. */
class ManifestFileIndex(override val rootPaths: Seq[Path],
    files: Seq[FileStatus]) extends FileIndex {

  /** Empty files hold no rows; Spark's own index drops them too. */
  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    Seq(PartitionDirectory(InternalRow.empty,
      files.filter(_.getLen > 0).map(FileStatusWithMetadata(_))))

  override def inputFiles: Array[String] = files.map(_.getPath.toString).toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = files.map(_.getLen).sum

  override def partitionSchema: StructType = new StructType()

  private lazy val rootSet = rootPaths.toSet

  override def equals(o: Any): Boolean = o match {
    case i: ManifestFileIndex => rootSet == i.rootSet
    case _ => false
  }

  override def hashCode(): Int = rootSet.hashCode
}

object ManifestScan {
  /** A parquet read of exactly `files` (under the dirs `rootPaths`),
    * planned as `spark.read.schema(schema).parquet(dirs)` would plan it
    * (nullable data schema, no partition columns) but with no listing
    * and no data-source lookup. `schema` None infers one from the files'
    * footers (a merge of all of them when `mergeSchema`, the same job the
    * listing read runs); None when there are no files to infer from. */
  def parquet(spark: SparkSession, rootPaths: Seq[Path], files: Seq[FileStatus],
      schema: Option[StructType], mergeSchema: Boolean): Option[DataFrame] = {
    val format = new ParquetFileFormat
    schema.orElse(format.inferSchema(spark,
      Map("mergeSchema" -> mergeSchema.toString), files)).map { s =>
      val rel = HadoopFsRelation(new ManifestFileIndex(rootPaths, files),
        partitionSchema = new StructType(), dataSchema = s.asNullable,
        bucketSpec = None, fileFormat = format, options = Map.empty)(spark)
      DatasetBridge.ofRows(spark, LogicalRelation(rel))
    }
  }
}
