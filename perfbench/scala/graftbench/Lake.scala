package graftbench

import graft.ingest.ManifestCommit
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Table and filesystem helpers shared by the workloads. */
object Lake {
  val MonthSlice: Column = date_format(col("o_orderdate"), "yyyyMM")

  /** Lay `df` out by `slice` into a fresh manifest table at `root` and
    * commit it, recording min/max stats for `statCols` and row counts. */
  def createSliced(spark: SparkSession, root: String, df: DataFrame,
      slice: Column, statCols: Seq[String]): ManifestCommit.Manifest = {
    val dirs = ManifestCommit.writeSliced(spark, root, df, slice,
      statCols :+ ManifestCommit.RowCountStat)
    ManifestCommit.commitReplace(spark, root, dirs.map(_._1),
      pruneDisplaced = false, stats = dirs.toMap, schema = Some(df.schema),
      slice = Some(ManifestCommit.sliceSql(slice)))
  }

  def gen(spark: SparkSession, root: String): Long =
    ManifestCommit.readManifest(spark, root).map(_.gen).getOrElse(-1L)

  /** Every regular file under `root` with its size. */
  def files(root: String): Map[String, Long] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map((f: Path) => f.toString -> Files.size(f)).toMap
      finally s.close()
    }
  }

  def bytesUnder(root: String): Long = files(root).values.sum

  def isMeta(path: String): Boolean = Paths.get(path).getFileName.toString.startsWith("_manifest")

  def isDataFile(path: String): Boolean = {
    val n = Paths.get(path).getFileName.toString
    n.endsWith(".parquet") && !n.startsWith(".")
  }

  /** Order-independent fingerprint of a frame: (rows, sum of row hashes). */
  def fingerprint(df: DataFrame): (Long, java.math.BigDecimal) = {
    val cols = df.columns.sorted.map(col).toSeq
    val r = df.select(xxhash64(cols: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), coalesce(sum("h"), lit(0).cast("decimal(38,0)")))
      .collect().head
    (r.getLong(0), r.getDecimal(1))
  }

  /** Data dirs the optimized plan of `df` scans. */
  def scannedDirs(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.count(_.getName.startsWith("data_"))
          case _ => 0
        }
    }.sum
}
