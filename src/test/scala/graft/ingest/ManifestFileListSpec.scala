package graft.ingest

import graft.{JobMeter, SparkSpec}
import graft.sql.GraftSql
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The manifest names every data file of a dir, and reads plan from
  * those lists: no directory listing, no data-source lookup. */
class ManifestFileListSpec extends SparkSpec {

  private val schema = StructType(Seq(StructField("k", LongType),
    StructField("v", LongType)))

  /** A table of `n` one-file dirs of 5 rows each, committed with the
    * recorded schema. */
  private def table(n: Int): String = {
    val root = Files.createTempDirectory("graft_files_").toString + "/t"
    val dirs = ManifestCommit.writeSliced(spark, root,
      spark.range(0, n * 5L).toDF("k").withColumn("v", col("k") * 2),
      floor(col("k") / 5), Seq("k", ManifestCommit.RowCountStat))
    ManifestCommit.commitReplace(spark, root, dirs.map(_._1),
      pruneDisplaced = false, stats = dirs.toMap, schema = Some(schema))
    root
  }

  /** Hadoop read ops (listStatus, getFileStatus, open, …) on the local
    * filesystem so far, every thread. */
  private def localReadOps(): Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getReadOps.toLong).sum

  test("every committed dir records its files; __bytes is their sum") {
    val root = table(6)
    val m = ManifestCommit.readManifest(spark, root).get
    assert(m.dirs.size === 6 && m.files.keySet === m.dirs.toSet)
    val f = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    m.dirs.foreach { d =>
      val listed = f.listStatus(new Path(root, d)).toSeq
        .filter(_.getPath.getName.endsWith(".parquet"))
        .map(st => st.getPath.getName -> st.getLen).sortBy(_._1)
      assert(m.files(d).map(x => x.name -> x.bytes) === listed)
      assert(ManifestCommit.statLong(m, d, ManifestCommit.BytesStat) ===
        Some(listed.map(_._2).sum))
    }
    // the list survives a resolve from disk (checkpoint and delta forms)
    ManifestCommit.clearResolveCache()
    assert(ManifestCommit.readManifest(spark, root).get.files === m.files)
    val d = ManifestCommit.newDataDir(root)
    spark.range(0, 3).toDF("k").withColumn("v", col("k")).write.parquet(d)
    ManifestCommit.commitAppend(spark, root, d)
    ManifestCommit.clearResolveCache()
    val m2 = ManifestCommit.readManifest(spark, root).get
    assert(m2.files.keySet === m2.dirs.toSet)
    assert(m2.files(new Path(d).getName).map(_.name).forall(_.endsWith(".parquet")))
  }

  test("a full read of a 200-dir table plans with no listing job and no " +
      "filesystem read op, and reads every row") {
    val root = table(200)
    val name = "files_full_200"
    GraftSql.register(name, root)
    ManifestCommit.readManifest(spark, root) // the manifest is cached
    val q = spark.sql(s"SELECT sum(v), count(*) FROM graft.$name")
    val ops0 = localReadOps()
    val planned = JobMeter.measure(spark)(q.queryExecution.executedPlan)
    assert(planned.count === 0, planned.jobs.map(_.desc))
    // reading the manifest pointer is the only filesystem op a plan makes
    assert(localReadOps() - ops0 <= 2L, "plan-time filesystem ops")
    // control: the listing read of the same dirs is visible to both meters
    val dirs = ManifestCommit.resolvePaths(spark, root)
    val ops1 = localReadOps()
    val listing = JobMeter.measure(spark)(
      spark.read.schema(schema).parquet(dirs: _*).queryExecution.executedPlan)
    assert(listing.jobs.exists(_.desc.contains("Listing leaf files")))
    assert(localReadOps() - ops1 >= 200L)
    val run = JobMeter.measure(spark)(q.collect().head)
    assert(!run.jobs.exists(_.desc.contains("Listing leaf files")), run.jobs.map(_.desc))
    assert(run.value.getLong(1) === 1000L)
    assert(run.value.getLong(0) === (0L until 1000L).map(_ * 2).sum)
  }

  test("recorded files carry the _metadata paths a listing gives") {
    val root = table(3)
    val m = ManifestCommit.readManifest(spark, root).get
    val viaManifest = ManifestCommit.read(spark, root)
      .select("_metadata.file_path", "_metadata.file_name",
        "_metadata.file_modification_time", "_metadata.row_index")
      .collect().toSet
    val viaListing = spark.read.schema(schema)
      .parquet(m.dirs.map(ManifestCommit.dirAbs(root, _)): _*)
      .select("_metadata.file_path", "_metadata.file_name",
        "_metadata.file_modification_time", "_metadata.row_index")
      .collect().toSet
    assert(viaManifest.size === 15 && viaManifest === viaListing)
  }

  test("a manifest in the old format, without file lists, reads the same " +
      "rows through the listing fallback") {
    val root = table(4)
    val want = ManifestCommit.read(spark, root).collect().toSet
    val g = Paths.get(root, "_manifest.g1")
    val old = new String(Files.readAllBytes(g), StandardCharsets.UTF_8)
      .split("\n").filterNot(_.startsWith("#vermin"))
      .map(l => l.split('\t').filterNot(_.startsWith("f:"))
        .mkString("\t")).mkString("\n")
    assert(old.length < Files.size(g))
    Files.write(g, old.getBytes(StandardCharsets.UTF_8))
    ManifestCommit.clearResolveCache()
    val m = ManifestCommit.readManifest(spark, root).get
    assert(m.files.isEmpty && m.dirs.size === 4 && m.stats.size === 4)
    val df = ManifestCommit.read(spark, root)
    assert(df.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation.asInstanceOf[
          org.apache.spark.sql.execution.datasources.HadoopFsRelation]
          .location.getClass.getSimpleName
    } === Seq("InMemoryFileIndex"))
    assert(df.collect().toSet === want)
    // an append to the old table records its own dir only
    val d = ManifestCommit.newDataDir(root)
    spark.range(100, 103).toDF("k").withColumn("v", col("k")).write.parquet(d)
    ManifestCommit.commitAppend(spark, root, d)
    val m2 = ManifestCommit.readManifest(spark, root).get
    assert(m2.files.keySet === Set(new Path(d).getName))
    assert(ManifestCommit.read(spark, root).count() === 23L)
  }

  test("a manifest carrying file lists is stamped #vermin 3, which a " +
      "reader supporting up to version 2 refuses") {
    val root = table(2)
    val g1 = new String(Files.readAllBytes(Paths.get(root, "_manifest.g1")),
      StandardCharsets.UTF_8)
    assert(g1.split("\n").contains("#vermin\t3"), g1)
    assert(ManifestCommit.SupportedReaderVersion === 3L)
    val e = intercept[IllegalStateException](
      ManifestCommit.requireReaderVersion(3L, supported = 2L))
    assert(e.getMessage.contains("reader version 3"), e.getMessage)
    assert(e.getMessage.contains("upgrade"), e.getMessage)
    // a delta over the listed table re-states the gate
    val d = ManifestCommit.newDataDir(root)
    spark.range(0, 3).toDF("k").withColumn("v", col("k")).write.parquet(d)
    ManifestCommit.commitAppend(spark, root, d)
    val g2 = new String(Files.readAllBytes(Paths.get(root, "_manifest.g2")),
      StandardCharsets.UTF_8)
    assert(g2.split("\n").contains("#vermin\t3"), g2)
  }

  test("a shallow clone whose external dir was reclaimed raises the " +
      "clone-retention error at plan time") {
    val src = table(3)
    val clone = Files.createTempDirectory("graft_files_").toString + "/c"
    ManifestCommit.shallowClone(spark, src, clone)
    val cm = ManifestCommit.readManifest(spark, clone).get
    assert(cm.files.keySet === cm.dirs.toSet, "the clone carries the source's lists")
    assert(ManifestCommit.read(spark, clone).count() === 15L)
    val f = new Path(src).getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.delete(new Path(cm.dirs.head), true)
    val e = intercept[IllegalStateException](ManifestCommit.read(spark, clone).count())
    assert(e.getMessage.contains("retention has reclaimed"), e.getMessage)
  }
}
