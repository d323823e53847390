package graft.ingest

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** `ANALYZE TABLE graft.t COMPUTE STATISTICS [FOR COLUMNS ...]` —
  * retrofit per-dir stats (min/max, exact rows, on-disk bytes) onto
  * existing dirs as a stats-only commit: no data is rewritten, skipping
  * and manifest-only COUNT(*) arm post-hoc, re-runs are idempotent and
  * incremental. */
class AnalyzeStatsSpec extends SparkSpec {

  private var n = 0
  private def uniq(p: String): String = { n += 1; s"${p}_an_$n" }

  private def mkStatless(): String = {
    val root = Files.createTempDirectory("graft_analyze_").toString + "/t"
    (0 until 3).foreach { i =>
      val d = ManifestCommit.newDataDir(root)
      spark.range(i * 100, (i + 1) * 100).toDF("id")
        .withColumn("v", col("id") * 2).write.parquet(d)
      if (i == 0)
        ManifestCommit.commitReplace(spark, root, Seq(d),
          pruneDisplaced = false,
          schema = Some(org.apache.spark.sql.types.StructType(
            spark.range(1).toDF("id").withColumn("v", col("id"))
              .schema.fields.map(_.copy(nullable = true)))))
      else ManifestCommit.commitAppend(spark, root, d)
    }
    root
  }

  test("analyze arms skipping, manifest COUNT and exact bytes on a " +
      "stat-less table — dirs untouched, one stats-only commit") {
    val root = mkStatless()
    val before = ManifestCommit.readManifest(spark, root).get
    assert(before.stats.isEmpty)
    assert(ManifestCommit.tableRowCount(spark, root).isEmpty)
    assert(ManifestCommit.tableBytesOf(before).isEmpty)
    val fileSet = before.dirs.map(d => ManifestCommit.dirAbs(root, d))

    val m = Optimize.analyzeStats(spark, root, Seq("id"))
    assert(m.gen === before.gen + 1)
    assert(m.dirs === before.dirs, "analyze must not touch data dirs")
    // every dir now carries id min/max + non-null counter + rows + bytes
    m.dirs.foreach { d =>
      val cols = m.stats.getOrElse(d, Nil).map(_.col).toSet
      assert(cols === Set("id", ManifestCommit.nnStat("id"),
        ManifestCommit.RowCountStat, ManifestCommit.BytesStat), s"$d: $cols")
    }
    assert(ManifestCommit.tableRowCount(spark, root) === Some(300L))
    assert(ManifestCommit.tableBytesOf(m).isDefined)
    // skipping armed: an id-range probe keeps exactly one dir
    val (pruned, kept, total) = ManifestCommit.readPruned(spark, root,
      Seq(("id", Some("120"), Some("150"))))
    assert(total === 3 && kept === 1, s"kept $kept of $total")
    assert(pruned.filter(col("id").between(120, 150)).count() === 31L)
    // the files themselves are untouched
    fileSet.foreach { p =>
      assert(new org.apache.hadoop.fs.Path(p).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
        .exists(new org.apache.hadoop.fs.Path(p)))
    }
    assert(ManifestCommit.read(spark, root).count() === 300L)
  }

  test("idempotent and incremental: a metered table commits nothing; a " +
      "new stat-less append is the only dir re-scanned") {
    val root = mkStatless()
    Optimize.analyzeStats(spark, root, Seq("id"))
    val g1 = ManifestCommit.readManifest(spark, root).get.gen
    // re-run: fully metered -> no commit at all
    Optimize.analyzeStats(spark, root, Seq("id"))
    assert(ManifestCommit.readManifest(spark, root).get.gen === g1,
      "re-analyze of a metered table must be a no-op")
    // a stat-less append, then re-analyze: old dirs' stats UNCHANGED
    // (same objects), only the new dir metered
    val d = ManifestCommit.newDataDir(root)
    spark.range(1000, 1100).toDF("id").withColumn("v", col("id"))
      .write.parquet(d)
    ManifestCommit.commitAppend(spark, root, d)
    val before = ManifestCommit.readManifest(spark, root).get
    val m = Optimize.analyzeStats(spark, root, Seq("id"))
    assert(m.gen === before.gen + 1)
    before.dirs.filter(before.stats.contains).foreach { od =>
      assert(m.stats(od) === before.stats(od), s"old dir $od re-stated")
    }
    assert(ManifestCommit.tableRowCount(spark, root) === Some(400L))
  }

  test("a WIDER analyze keeps existing columns' stats; SQL surface " +
      "works; unknown column refused") {
    val root = mkStatless()
    Optimize.analyzeStats(spark, root, Seq("id"))
    val name = uniq("antab")
    graft.sql.GraftSql.register(name, root)
    try {
      spark.sql(
        s"ANALYZE TABLE graft.`$name` COMPUTE STATISTICS FOR COLUMNS v")
      val m = ManifestCommit.readManifest(spark, root).get
      m.dirs.foreach { d =>
        val cols = m.stats(d).map(_.col).toSet
        assert(cols("id") && cols("v"),
          s"wider analyze must keep id and add v: $cols")
      }
      // v-range probe prunes now
      val (_, kept, total) = ManifestCommit.readPruned(spark, root,
        Seq(("v", Some("250"), Some("300"))))
      assert(total === 3 && kept === 1, s"kept $kept of $total")
      val e = intercept[Exception](spark.sql(
        s"ANALYZE TABLE graft.`$name` COMPUTE STATISTICS FOR COLUMNS nosuch"))
      assert(e.getMessage.contains("no column"), e.getMessage)
      // bare ANALYZE (no columns): arms rows+bytes on a fresh table
      val root2 = mkStatless()
      val name2 = uniq("antab")
      graft.sql.GraftSql.register(name2, root2)
      try {
        spark.sql(s"ANALYZE TABLE graft.`$name2` COMPUTE STATISTICS")
        assert(ManifestCommit.tableRowCount(spark, root2) === Some(300L))
        assert(ManifestCommit.tableBytesOf(
          ManifestCommit.readManifest(spark, root2).get).isDefined)
      } finally graft.sql.GraftSql.unregister(name2)
    } finally graft.sql.GraftSql.unregister(name)
  }

  test("idempotent on null-stat dirs: an all-null column and a dir " +
      "missing the column entirely are marked examined — the second " +
      "run commits nothing, pruning stays safe") {
    val root = Files.createTempDirectory("graft_analyze_").toString + "/t"
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType, true),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.LongType, true)))
    // dir0: v present but ALL NULL (no min/max possible)
    val d0 = ManifestCommit.newDataDir(root)
    spark.range(0, 50).toDF("id")
      .withColumn("v", lit(null).cast("long")).write.parquet(d0)
    ManifestCommit.commitReplace(spark, root, Seq(d0),
      pruneDisplaced = false, schema = Some(schema))
    // dir1: written BEFORE v existed — no backing field at all
    val d1 = ManifestCommit.newDataDir(root)
    spark.range(100, 150).toDF("id").write.parquet(d1)
    ManifestCommit.commitAppend(spark, root, d1)

    val m1 = Optimize.analyzeStats(spark, root, Seq("id", "v"))
    val g1 = m1.gen
    // both dirs carry the examined marker instead of a fake v bound
    m1.dirs.foreach { d =>
      val ss = m1.stats(d)
      assert(!ss.exists(_.col == "v"),
        s"$d must NOT record a bound for a null/absent column: $ss")
      assert(ss.exists(_.col == ManifestCommit.AnalyzedStat),
        s"$d missing the examined marker: ${ss.map(_.col)}")
      assert(ss.exists(_.col == "id") &&
        ss.exists(_.col == ManifestCommit.RowCountStat))
    }
    // re-run: FULLY metered (marker satisfies v) -> no commit at all
    Optimize.analyzeStats(spark, root, Seq("id", "v"))
    assert(ManifestCommit.readManifest(spark, root).get.gen === g1,
      "re-analyze of a marker-complete table must be a no-op")
    // a narrower re-run is also complete
    Optimize.analyzeStats(spark, root, Seq("v"))
    assert(ManifestCommit.readManifest(spark, root).get.gen === g1)
    // pruning on v keeps every dir (no stats = never a filter)
    val (_, kept, total) = ManifestCommit.readPruned(spark, root,
      Seq(("v", Some("10"), Some("20"))))
    assert(total === 2 && kept === 2, s"kept $kept of $total")
    assert(ManifestCommit.tableRowCount(spark, root) === Some(100L))
  }

  test("the examined marker FOLLOWS a column rename: re-analyze after " +
      "RENAME COLUMN still commits nothing") {
    val root = Files.createTempDirectory("graft_analyze_").toString + "/t"
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType, true),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.LongType, true)))
    val d0 = ManifestCommit.newDataDir(root)
    spark.range(0, 50).toDF("id")
      .withColumn("v", lit(null).cast("long")).write.parquet(d0)
    ManifestCommit.commitReplace(spark, root, Seq(d0),
      pruneDisplaced = false, schema = Some(schema))
    Optimize.analyzeStats(spark, root, Seq("id", "v")) // v -> marker
    val renamed = ManifestCommit.renameColumn(spark, root, "v", "amount")
    val gAfterRename = renamed.gen
    // the marker list was re-keyed with the column: analyzing the NEW
    // name finds the dir already examined — no commit
    Optimize.analyzeStats(spark, root, Seq("id", "amount"))
    assert(ManifestCommit.readManifest(spark, root).get.gen === gAfterRename,
      "re-analyze after a rename must be a no-op (marker must follow the name)")
  }

  test("ANALYZE ... WITH BLOOMS retrofits the point-lookup index onto " +
      "a CONVERTED table: a key probe plans 1 dir where min/max cannot " +
      "prune; re-runs build nothing") {
    // two hive partitions with fully OVERLAPPING id ranges (evens vs
    // odds) — range stats are useless for `id = x`, only a bloom can
    // say "definitely not here"
    val root = Files.createTempDirectory("graft_analyze_").toString + "/t"
    spark.range(0, 400).toDF("id")
      .withColumn("par", (col("id") % 2).cast("int"))
      .withColumn("v", col("id") * 3)
      .write.partitionBy("par").parquet(root)
    val m0 = ManifestCommit.convertToGraft(spark, root, Seq("id"))
    assert(m0.dirs.size === 2)
    // un-indexed: the probe keeps both dirs
    assert(ManifestCommit.resolveBloom(spark, root, "id", 42L)._1.size === 2)

    val name = uniq("anblm")
    graft.sql.GraftSql.register(name, root)
    try {
      spark.sql(s"ANALYZE TABLE graft.`$name` COMPUTE STATISTICS " +
        "FOR COLUMNS id WITH BLOOMS (id)")
      // the probe now plans exactly the owning dir — id=42 is even
      val (kept, total) = ManifestCommit.resolveBloom(spark, root, "id", 42L)
      assert(total === 2 && kept.size === 1, s"kept ${kept.size} of $total")
      val (df, keptN, _) = ManifestCommit.readBloom(spark, root, "id", 42L)
      assert(keptN === 1)
      assert(df.filter(col("id") === 42L).count() === 1L)
      // a key that exists nowhere resolves to zero dirs
      assert(ManifestCommit.resolveBloom(spark, root, "id", 10000L)._1.isEmpty)
      // idempotent: the side files are the completeness marker — a
      // re-run rewrites nothing (same modification times)
      def bloomStates(): Map[String, Long] = {
        val f = new org.apache.hadoop.fs.Path(root).getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        ManifestCommit.readManifest(spark, root).get.dirs.map { d =>
          val p = new org.apache.hadoop.fs.Path(
            ManifestCommit.dirAbs(root, d), "_bloom_id")
          d -> f.getFileStatus(p).getModificationTime
        }.toMap
      }
      val before = bloomStates()
      val gen = ManifestCommit.readManifest(spark, root).get.gen
      spark.sql(s"ANALYZE TABLE graft.`$name` COMPUTE STATISTICS " +
        "WITH BLOOMS (id)")
      assert(bloomStates() === before, "re-run must not rebuild blooms")
      assert(ManifestCommit.readManifest(spark, root).get.gen === gen,
        "blooms-only re-run must not commit a generation")
    } finally graft.sql.GraftSql.unregister(name)
  }

  test("analyze under a COLUMN MAPPING: logical names resolve, stat " +
      "keys stay logical, skipping works on the renamed column") {
    val root = mkStatless()
    ManifestCommit.renameColumn(spark, root, "v", "amount")
    Optimize.analyzeStats(spark, root, Seq("amount"))
    val m = ManifestCommit.readManifest(spark, root).get
    m.dirs.foreach { d =>
      assert(m.stats(d).exists(_.col == "amount"),
        s"$d stats: ${m.stats(d).map(_.col)}")
    }
    val (_, kept, total) = ManifestCommit.readPruned(spark, root,
      Seq(("amount", Some("250"), Some("300"))))
    assert(total === 3 && kept === 1, s"kept $kept of $total")
  }
}
