package graft.ingest

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.Files

/** OPTIMIZE ZORDER: a rewrite-only maintenance op — contents identical
  * before/after, but per-dir stats become rectangles in the z-ordered
  * (a, b) plane, so conjunctive boxes prune dirs the un-clustered
  * layout could never skip. */
class OptimizeSpec extends SparkSpec {

  private val st = StructType(Seq(
    StructField("x", LongType, false),
    StructField("y", LongType, false),
    StructField("payload", StringType, true)))

  /** Full 32×32 grid — every (x, y) point once. */
  private def grid(): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    spark.range(0, 32L * 32)
      .select((col("id") % 32).as("x"), expr("id DIV 32").as("y"),
        concat(lit("p"), col("id")).as("payload"))
  }

  private def commitMod4(root: String): Unit = {
    // modulo split: every dir spans the FULL x and y ranges
    val dirs = (0 until 4).map { i =>
      val d = ManifestCommit.newDataDir(root)
      grid().filter((col("x") + col("y")) % 4 === i).write.parquet(d)
      d -> ManifestCommit.dirStats(spark, d, Seq("x", "y"))
    }
    ManifestCommit.commitReplace(spark, root, dirs.map(_._1),
      pruneDisplaced = false, stats = dirs.toMap)
  }

  private def fileState(root: String, dir: String): Map[String, (Long, Long)] = {
    val p = new org.apache.hadoop.fs.Path(s"$root/$dir")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).map(st =>
      st.getPath.getName -> (st.getLen, st.getModificationTime)).toMap
  }

  private def contents(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, String)] =
    df.collect().toSet.map((r: Row) =>
      (r.getAs[Long]("x"), r.getAs[Long]("y"), r.getAs[String]("payload")))

  test("zorder rewrite preserves contents exactly; old gen time-travels") {
    val root = Files.createTempDirectory("optimize_spec_").toString + "/t"
    commitMod4(root)
    val before = contents(ManifestCommit.read(spark, root))
    val g0 = ManifestCommit.readManifest(spark, root).get.gen
    val m = Optimize.zorderCompact(spark, root, "x", "y", targetDirs = 16)
    assert(m.gen === g0 + 1)
    assert(contents(ManifestCommit.read(spark, root)) === before)
    assert(contents(ManifestCommit.readAt(spark, root, g0)) === before)
    // the rewrite records the union schema for explicit-schema reads
    assert(m.tableSchema.map(_.fieldNames.toSeq) === Some(Seq("x", "y", "payload")))
  }

  test("conjunctive box prunes z-ordered dirs; modulo layout prunes nothing") {
    val root = Files.createTempDirectory("optimize_spec_").toString + "/t"
    commitMod4(root)
    val box = Seq(
      ("x", Option.empty[String], Some("7")),
      ("y", Option.empty[String], Some("7")))
    // un-clustered: every dir's stats span the full grid — nothing prunes
    val (kept0, total0) = ManifestCommit.resolvePruned(spark, root, box)
    assert(total0 === 4 && kept0.size === 4)
    Optimize.zorderCompact(spark, root, "x", "y", targetDirs = 16)
    val (kept1, total1) = ManifestCommit.resolvePruned(spark, root, box)
    // the 8×8 box is 1/16 of the plane; z-range dirs are rectangles, so
    // most dirs cannot overlap it
    assert(kept1.size < total1 / 2, s"kept ${kept1.size} of $total1")
    // pruned read + residual filter == full filter (skipping is safe)
    val pruned = contents(spark.read.parquet(kept1: _*)
      .filter(col("x") <= 7 && col("y") <= 7))
    val full = contents(ManifestCommit.read(spark, root)
      .filter(col("x") <= 7 && col("y") <= 7))
    assert(pruned === full && full.size === 64)
  }

  test("single-column sort cannot serve both dimensions; z-order can") {
    val root = Files.createTempDirectory("optimize_spec_").toString + "/t"
    // sort by x only, sliced into 16 x-ranges: y stats are full-range
    val dirs = (0 until 16).map { i =>
      val d = ManifestCommit.newDataDir(root)
      grid().filter(col("x") >= i * 2 && col("x") < (i + 1) * 2)
        .write.parquet(d)
      d -> ManifestCommit.dirStats(spark, d, Seq("x", "y"))
    }
    ManifestCommit.commitReplace(spark, root, dirs.map(_._1),
      pruneDisplaced = false, stats = dirs.toMap)
    val yOnly = Seq(("y", Option.empty[String], Some("7")))
    val (keptY, totalY) = ManifestCommit.resolvePruned(spark, root, yOnly)
    assert(keptY.size === totalY, "x-sorted layout cannot prune on y")
    Optimize.zorderCompact(spark, root, "x", "y", targetDirs = 16)
    val (keptZ, totalZ) = ManifestCommit.resolvePruned(spark, root, yOnly)
    assert(keptZ.size < totalZ, "z-ordered layout prunes on y alone")
  }

  test("3-column z-order prunes on every dimension alone") {
    val root = Files.createTempDirectory("optimize_spec_").toString + "/t"
    // 16x16x16 grid in one dir; z-rewrite on all three dims
    import org.apache.spark.sql.functions.expr
    val cube = spark.range(0, 16L * 16 * 16)
      .select((col("id") % 16).as("x"), expr("id DIV 16 % 16").as("y"),
        expr("id DIV 256").as("w"))
    val d = ManifestCommit.newDataDir(root)
    cube.write.parquet(d)
    ManifestCommit.commitReplace(spark, root, Seq(d), pruneDisplaced = false,
      stats = Map(d -> ManifestCommit.dirStats(spark, d, Seq("x", "y", "w"))))
    Optimize.zorderCompactN(spark, root, Seq("x", "y", "w"), targetDirs = 16)
    Seq("x", "y", "w").foreach { c =>
      val (kept, total) = ManifestCommit.resolvePruned(spark, root,
        Seq((c, None, Some("3"))))
      assert(kept.size < total, s"$c-alone bound should prune")
    }
    // and the 3-box prunes hardest
    val (kept3, total3) = ManifestCommit.resolvePruned(spark, root, Seq(
      ("x", None, Some("3")), ("y", None, Some("3")), ("w", None, Some("3"))))
    assert(kept3.size <= total3 / 4, s"3-box kept ${kept3.size} of $total3")
    val got = spark.read.parquet(kept3: _*)
      .filter(col("x") <= 3 && col("y") <= 3 && col("w") <= 3).count()
    assert(got === 4L * 4 * 4)
  }

  test("compactSmall folds small + dv'd dirs only; big dirs byte-identical") {
    val root = Files.createTempDirectory("optimize_spec_").toString + "/t"
    val big = ManifestCommit.newDataDir(root)
    grid().write.parquet(big) // 1024 rows
    ManifestCommit.commitReplace(spark, root, Seq(big), pruneDisplaced = false)
    (0 until 3).foreach { i =>
      val d = ManifestCommit.newDataDir(root)
      grid().filter(col("x") === i && col("y") === 0)
        .withColumn("payload", concat(col("payload"), lit(s"-delta$i")))
        .write.parquet(d)
      ManifestCommit.commitAppend(spark, root, d)
    }
    val fsys = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def stateOf(d: String) = fsys.listStatus(
      new org.apache.hadoop.fs.Path(s"$root/$d"))
      .map(st => st.getPath.getName -> (st.getLen, st.getModificationTime)).toMap
    val bigName = big.split('/').last
    val bigBefore = stateOf(bigName)
    val before = ManifestCommit.read(spark, root).count()
    val bigBytes = fsys.getContentSummary(
      new org.apache.hadoop.fs.Path(big)).getLength

    val m = Optimize.compactSmall(spark, root, smallBytes = bigBytes / 2)
    assert(m.dirs.size === 2 && m.dirs.contains(bigName))
    assert(m.op === Some("compact_minor"))
    assert(stateOf(bigName) === bigBefore, "big dir must be byte-identical")
    assert(ManifestCommit.read(spark, root).count() === before)

    // idempotent when nothing qualifies: one small dir alone is not
    // worth folding (and must not commit a new generation)
    val m2 = Optimize.compactSmall(spark, root, smallBytes = 1L)
    assert(m2.gen === m.gen)
  }

  test("compactSmall materializes a deletion vector even on a big dir") {
    val root = Files.createTempDirectory("optimize_spec_").toString + "/t"
    val big = ManifestCommit.newDataDir(root)
    grid().write.parquet(big)
    ManifestCommit.commitReplace(spark, root, Seq(big), pruneDisplaced = false,
      stats = Map(big -> ManifestCommit.dirStats(spark, big, Seq("x", "y"))))
    import org.apache.spark.sql.Row
    MergeInto.deleteWhere(spark, root, mkDf(
      StructType(Seq(StructField("x", LongType, false),
        StructField("y", LongType, false))),
      Row(0L, 0L), Row(1L, 0L)))
    assert(ManifestCommit.readManifest(spark, root).get.dvs.size === 1)
    // dv'd dirs always fold, whatever their size
    val m = Optimize.compactSmall(spark, root, smallBytes = 1L)
    assert(m.dvs.isEmpty && m.dirs.size === 1)
    assert(ManifestCommit.read(spark, root).count() === 1024 - 2)
  }

  test("compactMonths: cold month byte-identical, new month materializes, no-op converges") {
    val root = Files.createTempDirectory("optimize_spec_").toString + "/t"
    val st2 = StructType(Seq(
      StructField("id", LongType, false),
      StructField("ts", TimestampType, false),
      StructField("v", LongType, false),
      StructField("amt", DoubleType, true)))
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def commitDir(rows: org.apache.spark.sql.Row*): String = {
      val d = ManifestCommit.newDataDir(root)
      mkDf(st2, rows: _*).write.parquet(d)
      d
    }
    import org.apache.spark.sql.Row
    val jan = commitDir(Row(1L, ts("2024-01-10 00:00:00"), 0L, 1.0),
      Row(2L, ts("2024-01-20 00:00:00"), 0L, 2.0))
    val feb = commitDir(Row(10L, ts("2024-02-05 00:00:00"), 0L, 10.0))
    val stats = Seq(jan, feb).map(d =>
      d -> ManifestCommit.dirStats(spark, d, Seq("ts", "id"))).toMap
    ManifestCommit.commitReplace(spark, root, Seq(jan, feb),
      pruneDisplaced = false, stats = stats)
    // delta: feb update (v=1) + a row in a BRAND-NEW month (march)
    val delta = commitDir(Row(10L, ts("2024-02-06 00:00:00"), 1L, 99.0),
      Row(20L, ts("2024-03-01 00:00:00"), 0L, 20.0))
    ManifestCommit.commitAppend(spark, root, delta,
      stats = ManifestCommit.dirStats(spark, delta, Seq("ts", "id")))

    val janName = jan.split('/').last
    val janBefore = fileState(root, janName)
    val m = Optimize.compactMonths(spark, root, "ts", Seq("id"), Some("v"))
    assert(m.dirs.size === 3, "jan kept + feb collapsed + march materialized")
    assert(m.dirs.contains(janName) && fileState(root, janName) === janBefore)
    assert(m.op === Some("compact_months"))
    val got = ManifestCommit.read(spark, root).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(got === Map(1L -> 1.0, 2L -> 2.0, 10L -> 99.0, 20L -> 20.0))
    // idempotent: a second collapse with nothing to do commits nothing
    assert(Optimize.compactMonths(spark, root, "ts", Seq("id"), Some("v"))
      .gen === m.gen)
  }

  test("compactMonths under an active COLUMN MAPPING rebuilds blooms " +
      "under the PHYSICAL on-disk name (renamed bloom column)") {
    val root = Files.createTempDirectory("optimize_spec_").toString + "/t"
    val st2 = StructType(Seq(
      StructField("id", LongType, false),
      StructField("ts", TimestampType, false),
      StructField("v", LongType, false)))
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def writeDir(rows: Row*): String = {
      val d = ManifestCommit.newDataDir(root)
      mkDf(st2, rows: _*).write.parquet(d)
      d
    }
    val jan = writeDir(Row(1L, ts("2024-01-10 00:00:00"), 0L),
      Row(2L, ts("2024-01-20 00:00:00"), 0L))
    ManifestCommit.commitReplace(spark, root, Seq(jan),
      pruneDisplaced = false,
      stats = Map(jan -> ManifestCommit.dirStats(spark, jan, Seq("ts", "id"))),
      schema = Some(StructType(st2.fields.map(_.copy(nullable = true)))))
    // rename the bloom/collapse key: files keep physical name "id"
    ManifestCommit.renameColumn(spark, root, "id", "key")
    // a delta touching jan forces the month collapse to WRITE a new dir
    val delta = writeDir(Row(1L, ts("2024-01-11 00:00:00"), 1L))
    ManifestCommit.commitAppend(spark, root, delta,
      stats = ManifestCommit.dirStats(spark, delta, Seq("ts", "key"),
        colmap = Map("key" -> "id")))
    // pre-fix: rebuildBlooms probed countDistinct over the LOGICAL name
    // "key" against a dir whose files carry physical "id" ->
    // AnalysisException, the maintenance job failed
    val m = Optimize.compactMonths(spark, root, "ts", Seq("key"),
      Some("v"), bloomCols = Seq("key"))
    val got = ManifestCommit.read(spark, root).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got === Map(1L -> 1L, 2L -> 0L))
    // the rebuilt bloom answers point lookups under the LOGICAL name
    // (bloomDirsOf probes the physical side file when the logical one
    // is absent)
    val kept = ManifestCommit.bloomDirsOf(spark, root, m, "key", Seq(1L))
    assert(kept.nonEmpty)
    val none = ManifestCommit.bloomDirsOf(spark, root, m, "key", Seq(999999L))
    assert(none.size < m.dirs.size,
      "bloom on the renamed column never excludes anything")
  }

  test("compactMonths: NULL-month delta rows land in a residual dir, never lost") {
    val root = Files.createTempDirectory("optimize_spec_").toString + "/t"
    val st2 = StructType(Seq(
      StructField("id", LongType, false),
      StructField("ts", TimestampType, true),
      StructField("v", LongType, false)))
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def writeDir(rows: Row*): String = {
      val d = ManifestCommit.newDataDir(root)
      mkDf(st2, rows: _*).write.parquet(d)
      d
    }
    val jan = writeDir(Row(1L, ts("2024-01-10 00:00:00"), 0L))
    ManifestCommit.commitReplace(spark, root, Seq(jan),
      pruneDisplaced = false,
      stats = Map(jan -> ManifestCommit.dirStats(spark, jan, Seq("ts", "id"))))
    // delta SPANS jan+feb (a true multi-month delta dir) and carries
    // NULL-ts rows (two versions of id 50) — the loss path: delta dirs
    // are dropped from the manifest, and null months match no per-month
    // rewrite filter
    val delta = writeDir(Row(1L, ts("2024-01-11 00:00:00"), 1L),
      Row(10L, ts("2024-02-05 00:00:00"), 0L),
      Row(50L, null, 0L), Row(50L, null, 1L), Row(51L, null, 0L))
    ManifestCommit.commitAppend(spark, root, delta,
      stats = ManifestCommit.dirStats(spark, delta, Seq("ts", "id")))
    val m = Optimize.compactMonths(spark, root, "ts", Seq("id"), Some("v"))
    // jan collapsed + feb materialized + residual for the null-month rows
    val got = ManifestCommit.read(spark, root).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got === Map(1L -> 1L, 10L -> 0L, 50L -> 1L, 51L -> 0L),
      "null-month rows survive (collapsed latest-per-key), months collapsed")
    assert(m.dirs.size === 3, "jan + feb + one residual dir")
    // a second run converges on the same rows (residual re-folds into itself)
    Optimize.compactMonths(spark, root, "ts", Seq("id"), Some("v"))
    assert(ManifestCommit.read(spark, root).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap === got)
  }

  test("rewrites preserve __rows: COUNT(*) stays manifest-only through compact + zorder") {
    val root = Files.createTempDirectory("optimize_spec_").toString + "/t"
    val dirs = (0 until 3).map { i =>
      val d = ManifestCommit.newDataDir(root)
      grid().filter(col("x") % 3 === i).write.parquet(d)
      d -> (ManifestCommit.dirStats(spark, d, Seq("x", "y")) :+
        ManifestCommit.rowCountStat(spark, d))
    }
    ManifestCommit.commitReplace(spark, root, dirs.map(_._1),
      pruneDisplaced = false, stats = dirs.toMap)
    assert(ManifestCommit.tableRowCount(spark, root) === Some(1024L))
    // minor compaction folds the small dirs — counts must follow
    Optimize.compactSmall(spark, root, smallBytes = 1L << 30)
    assert(ManifestCommit.tableRowCount(spark, root) === Some(1024L),
      "compactSmall must recount the folded dir")
    // full z-order rewrite — every new dir recounted
    Optimize.zorderCompactN(spark, root, Seq("x", "y"), targetDirs = 4)
    assert(ManifestCommit.tableRowCount(spark, root) === Some(1024L),
      "zorder must preserve the __rows pseudo-stat")
  }

  test("bloomCols: rewrites rebuild the point index") {
    val root = Files.createTempDirectory("optimize_spec_").toString + "/t"
    commitMod4(root)
    // blooms on the pre-rewrite dirs
    ManifestCommit.readManifest(spark, root).get.dirs.foreach(d =>
      ManifestCommit.writeDirBloom(spark, s"$root/$d", "x", 1024))
    Optimize.zorderCompactN(spark, root, Seq("x", "y"), targetDirs = 8,
      bloomCols = Seq("x"))
    val (kept, total) = ManifestCommit.resolveBloom(spark, root, "x", 5L)
    assert(total === 8)
    // every dir has a bloom; x=5 lives only in low-x rectangles, so at
    // least one high-x dir must answer definitely-absent
    assert(kept.size < total, "rebuilt blooms should skip some dir")
    // and the probe still finds all 32 rows with x=5 (one per y)
    val m = ManifestCommit.readManifest(spark, root).get
    val names = kept.map(_.split('/').last)
    assert(ManifestCommit.readDirsOf(spark, root, m, m.dirs.filter(names.contains))
      .filter(col("x") === 5).count() === 32L)
  }

  test("missing stats on one bound keep the dir (never a filter)") {
    val root = Files.createTempDirectory("optimize_spec_").toString + "/t"
    val d = ManifestCommit.newDataDir(root)
    grid().write.parquet(d)
    // stats recorded only for x
    ManifestCommit.commitReplace(spark, root, Seq(d),
      pruneDisplaced = false,
      stats = Map(d -> ManifestCommit.dirStats(spark, d, Seq("x"))))
    val (kept, total) = ManifestCommit.resolvePruned(spark, root, Seq(
      ("x", None, Some("7")), ("y", None, Some("7"))))
    assert(kept.size === 1 && total === 1)
  }

  test("compactWhere folds only stats-overlapping small dirs; out-of-scope " +
      "small dirs and unparseable predicates widen safely") {
    val root = Files.createTempDirectory("optimize_spec_").toString + "/w"
    // 4 range dirs on x: [0,7], [8,15], [16,23], [24,31] — all tiny
    val dirs = (0 until 4).map { i =>
      val d = ManifestCommit.newDataDir(root)
      grid().filter(col("x") >= i * 8 && col("x") < (i + 1) * 8)
        .write.parquet(d)
      d -> ManifestCommit.dirStats(spark, d, Seq("x", "y"))
    }
    ManifestCommit.commitReplace(spark, root, dirs.map(_._1),
      pruneDisplaced = false, stats = dirs.toMap,
      schema = Some(StructType(st.fields.map(_.copy(nullable = true)))))
    val before = ManifestCommit.readManifest(spark, root).get
    val want = contents(ManifestCommit.read(spark, root))
    // predicate overlaps dirs 1 and 2 only ([8,15] and [16,23])
    Optimize.compactWhere(spark, root,
      col("x") >= 10 && col("x") <= 20, smallBytes = 1L << 30)
    val after = ManifestCommit.readManifest(spark, root).get
    assert(after.dirs.size === before.dirs.size - 1,
      s"expected 2 in-scope dirs -> 1: ${before.dirs.size} -> ${after.dirs.size}")
    // dirs 0 and 3 survive BYTE-IDENTICAL (same manifest entries)
    val out = Set(before.dirs.head, before.dirs.last)
    assert(out.subsetOf(after.dirs.toSet), "out-of-scope dirs were touched")
    assert(contents(ManifestCommit.read(spark, root)) === want)
    // an unparseable predicate widens to the whole table (never narrows
    // wrongly): everything small folds into one dir
    Optimize.compactWhere(spark, root,
      (col("x") * 2 - col("y")) > 3, smallBytes = 1L << 30)
    assert(ManifestCommit.readManifest(spark, root).get.dirs.size === 1)
    assert(contents(ManifestCommit.read(spark, root)) === want)
  }

  test("compactWhere scopes a DISJUNCTION: OR of two ranges folds only " +
      "the envelope-overlapping dirs (pre-r18 an OR scanned everything)") {
    val root = Files.createTempDirectory("optimize_spec_").toString + "/or"
    val dirs = (0 until 4).map { i =>
      val d = ManifestCommit.newDataDir(root)
      grid().filter(col("x") >= i * 8 && col("x") < (i + 1) * 8)
        .write.parquet(d)
      d -> ManifestCommit.dirStats(spark, d, Seq("x", "y"))
    }
    ManifestCommit.commitReplace(spark, root, dirs.map(_._1),
      pruneDisplaced = false, stats = dirs.toMap,
      schema = Some(StructType(st.fields.map(_.copy(nullable = true)))))
    val before = ManifestCommit.readManifest(spark, root).get
    val want = contents(ManifestCommit.read(spark, root))
    // (x in [2,5]) OR (x in [10,13]): envelope [2,13] overlaps dirs 0
    // and 1 only — dirs 2 and 3 ([16,23], [24,31]) stay byte-identical
    Optimize.compactWhere(spark, root,
      (col("x") >= 2 && col("x") <= 5) || (col("x") >= 10 && col("x") <= 13),
      smallBytes = 1L << 30)
    val after = ManifestCommit.readManifest(spark, root).get
    assert(after.dirs.size === before.dirs.size - 1,
      s"2 in-scope dirs -> 1: ${before.dirs.size} -> ${after.dirs.size}")
    val out = Set(before.dirs(2), before.dirs(3))
    assert(out.subsetOf(after.dirs.toSet), "out-of-envelope dirs touched")
    assert(contents(ManifestCommit.read(spark, root)) === want)
    // RANGE-SPLIT OR — the shape no envelope can serve: (x <= 5) OR
    // (x >= 26) scopes the FIRST and LAST dirs only; the middle dirs in
    // the gap are never touched (per-branch disjunctive resolution)
    val root2 = Files.createTempDirectory("optimize_spec_").toString + "/or2"
    val dirs2 = (0 until 4).map { i =>
      val d = ManifestCommit.newDataDir(root2)
      grid().filter(col("x") >= i * 8 && col("x") < (i + 1) * 8)
        .write.parquet(d)
      d -> ManifestCommit.dirStats(spark, d, Seq("x", "y"))
    }
    ManifestCommit.commitReplace(spark, root2, dirs2.map(_._1),
      pruneDisplaced = false, stats = dirs2.toMap,
      schema = Some(StructType(st.fields.map(_.copy(nullable = true)))))
    val before2 = ManifestCommit.readManifest(spark, root2).get
    val want2 = contents(ManifestCommit.read(spark, root2))
    val scope2 = Optimize.whereScope(spark, before2,
      col("x") <= 5 || col("x") >= 26)
    assert(scope2 === Set(before2.dirs.head, before2.dirs.last),
      s"range-split OR must scope the two edge dirs only: $scope2")
    Optimize.compactWhere(spark, root2,
      col("x") <= 5 || col("x") >= 26, smallBytes = 1L << 30)
    val after2 = ManifestCommit.readManifest(spark, root2).get
    assert(after2.dirs.size === 3, s"edge dirs fold to one: ${after2.dirs}")
    assert(Set(before2.dirs(1), before2.dirs(2))
      .subsetOf(after2.dirs.toSet), "gap dirs must stay untouched")
    assert(contents(ManifestCommit.read(spark, root2)) === want2)
  }

  test("compactWhere under an active COLUMN MAPPING: the RENAMED " +
      "predicate column resolves to the re-keyed stats — out-of-scope " +
      "dirs untouched") {
    val root = Files.createTempDirectory("optimize_spec_").toString + "/wren"
    val dirs = (0 until 4).map { i =>
      val d = ManifestCommit.newDataDir(root)
      grid().filter(col("x") >= i * 8 && col("x") < (i + 1) * 8)
        .write.parquet(d)
      d -> ManifestCommit.dirStats(spark, d, Seq("x", "y"))
    }
    ManifestCommit.commitReplace(spark, root, dirs.map(_._1),
      pruneDisplaced = false, stats = dirs.toMap,
      schema = Some(StructType(st.fields.map(_.copy(nullable = true)))))
    ManifestCommit.renameColumn(spark, root, "x", "xs")
    val before = ManifestCommit.readManifest(spark, root).get
    def renamedContents(): Set[(Long, Long, String)] =
      ManifestCommit.read(spark, root).collect().toSet.map((r: Row) =>
        (r.getAs[Long]("xs"), r.getAs[Long]("y"), r.getAs[String]("payload")))
    val want = renamedContents()
    // predicate on the NEW logical name overlaps dirs 1 and 2 only.
    // Discriminator: if the scope extraction missed the re-keyed stats
    // (bounds keyed `xs` against stats still keyed `x`), every dir would
    // be vacuously in scope and ALL FOUR would fold to one.
    Optimize.compactWhere(spark, root,
      col("xs") >= 10 && col("xs") <= 20, smallBytes = 1L << 30)
    val after = ManifestCommit.readManifest(spark, root).get
    assert(after.dirs.size === before.dirs.size - 1,
      s"expected 2 in-scope dirs -> 1: ${before.dirs.size} -> ${after.dirs.size}")
    val out = Set(before.dirs.head, before.dirs.last)
    assert(out.subsetOf(after.dirs.toSet), "out-of-scope dirs were touched")
    // the folded dir landed under the PHYSICAL name and reads under the
    // logical one: contents identical, stats re-keyed on xs still prune
    assert(renamedContents() === want)
    assert(after.colmap === Map("xs" -> "x"), "mapping must survive the fold")
    val foldedDir = after.dirs.filterNot(out).head
    val footer = spark.read.parquet(s"$root/$foldedDir").schema.fieldNames
    assert(footer.contains("x") && !footer.contains("xs"),
      s"folded dir must carry physical names: ${footer.mkString(",")}")
  }

  test("compactWhere on a multi-level CONVERTED table: partition-value " +
      "stats scope the fold; cold partitions keep their nested dirs") {
    val root = Files.createTempDirectory("optimize_spec_").toString + "/wconv"
    val df = spark.range(0, 240).toDF("id")
      .withColumn("y", (lit(2024) + col("id") % 2).cast("int"))
      .withColumn("m", (lit(1) + col("id") % 3).cast("int"))
      .withColumn("v", (col("id") * 2).cast("double"))
    df.write.partitionBy("y", "m").parquet(root)
    val m0 = ManifestCommit.convertToGraft(spark, root, Seq("id"))
    assert(m0.dirs.size === 6, m0.dirs) // 2 years x 3 months
    val want = ManifestCommit.read(spark, root)
      .collect().map(_.toString).sorted.toSeq
    // scope = one year: its 3 month leaves fold, the other year's 3
    // nested leaves survive byte-identical (never probed or read)
    val before = ManifestCommit.readManifest(spark, root).get
    val cold = before.dirs.filter(d =>
      before.stats(d).exists(s => s.col == "y" && s.min == "2025"))
    assert(cold.size === 3)
    Optimize.compactWhere(spark, root, col("y") === 2024,
      smallBytes = 1L << 30)
    val after = ManifestCommit.readManifest(spark, root).get
    // the fold is LAYOUT-PRESERVING (the table records a composite
    // slice): the 3 hot leaves rewrite into 3 slice-tight dirs with the
    // partition columns materialized — never one mixed dir that would
    // destroy the layout the convert recorded
    assert(after.dirs.size === 6, s"3 hot slice dirs + 3 cold: ${after.dirs}")
    assert(cold.toSet.subsetOf(after.dirs.toSet),
      "cold partitions must keep their nested dirs")
    val hotAfter = after.dirs.filterNot(cold.toSet)
    hotAfter.foreach { d =>
      val sy = after.stats(d).find(_.col == "y").get
      val sm = after.stats(d).find(_.col == "m").get
      assert(sy.min === sy.max && sm.min === sm.max,
        s"rewritten dir $d not slice-tight: y=$sy m=$sm")
    }
    // contents identical: the rewritten dirs materialized the partition
    // columns as real columns, the cold leaves still inject them
    assert(ManifestCommit.read(spark, root)
      .collect().map(_.toString).sorted.toSeq === want)
    // pruning still live on the partition column across the mixed layout
    val (pruned, kept, total) = ManifestCommit.readPruned(spark, root,
      Seq(("y", Some("2025"), Some("2025"))))
    assert(total === 6 && kept === 3, s"kept $kept of $total")
    assert(pruned.count() === 120L)
  }

  test("whereScope unwraps analyzer-coerced casts on the COLUMN side: " +
      "an ltz-cast DSL predicate over an NTZ column scopes exactly; a " +
      "non-round-trip literal stays whole-table (widens, never narrows)") {
    val root = Files.createTempDirectory("optimize_spec_").toString + "/ntz"
    // 3 month dirs over a TIMESTAMP_NTZ column (the fixture shape
    // that silently widened scoped maintenance before round 17)
    val df = spark.range(0, 90).toDF("id")
      .withColumn("ts", expr(
        "timestamp_ntz'2024-01-15 00:00:00' + " +
          "make_interval(0, 0, 0, cast(id / 3 as int), 0, 0, 0)"))
    val dirs = ManifestCommit.writeSliced(spark, root, df,
      expr("date_format(ts, 'yyyyMM')"),
      Seq("ts", "id", ManifestCommit.RowCountStat))
    ManifestCommit.commitReplace(spark, root, dirs.map(_._1),
      pruneDisplaced = false, stats = dirs.toMap,
      schema = Some(StructType(df.schema.fields.map(_.copy(nullable = true)))),
      slice = Some("date_format(ts, 'yyyyMM')"))
    val before = ManifestCommit.readManifest(spark, root).get
    assert(before.dirs.size === 2) // Jan 15 .. Feb 13
    assert(before.tableSchema.get("ts").dataType ===
      org.apache.spark.sql.types.TimestampNTZType)
    // the DSL shape: ltz literal → analyzer casts the NTZ COLUMN side
    Optimize.zorderWhere(spark, root,
      col("ts") >= lit("2024-02-01").cast("timestamp") &&
        col("ts") <= lit("2024-02-28 23:59:59").cast("timestamp"),
      Seq("ts", "id"))
    val after = ManifestCommit.readManifest(spark, root).get
    val displaced = before.dirs.filterNot(after.dirs.toSet)
    assert(displaced.size === 1,
      s"ntz DSL predicate must scope to ONE month dir, rewrote $displaced")
    // a cast the normalization cannot prove (long→double is not in the
    // order-preserving whitelist) keeps the WIDE scope: every small dir
    // is eligible and folds — conservative, never a wrong exclusion
    val before2 = ManifestCommit.readManifest(spark, root).get
    Optimize.compactWhere(spark, root,
      col("id").cast("double") >= lit(85.5), smallBytes = 1L << 30)
    val after2 = ManifestCommit.readManifest(spark, root).get
    val displaced2 = before2.dirs.filterNot(after2.dirs.toSet)
    assert(displaced2.size === before2.dirs.size,
      s"unprovable cast must widen to every dir: $displaced2")
    assert(ManifestCommit.read(spark, root).count() === 90L)
  }

  test("whereScope keeps FLOOR-casts wrapped: cast(ts AS date) =/<=/>= " +
      "DATE scopes every same-day dir — an afternoon-only dir (per-dir " +
      "min past midnight) is never wrongly excluded from maintenance") {
    // cast-to-date is monotone but NOT injective: the round-17 unwrap
    // rewrote `cast(ts AS date) ⊕ DATE'D'` to `ts ⊕ midnight(D)`, which
    // excluded a dir holding only afternoon rows of day D. The repro the
    // round-17 review confirmed live, now pinned.
    val root = Files.createTempDirectory("optimize_spec_").toString + "/floor"
    def hourDir(day: String, startHour: Int) = {
      val d = ManifestCommit.newDataDir(root)
      val df = spark.range(0, 6).toDF("id")
        .withColumn("ts", expr(
          f"timestamp'$day $startHour%02d:00:00' + " +
            "make_interval(0, 0, 0, 0, cast(id as int), 0, 0)"))
      df.write.parquet(d)
      d -> ManifestCommit.dirStats(spark, d, Seq("ts", "id"))
    }
    val morning = hourDir("2024-01-15", 0)   // 00:00–05:00
    val afternoon = hourDir("2024-01-15", 12) // 12:00–17:00
    val otherDay = hourDir("2024-03-20", 8)
    val all = Seq(morning, afternoon, otherDay)
    val schema = StructType(Seq(
      StructField("id", LongType, true),
      StructField("ts", TimestampType, true)))
    ManifestCommit.commitReplace(spark, root, all.map(_._1),
      pruneDisplaced = false, stats = all.toMap, schema = Some(schema))
    val m = ManifestCommit.readManifest(spark, root).get
    def name(p: (String, Seq[ManifestCommit.ColStats])) =
      new org.apache.hadoop.fs.Path(p._1).getName
    val sameDay = Set(name(morning), name(afternoon))
    val d = lit(java.sql.Date.valueOf("2024-01-15"))
    // every comparison direction on the floor-cast shape must keep BOTH
    // same-day dirs in scope (the conjunct widens; it must never narrow)
    Seq(col("ts").cast("date") === d,
        col("ts").cast("date") <= d,
        col("ts").cast("date") >= d).foreach { p =>
      val scope = Optimize.whereScope(spark, m, p)
      assert(sameDay.subsetOf(scope),
        s"floor-cast $p wrongly excluded a same-day dir: scope=$scope")
    }
    // and the maintenance actually lands: OPTIMIZE WHERE folds the
    // afternoon dir instead of silently skipping it
    Optimize.compactWhere(spark, root,
      col("ts").cast("date") === d, smallBytes = 1L << 30)
    val after = ManifestCommit.readManifest(spark, root).get
    assert(!after.dirs.contains(name(afternoon)),
      s"afternoon dir skipped by OPTIMIZE WHERE: ${after.dirs}")
    assert(ManifestCommit.read(spark, root).count() === 18L)
    // the INJECTIVE unwrap is still live: a bare date→timestamp
    // comparison over a DATE column would scope exactly (covered by the
    // ntz case above); here pin that an uncast predicate still prunes
    val exact = Optimize.whereScope(spark, m,
      col("ts") >= lit("2024-03-01 00:00:00").cast("timestamp"))
    assert(!exact.contains(name(morning)) && !exact.contains(name(afternoon)),
      s"uncast predicate lost its exact scope: $exact")
  }

  test("zorderWhere on a SLICED table z-orders WITHIN the layout: a " +
      "scope spanning two months rewrites into slice-PURE z-dirs — " +
      "month pruning intact, never a mixed-slice dir") {
    val root = Files.createTempDirectory("optimize_spec_").toString + "/zsl"
    val df = spark.range(0, 200).toDF("id")
      .withColumn("ts", when(col("id") % 2 === 0,
        lit("2024-01-10 00:00:00")).otherwise(lit("2024-02-10 00:00:00"))
        .cast("timestamp"))
      .withColumn("x", (col("id") * 7) % 50)
    val dirs = ManifestCommit.writeSliced(spark, root, df,
      expr("date_format(ts, 'yyyyMM')"),
      Seq("ts", "id", "x", ManifestCommit.RowCountStat))
    ManifestCommit.commitReplace(spark, root, dirs.map(_._1),
      pruneDisplaced = false, stats = dirs.toMap,
      schema = Some(StructType(df.schema.fields.map(_.copy(nullable = true)))),
      slice = Some("date_format(ts, 'yyyyMM')"))
    val want = ManifestCommit.read(spark, root)
      .collect().map(_.toString).sorted.toSeq
    // the WHERE scope spans BOTH months — the pre-round-18 rewrite
    // folded them into mixed-month z-dirs, silently degrading the
    // layout the table was DDL'd for
    val m = Optimize.zorderWhere(spark, root,
      col("ts") >= lit("2024-01-01 00:00:00").cast("timestamp"),
      Seq("id", "x"), targetDirs = Some(8))
    m.dirs.foreach { d =>
      val ts = m.stats(d).find(_.col == "ts").get
      assert(ts.min.take(7) === ts.max.take(7),
        s"rewritten dir $d mixes months: $ts")
    }
    assert(m.dirs.size >= 8, s"z granularity kept: ${m.dirs.size}")
    // month pruning still exact
    val (_, kept, total) = ManifestCommit.readPruned(spark, root, Seq(("ts",
      Some("2024-02-01"), Some("2024-02-28"))))
    assert(kept < total, s"month probe kept $kept of $total")
    // and the z-rectangles prune WITHIN a month: a conjunctive (id, x)
    // box probe skips same-month dirs holding other rectangles
    val (keptZ, totalZ) = {
      val (ds, tot) = ManifestCommit.resolvePruned(spark, root,
        Seq(("id", Some("0"), Some("40")), ("x", Some("0"), Some("10"))))
      (ds.size, tot)
    }
    assert(keptZ < totalZ, s"z box probe kept $keptZ of $totalZ")
    assert(ManifestCommit.read(spark, root)
      .collect().map(_.toString).sorted.toSeq === want)
  }

  test("compactSmall with a Replacing collapse: the generic per-slice " +
      "fold subsumes the month collapse — latest per key within each " +
      "slice, a key living in two slices keeps both rows") {
    val root = Files.createTempDirectory("optimize_spec_").toString + "/cl"
    val stC = StructType(Seq(
      StructField("id", LongType, false),
      StructField("ts", TimestampType, false),
      StructField("v", LongType, false)))
    def rows(xs: (Long, String, Long)*) = mkDf(stC, xs.map { case (id, t, v) =>
      Row(id, java.sql.Timestamp.valueOf(t), v) }: _*)
    // base: ids 1..4 in Jan, id 10 in BOTH Jan and Feb (per-partition
    // Replacing: the collapse key is (id, month), so both rows live)
    val base = rows((1L, "2024-01-05 00:00:00", 0L),
      (2L, "2024-01-06 00:00:00", 0L), (3L, "2024-01-07 00:00:00", 0L),
      (4L, "2024-01-08 00:00:00", 0L), (10L, "2024-01-09 00:00:00", 0L),
      (10L, "2024-02-09 00:00:00", 0L))
    val dirs = ManifestCommit.writeSliced(spark, root, base,
      expr("date_format(ts, 'yyyyMM')"),
      Seq("ts", "id", ManifestCommit.RowCountStat))
    ManifestCommit.commitReplace(spark, root, dirs.map(_._1),
      pruneDisplaced = false, stats = dirs.toMap,
      schema = Some(StructType(stC.fields.map(_.copy(nullable = true)))),
      slice = Some("date_format(ts, 'yyyyMM')"))
    // two delta batches re-version ids 1..3 (higher v wins)
    Seq(1L, 2L).foreach { ver =>
      val d = ManifestCommit.newDataDir(root)
      rows((1L, "2024-01-05 00:00:00", ver),
        (2L, "2024-01-06 00:00:00", ver),
        (3L, "2024-01-07 00:00:00", ver)).write.parquet(d)
      ManifestCommit.commitAppend(spark, root, d,
        stats = ManifestCommit.dirStats(spark, d,
          Seq("ts", "id", ManifestCommit.RowCountStat)))
    }
    Optimize.compactSmall(spark, root, smallBytes = 1L << 30,
      collapse = Some((Seq("id"), Some("v"))))
    val m = ManifestCommit.readManifest(spark, root).get
    assert(m.dirs.size === 2, s"one dir per month: ${m.dirs}")
    m.dirs.foreach { d =>
      val ts = m.stats(d).find(_.col == "ts").get
      assert(ts.min.take(7) === ts.max.take(7), s"$d mixes months: $ts")
    }
    val got = ManifestCommit.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toLocalDateTime.getMonthValue,
        r.getLong(2))).toSet
    assert(got === Set((1L, 1, 2L), (2L, 1, 2L), (3L, 1, 2L),
      (4L, 1, 0L), (10L, 1, 0L), (10L, 2, 0L)),
      s"collapse must keep latest v per (id, month): $got")
  }

  test("rank-bucketed z-keys prune a Zipf-skewed dimension where linear " +
      "min/max scaling cannot: a head-value probe scans a fraction of " +
      "the rows, contents exact either way") {
    // 90% of rows carry head values 0..8; 10% scatter to ~1e9. Linear
    // scaling maps the whole head to z-slot 0 (9 / 1e9 of the range),
    // so dirs split the head by the OTHER dimension only and every
    // head dir spans k=[0,8]; rank bucketing spends ~90% of the slots
    // on the head and a head-value probe prunes within it.
    def skewed() = spark.range(0, 4000).select(
      when(col("id") % 10 < 9, col("id") % 9)
        .otherwise((col("id") % 97) * 10000000L + 10).cast("long").as("k"),
      (col("id") % 4).cast("long").as("y"),
      concat(lit("p"), col("id")).as("payload"))
    def build(): String = {
      val root = Files.createTempDirectory("optimize_spec_").toString + "/rz"
      val d = ManifestCommit.newDataDir(root)
      skewed().write.parquet(d)
      ManifestCommit.commitReplace(spark, root, Seq(d),
        pruneDisplaced = false,
        stats = Map(d -> ManifestCommit.dirStats(spark, d, Seq("k", "y"))),
        schema = Some(StructType(skewed().schema.fields.map(_.copy(nullable = true)))))
      root
    }
    // ROWS SCANNED is the honest metric: linear scaling collapses every
    // head row onto one z-slot, so the range partitioner packs the head
    // into a few FAT dirs — the kept-dir COUNT looks fine while the
    // probe still scans ~90% of the table (and the layout is skewed:
    // a handful of huge files among 12 near-empty ones)
    def scannedFor(root: String): Long =
      ManifestCommit.readPruned(spark, root,
        Seq(("k", Some("4"), Some("4"))))._1.count()
    val lin = build()
    Optimize.zorderCompactN(spark, lin, Seq("k", "y"), targetDirs = 16)
    val rank = build()
    Optimize.zorderCompactN(spark, rank, Seq("k", "y"), targetDirs = 16,
      rankBuckets = 64)
    val (rowsLin, rowsRank) = (scannedFor(lin), scannedFor(rank))
    // at 16 dirs the rank resolution is ~4 ranks/dir, so the honest
    // expectation is ~45% scanned vs linear's ~90% — pin < 3/4 with
    // margin (range-partition boundaries jitter with sampling)
    assert(rowsRank * 4 < rowsLin * 3,
      s"rank bucketing must cut the rows a Zipf-head probe scans: " +
        s"rank=$rowsRank linear=$rowsLin of 4000")
    // the SQL surface: `OPTIMIZE … ZORDER BY (…) RANKED` re-lays the
    // linear root with rank keys — the same probe drops to rank level
    val name = s"opt_rank_${java.util.UUID.randomUUID().toString.replace("-", "").take(8)}"
    graft.sql.GraftSql.register(name, lin)
    try {
      spark.sql(s"OPTIMIZE graft.`$name` ZORDER BY (k, y) RANKED")
      val rowsSql = scannedFor(lin)
      assert(rowsSql * 4 < rowsLin * 3,
        s"SQL RANKED must match the programmatic rank path: " +
          s"sql=$rowsSql linear=$rowsLin")
    } finally graft.sql.GraftSql.unregister(name)
    // both layouts hold identical rows
    def rows(root: String) = ManifestCommit.read(spark, root)
      .collect().map(_.toString).sorted.toSeq
    assert(rows(lin) === rows(rank))
    assert(rows(rank).size === 4000)
  }

  test("compactSmall on a SLICED table folds per slice value: two delta " +
      "dirs per month become one dir per month, month pruning intact") {
    val root = Files.createTempDirectory("optimize_spec_").toString + "/sl"
    val df = spark.range(0, 60).toDF("id")
      .withColumn("ts", when(col("id") % 2 === 0,
        lit("2024-01-10 00:00:00")).otherwise(lit("2024-02-10 00:00:00"))
        .cast("timestamp"))
    // base generation: month-sliced
    val dirs = ManifestCommit.writeSliced(spark, root, df,
      expr("date_format(ts, 'yyyyMM')"),
      Seq("ts", "id", ManifestCommit.RowCountStat))
    ManifestCommit.commitReplace(spark, root, dirs.map(_._1),
      pruneDisplaced = false, stats = dirs.toMap,
      schema = Some(StructType(df.schema.fields.map(f =>
        f.copy(nullable = true)))),
      slice = Some("date_format(ts, 'yyyyMM')"))
    // four micro-batch deltas, two per month (the streaming steady state)
    (0 until 4).foreach { i =>
      val d = ManifestCommit.newDataDir(root)
      spark.range(100 + i * 10, 110 + i * 10).toDF("id")
        .withColumn("ts", lit(
          if (i % 2 == 0) "2024-01-15 00:00:00" else "2024-02-15 00:00:00")
          .cast("timestamp"))
        .write.parquet(d)
      ManifestCommit.commitAppend(spark, root, d,
        stats = ManifestCommit.dirStats(spark, d,
          Seq("ts", "id", ManifestCommit.RowCountStat)))
    }
    assert(ManifestCommit.readManifest(spark, root).get.dirs.size === 6)
    val wantCount = ManifestCommit.read(spark, root).count()
    val wantSum = ManifestCommit.read(spark, root)
      .agg(sum("id")).head.getLong(0)
    Optimize.compactSmall(spark, root, smallBytes = 1L << 30)
    val m = ManifestCommit.readManifest(spark, root).get
    // one dir per month — NOT one mixed dir spanning January..February
    assert(m.dirs.size === 2, s"per-slice fold: ${m.dirs}")
    m.dirs.foreach { d =>
      val ts = m.stats(d).find(_.col == "ts").get
      assert(ts.min.take(7) === ts.max.take(7),
        s"folded dir $d spans months: [${ts.min}, ${ts.max}]")
    }
    assert(ManifestCommit.read(spark, root).count() === wantCount)
    assert(ManifestCommit.read(spark, root)
      .agg(sum("id")).head.getLong(0) === wantSum)
    // manifest COUNT stays exact; a month probe scans exactly 1 dir
    assert(ManifestCommit.tableRowCount(spark, root) === Some(wantCount))
    val (pruned, kept, total) = ManifestCommit.readPruned(spark, root,
      Seq(("ts", Some("2024-02-01T00:00:00.000"), Some("2024-02-28T23:59:59.000"))))
    assert(total === 2 && kept === 1, s"kept $kept of $total")
    assert(pruned.count() ===
      df.filter(month(col("ts")) === 2).count() + 20)
  }

  test("SQL: OPTIMIZE ... WHERE scopes; WHERE + ZORDER BY re-clusters " +
      "the scope only") {
    val root = Files.createTempDirectory("optimize_spec_").toString + "/wsql"
    val dirs = (0 until 3).map { i =>
      val d = ManifestCommit.newDataDir(root)
      grid().filter(col("x") >= i * 10 && col("x") < (i + 1) * 10)
        .write.parquet(d)
      d -> ManifestCommit.dirStats(spark, d, Seq("x", "y"))
    }
    ManifestCommit.commitReplace(spark, root, dirs.map(_._1),
      pruneDisplaced = false, stats = dirs.toMap,
      schema = Some(StructType(st.fields.map(_.copy(nullable = true)))))
    graft.sql.GraftSql.register("optwhere_sql", root)
    try {
      // single-dir scope: a fold of ONE dir is a no-op (nothing to fold
      // with), so scope two dirs
      spark.sql("OPTIMIZE graft.optwhere_sql WHERE x >= 5 AND x <= 15")
      assert(ManifestCommit.readManifest(spark, root).get.dirs.size === 2)
      val before = ManifestCommit.readManifest(spark, root).get
      val want = contents(ManifestCommit.read(spark, root))
      // predicate-scoped Z-ORDER: the folded [0,15] dir re-clusters on
      // (x, y); the untouched [20,29] dir stays byte-identical
      val cold = before.dirs.filter(d =>
        before.stats(d).exists(s => s.col == "x" && s.min == "20"))
      assert(cold.size === 1)
      spark.sql(
        "OPTIMIZE graft.optwhere_sql WHERE x <= 15 ZORDER BY (x, y)")
      val after = ManifestCommit.readManifest(spark, root).get
      assert(after.op === Some("zorder"))
      assert(cold.toSet.subsetOf(after.dirs.toSet),
        "out-of-scope dir was rewritten by the scoped zorder")
      assert(contents(ManifestCommit.read(spark, root)) === want)
    } finally graft.sql.GraftSql.unregister("optwhere_sql")
  }

  test("zorderWhere re-clusters only the stats-overlapping dirs: scoped " +
      "box probes prune, cold dirs byte-identical, contents exact") {
    val root = Files.createTempDirectory("optimize_spec_").toString + "/zw"
    // 2 HOT dirs (x in [0,15]) in a modulo layout — every dir spans the
    // full y range, so (x,y) boxes cannot prune — plus 1 COLD range dir
    val hot = (0 until 2).map { i =>
      val d = ManifestCommit.newDataDir(root)
      grid().filter(col("x") < 16 && (col("y") + col("x")) % 2 === i)
        .write.parquet(d)
      d -> ManifestCommit.dirStats(spark, d,
        Seq("x", "y", ManifestCommit.RowCountStat))
    }
    val coldD = ManifestCommit.newDataDir(root)
    grid().filter(col("x") >= 16).write.parquet(coldD)
    val dirs = hot :+ (coldD -> ManifestCommit.dirStats(spark, coldD,
      Seq("x", "y", ManifestCommit.RowCountStat)))
    ManifestCommit.commitReplace(spark, root, dirs.map(_._1),
      pruneDisplaced = false, stats = dirs.toMap,
      schema = Some(StructType(st.fields.map(_.copy(nullable = true)))))
    val want = contents(ManifestCommit.read(spark, root))
    val before = ManifestCommit.readManifest(spark, root).get
    Optimize.zorderWhere(spark, root, col("x") <= 15, Seq("x", "y"),
      targetDirs = Some(4))
    val after = ManifestCommit.readManifest(spark, root).get
    // cold dir untouched; hot region now 4 z-clustered dirs
    assert(after.dirs.contains(new org.apache.hadoop.fs.Path(coldD).getName),
      "cold dir must survive byte-identical")
    assert(after.dirs.size === 5, after.dirs)
    assert(contents(ManifestCommit.read(spark, root)) === want)
    // the re-clustered region prunes on a conjunctive box now: stats
    // rectangles in (x, y) — the modulo layout admitted every dir
    val hotDirs = after.dirs.filterNot(
      _ == new org.apache.hadoop.fs.Path(coldD).getName)
    val admitted = hotDirs.count { d =>
      val sx = after.stats(d).find(_.col == "x").get
      val sy = after.stats(d).find(_.col == "y").get
      sx.overlaps(Some("0"), Some("7")) && sy.overlaps(Some("0"), Some("7"))
    }
    assert(admitted < hotDirs.size,
      s"scoped zorder produced no prunable rectangles: $admitted of ${hotDirs.size}")
    // manifest COUNT stays exact through the scoped rewrite
    assert(ManifestCommit.tableRowCount(spark, root) === Some(32L * 32))
    // empty scope: a no-op, same generation
    val g = after.gen
    Optimize.zorderWhere(spark, root, col("x") > 999, Seq("x", "y"))
    assert(ManifestCommit.readManifest(spark, root).get.gen === g)
  }

  // ---- per-slice OPTIMIZE: fold only the slices that need it

  private val MonthSlice = "date_format(ts, 'yyyyMM')"

  /** `perMonth` rows per month for months [from, until) of 2020 on,
    * ids increasing with the month (the auto-increment key shape). */
  private def monthRows(from: Int, until: Int, perMonth: Int = 20,
      idBase: Long = 0L) =
    spark.range(from.toLong * perMonth, until.toLong * perMonth)
      .select((col("id") + idBase).as("id"),
        add_months(to_date(lit("2020-01-10")),
          (col("id") / perMonth).cast("int")).cast("timestamp").as("ts"),
        concat(lit("v"), col("id")).as("payload"))

  /** A month-sliced table at `root`, one dir per month, each carrying
    * the slice component's stats when `componentStats` (the shape SQL
    * writes and every fold leaves) — without, the build-time shape of a
    * table sliced before component stats were recorded. */
  private def monthTable(root: String, months: Int,
      componentStats: Boolean = true, nullMonth: Boolean = false): Unit = {
    val df = monthRows(0, months).unionByName(monthRows(0, 1)
      .select(lit(-1L).as("id"), lit(null).cast("timestamp").as("ts"),
        lit("null month").as("payload")).filter(lit(nullMonth)))
    val dirs = ManifestCommit.writeSliced(spark, root, df, expr(MonthSlice),
      Seq("ts", "id") ++ (if (componentStats) Seq(MonthSlice) else Nil) :+
        ManifestCommit.RowCountStat)
    ManifestCommit.commitReplace(spark, root, dirs.map(_._1),
      pruneDisplaced = false, stats = dirs.toMap,
      schema = Some(StructType(df.schema.fields.map(_.copy(nullable = true)))),
      slice = Some(MonthSlice))
  }

  /** Append month `month`'s rows again as one more tight dir of it. */
  private def appendMonth(root: String, month: Int, idBase: Long): Unit = {
    val Seq((d, stats)) = ManifestCommit.writeSliced(spark, root,
      monthRows(month, month + 1, perMonth = 5, idBase = idBase),
      expr(MonthSlice), Seq("ts", "id", MonthSlice, ManifestCommit.RowCountStat))
    ManifestCommit.commitAppend(spark, root, d, stats = stats)
  }

  private def monthOf(m: ManifestCommit.Manifest, d: String): String = {
    val cs = m.stats(d).find(_.col == MonthSlice).get
    assert(cs.min === cs.max, s"$d is not month-tight: $cs")
    cs.min
  }

  private def sorted(root: String): Seq[String] =
    ManifestCommit.read(spark, root).collect().map(_.toString).sorted.toSeq

  private def withTable[T](root: String)(f: String => T): T = {
    val name = s"opt_slice_${java.util.UUID.randomUUID().toString.replace("-", "").take(8)}"
    graft.sql.GraftSql.register(name, root)
    try f(name) finally graft.sql.GraftSql.unregister(name)
  }

  test("OPTIMIZE on a month-sliced table that is tight and one dir per " +
      "month commits nothing; a table without component stats migrates " +
      "once, then converges") {
    val base = Files.createTempDirectory("optimize_spec_").toString
    // a NULL month lands in a dir of its own, tight by its counters
    monthTable(base + "/tight", 6, nullMonth = true)
    monthTable(base + "/bare", 6, componentStats = false, nullMonth = true)
    withTable(base + "/tight") { t =>
      val g = ManifestCommit.readManifest(spark, base + "/tight").get
      spark.sql(s"OPTIMIZE graft.$t")
      spark.sql(s"OPTIMIZE graft.$t")
      assert(ManifestCommit.readManifest(spark, base + "/tight").get === g)
    }
    withTable(base + "/bare") { t =>
      val want = sorted(base + "/bare")
      val g0 = ManifestCommit.readManifest(spark, base + "/bare").get.gen
      spark.sql(s"OPTIMIZE graft.$t")
      val m1 = ManifestCommit.readManifest(spark, base + "/bare").get
      assert(m1.gen === g0 + 1)
      assert(m1.dirs.size === 7)
      assert(m1.dirs.filter(m1.stats(_).exists(_.col == MonthSlice))
        .map(monthOf(m1, _)).sorted === (1 to 6).map(i => f"2020$i%02d"))
      spark.sql(s"OPTIMIZE graft.$t")
      assert(ManifestCommit.readManifest(spark, base + "/bare").get.gen ===
        m1.gen, "a second OPTIMIZE of a compact table made a generation")
      assert(sorted(base + "/bare") === want)
    }
  }

  test("OPTIMIZE folds exactly the dirs a month needs — its two parts, a " +
      "DV'd dir and a loose merge-written dir — every other dir survives") {
    val root = Files.createTempDirectory("optimize_spec_").toString + "/f"
    monthTable(root, 6)
    val m0 = ManifestCommit.readManifest(spark, root).get
    val byMonth = m0.dirs.map(d => monthOf(m0, d) -> d).toMap
    appendMonth(root, 1, idBase = 1000L) // February: a second part
    MergeInto.deleteWhere(spark, root, spark.range(60, 62).toDF("id")) // April
    // one merge over May and June keys rewrites both months into ONE
    // dir whose component stats span 202005..202006
    MergeInto.merge(spark, root, monthRows(4, 6).filter(col("id") % 7 === 0)
      .withColumn("payload", lit("upd")), Seq("id"))
    val before = ManifestCommit.readManifest(spark, root).get
    val loose = before.dirs.filter { d =>
      val cs = before.stats(d).find(_.col == MonthSlice).get
      cs.min != cs.max
    }
    assert(loose.size === 1 && before.dvs.size === 1)
    val want = sorted(root)
    withTable(root)(t => spark.sql(s"OPTIMIZE graft.$t"))
    val after = ManifestCommit.readManifest(spark, root).get
    val folded = before.dirs.toSet -- after.dirs
    assert(folded === (before.dirs.filter(d =>
      d == loose.head ||
        Set("202002", "202004").contains(monthOf(before, d))).toSet),
      s"folded $folded")
    assert(folded.size === 4)
    assert(after.dirs.toSet.intersect(before.dirs.toSet) ===
      Set(byMonth("202001"), byMonth("202003")))
    assert(after.dirs.map(monthOf(after, _)).sorted ===
      (1 to 6).map(i => f"2020$i%02d"))
    assert(after.dvs.isEmpty)
    assert(sorted(root) === want)
  }

  test("OPTIMIZE cost follows the touched months, not the table: the " +
      "folded-dir count is the same at N and 8N months") {
    def foldedAt(months: Int): Int = {
      val root = Files.createTempDirectory("optimize_spec_").toString + "/n"
      monthTable(root, months)
      // the same touches either way: a second part of the newest month,
      // a deletion vector on the month before it
      appendMonth(root, months - 1, idBase = 100000L)
      val prev = (months - 2).toLong * 20
      MergeInto.deleteWhere(spark, root, spark.range(prev, prev + 1).toDF("id"))
      val before = ManifestCommit.readManifest(spark, root).get
      val want = sorted(root)
      Optimize.compactSmall(spark, root, smallBytes = 128L << 20)
      val after = ManifestCommit.readManifest(spark, root).get
      assert(after.dirs.size === months)
      assert(sorted(root) === want)
      (before.dirs.toSet -- after.dirs).size
    }
    val (n, n8) = (foldedAt(3), foldedAt(24))
    assert(n === 3 && n8 === n, s"folded $n dirs at 3 months, $n8 at 24")
  }

  test("OPTIMIZE … WHERE applies the per-slice rule inside its scope") {
    val root = Files.createTempDirectory("optimize_spec_").toString + "/w"
    monthTable(root, 4)
    appendMonth(root, 0, idBase = 1000L) // January: two parts
    appendMonth(root, 2, idBase = 2000L) // March: two parts, out of scope
    val before = ManifestCommit.readManifest(spark, root).get
    val want = sorted(root)
    withTable(root) { t =>
      val where = "ts < timestamp'2020-03-01 00:00:00'"
      spark.sql(s"OPTIMIZE graft.$t WHERE $where")
      val after = ManifestCommit.readManifest(spark, root).get
      // only January's two parts fold; February (tight, alone, in
      // scope) and both March parts (out of scope) survive
      assert((before.dirs.toSet -- after.dirs) ===
        before.dirs.filter(monthOf(before, _) == "202001").toSet)
      assert(after.dirs.count(monthOf(after, _) == "202001") === 1)
      assert(after.dirs.count(monthOf(after, _) == "202003") === 2)
      assert(sorted(root) === want)
      spark.sql(s"OPTIMIZE graft.$t WHERE $where")
      assert(ManifestCommit.readManifest(spark, root).get.gen === after.gen)
    }
  }
}
