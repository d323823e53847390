package graft.ingest

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Merge-on-read UPDATE (r19): position deletion vectors + slice-routed
  * image append in one rebasing commit — O(row) point updates instead
  * of O(dir) rewrites, CDF update pairs intact, compaction materializes
  * the DVs away (the q131 discipline). */
class MorUpdateSpec extends SparkSpec {

  /** 4 range dirs of 100 rows, sliced by grp = id/100, with id+grp+v
    * stats and counters. */
  private def mkTable(): String = {
    val root = Files.createTempDirectory("graft_morupd_").toString + "/t"
    val df = spark.range(0, 400).toDF("id")
      .withColumn("grp", floor(col("id") / lit(100)))
      .withColumn("v", (col("id") % 10).cast("double"))
      .withColumn("s", concat(lit("w"), col("id")))
    val slice = col("grp")
    val dirs = ManifestCommit.writeSliced(spark, root, df, slice,
      Seq("grp", "id", "v", ManifestCommit.RowCountStat))
    ManifestCommit.commitReplace(spark, root, dirs.map(_._1),
      pruneDisplaced = false, stats = dirs.toMap, schema = Some(df.schema),
      slice = Some(ManifestCommit.sliceSql(slice)))
    root
  }

  test("single-row update: 0 dirs rewritten, 1 position DV, 1 appended dir") {
    val root = mkTable()
    val m0 = ManifestCommit.readManifest(spark, root).get
    val res = MergeInto.updateRows(spark, root,
      Seq("v" -> lit(99.5)), col("id") === 123)
    assert(res.rowsAffected === 1L)
    assert(res.dirsRewritten === 0)
    val m1 = ManifestCommit.readManifest(spark, root).get
    // every original dir still live, one appended, one DV repointed
    assert(m0.dirs.forall(m1.dirs.contains), "a dir was rewritten")
    assert(m1.dirs.size === m0.dirs.size + 1)
    assert(m1.dvs.size === 1)
    // the DV is position-based
    val dvCols = ManifestCommit.readDvs(spark,
      Seq(ManifestCommit.dirAbs(root, m1.dvs.values.head))).columns.toSet
    assert(dvCols === Set(ManifestCommit.PosFileCol, ManifestCommit.PosIdxCol))
    // values: exactly one row changed
    val rows = ManifestCommit.read(spark, root)
      .filter(col("id").isin(122, 123, 124))
      .select("id", "v").collect().map(r => r.getLong(0) -> r.getDouble(1))
      .toMap
    assert(rows === Map(122L -> 2.0, 123L -> 99.5, 124L -> 4.0))
    assert(ManifestCommit.read(spark, root).count() === 400L)
    // metadata COUNT(*) stays exact through the position DV
    assert(ManifestCommit.tableRowCount(spark, root) === Some(400L))
    // the image landed SLICE-ROUTED: its dir carries the grp constant
    val appended = m1.dirs.filterNot(m0.dirs.contains).head
    val st = m1.stats(appended)
    assert(st.exists(s => s.col == "grp" && s.min == "1" && s.max == "1"))
  }

  test("CDF pairs a merge-on-read update into update_preimage/postimage") {
    val root = mkTable()
    val g0 = ManifestCommit.readManifest(spark, root).get.gen
    MergeInto.updateRows(spark, root,
      Seq("v" -> (col("v") + 100.0)), col("id") === 250, mode = "mor")
    val g1 = ManifestCommit.readManifest(spark, root).get.gen
    val feed = ChangeFeed.diff(spark, root, g0, g1, Seq("id"))
      .select("id", "v", ChangeFeed.ChangeType).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).sortBy(_._3)
    // id 250 had v = 0.0; the update added 100.0
    assert(feed.toSeq === Seq(
      (250L, 100.0, "update_postimage"), (250L, 0.0, "update_preimage")))
  }

  test("a prior KEY-based DV converts to positions; old deletes stay dead") {
    val root = mkTable()
    // key-delete two rows in dir [100,200)
    MergeInto.deleteWhere(spark, root,
      spark.range(110, 112).toDF("id"))
    // now merge-on-read update another row in the SAME dir
    val res = MergeInto.updateRows(spark, root,
      Seq("v" -> lit(-1.0)), col("id") === 150, mode = "mor")
    assert(res.rowsAffected === 1L)
    val m = ManifestCommit.readManifest(spark, root).get
    val got = ManifestCommit.read(spark, root)
      .filter(col("id").between(100, 199))
    assert(got.count() === 98L) // 100 - 2 deleted (150 updated, not dropped)
    assert(got.filter(col("id").isin(110, 111)).count() === 0L)
    assert(got.filter(col("id") === 150).select("v")
      .collect().head.getDouble(0) === -1.0)
    // exact dead counter: 2 old + 1 updated = 3 on the converted DV
    val dir = m.dvs.keys.head
    val dead = m.stats(dir).find(_.col == ManifestCommit.DvDeadStat).get
    assert(dead.min === "3")
    assert(ManifestCommit.tableRowCount(spark, root) === Some(398L))
  }

  test("auto mode: a small update goes merge-on-read, a bulk one copy-on-write") {
    val root = mkTable()
    val m0 = ManifestCommit.readManifest(spark, root).get
    MergeInto.updateRows(spark, root, Seq("v" -> lit(0.0)), col("id") === 5)
    val m1 = ManifestCommit.readManifest(spark, root).get
    assert(m1.dvs.size === 1, "point update must take the DV route")
    // bulk: 100% of dir [200,300) matched — fraction above the MoR cap
    val res = MergeInto.updateRows(spark, root,
      Seq("v" -> lit(7.0)), col("id") >= 200 && col("id") < 300)
    assert(res.rowsAffected === 100L)
    val m2 = ManifestCommit.readManifest(spark, root).get
    assert(res.dirsRewritten === 1, "bulk update must rewrite copy-on-write")
    assert(m2.dvs.size === 1, "bulk update must not add DVs")
    assert(ManifestCommit.read(spark, root)
      .filter(col("id") >= 200 && col("id") < 300)
      .agg(sum("v")).collect().head.getDouble(0) === 700.0)
  }

  test("update violating a CHECK constraint commits nothing") {
    val root = mkTable()
    ManifestCommit.setCheck(spark, root, "v_small", "v < 50")
    val g0 = ManifestCommit.readManifest(spark, root).get.gen
    intercept[Exception] {
      MergeInto.updateRows(spark, root,
        Seq("v" -> lit(999.0)), col("id") === 1, mode = "mor")
    }
    val m = ManifestCommit.readManifest(spark, root).get
    assert(m.gen === g0)
    assert(m.dvs.isEmpty)
    assert(ManifestCommit.read(spark, root).filter(col("v") >= 50).count() === 0L)
  }

  test("compaction materializes the update away (q131 discipline)") {
    val root = mkTable()
    MergeInto.updateRows(spark, root,
      Seq("v" -> lit(42.0)), col("id") === 321, mode = "mor")
    val before = ManifestCommit.read(spark, root)
      .orderBy("id").collect().map(_.toSeq).toSeq
    Optimize.compactSmall(spark, root, smallBytes = Long.MaxValue / 2)
    val m = ManifestCommit.readManifest(spark, root).get
    assert(m.dvs.isEmpty, "compaction must materialize position DVs away")
    val after = ManifestCommit.read(spark, root)
      .orderBy("id").collect().map(_.toSeq).toSeq
    assert(after === before)
    assert(after.count(_.contains(42.0)) >= 1)
  }
}
