package graft.ingest

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Merge-on-read UPDATE (r19): position deletion vectors + slice-routed
  * image append in one rebasing commit — O(row) point updates instead
  * of O(dir) rewrites, CDF update pairs intact, compaction materializes
  * the DVs away (the q131 discipline). */
class MorUpdateSpec extends SparkSpec {

  /** `groups` range dirs of 100 rows, sliced by grp = id/100, with
    * id+grp+v stats and counters. */
  private def mkTable(groups: Int = 4): String = {
    val root = Files.createTempDirectory("graft_morupd_").toString + "/t"
    val df = spark.range(0, groups * 100L).toDF("id")
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

  private def keys(ids: Long*) =
    spark.createDataFrame(ids.map(Tuple1(_))).toDF("id")

  /** The grp -> data dir map of a freshly built table. */
  private def dirOfGrp(root: String): Map[Long, String] = {
    val m = ManifestCommit.readManifest(spark, root).get
    m.dirs.map(d => m.stats(d).find(_.col == "grp").get.min.toLong -> d).toMap
  }

  test("deleteWhere over DV'd and plain dirs: one batched DV build keeps " +
      "old keys, exact counters, no DV without a new match") {
    val root = mkTable(6)
    val g = dirOfGrp(root)
    MergeInto.deleteWhere(spark, root, keys(0, 1, 100, 101, 200, 201))
    val m0 = ManifestCommit.readManifest(spark, root).get
    // grp 0-2 carry a DV; 200 is already dead, so grp 2 is touched by the
    // stats but gets no new match; grp 3 and 4 are plain
    val res = MergeInto.deleteWhere(spark, root,
      keys(2, 3, 102, 200, 300, 301, 400))
    assert(res.dvsWritten === 4 && res.deleted === 6L, res)
    val m1 = ManifestCommit.readManifest(spark, root).get
    def dvKeys(grp: Long): Set[Long] = ManifestCommit.readDvs(spark,
      Seq(ManifestCommit.dirAbs(root, m1.dvs(g(grp)))))
      .collect().map(_.getLong(0)).toSet
    assert(dvKeys(0) === Set(0L, 1L, 2L, 3L))
    assert(dvKeys(1) === Set(100L, 101L, 102L))
    assert(dvKeys(3) === Set(300L, 301L))
    assert(dvKeys(4) === Set(400L))
    assert(m1.dvs(g(2)) === m0.dvs(g(2)), "a no-match dir must keep its DV")
    assert(!m1.dvs.contains(g(5)))
    def dead(grp: Long): Option[String] = m1.stats(g(grp))
      .find(_.col == ManifestCommit.DvDeadStat).map(_.min)
    assert((0L to 4L).map(dead) ===
      Seq(Some("4"), Some("3"), Some("2"), Some("2"), Some("1")))
    assert(ManifestCommit.read(spark, root).count() === 588L)
    assert(ManifestCommit.tableRowCount(spark, root) === Some(588L))
  }

  test("deleteWhere runs the same Spark jobs with 1 and with 4 DV'd dirs " +
      "touched") {
    def jobsTouching(dvd: Seq[Long]): Int = {
      val root = mkTable(6)
      MergeInto.deleteWhere(spark, root, keys(0, 100, 200, 300))
      jobsOf(MergeInto.deleteWhere(spark, root,
        keys(dvd.map(_ * 100 + 50) ++ Seq(450L, 550L): _*)))
    }
    val one = jobsTouching(Seq(0L))
    val four = jobsTouching(Seq(0L, 1L, 2L, 3L))
    assert(one === four, s"1 DV'd dir: $one jobs, 4 DV'd dirs: $four jobs")
  }

  test("merge-on-read UPDATE over a key-DV'd and a position-DV'd dir: " +
      "exact counters, read equals the model") {
    val root = mkTable()
    val g = dirOfGrp(root)
    MergeInto.deleteWhere(spark, root, keys(110, 111)) // key DV on grp 1
    MergeInto.updateRows(spark, root, Seq("v" -> lit(-5.0)),
      col("id") === 250, mode = "mor") // position DV on grp 2
    MergeInto.updateRows(spark, root, Seq("v" -> lit(-7.0)),
      col("id").isin(150, 260), mode = "mor")
    val m = ManifestCommit.readManifest(spark, root).get
    def dead(grp: Long): Option[String] = m.stats(g(grp))
      .find(_.col == ManifestCommit.DvDeadStat).map(_.min)
    assert(dead(1) === Some("3") && dead(2) === Some("2"))
    Seq(1L, 2L).foreach { grp =>
      assert(ManifestCommit.readDvs(spark,
        Seq(ManifestCommit.dirAbs(root, m.dvs(g(grp))))).columns.toSet ===
        Set(ManifestCommit.PosFileCol, ManifestCommit.PosIdxCol))
    }
    val model = spark.range(0, 400).toDF("id")
      .filter(!col("id").isin(110, 111))
      .withColumn("grp", floor(col("id") / lit(100)))
      .withColumn("v", when(col("id") === 250, -5.0)
        .when(col("id").isin(150, 260), -7.0)
        .otherwise((col("id") % 10).cast("double")))
      .withColumn("s", concat(lit("w"), col("id")))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "grp", "v", "s").collect().map(_.toString).sorted.toSeq
    assert(rows(ManifestCommit.read(spark, root)) === rows(model))
    assert(ManifestCommit.tableRowCount(spark, root) === Some(398L))
  }

  test("deleteWhere matching a key-DV'd and a position-DV'd dir fails " +
      "before writing; the table is untouched") {
    val root = mkTable()
    MergeInto.deleteWhere(spark, root, keys(110, 111)) // key DV on grp 1
    MergeInto.updateRows(spark, root, Seq("v" -> lit(-5.0)),
      col("id") === 250, mode = "mor") // position DV on grp 2
    val m0 = ManifestCommit.readManifest(spark, root).get
    val e = intercept[UnsupportedOperationException](
      MergeInto.deleteWhere(spark, root, keys(120, 260, 310)))
    assert(e.getMessage.contains("deletion vector on other columns"))
    val m1 = ManifestCommit.readManifest(spark, root).get
    assert(m1.gen === m0.gen && m1.dvs === m0.dvs && m1.stats === m0.stats)
    assert(ManifestCommit.tableRowCount(spark, root) === Some(398L))
    assert(ManifestCommit.read(spark, root).count() === 398L)
    // a delete that matches only key-DV'd and plain dirs still commits
    MergeInto.deleteWhere(spark, root, keys(120, 310))
    assert(ManifestCommit.tableRowCount(spark, root) === Some(396L))
    assert(ManifestCommit.read(spark, root).count() === 396L)
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
