package graft.ingest

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.Files

/** MERGE INTO (dir-level copy-on-write) + ChangeFeed (snapshot diff over
  * the dir symmetric difference).
  */
class MergeIntoSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", LongType, false),
    StructField("v", StringType, true),
    StructField("amt", DoubleType, true)))

  private def df(rows: (Long, String, Double)*): DataFrame =
    mkDf(schema, rows.map(r => Row(r._1, r._2, r._3)): _*)

  /** Commit `slices` as one generation, one dir per slice, with id stats. */
  private def commitSliced(root: String, slices: Seq[DataFrame]): Unit = {
    val dirs = slices.map { s =>
      val d = ManifestCommit.newDataDir(root)
      s.write.parquet(d)
      d -> ManifestCommit.dirStats(spark, d, Seq("id"))
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

  test("bloom probes COERCE to the column type: string-typed IN over a " +
      "long column still deletes every matching row (a raw-typed probe " +
      "read false from every bloom and wrongly pruned the owning dirs)") {
    val root = Files.createTempDirectory("merge_spec_").toString + "/coerce"
    // 4 modulo dirs on a LONG id, each with a bloom — min/max stats
    // overlap fully, only the bloom can prune a point probe
    val base = spark.range(0, 400).toDF("id")
      .withColumn("v", concat(lit("v"), col("id")).cast("string"))
      .withColumn("amt", (col("id") * 2).cast("double"))
    val dirs = (0 until 4).map { i =>
      val d = ManifestCommit.newDataDir(root)
      base.filter(pmod(col("id"), lit(4)) === i).write.parquet(d)
      ManifestCommit.writeDirBloom(spark, d, "id", 100)
      d -> ManifestCommit.dirStats(spark, d, Seq("id"))
    }
    ManifestCommit.commitReplace(spark, root, dirs.map(_._1),
      pruneDisplaced = false, stats = dirs.toMap,
      schema = Some(StructType(base.schema.fields.map(_.copy(nullable = true)))))
    // UNRESOLVED string literals against the long column — SQL coercion
    // makes these real matches; the probe must coerce or skip, never
    // probe the long blooms with java Strings
    MergeInto.deleteRows(spark, root, col("id").isin("5", "6"))
    val left = ManifestCommit.read(spark, root)
    assert(left.count() === 398L, "both string-keyed matches must delete")
    assert(left.filter(col("id").isin(5L, 6L)).count() === 0L)
    // single-point '=' channel, same hazard
    MergeInto.deleteRows(spark, root, col("id") === lit("7"))
    assert(ManifestCommit.read(spark, root).count() === 397L)
    // a STRING column probed with numbers: coercion refuses (SQL would
    // coerce the COLUMN side), the probe is skipped, the delete lands
    MergeInto.deleteRows(spark, root, col("v") === lit("v8"))
    assert(ManifestCommit.read(spark, root).count() === 396L)
  }

  private def rowsOf(d: DataFrame): Set[(Long, String, Double)] =
    d.collect().toSet.map((r: Row) => (r.getLong(0), r.getString(1), r.getDouble(2)))

  test("merge updates, deletes, inserts; cold dirs stay byte-identical") {
    val root = Files.createTempDirectory("merge_spec_").toString + "/t"
    // dirs: ids 1-3 | 10-12 | 20-22
    commitSliced(root, Seq(
      df((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)),
      df((10L, "j", 10.0), (11L, "k", 11.0), (12L, "l", 12.0)),
      df((20L, "x", 20.0), (21L, "y", 21.0), (22L, "z", 22.0))))
    val m0 = ManifestCommit.readManifest(spark, root).get
    val coldBefore = m0.dirs.map(d => d -> fileState(root, d)).toMap

    // source touches only the middle dir: update 10, delete 11, insert 15
    val src = df((10L, "J2", 100.0), (11L, "k", 11.0), (15L, "m", 15.0))
    val res = MergeInto.merge(spark, root, src, Seq("id"),
      deleteWhen = Some(col("id") === 11L))

    assert(res.dirsTotal === 3 && res.dirsRewritten === 1)
    assert(res.updated === 1 && res.deleted === 1 && res.inserted === 1 &&
      res.survivors === 1)

    val got = rowsOf(ManifestCommit.read(spark, root))
    assert(got === Set(
      (1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0),
      (10L, "J2", 100.0), (12L, "l", 12.0), (15L, "m", 15.0),
      (20L, "x", 20.0), (21L, "y", 21.0), (22L, "z", 22.0)))

    // the two cold dirs survive with identical file names/sizes/mtimes
    val m1 = ManifestCommit.readManifest(spark, root).get
    val kept = m0.dirs.filter(m1.dirs.contains)
    assert(kept.size === 2)
    kept.foreach(d => assert(fileState(root, d) === coldBefore(d)))
    // and their stats survived the commit
    kept.foreach(d => assert(m1.stats(d) === m0.stats(d)))
  }

  test("exact affect test: a source span straddling a cold dir skips it") {
    val root = Files.createTempDirectory("merge_spec_").toString + "/t"
    commitSliced(root, Seq(
      df((1L, "a", 1.0), (5L, "b", 5.0)),      // [1, 5]
      df((10L, "j", 10.0), (15L, "k", 15.0)),  // [10, 15] — cold
      df((20L, "x", 20.0), (25L, "y", 25.0)))) // [20, 25]
    // keys 5 and 20 straddle the middle dir's range without entering it —
    // a min/max-overlap test would rewrite it; the exact test must not
    val src = df((5L, "B2", 50.0), (20L, "X2", 200.0))
    val res = MergeInto.merge(spark, root, src, Seq("id"))
    assert(res.dirsRewritten === 2 && res.dirsTotal === 3)
    assert(rowsOf(ManifestCommit.read(spark, root)) === Set(
      (1L, "a", 1.0), (5L, "B2", 50.0),
      (10L, "j", 10.0), (15L, "k", 15.0),
      (20L, "X2", 200.0), (25L, "y", 25.0)))
  }

  test("delete of an absent key is a no-op; insertUnmatched=false drops strangers") {
    val root = Files.createTempDirectory("merge_spec_").toString + "/t"
    commitSliced(root, Seq(df((1L, "a", 1.0), (2L, "b", 2.0))))
    val src = df((2L, "B", 2.5), (99L, "ghost", 0.0), (50L, "new", 5.0))
    val res = MergeInto.merge(spark, root, src, Seq("id"),
      deleteWhen = Some(col("id") === 99L), insertUnmatched = false)
    assert(res.updated === 1 && res.deleted === 0 && res.inserted === 0)
    assert(rowsOf(ManifestCommit.read(spark, root)) ===
      Set((1L, "a", 1.0), (2L, "B", 2.5)))
  }

  test("duplicate-key source is rejected") {
    val root = Files.createTempDirectory("merge_spec_").toString + "/t"
    commitSliced(root, Seq(df((1L, "a", 1.0))))
    val dup = df((1L, "x", 1.0), (1L, "y", 2.0))
    val e = intercept[IllegalArgumentException] {
      MergeInto.merge(spark, root, dup, Seq("id"))
    }
    assert(e.getMessage.contains("not unique"))
  }

  test("a null key is one key value: (null, 21) updates the null-keyed " +
      "row and inserts 21; two null keys are still not unique") {
    val root = Files.createTempDirectory("merge_spec_").toString + "/nullkey"
    val nullable = StructType(schema.fields.map(_.copy(nullable = true)))
    def ndf(rows: (java.lang.Long, String)*): DataFrame =
      mkDf(nullable, rows.map(r => Row(r._1, r._2, 1.0)): _*)
    commitSliced(root, Seq(ndf((null, "a"), (5L, "b"))))
    val res = MergeInto.merge(spark, root, ndf((null, "A"), (21L, "c")), Seq("id"))
    assert(res.updated === 1 && res.inserted === 1 && res.deleted === 0)
    assert(ManifestCommit.read(spark, root).collect().toSet
      .map((r: Row) => (Option(r.get(0)), r.getString(1))) ===
      Set((None, "A"), (Some(5L), "b"), (Some(21L), "c")))
    val e = intercept[IllegalArgumentException] {
      MergeInto.merge(spark, root, ndf((null, "x"), (null, "y")), Seq("id"))
    }
    assert(e.getMessage.contains("not unique"), e.getMessage)
  }

  test("concurrent commit between read and merge-commit raises CAS conflict") {
    val root = Files.createTempDirectory("merge_spec_").toString + "/t"
    commitSliced(root, Seq(df((1L, "a", 1.0))))
    // sneak a competing commit in by bumping the generation under merge:
    // merge reads gen, then a second writer appends before merge commits.
    // Simulate by wrapping the source in a DataFrame whose evaluation
    // triggers the competing append — simplest deterministic form: do the
    // competing append first against a COPY of the gen merge will expect.
    val d = ManifestCommit.newDataDir(root)
    df((2L, "b", 2.0)).write.parquet(d)
    val before = ManifestCommit.readManifest(spark, root).get.gen
    ManifestCommit.commitAppend(spark, root, d) // gen moves on
    intercept[ManifestCommit.ConcurrentCommitException] {
      // force the CAS check to see the stale generation
      ManifestCommit.commitReplace(spark, root, Seq(d),
        expectedGen = Some(before))
    }
  }

  test("change feed: merge step diffs to insert/delete/update pre+post") {
    val root = Files.createTempDirectory("merge_spec_").toString + "/t"
    commitSliced(root, Seq(
      df((1L, "a", 1.0), (2L, "b", 2.0)),
      df((10L, "j", 10.0), (11L, "k", 11.0))))
    val g1 = ManifestCommit.readManifest(spark, root).get.gen
    MergeInto.merge(spark, root,
      df((10L, "J2", 100.0), (11L, "k", 11.0), (15L, "m", 15.0)),
      Seq("id"), deleteWhen = Some(col("id") === 11L))
    val g2 = ManifestCommit.readManifest(spark, root).get.gen

    val feed = ChangeFeed.diff(spark, root, g1, g2, Seq("id"))
    val got = feed.collect().toSet.map((r: Row) =>
      (r.getLong(0), r.getString(1), r.getDouble(2), r.getString(3)))
    assert(got === Set(
      (10L, "j", 10.0, "update_preimage"),
      (10L, "J2", 100.0, "update_postimage"),
      (11L, "k", 11.0, "delete"),
      (15L, "m", 15.0, "insert")))
    // the untouched dir's rows (1, 2) never appear — and never get read:
    // the diff plan only references the dropped/added dirs
    val scanned = feed.queryExecution.sparkPlan.collectLeaves().flatMap {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.rootPaths.map(_.getName)
      case _ => Nil
    }.toSet
    val m1 = ManifestCommit.readManifestAt(spark, root, g1).get
    val m2 = ManifestCommit.readManifestAt(spark, root, g2).get
    val shared = m1.dirs.toSet.intersect(m2.dirs.toSet)
    assert(shared.nonEmpty && scanned.intersect(shared).isEmpty)
  }

  test("change feed: layout-only rewrite (compaction) emits no changes") {
    val root = Files.createTempDirectory("merge_spec_").toString + "/t"
    commitSliced(root, Seq(
      df((1L, "a", 1.0)), df((2L, "b", 2.0))))
    val g1 = ManifestCommit.readManifest(spark, root).get.gen
    // compact: same rows, one new dir
    val d = ManifestCommit.newDataDir(root)
    ManifestCommit.read(spark, root).repartition(1).write.parquet(d)
    ManifestCommit.commitReplace(spark, root, Seq(d), pruneDisplaced = false)
    val g2 = ManifestCommit.readManifest(spark, root).get.gen
    assert(ChangeFeed.diff(spark, root, g1, g2, Seq("id")).count() === 0L)
  }

  test("evolveSchema: new column appends, cold dirs byte-identical + null-fill") {
    val root = Files.createTempDirectory("merge_spec_").toString + "/t"
    commitSliced(root, Seq(
      df((1L, "a", 1.0), (2L, "b", 2.0)),
      df((10L, "j", 10.0), (11L, "k", 11.0)),
      df((20L, "x", 20.0))))
    val m0 = ManifestCommit.readManifest(spark, root).get
    val coldBefore = m0.dirs.map(d => d -> fileState(root, d)).toMap

    // source touches only the middle dir and carries a NEW column
    val src = mkDf(schema.add(StructField("tag", StringType, true)),
      Row(10L, "J2", 100.0, "hot"), Row(15L, "m", 15.0, "new"))
    val res = MergeInto.merge(spark, root, src, Seq("id"), evolveSchema = true)
    assert(res.dirsRewritten === 1 && res.updated === 1 && res.inserted === 1)

    // cold dirs never rewritten — byte-identical file state
    val m1 = ManifestCommit.readManifest(spark, root).get
    val cold = m0.dirs.filter(m1.dirs.contains)
    assert(cold.size === 2)
    cold.foreach(d => assert(fileState(root, d) === coldBefore(d), d))

    // manifest records the evolved union schema, in order
    assert(m1.tableSchema.map(_.fieldNames.toSeq) ===
      Some(Seq("id", "v", "amt", "tag")))

    // read null-fills the evolved column on cold-dir rows
    val read = ManifestCommit.read(spark, root)
    assert(read.columns.toSeq === Seq("id", "v", "amt", "tag"))
    val tags = read.select("id", "tag").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(tags(10L) === Some("hot") && tags(15L) === Some("new"))
    assert(tags(1L).isEmpty && tags(20L).isEmpty)

    // time travel still sees the PRE-evolution schema
    assert(ManifestCommit.readAt(spark, root, m0.gen).columns.toSeq ===
      Seq("id", "v", "amt"))
  }

  test("evolveSchema: subsequent append inherits the recorded schema") {
    val root = Files.createTempDirectory("merge_spec_").toString + "/t"
    commitSliced(root, Seq(df((1L, "a", 1.0))))
    val src = mkDf(schema.add(StructField("tag", StringType, true)),
      Row(1L, "a2", 1.5, "t"))
    MergeInto.merge(spark, root, src, Seq("id"), evolveSchema = true)
    val evolved = ManifestCommit.readManifest(spark, root).get.tableSchema
    assert(evolved.isDefined)
    // append a delta dir (no schema arg): the schema line survives
    val d = ManifestCommit.newDataDir(root)
    mkDf(schema.add(StructField("tag", StringType, true)),
      Row(5L, "e", 5.0, "x")).write.parquet(d)
    ManifestCommit.commitAppend(spark, root, d)
    assert(ManifestCommit.readManifest(spark, root).get.tableSchema === evolved)
  }

  test("change feed across an evolution emits in toGen's schema") {
    val root = Files.createTempDirectory("merge_spec_").toString + "/t"
    commitSliced(root, Seq(df((1L, "a", 1.0), (2L, "b", 2.0))))
    val g1 = ManifestCommit.readManifest(spark, root).get.gen
    val src = mkDf(schema.add(StructField("tag", StringType, true)),
      Row(1L, "a2", 1.0, "hot"))
    MergeInto.merge(spark, root, src, Seq("id"), evolveSchema = true)
    val g2 = ManifestCommit.readManifest(spark, root).get.gen
    val feed = ChangeFeed.diff(spark, root, g1, g2, Seq("id")).collect()
      .map(r => (r.getAs[String](ChangeFeed.ChangeType), r.getAs[Long]("id"),
        Option(r.getAs[String]("tag")))).toSet
    // preimage predates the column (null); postimage carries it
    assert(feed === Set(
      ("update_preimage", 1L, None), ("update_postimage", 1L, Some("hot"))))
  }

  test("without evolveSchema, extra source columns are dropped") {
    val root = Files.createTempDirectory("merge_spec_").toString + "/t"
    commitSliced(root, Seq(df((1L, "a", 1.0))))
    val src = mkDf(schema.add(StructField("tag", StringType, true)),
      Row(1L, "a2", 1.5, "t"))
    MergeInto.merge(spark, root, src, Seq("id"))
    assert(ManifestCommit.read(spark, root).columns.toSeq ===
      Seq("id", "v", "amt"))
  }

  // ---- deletion vectors (merge-on-read delete) ----

  private def keyDf(ids: Long*) = {
    import org.apache.spark.sql.types._
    mkDf(StructType(Seq(StructField("id", LongType, false))),
      ids.map(Row(_)): _*)
  }

  test("deleteWhere: sparse delete writes DVs, rewrites nothing") {
    val root = Files.createTempDirectory("merge_spec_").toString + "/t"
    commitSliced(root, Seq(
      df((1L, "a", 1.0), (2L, "b", 2.0)),
      df((10L, "j", 10.0), (11L, "k", 11.0)),
      df((20L, "x", 20.0), (21L, "y", 21.0))))
    val m0 = ManifestCommit.readManifest(spark, root).get
    val before = m0.dirs.map(d => d -> fileState(root, d)).toMap

    // one key per dir — copy-on-write would rewrite all three
    val res = MergeInto.deleteWhere(spark, root, keyDf(2L, 11L, 20L))
    assert(res.dvsWritten === 3 && res.deleted === 3L)
    val m1 = ManifestCommit.readManifest(spark, root).get
    assert(m1.dirs === m0.dirs, "no data dir added or removed")
    m1.dirs.foreach(d => assert(fileState(root, d) === before(d), d))
    assert(m1.op === Some("delete") && m1.dvs.size === 3)
    assert(rowsOf(ManifestCommit.read(spark, root)) ===
      Set((1L, "a", 1.0), (10L, "j", 10.0), (21L, "y", 21.0)))
    // time travel to the pre-delete generation still sees every row
    assert(ManifestCommit.readAt(spark, root, m0.gen).count() === 6L)
  }

  test("deleteWhere: absent keys and re-deletes are no-ops (no commit)") {
    val root = Files.createTempDirectory("merge_spec_").toString + "/t"
    commitSliced(root, Seq(df((1L, "a", 1.0), (2L, "b", 2.0))))
    val g1 = MergeInto.deleteWhere(spark, root, keyDf(2L)).gen
    // absent key: nothing present anywhere → generation unchanged
    assert(MergeInto.deleteWhere(spark, root, keyDf(999L)).gen === g1)
    // re-delete of an already-deleted key: its row is no longer live
    assert(MergeInto.deleteWhere(spark, root, keyDf(2L)).gen === g1)
    assert(rowsOf(ManifestCommit.read(spark, root)) === Set((1L, "a", 1.0)))
  }

  test("change feed surfaces DV deletes without any dir change") {
    val root = Files.createTempDirectory("merge_spec_").toString + "/t"
    commitSliced(root, Seq(df((1L, "a", 1.0), (2L, "b", 2.0))))
    val g1 = ManifestCommit.readManifest(spark, root).get.gen
    MergeInto.deleteWhere(spark, root, keyDf(2L))
    val g2 = ManifestCommit.readManifest(spark, root).get.gen
    val feed = ChangeFeed.diff(spark, root, g1, g2, Seq("id")).collect()
      .map(r => (r.getAs[String](ChangeFeed.ChangeType), r.getAs[Long]("id")))
    assert(feed.toSeq === Seq(("delete", 2L)))
  }

  test("merge of a dv'd dir does not resurrect deleted rows") {
    val root = Files.createTempDirectory("merge_spec_").toString + "/t"
    commitSliced(root, Seq(df((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))))
    MergeInto.deleteWhere(spark, root, keyDf(2L))
    // update key 1 — rewrites the (only) dir, materializing its DV
    MergeInto.merge(spark, root, df((1L, "A!", 100.0)), Seq("id"))
    val m = ManifestCommit.readManifest(spark, root).get
    assert(m.dvs.isEmpty, "rewritten dir must drop its DV")
    assert(rowsOf(ManifestCommit.read(spark, root)) ===
      Set((1L, "A!", 100.0), (3L, "c", 3.0)))
  }

  test("DV read: a repeat read runs the jobs of the same read without DVs") {
    val root = Files.createTempDirectory("merge_spec_").toString + "/t"
    commitSliced(root, Seq(df((1L, "a", 1.0), (2L, "b", 2.0)),
      df((3L, "c", 3.0), (4L, "d", 4.0))))
    MergeInto.deleteWhere(spark, root, keyDf(2L, 3L))
    val m = ManifestCommit.readManifest(spark, root).get
    assert(m.dvs.size === 2)
    assert(rowsOf(ManifestCommit.read(spark, root)) ===
      Set((1L, "a", 1.0), (4L, "d", 4.0)))
    val withDvs = jobsOf(ManifestCommit.read(spark, root).collect())
    val noDvs = jobsOf(ManifestCommit.readDirsOf(spark, root,
      m.copy(dvs = Map.empty), m.dirs).collect())
    assert(withDvs === noDvs,
      s"a repeat DV'd read ran $withDvs jobs, the DV-free read $noDvs")
  }

  test("merge on a __rows table keeps manifest-only COUNT(*) alive") {
    val root = Files.createTempDirectory("merge_spec_").toString + "/t"
    val dirs = Seq(df((1L, "a", 1.0), (2L, "b", 2.0)), df((10L, "j", 10.0))).map { s =>
      val d = ManifestCommit.newDataDir(root)
      s.write.parquet(d)
      d -> (ManifestCommit.dirStats(spark, d, Seq("id")) :+
        ManifestCommit.rowCountStat(spark, d))
    }
    ManifestCommit.commitReplace(spark, root, dirs.map(_._1),
      pruneDisplaced = false, stats = dirs.toMap)
    assert(ManifestCommit.tableRowCount(spark, root) === Some(3L))
    // the merge's statCols inherit __rows from the prior manifest — it
    // must be served by the count, not read as a data column
    val res = MergeInto.merge(spark, root,
      df((2L, "B!", 20.0), (3L, "c", 3.0)), Seq("id"))
    assert(res.updated === 1L && res.inserted === 1L)
    assert(ManifestCommit.tableRowCount(spark, root) === Some(4L),
      "post-merge manifest must still answer COUNT(*) footer-free")
    assert(rowsOf(ManifestCommit.read(spark, root)) ===
      Set((1L, "a", 1.0), (2L, "B!", 20.0), (3L, "c", 3.0), (10L, "j", 10.0)))
  }

  test("merge stats metered on the write pass match a dirStats re-read") {
    val root = Files.createTempDirectory("merge_spec_").toString + "/t"
    commitSliced(root, Seq(df((5L, "e", 5.0), (6L, "f", 6.0))))
    // source row id=1 is a DELETE of an absent key (skip) — its key must
    // not widen the new dir's stats range (min stays 5, not 1)
    MergeInto.merge(spark, root,
      df((1L, "gone", 0.0), (5L, "E!", 50.0), (9L, "i", 9.0)), Seq("id"),
      deleteWhen = Some(col("id") === 1L))
    val m = ManifestCommit.readManifest(spark, root).get
    val newDir = m.dirs.last
    val observed = m.stats(newDir)
    val reread = ManifestCommit.dirStats(spark, s"$root/$newDir", Seq("id"))
    assert(observed === reread,
      s"observe-computed stats must equal a re-read: $observed vs $reread")
    // deleted row's key (1) must not widen the range: min is 5, not 1
    assert(observed.find(_.col == "id").get.min === "5")

    // every stats input a merge can take: a slice-component expression
    // stat, an all-null column, __rows/__bytes, a column-mapped (renamed)
    // column, and an all-deleting merge's empty dir
    val root2 = Files.createTempDirectory("merge_spec_").toString + "/p"
    val base = spark.range(0, 40).toDF("id")
      .withColumn("v", concat(lit("v"), col("id")))
      .withColumn("amt", col("id").cast("double"))
      .withColumn("n", lit(null).cast("long"))
      .withColumn("k", col("id") % 5)
    val dirs = ManifestCommit.writeSliced(spark, root2, base,
      floor(col("id") / lit(10)), Seq("id", "n", "k", "pmod(hash(id), 4)",
        ManifestCommit.RowCountStat, ManifestCommit.BytesStat))
    ManifestCommit.commitReplace(spark, root2, dirs.map(_._1),
      pruneDisplaced = false, stats = dirs.toMap,
      schema = Some(StructType(base.schema.fields.map(_.copy(nullable = true)))))
    ManifestCommit.renameColumn(spark, root2, "k", "kk")
    def source(ids: Long*): DataFrame = spark.createDataFrame(ids.map(i =>
      (i, s"s$i", i * 2.0, Option.empty[Long], i % 5)))
      .toDF("id", "v", "amt", "n", "kk")
    def meteredMatchesReread(): Seq[ManifestCommit.ColStats] = {
      val m = ManifestCommit.readManifest(spark, root2).get
      val newDir = m.dirs.last
      val observed = m.stats.getOrElse(newDir, Nil)
      val cols = observed.map(s => ManifestCommit.baseStatCol(s.col)).distinct
      assert(observed === ManifestCommit.dirStats(spark, s"$root2/$newDir",
        cols, m.colmap), s"merge-metered vs re-read of $newDir")
      observed
    }
    // delete every row of the [30, 40) dir: the new dir is empty
    MergeInto.merge(spark, root2, source(30L until 40L: _*), Seq("id"),
      deleteWhen = Some(lit(true)))
    assert(meteredMatchesReread()
      .find(_.col == ManifestCommit.RowCountStat).map(_.min) === Some("0"))
    // rewrites [0, 20) and the (stat-less, so always read) empty dir
    MergeInto.merge(spark, root2, source(5L, 15L, 99L), Seq("id"))
    val st = meteredMatchesReread()
    assert(Seq("kk", "pmod(hash(id), 4)", "__nn_n",
      ManifestCommit.RowCountStat, ManifestCommit.BytesStat)
      .forall(c => st.exists(_.col == c)) && !st.exists(_.col == "n"), st)
    assert(st.find(_.col == ManifestCommit.RowCountStat).map(_.min) === Some("21"))
  }

  test("pruneOrphans reclaims a crashed deleteWhere's uncommitted dv file") {
    val root = Files.createTempDirectory("merge_spec_").toString + "/t"
    commitSliced(root, Seq(df((1L, "a", 1.0), (2L, "b", 2.0))))
    MergeInto.deleteWhere(spark, root, keyDf(1L)) // committed dv: must survive
    val committedDv = ManifestCommit.readManifest(spark, root).get.dvs.values.head
    // simulate the crash: a dv file written but never referenced
    val orphan = s"$root/_dv_orphan0crash"
    keyDf(2L).write.parquet(orphan)
    val pruned = ManifestCommit.pruneOrphans(spark, root, minAgeMs = 0L)
    assert(pruned.exists(_.endsWith("_dv_orphan0crash")), pruned)
    assert(!pruned.exists(_.endsWith(committedDv)), "committed dv must survive")
    assert(rowsOf(ManifestCommit.read(spark, root)) === Set((2L, "b", 2.0)))
  }

  test("expireSnapshots reclaims dv files only expired generations reference") {
    val root = Files.createTempDirectory("merge_spec_").toString + "/t"
    commitSliced(root, Seq(df((1L, "a", 1.0), (2L, "b", 2.0))))
    MergeInto.deleteWhere(spark, root, keyDf(1L)) // dv A (gen 2)
    MergeInto.deleteWhere(spark, root, keyDf(2L)) // dv B ⊇ A (gen 3)
    val dvA = {
      val m2 = ManifestCommit.readManifestAt(spark, root, 2L).get
      m2.dvs.values.head
    }
    val deleted = ManifestCommit.expireSnapshots(spark, root, keepLast = 1)
    assert(deleted.exists(_.endsWith(dvA)), s"dv A should be reclaimed: $deleted")
    // live read unaffected: both keys deleted
    assert(ManifestCommit.read(spark, root).count() === 0L)
  }

  test("MERGE into a STATS-LESS table meters __bytes, and the later " +
      "OPTIMIZE over the resulting bytes-only statCols does not crash") {
    val root = Files.createTempDirectory("merge_spec_").toString + "/t"
    // a table with NO established real stat columns, only the byte meter
    // — exactly the per-dir shape MERGE itself leaves behind (a converted
    // table's __part-only stats produce the same pseudo-only statCols)
    val d0 = ManifestCommit.newDataDir(root)
    df((1L, "a", 1.0), (2L, "b", 2.0)).write.parquet(d0)
    ManifestCommit.commitReplace(spark, root, Seq(d0),
      pruneDisplaced = false,
      stats = Map(d0 -> Seq(ManifestCommit.dirBytesStat(spark, d0))),
      schema = Some(StructType(schema.fields.map(_.copy(nullable = true)))))
    MergeInto.merge(spark, root, df((2L, "B", 2.5), (3L, "c", 3.0)),
      keys = Seq("id"))
    val m1 = ManifestCommit.readManifest(spark, root).get
    // the merged dir's ONLY stat is the exact byte meter (statCols were
    // pseudo-only, so no real column was metered)
    val merged = m1.dirs.head
    assert(m1.stats(merged).map(_.col) === Seq(ManifestCommit.BytesStat))
    // a second small dir so compaction has something to fold; its
    // statCols derive RAW from the manifest -> cols = [__bytes] only
    val d2 = ManifestCommit.newDataDir(root)
    df((10L, "x", 10.0)).write.parquet(d2)
    ManifestCommit.commitAppend(spark, root, d2)
    // pre-fix: dirStats(cols=[__bytes]) built an EMPTY aggregate list and
    // threw NoSuchElementException — OPTIMIZE crashed after any merge
    // into a stats-less table
    val m2 = Optimize.compactSmall(spark, root, smallBytes = Long.MaxValue)
    assert(m2.dirs.size === 1)
    assert(rowsOf(ManifestCommit.read(spark, root)) ===
      Set((1L, "a", 1.0), (2L, "B", 2.5), (3L, "c", 3.0), (10L, "x", 10.0)))
    // the compacted dir keeps an EXACT byte meter (sizeInBytes stays exact)
    val bytes = m2.stats(m2.dirs.head)
      .find(_.col == ManifestCommit.BytesStat).map(_.min.toLong)
    val fsBytes = fileState(root, m2.dirs.head).values
      .collect { case (len, _) => len }.sum
    assert(bytes.exists(b => b > 0L && b <= fsBytes), s"$bytes vs $fsBytes")
    // the direct unit shape: a pseudo-only request serves the pseudo stats
    assert(ManifestCommit.dirStats(spark, s"$root/${m2.dirs.head}",
      Seq(ManifestCommit.BytesStat)).map(_.col) ===
      Seq(ManifestCommit.BytesStat))
  }
}
