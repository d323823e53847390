package graft.ingest

import graft.{JobMeter, SparkSpec}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, concat, lit, sum}
import org.apache.spark.sql.types._
import java.nio.file.Files

/** Object-store-safe manifest commit protocol: the crash-point contract.
  * A crash at ANY point before the single manifest replace must leave the
  * previous complete generation served; data dirs are immutable and never
  * renamed, so the manifest write is the only commit point
  * (ingest_runner.py:1529-1592 gets the equivalent atomicity from
  * ClickHouse RENAME TABLE — this is the lakehouse re-expression).
  */
class ManifestCommitSpec extends SparkSpec {

  private val st = StructType(Seq(
    StructField("id", LongType, false),
    StructField("v", StringType, true)))

  private def write(rows: Row*): String => Unit = { dir =>
    mkDf(st, rows: _*).write.mode("overwrite").parquet(dir)
  }

  private def idsOf(root: String): Set[Long] =
    ManifestCommit.read(spark, root).collect().map(_.getLong(0)).toSet

  test("commitReplace is the staging swap: readers see old until the commit, then new") {
    val root = Files.createTempDirectory("manifest_spec_").toString + "/t"
    val g1 = ManifestCommit.newDataDir(root)
    write(Row(1L, "a"), Row(2L, "b"))(g1)
    ManifestCommit.commitReplace(spark, root, Seq(g1))
    assert(idsOf(root) === Set(1L, 2L))
    // generation 2 staged but NOT committed — crash point: readers must
    // still serve generation 1 in full
    val g2 = ManifestCommit.newDataDir(root)
    write(Row(9L, "z"))(g2)
    assert(idsOf(root) === Set(1L, 2L),
      "uncommitted data dir must be invisible (crash between write and commit)")
    ManifestCommit.commitReplace(spark, root, Seq(g2))
    assert(idsOf(root) === Set(9L))
    // displaced generation pruned by the commit
    assert(!Maintenance.exists(spark, g1), "displaced generation reclaimed")
  }

  test("commitAppend accumulates delta dirs; generations are monotone") {
    val root = Files.createTempDirectory("manifest_spec_").toString + "/t"
    val d1 = ManifestCommit.newDataDir(root)
    write(Row(1L, "a"))(d1)
    val m1 = ManifestCommit.commitAppend(spark, root, d1)
    val d2 = ManifestCommit.newDataDir(root)
    write(Row(2L, "b"))(d2)
    val m2 = ManifestCommit.commitAppend(spark, root, d2)
    assert(m1.gen === 1L && m2.gen === 2L && m2.dirs.size === 2)
    assert(idsOf(root) === Set(1L, 2L))
  }

  test("pruneOrphans reclaims crash leftovers but spares live and fresh dirs") {
    val root = Files.createTempDirectory("manifest_spec_").toString + "/t"
    val live = ManifestCommit.newDataDir(root)
    write(Row(1L, "a"))(live)
    ManifestCommit.commitReplace(spark, root, Seq(live))
    val orphan = ManifestCommit.newDataDir(root) // written, never committed
    write(Row(9L, "z"))(orphan)
    // fresh orphan = possibly an ACTIVE writer → survives the age guard
    assert(ManifestCommit.pruneOrphans(spark, root).isEmpty)
    // age it → genuine crash leftover → reclaimed; live dir untouched
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = System.currentTimeMillis() - 3600 * 1000L
    val op = new org.apache.hadoop.fs.Path(orphan)
    val it = f.listFiles(op, true)
    while (it.hasNext) f.setTimes(it.next().getPath, old, -1)
    f.setTimes(op, old, -1)
    val removed = ManifestCommit.pruneOrphans(spark, root)
    assert(removed.map(_.split('/').last) === Seq(orphan.split('/').last))
    assert(idsOf(root) === Set(1L), "live generation untouched by prune")
  }

  test("time travel: readAt reconstructs a retained generation exactly") {
    val root = Files.createTempDirectory("manifest_spec_").toString + "/t"
    val g1 = ManifestCommit.newDataDir(root)
    write(Row(1L, "a"), Row(2L, "b"))(g1)
    ManifestCommit.commitReplace(spark, root, Seq(g1), pruneDisplaced = false)
    val d2 = ManifestCommit.newDataDir(root)
    write(Row(3L, "c"))(d2)
    ManifestCommit.commitAppend(spark, root, d2)
    val g3 = ManifestCommit.newDataDir(root)
    write(Row(9L, "z"))(g3)
    ManifestCommit.commitReplace(spark, root, Seq(g3), pruneDisplaced = false)
    assert(ManifestCommit.snapshotGens(spark, root) === Seq(1L, 2L, 3L))
    def idsAt(g: Long): Set[Long] =
      ManifestCommit.readAt(spark, root, g).collect().map(_.getLong(0)).toSet
    assert(idsAt(1L) === Set(1L, 2L), "gen 1 as committed")
    assert(idsAt(2L) === Set(1L, 2L, 3L), "gen 2 = gen 1 + append")
    assert(idsAt(3L) === Set(9L), "gen 3 is the replacement")
    assert(idsOf(root) === Set(9L), "pointer reads the current generation")
  }

  test("expireSnapshots keeps the newest N, reclaims exclusively-referenced dirs") {
    val root = Files.createTempDirectory("manifest_spec_").toString + "/t"
    val g1 = ManifestCommit.newDataDir(root)
    write(Row(1L, "a"))(g1)
    ManifestCommit.commitReplace(spark, root, Seq(g1), pruneDisplaced = false)
    val d2 = ManifestCommit.newDataDir(root)
    write(Row(2L, "b"))(d2)
    ManifestCommit.commitAppend(spark, root, d2) // gen 2 = {g1, d2}
    val g3 = ManifestCommit.newDataDir(root)
    write(Row(9L, "z"))(g3)
    ManifestCommit.commitReplace(spark, root, Seq(g3), pruneDisplaced = false)
    // an in-flight uncommitted writer dir must NOT be expire's business
    val inflight = ManifestCommit.newDataDir(root)
    write(Row(7L, "w"))(inflight)
    val deleted = ManifestCommit.expireSnapshots(spark, root, keepLast = 1)
    // gens 1,2 expired; g1+d2 referenced only by them → reclaimed
    assert(ManifestCommit.snapshotGens(spark, root) === Seq(3L))
    assert(ManifestCommit.readManifestAt(spark, root, 1L).isEmpty)
    assert(!Maintenance.exists(spark, g1) && !Maintenance.exists(spark, d2))
    assert(Maintenance.exists(spark, g3), "current generation data retained")
    assert(Maintenance.exists(spark, inflight), "uncommitted writer dir untouched")
    assert(deleted.size === 4) // 2 snapshot files + 2 data dirs
    assert(idsOf(root) === Set(9L))
    assert(intercept[IllegalArgumentException](
      ManifestCommit.readAt(spark, root, 1L)).getMessage.contains("not retained"))
  }

  test("pruneOrphans spares dirs reachable only through retained history") {
    val root = Files.createTempDirectory("manifest_spec_").toString + "/t"
    val g1 = ManifestCommit.newDataDir(root)
    write(Row(1L, "a"))(g1)
    ManifestCommit.commitReplace(spark, root, Seq(g1), pruneDisplaced = false)
    val g2 = ManifestCommit.newDataDir(root)
    write(Row(2L, "b"))(g2)
    ManifestCommit.commitReplace(spark, root, Seq(g2), pruneDisplaced = false)
    // age everything past the guard: g1 is still NOT an orphan — gen 1's
    // retained snapshot references it
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = System.currentTimeMillis() - 3600 * 1000L
    val it = f.listFiles(new org.apache.hadoop.fs.Path(root), true)
    while (it.hasNext) f.setTimes(it.next().getPath, old, -1)
    for (st <- f.listStatus(new org.apache.hadoop.fs.Path(root)))
      f.setTimes(st.getPath, old, -1)
    assert(ManifestCommit.pruneOrphans(spark, root).isEmpty)
    assert(ManifestCommit.readAt(spark, root, 1L).collect().map(_.getLong(0)).toSet
      === Set(1L))
  }

  test("dir stats round-trip the manifest and drive data-skipping resolve") {
    val root = Files.createTempDirectory("manifest_spec_").toString + "/t"
    val d1 = ManifestCommit.newDataDir(root)
    write(Row(1L, "a"), Row(5L, "b"))(d1)
    val d2 = ManifestCommit.newDataDir(root)
    write(Row(10L, "c"), Row(20L, "d"))(d2)
    val s1 = ManifestCommit.dirStats(spark, d1, Seq("id", "v"))
    val s2 = ManifestCommit.dirStats(spark, d2, Seq("id", "v"))
    // data stats exact; the exact on-disk __bytes pseudo-stat (round 16)
    // rides alongside and matches the dir's content length
    assert(s1.filterNot(_.col == ManifestCommit.BytesStat) === Seq(
      ManifestCommit.ColStats("id", "num", "1", "5"),
      ManifestCommit.ColStats(ManifestCommit.nnStat("id"), "num", "2", "2"),
      ManifestCommit.ColStats("v", "str", "a", "b"),
      ManifestCommit.ColStats(ManifestCommit.nnStat("v"), "num", "2", "2")))
    val onDisk = new org.apache.hadoop.fs.Path(d1)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getContentSummary(new org.apache.hadoop.fs.Path(d1)).getLength
    assert(s1.find(_.col == ManifestCommit.BytesStat)
      .map(_.min.toLong) === Some(onDisk))
    ManifestCommit.commitReplace(spark, root, Seq(d1), pruneDisplaced = false,
      stats = Map(d1 -> s1))
    ManifestCommit.commitAppend(spark, root, d2, stats = s2)
    // append preserved d1's stats alongside d2's
    val m = ManifestCommit.readManifest(spark, root).get
    assert(m.stats.size === 2)
    // range [2, 7] overlaps only d1; [6, 9] overlaps neither; no-bounds keeps all
    val (kept, total) = ManifestCommit.resolvePruned(spark, root, "id",
      Some("2"), Some("7"))
    assert(total === 2 && kept.map(_.split('/').last) === Seq(d1.split('/').last))
    assert(ManifestCommit.resolvePruned(spark, root, "id",
      Some("6"), Some("9"))._1.isEmpty)
    assert(ManifestCommit.resolvePruned(spark, root, "id", None, None)._1.size === 2)
    // a column with NO stats never prunes (skipping is an optimization)
    assert(ManifestCommit.resolvePruned(spark, root, "nope",
      Some("x"), Some("y"))._1.size === 2)
    // string-kind bounds compare lexicographically
    assert(ManifestCommit.resolvePruned(spark, root, "v",
      Some("c"), None)._1.map(_.split('/').last) === Seq(d2.split('/').last))
  }

  test("temporal stats render fixed-width; empty dirs carry no stats") {
    val root = Files.createTempDirectory("manifest_spec_").toString + "/t"
    val tsSchema = StructType(Seq(
      StructField("id", LongType, false),
      StructField("ts", TimestampType, true)))
    val d1 = ManifestCommit.newDataDir(root)
    mkDf(tsSchema,
      Row(1L, java.sql.Timestamp.valueOf("1996-01-01 00:00:00")),
      Row(2L, java.sql.Timestamp.valueOf("1997-06-15 12:30:45.5")))
      .write.mode("overwrite").parquet(d1)
    val st = ManifestCommit.dirStats(spark, d1, Seq("ts"))
    assert(st.filterNot(_.col == ManifestCommit.BytesStat) ===
      Seq(ManifestCommit.ColStats("ts", "str",
        "1996-01-01T00:00:00.000", "1997-06-15T12:30:45.500"),
        ManifestCommit.ColStats(ManifestCommit.nnStat("ts"), "num", "2", "2")),
      "LocalDateTime.toString's dropped-zero-seconds form must NOT leak into stats")
    assert(ManifestCommit.temporalBound("1996-01-01") === "1996-01-01T00:00:00.000")
    assert(ManifestCommit.temporalBound("1997-06-15T12:30") === "1997-06-15T12:30:00.000")
    // an empty dir yields all-null min/max → NO range bounds (never
    // range-pruned); since round 18 it still carries the EXACT non-null
    // counter (0 — which IS NOT NULL probes may legitimately prune on)
    // and the bytes pseudo-stat
    val d2 = ManifestCommit.newDataDir(root)
    mkDf(tsSchema).write.mode("overwrite").parquet(d2)
    val empty = ManifestCommit.dirStats(spark, d2, Seq("ts"))
    assert(!empty.exists(_.col == "ts"), "no range bounds on an empty dir")
    assert(empty.find(_.col == ManifestCommit.nnStat("ts"))
      .map(_.min) === Some("0"))
  }

  test("expectedGen turns a lost race into ConcurrentCommitException, retry succeeds") {
    val root = Files.createTempDirectory("manifest_spec_").toString + "/t"
    val base = ManifestCommit.newDataDir(root)
    write(Row(1L, "a"))(base)
    ManifestCommit.commitReplace(spark, root, Seq(base)) // gen 1
    // writers A and B both read gen 1 and stage
    val stagedA = ManifestCommit.newDataDir(root)
    write(Row(2L, "A"))(stagedA)
    val stagedB = ManifestCommit.newDataDir(root)
    write(Row(3L, "B"))(stagedB)
    // B commits first → gen 2; A's CAS on gen 1 must fail, table intact
    ManifestCommit.commitAppend(spark, root, stagedB, expectedGen = Some(1L))
    val ex = intercept[ManifestCommit.ConcurrentCommitException] {
      ManifestCommit.commitReplace(spark, root, Seq(stagedA),
        expectedGen = Some(1L))
    }
    assert(ex.getMessage.contains("expected generation 1 but found 2"))
    assert(idsOf(root) === Set(1L, 3L), "loser changed nothing")
    // A re-reads the new generation and retries — now it wins
    val cur = ManifestCommit.readManifest(spark, root).get.gen
    ManifestCommit.commitReplace(spark, root, Seq(stagedA),
      expectedGen = Some(cur))
    assert(idsOf(root) === Set(2L))
  }

  test("resolve falls through for plain parquet dirs (non-manifest readers unaffected)") {
    val root = Files.createTempDirectory("manifest_spec_").toString + "/plain"
    write(Row(5L, "p"))(root)
    assert(!ManifestCommit.isManifestTable(spark, root))
    assert(ManifestCommit.resolvePaths(spark, root) === Seq(root))
    assert(idsOf(root) === Set(5L))
  }

  test("history walks retained snapshots: ops, dir deltas, schema flag") {
    val root = Files.createTempDirectory("manifest_spec_").toString + "/t"
    val d1 = ManifestCommit.newDataDir(root); write(Row(1L, "a"))(d1)
    val d2 = ManifestCommit.newDataDir(root); write(Row(2L, "b"))(d2)
    ManifestCommit.commitReplace(spark, root, Seq(d1), pruneDisplaced = false)
    ManifestCommit.commitAppend(spark, root, d2)
    val d3 = ManifestCommit.newDataDir(root); write(Row(3L, "c"))(d3)
    ManifestCommit.commitReplace(spark, root, Seq(d3),
      pruneDisplaced = false, op = "compact")
    val h = ManifestCommit.history(spark, root).orderBy("gen").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2),
        r.getLong(3), r.getLong(4)))
    assert(h.toSeq === Seq(
      (1L, "replace", 1, 1L, 0L),
      (2L, "append", 2, 1L, 0L),
      (3L, "compact", 1, 1L, 2L)))
    // expiring old snapshots shrinks history to what is still retained
    ManifestCommit.expireSnapshots(spark, root, keepLast = 1)
    assert(ManifestCommit.history(spark, root).collect().map(_.getLong(0))
      .toSeq === Seq(3L))
  }

  test("old-format manifests (full pointer, no #op, no #ref) still parse") {
    val root = Files.createTempDirectory("manifest_spec_").toString + "/t"
    val d1 = ManifestCommit.newDataDir(root); write(Row(1L, "a"))(d1)
    val m = ManifestCommit.commitReplace(spark, root, Seq(d1),
      pruneDisplaced = false)
    // rewrite the pointer in the PRE-DELTA-LOG shape: full dir content
    // inline, no #ref/#base, no #op — the on-disk form every pre-round-10
    // table carries
    val p = new org.apache.hadoop.fs.Path(root, "_manifest")
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = f.create(p, true)
    try out.write((m.gen.toString + "\n" + m.dirs.mkString("\n"))
      .getBytes("UTF-8")) finally out.close()
    assert(ManifestCommit.readManifest(spark, root).get.op.isEmpty)
    assert(ManifestCommit.readManifest(spark, root).get.dirs === m.dirs)
    assert(idsOf(root) === Set(1L)) // reads unaffected
  }

  test("bloom side files: point resolve keeps the true dir, skips others") {
    val root = Files.createTempDirectory("manifest_spec_").toString + "/t"
    // 4 dirs of interleaved ids: min/max stats are useless for points
    val dirs = (0 until 4).map { i =>
      val d = ManifestCommit.newDataDir(root)
      mkDf(st, (0 until 250).map(j =>
        Row((j * 4 + i).toLong, s"v$i-$j")): _*).write.parquet(d)
      ManifestCommit.writeDirBloom(spark, d, "id", 250, fpp = 0.01)
      d
    }
    ManifestCommit.commitReplace(spark, root, dirs, pruneDisplaced = false)
    // probe id 402 lives in dir index 2 (402 % 4 == 2)
    val (kept, total) = ManifestCommit.resolveBloom(spark, root, "id", 402L)
    assert(total === 4)
    val trueDir = dirs(2).split('/').last
    assert(kept.exists(_.endsWith(trueDir)), "bloom must never skip the true dir")
    assert(kept.size < total, "bloom should skip at least one dir")
    // pruned read + exact predicate still finds exactly the row
    val got = spark.read.parquet(kept: _*)
      .filter(org.apache.spark.sql.functions.col("id") === 402L).collect()
    assert(got.map(_.getString(1)).toSeq === Seq("v2-100"))
    // a dir without a bloom side file is always kept
    val d5 = ManifestCommit.newDataDir(root)
    write(Row(10000L, "nofilter"))(d5)
    ManifestCommit.commitAppend(spark, root, d5)
    val (kept2, total2) = ManifestCommit.resolveBloom(spark, root, "id", 402L)
    assert(total2 === 5 && kept2.exists(_.endsWith(d5.split('/').last)))
  }

  test("tableRowCount answers COUNT(*) from the manifest with ZERO Spark jobs") {
    val root = Files.createTempDirectory("manifest_spec_").toString + "/t"
    val d1 = ManifestCommit.newDataDir(root); write(Row(1L, "a"), Row(2L, "b"))(d1)
    ManifestCommit.commitReplace(spark, root, Seq(d1), pruneDisplaced = false,
      stats = Map(d1 -> (ManifestCommit.dirStats(spark, d1, Seq("id")) :+
        ManifestCommit.rowCountStat(spark, d1))))
    val d2 = ManifestCommit.newDataDir(root); write(Row(3L, "c"))(d2)
    ManifestCommit.commitAppend(spark, root, d2,
      stats = ManifestCommit.dirStats(spark, d2, Seq("id")) :+
        ManifestCommit.rowCountStat(spark, d2))
    // count the jobs the lookup launches: must be zero
    var n: Option[Long] = None
    val jobs = jobsOf { n = ManifestCommit.tableRowCount(spark, root) }
    assert(n === Some(3L))
    assert(jobs === 0, "row count must not launch any Spark job")
    // conservative Nones: a dir without the stat, then a deletion vector
    val d3 = ManifestCommit.newDataDir(root); write(Row(4L, "d"))(d3)
    ManifestCommit.commitAppend(spark, root, d3)
    assert(ManifestCommit.tableRowCount(spark, root).isEmpty)
    // (re-add the stat via a replace, then a DV must also disable it)
    val all = ManifestCommit.resolvePaths(spark, root)
    val d4 = ManifestCommit.newDataDir(root)
    spark.read.parquet(all: _*).write.parquet(d4)
    ManifestCommit.commitReplace(spark, root, Seq(d4), pruneDisplaced = false,
      stats = Map(d4 -> Seq(ManifestCommit.rowCountStat(spark, d4))))
    assert(ManifestCommit.tableRowCount(spark, root) === Some(4L))
    // a DV delete records its exact dead-row count in the same commit,
    // so the manifest-only answer stays live (and exact) through
    // merge-on-read deletes — the dedicated spec covers the full
    // accumulate/idempotence/compaction matrix
    MergeInto.deleteWhere(spark, root, mkDf(
      StructType(Seq(StructField("id", LongType, false))), Row(1L)))
    assert(ManifestCommit.tableRowCount(spark, root) === Some(3L))
  }

  test("eager-prune commitReplace reclaims displaced DV directories (recursive delete)") {
    val root = Files.createTempDirectory("manifest_spec_").toString + "/t"
    val d1 = ManifestCommit.newDataDir(root)
    write(Row(1L, "a"), Row(2L, "b"))(d1)
    ManifestCommit.commitReplace(spark, root, Seq(d1), pruneDisplaced = false)
    // DV "files" are single-part parquet DIRECTORIES — the eager prune
    // must delete them recursively, not fail the commit with IOException
    MergeInto.deleteWhere(spark, root, mkDf(
      StructType(Seq(StructField("id", LongType, false))), Row(2L)))
    val dvName = ManifestCommit.readManifest(spark, root).get.dvs.values.head
    val d2 = ManifestCommit.newDataDir(root)
    write(Row(1L, "a"))(d2) // the compacted replacement (dv materialized)
    ManifestCommit.commitReplace(spark, root, Seq(d2), pruneDisplaced = true)
    assert(!Maintenance.exists(spark, s"$root/$dvName"),
      "displaced DV directory must be reclaimed by the eager prune")
    assert(!Maintenance.exists(spark, d1))
    assert(idsOf(root) === Set(1L))
  }

  test("resolve helpers refuse raw paths for dv-carrying kept dirs; readPruned/readBloom apply DVs") {
    val root = Files.createTempDirectory("manifest_spec_").toString + "/t"
    val d1 = ManifestCommit.newDataDir(root)
    write(Row(1L, "a"), Row(2L, "b"))(d1)
    ManifestCommit.writeDirBloom(spark, d1, "id", 8L)
    ManifestCommit.commitReplace(spark, root, Seq(d1),
      pruneDisplaced = false,
      stats = Map(d1 -> ManifestCommit.dirStats(spark, d1, Seq("id"))))
    MergeInto.deleteWhere(spark, root, mkDf(
      StructType(Seq(StructField("id", LongType, false))), Row(2L)))
    // raw-path helpers throw: reading the kept path directly would
    // resurrect the deleted row
    intercept[IllegalStateException] {
      ManifestCommit.resolvePruned(spark, root, "id", Some("1"), Some("2"))
    }
    intercept[IllegalStateException] {
      ManifestCommit.resolveBloom(spark, root, "id", 2L)
    }
    intercept[IllegalStateException] {
      Optimize.resolvePrunedMulti(spark, root, Seq(("id", Some("1"), Some("2"))))
    }
    // the DV-aware read variants serve the same resolve WITH the DV applied
    val (pr, keptP, totalP) =
      ManifestCommit.readPruned(spark, root, "id", Some("1"), Some("2"))
    assert(keptP === 1 && totalP === 1)
    assert(pr.collect().map(_.getLong(0)).toSet === Set(1L))
    val (br, keptB, _) = ManifestCommit.readBloom(spark, root, "id", 2L)
    assert(keptB === 1 && br.filter(col("id") === 2L).count() === 0L,
      "bloom keeps the dir (fp-possible) but the DV removes the row")
    val (mr, keptM, _) =
      Optimize.readPrunedMulti(spark, root, Seq(("id", Some("1"), Some("2"))))
    assert(keptM === 1 && mr.collect().map(_.getLong(0)).toSet === Set(1L))
  }

  test("schemaless dir-to-dir drift with a DV: read null-fills across groups") {
    val root = Files.createTempDirectory("manifest_spec_").toString + "/t"
    // dir 1: (id, v) — dir 2: (id, v, extra); NO recorded table schema
    val d1 = ManifestCommit.newDataDir(root)
    write(Row(1L, "a"))(d1)
    val d2 = ManifestCommit.newDataDir(root)
    mkDf(StructType(st.fields :+ StructField("extra", LongType, true)),
      Row(2L, "b", 20L), Row(3L, "c", 30L)).write.parquet(d2)
    ManifestCommit.commitReplace(spark, root, Seq(d1, d2), pruneDisplaced = false)
    // put a DV on the drifted dir so the read takes the grouped-join path
    MergeInto.deleteWhere(spark, root, mkDf(
      StructType(Seq(StructField("id", LongType, false))), Row(3L)))
    val rows = ManifestCommit.read(spark, root)
      .select("id", "v", "extra").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    assert(rows === Set((1L, "a", -1L), (2L, "b", 20L)))
  }

  test("many dv'd dirs: DV application is ONE anti-join per key-set, not per dir") {
    val root = Files.createTempDirectory("manifest_spec_").toString + "/t"
    val dirs = (0 until 6).map { i =>
      val d = ManifestCommit.newDataDir(root)
      write(Row(i * 10L, "a"), Row(i * 10L + 1, "b"))(d)
      d -> ManifestCommit.dirStats(spark, d, Seq("id"))
    }
    ManifestCommit.commitReplace(spark, root, dirs.map(_._1),
      pruneDisplaced = false, stats = dirs.toMap)
    // one deleted key in EVERY dir → 6 dv'd dirs
    MergeInto.deleteWhere(spark, root, mkDf(
      StructType(Seq(StructField("id", LongType, false))),
      (0 until 6).map(i => Row(i * 10L + 1)): _*))
    assert(ManifestCommit.readManifest(spark, root).get.dvs.size === 6)
    val df = ManifestCommit.read(spark, root)
    assert(df.collect().map(_.getLong(0)).toSet ===
      (0 until 6).map(_ * 10L).toSet)
    // AQE's toString repeats the tree under "== Initial Plan =="; count
    // join operators in the final plan only
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val antiJoins = "LeftAnti".r.findAllIn(plan).size
    assert(antiJoins === 1,
      s"6 dv'd dirs sharing a key-set must fold into ONE anti-join, got $antiJoins:\n$plan")
  }

  test("writeSliced: N range dirs from one write job, stats match dirStats") {
    val root = Files.createTempDirectory("manifest_spec_").toString + "/t"
    import spark.implicits._
    val df = spark.range(0, 90).select(col("id"),
      org.apache.spark.sql.functions.concat(
        org.apache.spark.sql.functions.lit("v"), col("id")).as("v"))
    val slice = org.apache.spark.sql.functions
      .when(col("id") < 30, 0).when(col("id") < 60, 1).otherwise(2)
    val dirs = ManifestCommit.writeSliced(spark, root, df, slice,
      Seq("id", ManifestCommit.RowCountStat))
    assert(dirs.size === 3)
    ManifestCommit.commitReplace(spark, root, dirs.map(_._1),
      pruneDisplaced = false, stats = dirs.toMap)
    // contents complete, stats identical to a per-dir dirStats re-read
    assert(ManifestCommit.read(spark, root).count() === 90L)
    assert(ManifestCommit.tableRowCount(spark, root) === Some(90L))
    dirs.foreach { case (d, stats) =>
      val reread = ManifestCommit.dirStats(spark, d,
        Seq("id", ManifestCommit.RowCountStat))
      assert(stats === reread, s"$d: $stats vs $reread")
    }
    // ranges are the expected thirds and drive skipping
    val (kept, total) = ManifestCommit.resolvePruned(spark, root, "id",
      Some("35"), Some("45"))
    assert(kept.size === 1 && total === 3)

    // every producer yields identical ColStats for every input it can
    // take: a slice-component expression stat, an all-null column,
    // __rows/__bytes, a column-mapped (renamed) column and an empty dir
    val root2 = Files.createTempDirectory("manifest_spec_").toString + "/p"
    val src = df.withColumn("n", lit(null).cast("long"))
      .withColumn("k", col("id") % 7)
    val seed = ManifestCommit.writeSliced(spark, root2, src, slice,
      Seq("id", "k"))
    ManifestCommit.commitReplace(spark, root2, seed.map(_._1),
      pruneDisplaced = false, stats = seed.toMap, schema = Some(src.schema))
    val colmap = ManifestCommit.renameColumn(spark, root2, "k", "kk").colmap
    assert(colmap.get("kk").exists(_ != "kk"), colmap)
    val logical = src.withColumnRenamed("k", "kk")
    val cols = Seq("id", "v", "n", "kk", "pmod(hash(kk), 4)",
      ManifestCommit.RowCountStat, ManifestCommit.BytesStat)
    def reread(d: String) = ManifestCommit.dirStats(spark, d, cols, colmap)
    val sliced = ManifestCommit.writeSliced(spark, root2, logical, slice, cols)
    val written = (0 until 3).map { i =>
      val d = ManifestCommit.newDataDir(root2)
      d -> ManifestCommit.writeDirWithStats(spark, root2,
        logical.filter(slice === i), d, cols)
    }
    val empty = ManifestCommit.newDataDir(root2)
    val emptyStats = ManifestCommit.writeDirWithStats(spark, root2,
      logical.limit(0), empty, cols)
    val all = sliced ++ written :+ (empty -> emptyStats)
    val batch = ManifestCommit.dirStatsBatch(spark, all.map(_._1), cols, colmap)
    all.foreach { case (d, st) =>
      assert(st === reread(d), s"$d: producer vs dirStats")
      assert(st === batch(d), s"$d: producer vs dirStatsBatch")
    }
    // the same rows through the two writers: equal up to the byte meter
    // (file layout differs)
    def noBytes(st: Seq[ManifestCommit.ColStats]) =
      st.filterNot(_.col == ManifestCommit.BytesStat)
    sliced.zip(written).foreach { case ((_, a), (_, b)) =>
      assert(noBytes(a) === noBytes(b))
    }
    val s0 = sliced.head._2
    assert(s0.find(_.col == "kk").map(s => (s.min, s.max)) === Some(("0", "6")))
    assert(s0.exists(_.col == "pmod(hash(kk), 4)"))
    assert(!s0.exists(_.col == "n") &&
      s0.find(_.col == "__nn_n").map(_.min) === Some("0"))
    assert(s0.find(_.col == ManifestCommit.RowCountStat).map(_.min) === Some("30"))
    assert(emptyStats.map(_.col) === Seq("__nn_id", "__nn_v", "__nn_n",
      "__nn_kk", "__nn_pmod(hash(kk), 4)", ManifestCommit.RowCountStat,
      ManifestCommit.BytesStat))
  }

  test("writeSliced keeps per-dir stats for TIMESTAMP-typed and hive-ESCAPED " +
      "slice values (the grouped key matches the dir name, no silent loss)") {
    import org.apache.spark.sql.functions.{expr, to_timestamp}
    // (a) identity(ts): java String.valueOf(Timestamp) renders '…00:00:00.0'
    // while the dir name renders '…00%3A00%3A00' — the old key never matched,
    // the dir committed with NO stats, and pruning + zero-job COUNT silently
    // died for every timestamp-sliced insert
    val base = Files.createTempDirectory("manifest_spec_").toString
    locally {
      val root = base + "/ts_slice"
      val df = spark.range(0, 60).toDF("id")
        .withColumn("ts", to_timestamp(expr(
          "concat('2024-0', cast(1 + id % 3 as string), '-01 00:00:00')")))
      // count jobs during writeSliced: the grouped path is ONE write job +
      // ONE stats job; a silent per-dir re-meter fallback would add a job
      // per slice dir (3 here) — pin it so the fix can't regress into the
      // fallback still producing stats but at N× the cost
      var dirs: Seq[(String, Seq[ManifestCommit.ColStats])] = Nil
      val jobs = jobsOf {
        dirs = ManifestCommit.writeSliced(spark, root, df,
          df("ts"), Seq("ts", "id", ManifestCommit.RowCountStat))
      }
      // base cost observed (r19 shape): hash-distributed write (2 jobs:
      // shuffle stage + write) + ONE grouped read-back stats pass
      // (schema inference + 2 AQE stage jobs) = 5; a per-dir fallback
      // adds ~3 jobs PER slice dir (3 here → 8+ total), so <=6 still
      // discriminates grouped-vs-degraded
      assert(jobs <= 6, s"grouped stats pass degraded to per-dir jobs: $jobs")
      assert(dirs.size === 3)
      dirs.foreach { case (d, stats) =>
        assert(stats.exists(_.col == "ts") &&
          stats.exists(_.col == ManifestCommit.RowCountStat),
          s"timestamp slice dir $d lost stats: $stats")
      }
      ManifestCommit.commitReplace(spark, root, dirs.map(_._1),
        pruneDisplaced = false, stats = dirs.toMap)
      assert(ManifestCommit.tableRowCount(spark, root) === Some(60L),
        "manifest-only COUNT must stay zero-job under a timestamp slice")
      val feb = ManifestCommit.temporalBound("2024-02-01T00:00:00")
      val (kept, total) = ManifestCommit.resolvePruned(spark, root, "ts",
        Some(feb), Some(feb))
      assert(total === 3 && kept.size === 1, s"ts pruning dead: $kept")
    }
    // (b) a domain slice carrying ':' and '/' (URLs — the LLM-pipeline
    // domain-cap case): the dir name hive-escapes both, the old raw-suffix
    // key never matched
    locally {
      val root = base + "/dom_slice"
      val df = spark.range(0, 40).toDF("id")
        .withColumn("domain", expr(
          "case when id % 2 = 0 then 'https://a.example/x' " +
            "else 'b.example:8080/path' end"))
      val dirs = ManifestCommit.writeSliced(spark, root, df,
        df("domain"), Seq("domain", "id", ManifestCommit.RowCountStat))
      assert(dirs.size === 2)
      dirs.foreach { case (d, stats) =>
        assert(stats.exists(_.col == "domain") &&
          stats.exists(_.col == ManifestCommit.RowCountStat),
          s"escaped slice dir $d lost stats: $stats")
      }
      ManifestCommit.commitReplace(spark, root, dirs.map(_._1),
        pruneDisplaced = false, stats = dirs.toMap)
      assert(ManifestCommit.tableRowCount(spark, root) === Some(40L))
      val (kept, total) = ManifestCommit.resolvePruned(spark, root, "domain",
        Some("https://a.example/x"), Some("https://a.example/x"))
      assert(total === 2 && kept.size === 1, s"domain pruning dead: $kept")
    }
    // (c) a NULL slice lands in __HIVE_DEFAULT_PARTITION__ and still
    // carries its row count
    locally {
      val root = base + "/null_slice"
      val df = spark.range(0, 20).toDF("id")
        .withColumn("k", expr("if(id < 5, null, 'live')"))
      val dirs = ManifestCommit.writeSliced(spark, root, df,
        df("k"), Seq("id", ManifestCommit.RowCountStat))
      assert(dirs.size === 2)
      dirs.foreach { case (d, stats) =>
        assert(stats.exists(_.col == ManifestCommit.RowCountStat),
          s"null-slice dir $d lost its row count: $stats")
      }
      ManifestCommit.commitReplace(spark, root, dirs.map(_._1),
        pruneDisplaced = false, stats = dirs.toMap)
      assert(ManifestCommit.tableRowCount(spark, root) === Some(20L))
    }
  }

  test("dirIdCol ignores the file BASENAME: a converted file named " +
      "data_*.parquet must not become its own dir id") {
    val root = Files.createTempDirectory("manifest_spec_").toString + "/bn"
    val d1 = ManifestCommit.newDataDir(root)
    spark.range(0, 100).toDF("id").withColumn("v", col("id") * 2)
      .coalesce(1).write.parquet(d1)
    // convertToGraft preserves arbitrary source file names — simulate one
    // whose basename matches the data-dir prefix
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = f.listStatus(new org.apache.hadoop.fs.Path(d1))
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    assert(f.rename(part,
      new org.apache.hadoop.fs.Path(d1, "data_2024.parquet")))
    ManifestCommit.commitReplace(spark, root, Seq(d1), pruneDisplaced = false)
    // identity resolves to the DIRECTORY, not the trap basename
    val ids = ManifestCommit.read(spark, root)
      .withColumn("__dir", ManifestCommit.dirIdCol)
      .select("__dir").distinct().collect().map(_.getString(0)).toSet
    assert(ids === Set(d1.split('/').last),
      s"dir identity captured the basename: $ids")
    // the DML witness keyed on dir identity must SEE this dir: a DV
    // delete that silently skipped it would delete nothing
    MergeInto.deleteRows(spark, root, col("id") < 10)
    assert(ManifestCommit.read(spark, root).count() === 90L,
      "witness silently skipped the dir with a data_* file basename")
  }

  test("dirIdCol ignores hive k=v segments: a converted layout whose " +
      "partition COLUMN is named data_* must not hijack dir identity") {
    val root = Files.createTempDirectory("manifest_spec_").toString + "/ds"
    val df = spark.range(0, 90).toDF("id")
      .withColumn("data_source", concat(lit("s"),
        (col("id") % 3).cast("string")))
    df.write.partitionBy("data_source").parquet(root)
    ManifestCommit.convertToGraft(spark, root, Seq("id"))
    // dir identity over a RAW leaf scan (how the engine applies it)
    // resolves to the data_* DIR, never the `data_source=sN` partition
    // segment nested under it
    val m = ManifestCommit.readManifest(spark, root).get
    val leafPaths = m.dirs.map(d =>
      s"${ManifestCommit.dirAbs(root, d)}/${ManifestCommit.partSuffixOf(m, d).get}")
    val ids = spark.read.parquet(leafPaths: _*)
      .withColumn("__dir", ManifestCommit.dirIdCol)
      .select("__dir").distinct().collect().map(_.getString(0)).toSet
    assert(ids.forall(d => d.startsWith("data_") && !d.contains("=")),
      s"dir identity captured a partition segment: $ids")
    assert(ids.size === 3)
    // the DML witness must SEE the nested dirs (a hijacked identity
    // makes the inner join drop every row: deletes delete nothing)
    MergeInto.deleteRows(spark, root,
      col("data_source") === "s1" && col("id") < 30)
    assert(ManifestCommit.read(spark, root).count() === 90L - 10L,
      "witness silently skipped dirs under a data_*-named partition column")
  }

  test("hive convert deletes data-less k=v leaf dirs after the commit " +
      "(no stray partition dirs next to the manifest)") {
    val root = Files.createTempDirectory("manifest_spec_").toString + "/hv"
    val df = spark.range(0, 60).toDF("id")
      .withColumn("month", lit(202401) + (col("id") % 2).cast("int"))
    df.write.partitionBy("month").parquet(root)
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // an empty leaf (only _SUCCESS) — e.g. a partition whose rows were
    // all filtered by a prior job
    val empty = new org.apache.hadoop.fs.Path(root, "month=209912")
    f.mkdirs(empty)
    f.create(new org.apache.hadoop.fs.Path(empty, "_SUCCESS")).close()
    val m = ManifestCommit.convertToGraft(spark, root, Seq("id"))
    assert(m.dirs.size === 2, m.dirs)
    assert(!f.exists(empty),
      "data-less leaf dir left behind next to the manifest")
    assert(ManifestCommit.read(spark, root).count() === 60L)
  }

  test("idempotent txn appends: replayed batch is a no-op, survives compaction") {
    val root = Files.createTempDirectory("manifest_spec_").toString + "/t"
    val d1 = ManifestCommit.newDataDir(root); write(Row(1L, "b0"))(d1)
    val m1 = ManifestCommit.commitAppend(spark, root, d1, txn = Some(("q", 0L)))
    // crash-replay of batch 0: same (writer, version) → skipped, staged
    // dir reclaimed, current generation returned unchanged
    val replay = ManifestCommit.newDataDir(root); write(Row(1L, "b0-dup"))(replay)
    val m2 = ManifestCommit.commitAppend(spark, root, replay, txn = Some(("q", 0L)))
    assert(m2.gen === m1.gen && m2.dirs === m1.dirs)
    val f = new org.apache.hadoop.fs.Path(replay)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!f.exists(new org.apache.hadoop.fs.Path(replay)), "staged dup dir reclaimed")
    assert(idsOf(root) === Set(1L))
    // the NEXT batch and a DIFFERENT writer both commit normally
    val d2 = ManifestCommit.newDataDir(root); write(Row(2L, "b1"))(d2)
    ManifestCommit.commitAppend(spark, root, d2, txn = Some(("q", 1L)))
    val d3 = ManifestCommit.newDataDir(root); write(Row(3L, "other"))(d3)
    ManifestCommit.commitAppend(spark, root, d3, txn = Some(("q2", 0L)))
    assert(idsOf(root) === Set(1L, 2L, 3L))
    // a compaction between commit and checkpoint write must NOT reopen
    // the idempotence window
    val c = ManifestCommit.newDataDir(root)
    ManifestCommit.read(spark, root).repartition(1).write.parquet(c)
    ManifestCommit.commitReplace(spark, root, Seq(c), pruneDisplaced = false)
    val replay2 = ManifestCommit.newDataDir(root); write(Row(2L, "b1-dup"))(replay2)
    val mAfter = ManifestCommit.commitAppend(spark, root, replay2,
      txn = Some(("q", 1L)))
    assert(mAfter.dirs.size === 1 && idsOf(root) === Set(1L, 2L, 3L))
  }

  test("N genuinely concurrent committers: every append lands exactly once") {
    val root = Files.createTempDirectory("manifest_spec_").toString + "/t"
    val threads = 4
    val appendsPerThread = 5
    val retries = new java.util.concurrent.atomic.AtomicInteger(0)
    // barrier aligns the threads' first attempts so at most one can win
    // the first CAS — the others MUST observe a conflict and retry
    val barrier = new java.util.concurrent.CyclicBarrier(threads)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = (0 until threads).map { t =>
      new Thread(() => {
        try {
          (0 until appendsPerThread).foreach { i =>
            val id = (t * appendsPerThread + i).toLong
            val d = ManifestCommit.newDataDir(root)
            write(Row(id, s"t$t-$i"))(d)
            // optimistic-concurrency loop: read gen, CAS-commit, retry on
            // conflict — the protocol every writer of a shared table runs.
            // The FIRST attempt reads its gen BEFORE the barrier, so all
            // threads' first CAS carries the same expectedGen and exactly
            // one can win — contention is structural, not a timing hope
            // (commits got fast enough with the delta log that staggered
            // writers stopped colliding reliably)
            var gen = ManifestCommit.readManifest(spark, root)
              .map(_.gen).getOrElse(0L)
            if (i == 0) barrier.await()
            var committed = false
            while (!committed) {
              try {
                ManifestCommit.commitAppend(spark, root, d,
                  expectedGen = Some(gen))
                committed = true
              } catch {
                case _: ManifestCommit.ConcurrentCommitException =>
                  retries.incrementAndGet()
                  gen = ManifestCommit.readManifest(spark, root)
                    .map(_.gen).getOrElse(0L)
              }
            }
          }
        } catch { case e: Throwable => failures.add(e) }
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join(120000))
    assert(failures.isEmpty, failures)
    val m = ManifestCommit.readManifest(spark, root).get
    // every commit bumped the generation exactly once — strict monotonicity
    assert(m.gen === (threads * appendsPerThread).toLong)
    assert(m.dirs.size === threads * appendsPerThread)
    // every row present exactly once (no lost manifest update)
    val ids = ManifestCommit.read(spark, root).collect().map(_.getLong(0)).toSeq
    assert(ids.sorted === (0 until threads * appendsPerThread).map(_.toLong))
    // all first attempts carried the same expectedGen: of the 4, exactly
    // one won, so at least 3 observed the conflict
    assert(retries.get() >= threads - 1,
      s"expected >=${threads - 1} CAS retries, got ${retries.get()}")
  }

  // ---- delta log + checkpoints (round 10): commit metadata I/O is
  // O(changes), the CAS pointer is O(1) bytes, and full snapshots land
  // only at the checkpoint cadence — while every read/time-travel/history
  // result stays byte-identical to the full-snapshot protocol.

  private def rawText(root: String, name: String): String = {
    val p = new org.apache.hadoop.fs.Path(root, name)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = f.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  test("appends write delta records behind a tiny #ref pointer; reads and time travel resolve exactly") {
    val root = Files.createTempDirectory("manifest_spec_").toString + "/t"
    val d1 = ManifestCommit.newDataDir(root); write(Row(1L, "a"))(d1)
    ManifestCommit.commitReplace(spark, root, Seq(d1), pruneDisplaced = false,
      stats = Map(d1 -> Seq(ManifestCommit.ColStats("id", "num", "1", "1"))))
    (2 to 4).foreach { i =>
      val d = ManifestCommit.newDataDir(root); write(Row(i.toLong, "x"))(d)
      ManifestCommit.commitAppend(spark, root, d,
        stats = Seq(ManifestCommit.ColStats("id", "num", i.toString, i.toString)))
    }
    // physical shape: gen 1 is a full checkpoint, gens 2-4 are deltas,
    // and the pointer carries no dir list at all
    assert(!rawText(root, "_manifest.g1").contains("#delta"))
    (2 to 4).foreach(g =>
      assert(rawText(root, s"_manifest.g$g").contains(s"#delta\t${g - 1}")))
    val ptr = rawText(root, "_manifest")
    assert(ptr.contains("#ref") && !ptr.contains("data_"))
    assert(ptr.length < 40, s"pointer must be O(1) bytes, got ${ptr.length}")
    // logical content: identical to the full-snapshot protocol
    assert(idsOf(root) === Set(1L, 2L, 3L, 4L))
    val m = ManifestCommit.readManifest(spark, root).get
    assert(m.gen === 4L && m.dirs.size === 4)
    // stats survive the delta round-trip (resolvePruned still prunes)
    val (kept, total) = ManifestCommit.resolvePruned(spark, root, "id",
      Some("3"), Some("3"))
    assert(total === 4 && kept.size === 1)
    // time travel across the chain
    assert(ManifestCommit.readAt(spark, root, 2).collect()
      .map(_.getLong(0)).toSet === Set(1L, 2L))
    // a cold process (empty resolve cache) resolves the same chain
    ManifestCommit.clearResolveCache()
    assert(idsOf(root) === Set(1L, 2L, 3L, 4L))
  }

  test("a full checkpoint is forced every CheckpointInterval generations") {
    val root = Files.createTempDirectory("manifest_spec_").toString + "/t"
    val d1 = ManifestCommit.newDataDir(root); write(Row(0L, "a"))(d1)
    ManifestCommit.commitReplace(spark, root, Seq(d1), pruneDisplaced = false)
    val k = ManifestCommit.CheckpointInterval
    (1 to k).foreach { i =>
      val d = ManifestCommit.newDataDir(root); write(Row(i.toLong, "x"))(d)
      ManifestCommit.commitAppend(spark, root, d)
    }
    // gens 2..k are deltas over the gen-1 checkpoint; gen k+1 crosses the
    // cadence and must be full again
    assert(rawText(root, s"_manifest.g$k").contains("#delta"))
    assert(!rawText(root, s"_manifest.g${k + 1}").contains("#delta"))
    // the pointer's #base moved to the new checkpoint
    assert(rawText(root, "_manifest").contains(s"#base\t${k + 1}"))
    assert(idsOf(root) === (0 to k).map(_.toLong).toSet)
  }

  test("expire materializes the oldest kept delta into a full checkpoint") {
    val root = Files.createTempDirectory("manifest_spec_").toString + "/t"
    val d1 = ManifestCommit.newDataDir(root); write(Row(1L, "a"))(d1)
    ManifestCommit.commitReplace(spark, root, Seq(d1), pruneDisplaced = false)
    (2 to 5).foreach { i =>
      val d = ManifestCommit.newDataDir(root); write(Row(i.toLong, "x"))(d)
      ManifestCommit.commitAppend(spark, root, d)
    }
    // kept {4,5}: g4 was a delta whose chain reached the expiring g1
    ManifestCommit.expireSnapshots(spark, root, keepLast = 2)
    assert(ManifestCommit.snapshotGens(spark, root) === Seq(4L, 5L))
    assert(!rawText(root, "_manifest.g4").contains("#delta"),
      "oldest kept generation must have been checkpointed")
    assert(rawText(root, "_manifest.g5").contains("#delta\t4"))
    // both retained generations resolve exactly — in a cold process too
    ManifestCommit.clearResolveCache()
    assert(ManifestCommit.readAt(spark, root, 4).collect()
      .map(_.getLong(0)).toSet === Set(1L, 2L, 3L, 4L))
    assert(idsOf(root) === Set(1L, 2L, 3L, 4L, 5L))
  }

  test("cold readers survive concurrent commits + retention sweeps (chain repair + retry)") {
    val root = Files.createTempDirectory("manifest_spec_").toString + "/t"
    val d0 = ManifestCommit.newDataDir(root); write(Row(0L, "a"))(d0)
    ManifestCommit.commitReplace(spark, root, Seq(d0), pruneDisplaced = false)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val readerError =
      new java.util.concurrent.atomic.AtomicReference[Throwable](null)
    val reads = new java.util.concurrent.atomic.AtomicLong(0)
    // a COLD reader loop: the cleared cache forces a full disk chain walk
    // on every read, maximizing the window where a sweep can delete a
    // record between the pointer read and the walk
    val reader = new Thread(() => {
      while (!stop.get()) {
        try {
          ManifestCommit.clearResolveCache()
          val m = ManifestCommit.readManifest(spark, root)
          assert(m.exists(_.dirs.nonEmpty)); reads.incrementAndGet(); ()
        } catch {
          case t: Throwable => readerError.set(t); stop.set(true)
        }
      }
    })
    reader.start()
    try (1 to 40).foreach { i =>
      val d = ManifestCommit.newDataDir(root); write(Row(i.toLong, "x"))(d)
      ManifestCommit.commitAppend(spark, root, d)
      if (i % 3 == 0) ManifestCommit.expireSnapshots(spark, root, keepLast = 2)
    } finally { stop.set(true); reader.join() }
    assert(readerError.get() == null,
      s"cold reader failed mid-sweep: ${readerError.get()}")
    assert(reads.get() > 0, "reader loop never completed a read")
    assert(idsOf(root) === (0 to 40).map(_.toLong).toSet)
  }

  test("time-based retention: expireSnapshotsOlderThan by record age, prefix-only") {
    val root = Files.createTempDirectory("manifest_spec_").toString + "/t"
    (1 to 4).foreach { i =>
      val d = ManifestCommit.newDataDir(root); write(Row(i.toLong, "x"))(d)
      ManifestCommit.commitAppend(spark, root, d)
    }
    // age gens 1-2 into the past by record mtime; 3-4 stay fresh
    (1 to 2).foreach { g =>
      java.nio.file.Files.setLastModifiedTime(
        java.nio.file.Paths.get(s"$root/_manifest.g$g"),
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 10 * 60 * 1000L))
    }
    // nothing expires under a 1-hour TTL
    assert(ManifestCommit.expireSnapshotsOlderThan(spark, root,
      maxAgeMs = 60 * 60 * 1000L).isEmpty)
    // a 5-minute TTL expires exactly the aged prefix; gen 3 (delta over
    // the expiring chain) is checkpointed before its base is deleted
    val deleted = ManifestCommit.expireSnapshotsOlderThan(spark, root,
      maxAgeMs = 5 * 60 * 1000L)
    assert(deleted.nonEmpty)
    assert(ManifestCommit.snapshotGens(spark, root) === Seq(3L, 4L))
    assert(!rawText(root, "_manifest.g3").contains("#delta"))
    ManifestCommit.clearResolveCache()
    assert(idsOf(root) === Set(1L, 2L, 3L, 4L))
    assert(ManifestCommit.readAt(spark, root, 3).collect()
      .map(_.getLong(0)).toSet === Set(1L, 2L, 3L))
    // keepLast floor holds even when everything is ancient
    ManifestCommit.snapshotGens(spark, root).foreach { g =>
      java.nio.file.Files.setLastModifiedTime(
        java.nio.file.Paths.get(s"$root/_manifest.g$g"),
        java.nio.file.attribute.FileTime.fromMillis(1000L))
    }
    ManifestCommit.expireSnapshotsOlderThan(spark, root, maxAgeMs = 1000L,
      keepLast = 1)
    assert(ManifestCommit.snapshotGens(spark, root) === Seq(4L))
    assert(idsOf(root) === Set(1L, 2L, 3L, 4L))
  }

  test("tableRowCount stays manifest-only through merge-on-read deletes") {
    val root = Files.createTempDirectory("manifest_spec_").toString + "/t"
    // two dirs of 4 rows each, row counts recorded
    val dirs = (0 until 2).map { i =>
      val d = ManifestCommit.newDataDir(root)
      write((0 until 4).map(j => Row((i * 4 + j).toLong, s"v$i$j")): _*)(d)
      d
    }
    ManifestCommit.commitReplace(spark, root, dirs, pruneDisplaced = false,
      stats = dirs.map(d => d ->
        Seq(ManifestCommit.rowCountStat(spark, d))).toMap)
    assert(ManifestCommit.tableRowCount(spark, root) === Some(8L))
    def del(ids: Long*): Unit =
      MergeInto.deleteWhere(spark, root, mkDf(
        StructType(Seq(StructField("id", LongType, false))),
        ids.map(Row(_)): _*))
    // delete 3 keys across both dirs: dead counters make live exact
    del(1L, 2L, 5L)
    assert(ManifestCommit.tableRowCount(spark, root) === Some(5L))
    // re-deleting the same keys is a no-op: already-dead rows are not
    // re-counted (the per-dir probe sees only LIVE rows)
    del(1L, 5L)
    assert(ManifestCommit.tableRowCount(spark, root) === Some(5L))
    // a second wave against an existing dv accumulates exactly
    del(0L, 6L)
    assert(ManifestCommit.tableRowCount(spark, root) === Some(3L))
    assert(ManifestCommit.read(spark, root).count() === 3L)
    // physical rewrite folds the dvs: counts survive via fresh __rows
    Optimize.compactSmall(spark, root, smallBytes = 1L << 30)
    assert(ManifestCommit.readManifest(spark, root).get.dvs.isEmpty)
    assert(ManifestCommit.tableRowCount(spark, root) === Some(3L))
    // a dv that PREDATES the dead counter degrades to None, never wrong:
    // strip the counter from the manifest and delete again
    del(3L)
    val m = ManifestCommit.readManifest(spark, root).get
    val stripped = m.copy(stats = m.stats.view.mapValues(
      _.filterNot(_.col == ManifestCommit.DvDeadStat)).toMap)
    ManifestCommit.commitReplace(spark, root,
      m.dirs.map(d => s"$root/$d"), pruneDisplaced = false,
      stats = stripped.stats.map { case (d, cs) => s"$root/$d" -> cs },
      dvs = m.dvs.map { case (d, v) => s"$root/$d" -> v })
    assert(ManifestCommit.tableRowCount(spark, root) === None)
  }

  test("DV repoints and writer txns ride delta records") {
    val root = Files.createTempDirectory("manifest_spec_").toString + "/t"
    val d1 = ManifestCommit.newDataDir(root)
    write(Row(1L, "a"), Row(2L, "b"), Row(3L, "c"))(d1)
    ManifestCommit.commitReplace(spark, root, Seq(d1), pruneDisplaced = false)
    // txn-carrying append → delta record restates #txn absolutely
    val d2 = ManifestCommit.newDataDir(root); write(Row(4L, "d"))(d2)
    ManifestCommit.commitAppend(spark, root, d2, txn = Some(("w1", 7L)))
    assert(rawText(root, "_manifest.g2").contains("#delta"))
    assert(ManifestCommit.readManifest(spark, root).get.txns === Map("w1" -> 7L))
    // DV delete commits through the reconciled path → `~` restatement
    val res = MergeInto.deleteWhere(spark, root,
      mkDf(StructType(Seq(StructField("id", LongType, false))), Row(2L)))
    assert(res.dvsWritten === 1)
    val m = ManifestCommit.readManifest(spark, root).get
    assert(m.dvs.size === 1 && m.txns === Map("w1" -> 7L))
    assert(idsOf(root) === Set(1L, 3L, 4L))
    // cold re-resolution agrees
    ManifestCommit.clearResolveCache()
    assert(idsOf(root) === Set(1L, 3L, 4L))
  }

  test("shallow clone: zero-copy fork, divergence, and ownership of external refs") {
    val base = Files.createTempDirectory("manifest_spec_").toString
    val src = base + "/src"; val dst = base + "/clone"
    val d1 = ManifestCommit.newDataDir(src)
    write(Row(1L, "a"), Row(2L, "b"), Row(3L, "c"))(d1)
    ManifestCommit.commitReplace(spark, src, Seq(d1), pruneDisplaced = false,
      stats = Map(d1 -> Seq(ManifestCommit.ColStats("id", "num", "1", "3"))),
      schema = Some(st))
    // a DV delete on the source BEFORE cloning: the clone must reference
    // the source's deletion vector too, not resurrect id=2
    MergeInto.deleteWhere(spark, src,
      mkDf(StructType(Seq(StructField("id", LongType, false))), Row(2L)))
    ManifestCommit.shallowClone(spark, src, dst)
    // zero copy: no data dirs under the clone root, content identical
    val f = new org.apache.hadoop.fs.Path(dst)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!f.listStatus(new org.apache.hadoop.fs.Path(dst))
      .exists(_.getPath.getName.startsWith("data_")), "clone copied data")
    assert(idsOf(dst) === Set(1L, 3L))
    // stats carried: pruning works on the clone via inherited stats
    val (kept, total) = ManifestCommit.readPruned(spark, dst, "id",
      Some("5"), None) match { case (_, k, t) => (k, t) }
    assert(kept === 0 && total === 1)
    // divergence: writes to the clone never touch the source
    val d2 = ManifestCommit.newDataDir(dst)
    write(Row(10L, "x"))(d2)
    ManifestCommit.commitAppend(spark, dst, d2)
    MergeInto.deleteWhere(spark, dst,
      mkDf(StructType(Seq(StructField("id", LongType, false))), Row(1L)))
    assert(idsOf(dst) === Set(3L, 10L))
    assert(idsOf(src) === Set(1L, 3L), "clone write leaked into the source")
    // the clone's retention/eager-prune never deletes source-owned dirs
    ManifestCommit.expireSnapshots(spark, dst, keepLast = 1)
    val d3 = ManifestCommit.newDataDir(dst)
    write(Row(20L, "y"))(d3)
    ManifestCommit.commitReplace(spark, dst, Seq(d3)) // eager prune displaces all
    assert(idsOf(dst) === Set(20L))
    assert(idsOf(src) === Set(1L, 3L),
      "clone eager-prune deleted a source dir")
    assert(Maintenance.exists(spark, d1), "source data dir deleted by clone")
    // a merge on a fresh clone displaces the external ref exactly once
    val dst2 = base + "/clone2"
    ManifestCommit.shallowClone(spark, src, dst2)
    MergeInto.merge(spark, dst2,
      mkDf(st, Row(1L, "A"), Row(7L, "n")), Seq("id"))
    assert(ManifestCommit.read(spark, dst2).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
      === Map(1L -> "A", 3L -> "c", 7L -> "n"))
    assert(idsOf(src) === Set(1L, 3L), "merge on clone mutated the source")
    // clone-of-clone references the ORIGINAL dirs (no chains): the
    // middle clone can disappear without breaking the grandchild
    val dst3 = base + "/clone3"
    ManifestCommit.shallowClone(spark, dst, dst3) // dst's live set is local d3
    val mm = ManifestCommit.readManifest(spark, dst3).get
    assert(mm.dirs.forall(_.startsWith("/")), mm.dirs)
    // historical clone: fork the source's generation 1 (pre-delete)
    val dst4 = base + "/clone4"
    ManifestCommit.shallowClone(spark, src, dst4, gen = Some(1L))
    assert(idsOf(dst4) === Set(1L, 2L, 3L))
  }

  test("convertToGraft: in-place migration of a plain parquet directory") {
    val root = Files.createTempDirectory("manifest_spec_").toString + "/plain"
    val df = spark.range(0, 1000).toDF("id")
      .withColumn("v", (col("id") % 7).cast("string"))
    df.repartition(4).write.parquet(root)
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def parts(p: String) = f.listStatus(new org.apache.hadoop.fs.Path(p))
      .map(_.getPath.getName).filter(_.endsWith(".parquet")).toSet
    val before = parts(root)
    val m = ManifestCommit.convertToGraft(spark, root, Seq("id"))
    assert(m.op === Some("convert") && m.dirs.size === 1)
    // the part files were MOVED, byte-identical — not rewritten
    assert(parts(s"$root/${m.dirs.head}") === before)
    assert(parts(root).isEmpty)
    // full table-format surface live immediately
    assert(ManifestCommit.read(spark, root).count() === 1000L)
    assert(ManifestCommit.tableRowCount(spark, root) === Some(1000L),
      "manifest-only COUNT not armed by convert")
    val d2 = ManifestCommit.newDataDir(root)
    spark.range(5000, 5010).toDF("id")
      .withColumn("v", (col("id") % 7).cast("string")).write.parquet(d2)
    ManifestCommit.commitAppend(spark, root, d2)
    assert(ManifestCommit.read(spark, root).count() === 1010L)
    assert(ManifestCommit.readAt(spark, root, 1L).count() === 1000L)
    // refusals: double convert; NON-hive nested layout (hive layouts —
    // single- AND multi-level — convert first-class, dedicated specs
    // below); RAGGED trees (data at one depth, partitions deeper)
    assert(intercept[IllegalArgumentException] {
      ManifestCommit.convertToGraft(spark, root)
    }.getMessage.contains("already"))
    val nest = Files.createTempDirectory("manifest_spec_").toString + "/nest"
    spark.range(10).write.parquet(s"$nest/child")
    assert(intercept[IllegalArgumentException] {
      ManifestCommit.convertToGraft(spark, nest)
    }.getMessage.contains("non-hive"))
    val ragged = Files.createTempDirectory("manifest_spec_").toString + "/rg"
    df.withColumn("w", col("id") % 2)
      .write.partitionBy("v", "w").parquet(ragged)
    // break uniformity: one v= dir holds files directly, its siblings
    // still nest w= underneath
    val rf = new org.apache.hadoop.fs.Path(ragged)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val vDir = rf.listStatus(new org.apache.hadoop.fs.Path(ragged))
      .filter(_.isDirectory).map(_.getPath).head
    rf.listStatus(vDir).filter(_.isDirectory).foreach { w =>
      rf.listStatus(w.getPath).foreach(p0 =>
        rf.rename(p0.getPath, new org.apache.hadoop.fs.Path(vDir, p0.getPath.getName)))
      rf.delete(w.getPath, true)
    }
    assert(intercept[IllegalArgumentException] {
      ManifestCommit.convertToGraft(spark, ragged)
    }.getMessage.contains("RAGGED"))
  }

  test("convertToGraft of a HIVE-PARTITIONED layout: one dir per leaf, " +
      "partition column served and pruning live, DML + appends + time travel") {
    val root = Files.createTempDirectory("manifest_spec_").toString + "/hive"
    val df = spark.range(0, 300).toDF("id")
      .withColumn("month", lit(202401) + (col("id") % 3).cast("int"))
      .withColumn("v", (col("id") * 2).cast("double"))
    df.write.partitionBy("month").parquet(root)
    val m = ManifestCommit.convertToGraft(spark, root, Seq("id"))
    assert(m.dirs.size === 3, m.dirs)
    assert(m.slice === Some("month"), "layout continues as identity slicing")
    // the partition column reads back (native discovery inside each dir)
    val back = ManifestCommit.read(spark, root)
    assert(back.columns.contains("month"))
    assert(back.count() === 300L)
    assert(back.filter(col("month") === 202402).count() === 100L)
    assert(ManifestCommit.tableRowCount(spark, root) === Some(300L))
    // per-dir month stats arm pruning immediately; __part marks nesting
    val (pruned, kept, total) = ManifestCommit.readPruned(spark, root,
      "month", Some("202402"), Some("202402"))
    assert(total === 3 && kept === 1, s"kept $kept of $total")
    assert(pruned.count() === 100L)
    assert(m.dirs.forall(d => ManifestCommit.partSuffixOf(m, d).isDefined))
    // data-column filters PUSH DOWN below the injection join: the
    // partition column rides a broadcast lookup, but the parquet scan
    // itself must still receive the data predicate
    locally {
      val probe = ManifestCommit.read(spark, root)
        .filter(col("id") > 250).select("id", "month")
      val plan = probe.queryExecution.executedPlan.toString
      assert(plan.contains("GreaterThan(id,250)"),
        s"data filter not pushed to the nested scan:\n$plan")
      assert(probe.count() === 49L)
    }
    // row-level DML on the converted dirs (witness + DV identity must
    // survive the nested layout): delete a band from one month
    MergeInto.deleteRows(spark, root,
      col("month") === 202402 && col("id") < 50)
    assert(ManifestCommit.read(spark, root).count() === 300L - 17L,
      "ids <50 with id%3==1: 1,4,…,49 = 17 rows")
    // an append lands flat (month as a real column) and reads alongside
    // the remaining nested dirs in one frame
    val d2 = ManifestCommit.newDataDir(root)
    spark.range(1000, 1010).toDF("id")
      .withColumn("month", lit(202404))
      .withColumn("v", (col("id") * 2).cast("double"))
      .write.parquet(d2)
    ManifestCommit.commitAppend(spark, root, d2)
    val now = ManifestCommit.read(spark, root)
    assert(now.count() === 283L + 10L)
    assert(now.filter(col("month") === 202404).count() === 10L)
    // time travel to the conversion generation = the original content
    val g1 = ManifestCommit.readAt(spark, root, 1L)
    assert(g1.count() === 300L)
    assert(g1.agg(sum("id")).collect()(0).getLong(0) === (0L until 300L).sum)
    // the maintenance surface runs over the nested layout: a z-order
    // rewrite MATERIALIZES the partition column into flat dirs (the
    // nesting marker dies with the nesting), month pruning stays live
    // through the rewrite, and retention reclaims the displaced nested
    // dirs whole
    Optimize.zorderCompactN(spark, root, Seq("month", "id"), targetDirs = 2)
    val mz = ManifestCommit.readManifest(spark, root).get
    assert(mz.dirs.forall(d => ManifestCommit.partSuffixOf(mz, d).isEmpty),
      "z-order rewrite must not carry the nesting marker")
    assert(ManifestCommit.read(spark, root).count() === 293L)
    assert(ManifestCommit.read(spark, root)
      .filter(col("month") === 202404).count() === 10L)
    ManifestCommit.expireSnapshots(spark, root, keepLast = 1)
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(m.dirs.forall(d => !f.exists(new org.apache.hadoop.fs.Path(
      ManifestCommit.dirAbs(root, d)))),
      "retention left displaced nested conversion dirs behind")
  }

  test("convertToGraft of a TWO-LEVEL hive layout: one dir per leaf, both " +
      "partition columns served, per-dimension pruning, DML + append + " +
      "time travel") {
    val root = Files.createTempDirectory("manifest_spec_").toString + "/hive2"
    val df = spark.range(0, 600).toDF("id")
      .withColumn("year", lit(2023) + (col("id") % 2).cast("int"))
      .withColumn("month", lit(1) + (col("id") % 3).cast("int"))
      .withColumn("v", (col("id") * 2).cast("double"))
    df.write.partitionBy("year", "month").parquet(root)
    val m = ManifestCommit.convertToGraft(spark, root, Seq("id"))
    assert(m.dirs.size === 6, m.dirs) // 2 years x 3 months
    assert(m.slice === Some(ManifestCommit.compositeSlice(Seq("year", "month"))),
      s"layout must continue as the composite transform list: ${m.slice}")
    // leaves carry their FULL relative path as the nesting marker
    assert(m.dirs.forall(d => ManifestCommit.partSuffixOf(m, d)
      .exists(s0 => s0.startsWith("year=") && s0.contains("/month="))))
    val back = ManifestCommit.read(spark, root)
    assert(back.columns.contains("year") && back.columns.contains("month"))
    assert(back.count() === 600L)
    assert(back.filter(col("year") === 2024 && col("month") === 2)
      .count() === 100L)
    assert(ManifestCommit.tableRowCount(spark, root) === Some(600L))
    // BOTH dimensions prune independently from the manifest stats
    val (py, ky, ty) = ManifestCommit.readPruned(spark, root,
      "year", Some("2024"), Some("2024"))
    assert(ty === 6 && ky === 3, s"year pruning kept $ky of $ty")
    assert(py.count() === 300L)
    val (pm, km, tm) = ManifestCommit.readPruned(spark, root,
      "month", Some("3"), Some("3"))
    assert(tm === 6 && km === 2, s"month pruning kept $km of $tm")
    assert(pm.count() === 200L)
    // data-column filters PUSH DOWN below the two-column injection join
    locally {
      val probe = ManifestCommit.read(spark, root)
        .filter(col("id") > 500).select("id", "year", "month")
      val plan = probe.queryExecution.executedPlan.toString
      assert(plan.contains("GreaterThan(id,500)"),
        s"data filter not pushed to the nested scan:\n$plan")
      assert(probe.count() === 99L)
    }
    // row-level DML over the nested dirs (witness + DV identity)
    MergeInto.deleteRows(spark, root,
      col("year") === 2024 && col("month") === 2 && col("id") < 50)
    // year=2024,month=2: id%2==1 && id%3==1 → id%6==1: 1,7,…,49 = 9 rows
    assert(ManifestCommit.read(spark, root).count() === 600L - 9L)
    // an append lands flat (both as real columns) and reads alongside
    val d2 = ManifestCommit.newDataDir(root)
    spark.range(10000, 10010).toDF("id")
      .withColumn("year", lit(2025)).withColumn("month", lit(1))
      .withColumn("v", (col("id") * 2).cast("double")).write.parquet(d2)
    ManifestCommit.commitAppend(spark, root, d2)
    val now = ManifestCommit.read(spark, root)
    assert(now.count() === 591L + 10L)
    assert(now.filter(col("year") === 2025).count() === 10L)
    // time travel to the conversion generation = the original content
    val g1 = ManifestCommit.readAt(spark, root, 1L)
    assert(g1.count() === 600L)
    assert(g1.agg(sum("id")).collect()(0).getLong(0) === (0L until 600L).sum)
    // the original partition shells are GONE — root holds only manifest
    // artifacts and data dirs
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stray = f.listStatus(new org.apache.hadoop.fs.Path(root))
      .map(_.getPath.getName)
      .filter(n => !n.startsWith("data_") && !n.startsWith("_") &&
        !n.startsWith("."))
    assert(stray.isEmpty, s"partition shells left at root: ${stray.toSeq}")
  }

  test("convertToGraft of a THREE-LEVEL hive layout with ESCAPED values at " +
      "levels 1 and 3: values round-trip exactly, every dimension prunes, " +
      "DML + time travel intact") {
    val root = Files.createTempDirectory("manifest_spec_").toString + "/hive3"
    // level 1 (src) and level 3 (url) carry ':' and '/' — hive-escaped on
    // disk (%3A / %2F); level 2 (year) is a plain int
    val df = spark.range(0, 240).toDF("id")
      .withColumn("src", org.apache.spark.sql.functions.when(
        col("id") % 2 === 0, lit("db:main"))
        .otherwise(lit("db:aux")))
      .withColumn("year", lit(2023) + (col("id") % 2).cast("int"))
      .withColumn("url", org.apache.spark.sql.functions.when(
        col("id") % 3 === 0, lit("http://a/x"))
        .otherwise(lit("http://b/y")))
      .withColumn("v", (col("id") * 2).cast("double"))
    df.write.partitionBy("src", "year", "url").parquet(root)
    val m = ManifestCommit.convertToGraft(spark, root, Seq("id"))
    // src and year are correlated (id%2) → 2 (src,year) pairs × 2 urls
    assert(m.dirs.size === 4, m.dirs)
    assert(m.slice ===
      Some(ManifestCommit.compositeSlice(Seq("src", "year", "url"))))
    // three-segment nesting marker on every leaf
    assert(m.dirs.forall(d => ManifestCommit.partSuffixOf(m, d)
      .exists(s0 => s0.split('/').length == 3 && s0.startsWith("src="))))
    val back = ManifestCommit.read(spark, root)
    assert(back.count() === 240L)
    // ESCAPED values round-trip exactly at BOTH escaped levels
    assert(back.select("src").distinct().collect().map(_.getString(0)).toSet
      === Set("db:main", "db:aux"))
    assert(back.select("url").distinct().collect().map(_.getString(0)).toSet
      === Set("http://a/x", "http://b/y"))
    // every dimension prunes independently from the manifest stats
    val (p1, k1, t1) = ManifestCommit.readPruned(spark, root,
      "src", Some("db:main"), Some("db:main"))
    assert(t1 === 4 && k1 === 2, s"src pruning kept $k1 of $t1")
    assert(p1.count() === 120L)
    val (p2, k2, t2) = ManifestCommit.readPruned(spark, root,
      "year", Some("2024"), Some("2024"))
    assert(t2 === 4 && k2 === 2, s"year pruning kept $k2 of $t2")
    assert(p2.count() === 120L)
    val (p3, k3, t3) = ManifestCommit.readPruned(spark, root,
      "url", Some("http://a/x"), Some("http://a/x"))
    assert(t3 === 4 && k3 === 2, s"url pruning kept $k3 of $t3")
    assert(p3.count() === 80L)
    // row-level DML over the 3-level nested dirs
    MergeInto.deleteRows(spark, root,
      col("src") === "db:main" && col("url") === "http://a/x" &&
        col("id") < 30)
    // src=db:main → id even; url=http://a/x → id%3==0 → id%6==0 < 30: 5 rows
    assert(ManifestCommit.read(spark, root).count() === 235L)
    // time travel to the conversion generation = original content
    val g1 = ManifestCommit.readAt(spark, root, 1L)
    assert(g1.count() === 240L)
    assert(g1.agg(sum("id")).collect()(0).getLong(0) === (0L until 240L).sum)
  }

  test("a DV-subtracted read still PUSHES data filters to the parquet scan " +
      "(dir identity must not block pushdown)") {
    val root = Files.createTempDirectory("manifest_spec_").toString + "/dvp"
    val d1 = ManifestCommit.newDataDir(root)
    spark.range(0, 1000).toDF("id").withColumn("v", col("id") * 2)
      .write.parquet(d1)
    ManifestCommit.commitReplace(spark, root, Seq(d1), pruneDisplaced = false)
    MergeInto.deleteWhere(spark, root,
      spark.range(0, 5).toDF("id")) // DV on d1
    val probe = ManifestCommit.read(spark, root).filter(col("id") > 900)
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThan(id,900)"),
      s"data filter lost at the DV-subtracted scan:\n$plan")
    assert(probe.count() === 99L)
  }

  test("composite slicing carries THROUGH a shallow clone: both pruning " +
      "dimensions live on the fork, divergent writes stay sliced") {
    val base = Files.createTempDirectory("manifest_spec_").toString
    val src = base + "/src"; val dst = base + "/fork"
    val slice = ManifestCommit.compositeSlice(Seq(
      "date_format(ts, 'yyyyMMdd')", "pmod(hash(k), 4)"))
    val df = spark.range(0, 200).toDF("id")
      .withColumn("ts", org.apache.spark.sql.functions.expr(
        "timestamp'2024-05-01 00:00:00' + make_interval(0,0,0, cast(id % 2 as int))"))
      .withColumn("k", (col("id") % 10).cast("string"))
    val statCols = Seq("ts", "k", "pmod(hash(k), 4)",
      ManifestCommit.RowCountStat)
    val dirs = ManifestCommit.writeSliced(spark, src, df,
      org.apache.spark.sql.functions.expr(slice), statCols)
    ManifestCommit.commitReplace(spark, src, dirs.map(_._1),
      pruneDisplaced = false, stats = dirs.toMap,
      schema = Some(org.apache.spark.sql.types.StructType(
        df.schema.fields.map(_.copy(nullable = true)))),
      slice = Some(slice))
    ManifestCommit.shallowClone(spark, src, dst)
    val mc = ManifestCommit.readManifest(spark, dst).get
    assert(mc.slice === Some(slice), "slice must carry through the clone")
    // bucket-dimension bound through carried component stats
    val bb = ManifestCommit.bucketBoundsOf(mc.slice, Seq("k" -> "3"),
      _ => Some(org.apache.spark.sql.types.StringType))
    assert(bb.nonEmpty)
    val keptB = ManifestCommit.prunedDirsOf(mc, bb)
    assert(keptB.nonEmpty && keptB.size < mc.dirs.size,
      s"bucket pruning dead on the clone: ${keptB.size}/${mc.dirs.size}")
    // date-dimension bound through carried ts stats
    val keptD = ManifestCommit.prunedDirsOf(mc, Seq(("ts",
      Some(ManifestCommit.temporalBound("2024-05-02")), None)))
    assert(keptD.nonEmpty && keptD.size < mc.dirs.size,
      s"date pruning dead on the clone: ${keptD.size}/${mc.dirs.size}")
    // a divergent write on the fork lands through the inherited slicing
    graft.sql.GraftSql.register("mcs_comp_fork", dst)
    try spark.sql("INSERT INTO graft.mcs_comp_fork VALUES " +
      "(9001, TIMESTAMP '2024-06-01 00:00:00', 'zz')")
    finally graft.sql.GraftSql.unregister("mcs_comp_fork")
    val m2 = ManifestCommit.readManifest(spark, dst).get
    val newDirs = m2.dirs.filterNot(mc.dirs.contains)
    assert(newDirs.size === 1)
    assert(m2.stats(newDirs.head).exists(_.col == "pmod(hash(k), 4)"),
      "component stat not metered on the fork's divergent insert")
  }

  test("programmatic DML with a NARROWER-typed literal on a bucket-sliced " +
      "BIGINT column still finds its rows (bucket bound coerces, never " +
      "mis-hashes)") {
    val root = Files.createTempDirectory("manifest_spec_").toString + "/bk"
    val slice = "pmod(hash(k), 4)"
    val df = spark.range(0, 400).toDF("id")
      .withColumn("k", col("id") % 20) // BIGINT bucket column
    val statCols = Seq("k", slice, ManifestCommit.RowCountStat)
    val dirs = ManifestCommit.writeSliced(spark, root, df,
      org.apache.spark.sql.functions.expr(slice), statCols)
    ManifestCommit.commitReplace(spark, root, dirs.map(_._1),
      pruneDisplaced = false, stats = dirs.toMap,
      schema = Some(org.apache.spark.sql.types.StructType(
        df.schema.fields.map(_.copy(nullable = true)))),
      slice = Some(slice))
    // col("k") === 5 builds an INT literal against the BIGINT column —
    // Murmur3 is width-sensitive, so hashing the literal at its own
    // width would pin the WRONG bucket and the delete would silently
    // miss every row (the round-14 review finding)
    MergeInto.deleteRows(spark, root, col("k") === 5)
    val left = ManifestCommit.read(spark, root)
    assert(left.filter(col("k") === 5).count() === 0L,
      "bucket bound mis-hashed the coercible literal: rows not deleted")
    assert(left.count() === 380L)
    // a value that CANNOT be the column's type contributes no bound —
    // the predicate still runs, nothing wrongly pruned
    MergeInto.deleteRows(spark, root, col("k") === 9.5) // no k is 9.5
    assert(ManifestCommit.read(spark, root).count() === 380L)
  }

  test("hive convert round-trips ESCAPED string partition values; a plain " +
      "stream tails a converted table across both layouts") {
    val root = Files.createTempDirectory("manifest_spec_").toString + "/hs"
    // values that hive-escape in dir names (':' and ' ' percent-encode)
    val df = spark.range(0, 90).toDF("id")
      .withColumn("cat", concat(lit("k:"),
        (col("id") % 3).cast("string"), lit(" x")))
    df.write.partitionBy("cat").parquet(root)
    ManifestCommit.convertToGraft(spark, root)
    val back = ManifestCommit.read(spark, root)
    assert(back.select("cat").distinct().collect().map(_.getString(0)).sorted
      === Array("k:0 x", "k:1 x", "k:2 x"),
      "escaped partition values must unescape through the injection")
    assert(back.filter(col("cat") === "k:1 x").count() === 30L)
    // a plain (non-CDF) stream over the converted table: the initial
    // snapshot covers the nested conversion dirs; a later flat append
    // rides the same stream in its own scan group
    val ckpt = Files.createTempDirectory("manifest_spec_ck_").toString
    val qn = s"hiveconv_tail_${java.util.UUID.randomUUID().toString.take(8)}"
    val q = spark.readStream.format("graft-table")
      .option("path", root).option("startingVersion", "1")
      .load().writeStream.format("memory").queryName(qn)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table(qn).count() === 90L)
      assert(spark.table(qn).filter(col("cat") === "k:2 x").count() === 30L)
      val d2 = ManifestCommit.newDataDir(root)
      spark.range(1000, 1010).toDF("id").withColumn("cat", lit("flat"))
        .write.parquet(d2)
      ManifestCommit.commitAppend(spark, root, d2)
      q.processAllAvailable()
      assert(spark.table(qn).count() === 100L)
      assert(spark.table(qn).filter(col("cat") === "flat").count() === 10L)
    } finally q.stop()
  }

  test("a MULTI-LEVEL converted table streams (snapshot + CDF) and " +
      "unescapes values at every level") {
    val root = Files.createTempDirectory("manifest_spec_").toString + "/ms"
    // escaping at the SECOND level too (':' percent-encodes)
    val df = spark.range(0, 120).toDF("id")
      .withColumn("y", lit(2024) + (col("id") % 2).cast("int"))
      .withColumn("cat", concat(lit("c:"), (col("id") % 3).cast("string")))
      .withColumn("v", col("id") * 2)
    df.write.partitionBy("y", "cat").parquet(root)
    ManifestCommit.convertToGraft(spark, root)
    val back = ManifestCommit.read(spark, root)
    assert(back.select("cat").distinct().collect().map(_.getString(0)).sorted
      === Array("c:0", "c:1", "c:2"),
      "second-level escaped values must unescape through the injection")
    assert(back.filter(col("y") === 2025 && col("cat") === "c:1")
      .count() === 20L)
    // plain stream: initial snapshot covers the nested dirs, both
    // partition columns served; a later flat append rides along
    val ckpt = Files.createTempDirectory("manifest_spec_ck_").toString
    val qn = s"mlconv_tail_${java.util.UUID.randomUUID().toString.take(8)}"
    val q = spark.readStream.format("graft-table")
      .option("path", root).option("startingVersion", "1")
      .load().writeStream.format("memory").queryName(qn)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table(qn).count() === 120L)
      assert(spark.table(qn)
        .filter(col("y") === 2024 && col("cat") === "c:2").count() === 20L)
      val d2 = ManifestCommit.newDataDir(root)
      spark.range(1000, 1010).toDF("id").withColumn("y", lit(2026))
        .withColumn("cat", lit("flat")).withColumn("v", col("id") * 2)
        .write.parquet(d2)
      ManifestCommit.commitAppend(spark, root, d2)
      q.processAllAvailable()
      assert(spark.table(qn).count() === 130L)
      assert(spark.table(qn).filter(col("y") === 2026).count() === 10L)
    } finally q.stop()
    // CDF stream: a merge-shaped change over the nested dirs diffs
    // per-generation with both injected columns intact
    val ckpt2 = Files.createTempDirectory("manifest_spec_ck_").toString
    val qn2 = s"mlconv_cdf_${java.util.UUID.randomUUID().toString.take(8)}"
    val q2 = spark.readStream.format("graft-table")
      .option("path", root).option("readChangeFeed", "true")
      .option("keys", "id").option("startingVersion", "latest")
      .load().writeStream.format("memory").queryName(qn2)
      .option("checkpointLocation", ckpt2).outputMode("append").start()
    try {
      q2.processAllAvailable()
      MergeInto.deleteRows(spark, root,
        col("y") === 2025 && col("cat") === "c:1" && col("id") < 30)
      q2.processAllAvailable()
      // y=2025: id%2==1; cat=c:1: id%3==1 → id%6==1 and <30: 1,7,13,19,25
      val got = spark.table(qn2)
      assert(got.filter(col(graft.ingest.ChangeFeed.ChangeType) === "delete")
        .count() === 5L, got.collect().mkString(","))
      assert(got.filter(col(graft.ingest.ChangeFeed.ChangeType) === "delete")
        .select("cat").distinct().collect().map(_.getString(0)).toSeq
        === Seq("c:1"), "injected column lost through the CDF diff")
    } finally q2.stop()
  }

  test("shallow clone from a SCHEME-QUALIFIED source keeps qualified external refs") {
    val base = Files.createTempDirectory("manifest_spec_").toString
    val src = base + "/src"; val dst = base + "/clone"
    val d1 = ManifestCommit.newDataDir(src)
    write(Row(1L, "a"), Row(2L, "b"))(d1)
    ManifestCommit.commitReplace(spark, src, Seq(d1),
      pruneDisplaced = false, schema = Some(st))
    // an object-store deployment's roots are scheme-qualified (s3a://…);
    // locally the same shape is file: — the clone's entries must stay
    // QUALIFIED, not be stripped to bare names that re-root under dst
    ManifestCommit.shallowClone(spark, s"file:$src", dst)
    val m = ManifestCommit.readManifest(spark, dst).get
    assert(m.dirs.forall(_.startsWith("file:/")), m.dirs)
    assert(idsOf(dst) === Set(1L, 2L))
    // ownership holds for qualified refs too: eager-prune spares them
    val d2 = ManifestCommit.newDataDir(dst)
    write(Row(9L, "z"))(d2)
    ManifestCommit.commitReplace(spark, dst, Seq(d2)) // eager prune
    assert(idsOf(dst) === Set(9L))
    assert(idsOf(src) === Set(1L, 2L), "qualified source dir deleted by clone")
  }

  test("convertToGraft validates BEFORE moving: a bad stat column leaves the " +
      "plain directory intact") {
    val root = Files.createTempDirectory("manifest_spec_").toString + "/plain"
    spark.range(0, 100).toDF("id").write.parquet(root)
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def parts() = f.listStatus(new org.apache.hadoop.fs.Path(root))
      .map(_.getPath.getName).count(_.endsWith(".parquet"))
    val before = parts()
    val e = intercept[IllegalArgumentException] {
      ManifestCommit.convertToGraft(spark, root, Seq("oops_typo"))
    }
    assert(e.getMessage.contains("oops_typo"), e.getMessage)
    assert(parts() === before, "failed convert displaced the plain files")
    assert(!ManifestCommit.isManifestTable(spark, root))
    // and the directory still converts cleanly afterwards
    ManifestCommit.convertToGraft(spark, root, Seq("ID")) // case-insensitive
    assert(ManifestCommit.read(spark, root).count() === 100L)
    assert(ManifestCommit.tableRowCount(spark, root) === Some(100L))
  }

  test("materializeExternal (deep clone): the fork sheds its source dependency") {
    val base = Files.createTempDirectory("manifest_spec_").toString
    val src = base + "/src"; val dst = base + "/deep"
    val d1 = ManifestCommit.newDataDir(src)
    write(Row(1L, "a"), Row(2L, "b"), Row(3L, "c"))(d1)
    ManifestCommit.commitReplace(spark, src, Seq(d1), pruneDisplaced = false,
      stats = Map(d1 -> Seq(ManifestCommit.ColStats("id", "num", "1", "3"))),
      schema = Some(st))
    MergeInto.deleteWhere(spark, src, // source DV must be copied too
      mkDf(StructType(Seq(StructField("id", LongType, false))), Row(2L)))
    ManifestCommit.shallowClone(spark, src, dst)
    ManifestCommit.materializeExternal(spark, dst)
    val m = ManifestCommit.readManifest(spark, dst).get
    assert(m.op === Some("materialize"))
    assert(m.dirs.forall(!_.startsWith("/")), m.dirs)
    assert(m.dvs.values.forall(!_.startsWith("/")), m.dvs)
    assert(idsOf(dst) === Set(1L, 3L))
    // the stats survived the re-point: pruning still works
    assert(ManifestCommit.readPruned(spark, dst, "id", Some("5"), None)
      match { case (_, k, _) => k == 0 })
    // idempotent: nothing external left, second call is a no-op commit
    assert(ManifestCommit.materializeExternal(spark, dst).gen === m.gen)
    // DESTROY the source outright — the materialized fork must survive
    val f = new org.apache.hadoop.fs.Path(src)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.delete(new org.apache.hadoop.fs.Path(src), true)
    ManifestCommit.clearResolveCache()
    assert(idsOf(dst) === Set(1L, 3L), "deep clone still depended on the source")
  }

  test("materializeExternal DISTRIBUTES the byte copy as a Spark job past " +
      "the small fan-out (per-task copies, not a driver pool)") {
    val base = Files.createTempDirectory("manifest_spec_").toString
    val src = base + "/src"; val dst = base + "/deep"
    // two dirs × 12 part files each → > SmallFanout file pairs
    val d1 = ManifestCommit.newDataDir(src)
    val d2 = ManifestCommit.newDataDir(src)
    spark.range(0, 240).repartition(12).write.parquet(d1)
    spark.range(240, 480).repartition(12).write.parquet(d2)
    ManifestCommit.commitReplace(spark, src, Seq(d1, d2))
    ManifestCommit.shallowClone(spark, src, dst)
    // pin the copy job through its description; its task count proves
    // fan-out
    val copyTasks = JobMeter.measure(spark)(
      ManifestCommit.materializeExternal(spark, dst)).jobs
      .filter(_.desc.startsWith("graft materialize")).map(_.tasks).sum
    assert(copyTasks > 1,
      s"expected a distributed copy job with >1 task, saw $copyTasks")
    // and the copy is correct + self-contained
    val m = ManifestCommit.readManifest(spark, dst).get
    assert(m.dirs.forall(!_.startsWith("/")), m.dirs)
    val f = new org.apache.hadoop.fs.Path(src)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.delete(new org.apache.hadoop.fs.Path(src), true)
    ManifestCommit.clearResolveCache()
    assert(ManifestCommit.read(spark, dst).count() === 480L)
  }

  test("a clone read past the source's retention names the ownership " +
      "contract and the DEEP CLONE remedy, not a raw path error") {
    val base = Files.createTempDirectory("manifest_spec_").toString
    val src = base + "/src"; val dst = base + "/fork"
    val d1 = ManifestCommit.newDataDir(src)
    write(Row(1L, "a"))(d1)
    ManifestCommit.commitReplace(spark, src, Seq(d1), pruneDisplaced = false,
      schema = Some(st))
    ManifestCommit.shallowClone(spark, src, dst) // pins src gen 1 (dir d1)
    // the source moves on and its retention reclaims the cloned dir
    val d2 = ManifestCommit.newDataDir(src)
    write(Row(2L, "b"))(d2)
    ManifestCommit.commitReplace(spark, src, Seq(d2), pruneDisplaced = false,
      schema = Some(st))
    ManifestCommit.expireSnapshots(spark, src, keepLast = 1)
    ManifestCommit.clearResolveCache()
    assert(!Maintenance.exists(spark, d1), "retention should reclaim d1")
    val e = intercept[IllegalStateException] {
      ManifestCommit.read(spark, dst).collect()
    }
    assert(e.getMessage.contains("retention has reclaimed"), e.getMessage)
    assert(e.getMessage.contains("DEEP CLONE"), e.getMessage)
    assert(e.getMessage.contains("materializeExternal"), e.getMessage)
  }

  test("#vermin reader gate: column-mapping commits stamp the minimum " +
      "reader version; an unsupported version refuses loudly") {
    val root = Files.createTempDirectory("manifest_spec_").toString + "/t"
    val d = ManifestCommit.newDataDir(root)
    write(Row(1L, "a"))(d)
    ManifestCommit.commitReplace(spark, root, Seq(d), pruneDisplaced = false,
      schema = Some(StructType(st.fields.map(_.copy(nullable = true)))))
    // pre-mapping commits carry NO gate (old readers keep reading)
    def genText(g: Long): String = new String(Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/_manifest.g$g")), "UTF-8")
    assert(!genText(1L).contains("#vermin"))
    ManifestCommit.renameColumn(spark, root, "v", "w")
    // the rename generation (and every later one, full or delta) is
    // stamped: a reader build that ignored #colmap would null-fill
    // renamed columns — it must fail instead of serving wrong data
    assert(genText(2L).contains("#vermin\t2"), genText(2L))
    val d2 = ManifestCommit.newDataDir(root)
    write(Row(2L, "b"))(d2)
    ManifestCommit.commitAppend(spark, root, d2)
    assert(genText(3L).contains("#vermin\t2"), genText(3L))
    // this build supports version 2: reads stay green
    assert(ManifestCommit.read(spark, root).count() === 2L)
    // a FUTURE format feature stamps a higher version -> this build
    // must refuse the manifest, not misread it
    val futRoot = Files.createTempDirectory("manifest_spec_").toString + "/t"
    Files.createDirectories(java.nio.file.Paths.get(futRoot))
    Files.write(java.nio.file.Paths.get(s"$futRoot/_manifest"),
      "1\n#vermin\t99\ndata_x".getBytes("UTF-8"))
    val e = intercept[IllegalStateException] {
      ManifestCommit.readManifest(spark, futRoot)
    }
    assert(e.getMessage.contains("reader version 99"), e.getMessage)
    assert(e.getMessage.contains("upgrade"), e.getMessage)
  }

  test("the reserved __graft_ namespace is refused at COMMIT time on " +
      "every schema-recording surface — never deferred to the first diff") {
    val root = Files.createTempDirectory("manifest_spec_").toString + "/t"
    val d = ManifestCommit.newDataDir(root)
    spark.range(0, 5).toDF("id").withColumn("__graft_x", col("id"))
      .write.parquet(d)
    // create (commitReplace with schema)
    val e1 = intercept[IllegalArgumentException] {
      ManifestCommit.commitReplace(spark, root, Seq(d),
        pruneDisplaced = false,
        schema = Some(StructType(Seq(
          StructField("id", LongType, nullable = true),
          StructField("__graft_x", LongType, nullable = true)))))
    }
    assert(e1.getMessage.contains("reserved"), e1.getMessage)
    assert(e1.getMessage.contains("rename"), e1.getMessage)
    assert(ManifestCommit.readManifest(spark, root).isEmpty,
      "the refused commit must not land")
    // rename INTO the namespace (the evolution path's sibling)
    val d2 = ManifestCommit.newDataDir(root)
    write(Row(1L, "a"))(d2)
    ManifestCommit.commitReplace(spark, root, Seq(d2),
      pruneDisplaced = false,
      schema = Some(StructType(st.fields.map(_.copy(nullable = true)))))
    val e2 = intercept[IllegalArgumentException] {
      ManifestCommit.renameColumn(spark, root, "v", "__graft_v")
    }
    assert(e2.getMessage.contains("reserved"), e2.getMessage)
    assert(ManifestCommit.readManifest(spark, root).get
      .tableSchema.get.fieldNames.contains("v"), "rename must not land")
  }
}
