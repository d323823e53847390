package graft.sql

import graft.SparkSpec
import graft.ingest.{ManifestCommit, MergeInto}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** SQL surface over manifest tables: resolution, generation pinning,
  * manifest-stats + bloom data skipping in the OPTIMIZED plan (dir-level
  * scan-set assertions, not just result equality), metadata-only
  * COUNT(*), DV-aware reads, self-join attribute dedup, time travel. */
class GraftSqlSpec extends SparkSpec {

  /** 4 range dirs of 100 rows each: id in [0,100), [100,200), ... with
    * id min/max + row-count stats and a recorded schema. */
  private def mkTable(name: String): String = {
    val root = Files.createTempDirectory("graft_sqlspec_").toString + "/t"
    val df = spark.range(0, 400).toDF("id")
      .withColumn("k", col("id") % 7)
      .withColumn("v", concat(lit("v"), col("id")))
    val slice = floor(col("id") / lit(100))
    val dirs = ManifestCommit.writeSliced(spark, root, df,
      slice, Seq("id", ManifestCommit.RowCountStat))
    ManifestCommit.commitReplace(spark, root, dirs.map(_._1),
      pruneDisplaced = false, stats = dirs.toMap, schema = Some(df.schema),
      slice = Some(ManifestCommit.sliceSql(slice)))
    GraftSql.register(name, root)
    root
  }

  /** Data dir basenames the optimized plan actually scans. */
  private def scannedDirs(df: DataFrame): Set[String] =
    df.queryExecution.optimizedPlan.collect {
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation =>
          fs.location.rootPaths.map(_.getName).toSeq
        case _ => Nil
      }
    }.flatten.filter(_.startsWith("data_")).toSet

  test("SELECT through spark.sql matches the programmatic read") {
    val root = mkTable("sqlspec_basic")
    val got = spark.sql(
      """SELECT k, count(*) AS n, sum(id) AS s FROM graft.sqlspec_basic
        |WHERE id >= 50 GROUP BY k ORDER BY k""".stripMargin).collect()
    val want = ManifestCommit.read(spark, root).where(col("id") >= 50)
      .groupBy("k").agg(count(lit(1)).as("n"), sum("id").as("s"))
      .orderBy("k").collect()
    assert(got.toSeq === want.toSeq)
  }

  test("range predicate prunes the scanned dir set via manifest stats") {
    mkTable("sqlspec_prune")
    val one = spark.sql(
      "SELECT v FROM graft.sqlspec_prune WHERE id BETWEEN 120 AND 130")
    assert(scannedDirs(one).size === 1, "a single-range predicate must plan one dir")
    assert(one.count() === 11)
    val half = spark.sql("SELECT v FROM graft.sqlspec_prune WHERE id >= 200")
    assert(scannedDirs(half).size === 2)
    assert(half.count() === 200)
    // the real filter still runs: stats keep a dir the predicate then empties
    val none = spark.sql(
      "SELECT v FROM graft.sqlspec_prune WHERE id > 1000")
    assert(none.count() === 0)
  }

  test("pushed filters and pruned read schema reach the parquet scan") {
    mkTable("sqlspec_push")
    val q = spark.sql(
      "SELECT v FROM graft.sqlspec_push WHERE id >= 201 AND id <= 205")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThanOrEqual(id,201)"), plan.take(2000))
    assert(plan.contains("ReadSchema: struct<id:bigint,v:string>"),
      "column pruning must drop k from the scan:\n" + plan.take(2000))
  }

  test("bare COUNT(*) is answered from the manifest with a LocalRelation plan") {
    val root = mkTable("sqlspec_count")
    val q = spark.sql("SELECT count(*) AS n FROM graft.sqlspec_count")
    assert(q.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
      q.queryExecution.optimizedPlan.toString)
    assert(q.collect().head.getLong(0) === 400L)
    // ... and stays metadata-only THROUGH a merge-on-read delete
    MergeInto.deleteWhere(spark, root,
      spark.range(0, 10).toDF("id"))
    val q2 = spark.sql("SELECT count(*) FROM graft.sqlspec_count")
    assert(q2.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    assert(q2.collect().head.getLong(0) === 390L)
    // a dir-aligned filtered count IS metadata-answerable since r19
    // (covered-dir proof) — still zero-scan, same answer
    val q3 = spark.sql(
      "SELECT count(*) FROM graft.sqlspec_count WHERE id >= 100")
    assert(q3.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
      q3.queryExecution.optimizedPlan.toString)
    assert(q3.collect().head.getLong(0) === 300L)
  }

  test("bare MIN/MAX (+COUNT) answer from manifest stats with a LocalRelation plan") {
    mkTable("sqlspec_minmax")
    val q = spark.sql(
      """SELECT min(id) AS mn, max(id) AS mx, count(*) AS n
        |FROM graft.sqlspec_minmax""".stripMargin)
    assert(q.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
      q.queryExecution.optimizedPlan.toString)
    assert(q.collect().head.toSeq === Seq(0L, 399L, 400L))
    // an unmetered column can NOT be served from metadata — full scan,
    // same answer
    val q2 = spark.sql("SELECT min(k) AS mn FROM graft.sqlspec_minmax")
    assert(!q2.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    assert(q2.collect().head.getLong(0) === 0L)
    // a STRADDLING filtered max goes hybrid (r19): scan ONLY the dir
    // the 250 cut straddles, stats serve the covered [0,200) dirs
    val q3 = spark.sql(
      "SELECT max(id) AS mx FROM graft.sqlspec_minmax WHERE id < 250")
    assert(!q3.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    assert(scannedDirs(q3).size === 1,
      s"straddle hybrid must scan one dir: ${scannedDirs(q3)}")
    assert(q3.collect().head.getLong(0) === 249L)
  }

  test("a derived alias sharing a leaf column's name never reads the leaf's stats") {
    mkTable("sqlspec_mmalias")
    // inner projection rebinds `id` to id+1000: stats describe the LEAF
    // id, so serving min from them would answer 0 instead of 1000
    val q = spark.sql(
      """SELECT min(id) AS mn
        |FROM (SELECT id + 1000 AS id FROM graft.sqlspec_mmalias)""".stripMargin)
    assert(!q.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
      q.queryExecution.optimizedPlan.toString)
    assert(q.collect().head.getLong(0) === 1000L)
  }

  test("MIN/MAX goes hybrid after a DV: scan only the DV'd dir, stats serve the rest") {
    val root = mkTable("sqlspec_mmdv")
    // delete the global max — its dir's recorded max is now a bound,
    // not a witness
    MergeInto.deleteWhere(spark, root, spark.range(399, 400).toDF("id"))
    val mx = spark.sql("SELECT max(id) AS mx FROM graft.sqlspec_mmdv")
    assert(!mx.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    assert(scannedDirs(mx).size === 1,
      s"hybrid must scan ONLY the DV'd dir: ${scannedDirs(mx)}")
    assert(mx.collect().head.getLong(0) === 398L)
    // min rides the same scan set; its value comes from the stats side
    val mn = spark.sql("SELECT min(id) AS mn FROM graft.sqlspec_mmdv")
    assert(scannedDirs(mn).size === 1)
    assert(mn.collect().head.getLong(0) === 0L)
    // mixed COUNT+MIN can't ride the hybrid union (count would double-
    // count) — ordinary expansion, same answers
    val both = spark.sql(
      "SELECT count(*) AS n, min(id) AS mn FROM graft.sqlspec_mmdv")
    assert(!both.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    assert(both.collect().head.toSeq === Seq(399L, 0L))
    // bare COUNT(*) stays metadata-only through the DV (dead counts)
    val n = spark.sql("SELECT count(*) AS n FROM graft.sqlspec_mmdv")
    assert(n.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    assert(n.collect().head.getLong(0) === 399L)
  }

  test("GROUP BY a per-dir-constant column rolls up from the manifest — zero scan") {
    val root = Files.createTempDirectory("graft_sqlspec_").toString + "/t"
    val df = spark.range(0, 400).toDF("id")
      .withColumn("grp", floor(col("id") / lit(100)))
      .withColumn("v", concat(lit("v"), col("id")))
    val slice = col("grp")
    val dirs = ManifestCommit.writeSliced(spark, root, df, slice,
      Seq("grp", "id", ManifestCommit.RowCountStat))
    ManifestCommit.commitReplace(spark, root, dirs.map(_._1),
      pruneDisplaced = false, stats = dirs.toMap, schema = Some(df.schema),
      slice = Some(ManifestCommit.sliceSql(slice)))
    GraftSql.register("sqlspec_rollup", root)
    val q = spark.sql(
      """SELECT grp, count(*) AS n, min(id) AS mn, max(id) AS mx
        |FROM graft.sqlspec_rollup GROUP BY grp""".stripMargin)
    assert(q.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
      q.queryExecution.optimizedPlan.toString)
    val got = q.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sortBy(_._1)
    assert(got.toSeq === (0 to 3).map(i =>
      (i.toLong, 100L, i * 100L, i * 100L + 99L)))
    // COUNT(*)-only rollup stays metadata-only THROUGH a deletion
    // vector (dead rows carry the group's own constant)
    MergeInto.deleteWhere(spark, root, spark.range(0, 10).toDF("id"))
    val q2 = spark.sql(
      "SELECT grp, count(*) AS n FROM graft.sqlspec_rollup GROUP BY grp")
    assert(q2.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    assert(q2.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      .toSeq === Seq((0L, 90L), (1L, 100L), (2L, 100L), (3L, 100L)))
    // ... but MIN/MAX per group can NOT ride a DV'd dir — ordinary scan
    val q3 = spark.sql(
      "SELECT grp, min(id) AS mn FROM graft.sqlspec_rollup GROUP BY grp")
    assert(!q3.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    assert(q3.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      .toSeq === Seq((0L, 10L), (1L, 100L), (2L, 200L), (3L, 300L)))
    // a NON-constant grouping column falls through to the scan
    val q4 = spark.sql(
      "SELECT id % 7 AS k, count(*) AS n FROM graft.sqlspec_rollup GROUP BY id % 7")
    assert(!q4.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    assert(q4.collect().map(_.getLong(1)).sum === 390L)
    // a group whose dirs are FULLY DV-dead emits NO row (a real GROUP BY
    // produces nothing for it), and the rollup stays metadata-only
    MergeInto.deleteWhere(spark, root, spark.range(10, 100).toDF("id"))
    val q5 = spark.sql(
      "SELECT grp, count(*) AS n FROM graft.sqlspec_rollup GROUP BY grp")
    assert(q5.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    assert(q5.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      .toSeq === Seq((1L, 100L), (2L, 100L), (3L, 100L)),
      "the fully-deleted group 0 must not appear with a zero count")
  }

  test("filtered COUNT folds zero-job when every dir is covered or disjoint (q179)") {
    val root = mkTable("sqlspec_fcount")
    val q = spark.sql(
      "SELECT count(*) AS n FROM graft.sqlspec_fcount WHERE id >= 100")
    assert(q.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
      q.queryExecution.optimizedPlan.toString)
    assert(q.collect().head.getLong(0) === 300L)
    // exact THROUGH a deletion vector inside the covered range
    MergeInto.deleteWhere(spark, root, spark.range(100, 110).toDF("id"))
    val q2 = spark.sql(
      "SELECT count(*) AS n FROM graft.sqlspec_fcount WHERE id >= 100")
    assert(q2.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
      q2.queryExecution.optimizedPlan.toString)
    assert(q2.collect().head.getLong(0) === 290L)
    // a STRADDLING dir (150 cuts [100,200)) cannot fold a count — the
    // ordinary pruned scan answers
    val q3 = spark.sql(
      "SELECT count(*) AS n FROM graft.sqlspec_fcount WHERE id >= 150")
    assert(!q3.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    assert(q3.collect().head.getLong(0) === 250L)
    // all dirs pruned: folds to the empty aggregate, still zero-job
    val q4 = spark.sql(
      "SELECT count(*) AS n FROM graft.sqlspec_fcount WHERE id >= 1000")
    assert(q4.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
      q4.queryExecution.optimizedPlan.toString)
    assert(q4.collect().head.getLong(0) === 0L)
  }

  test("filtered rollups + COUNT(c) through null-free DV'd dirs (r19)") {
    def isLocal(q: DataFrame): Boolean =
      q.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]
    val root = Files.createTempDirectory("graft_sqlspec_").toString + "/t"
    // c is null only in grp 2 (every 10th id there)
    val df = spark.range(0, 400).toDF("id")
      .withColumn("grp", floor(col("id") / lit(100)))
      .withColumn("c", when(col("id") % 10 === 0 && col("id") >= 200 &&
        col("id") < 300, lit(null).cast("long")).otherwise(col("id")))
    val slice = col("grp")
    val dirs = ManifestCommit.writeSliced(spark, root, df, slice,
      Seq("grp", "id", "c", ManifestCommit.RowCountStat))
    ManifestCommit.commitReplace(spark, root, dirs.map(_._1),
      pruneDisplaced = false, stats = dirs.toMap, schema = Some(df.schema),
      slice = Some(ManifestCommit.sliceSql(slice)))
    GraftSql.register("sqlspec_rollup19", root)
    // EQUALITY predicate on the slice key: the negation rewrite
    // (grp ≠ 1 ⟺ grp < 1 OR grp > 1) proves min==max dirs covered
    val q1 = spark.sql(
      """SELECT grp, count(*) AS n FROM graft.sqlspec_rollup19
        |WHERE grp = 1 GROUP BY grp""".stripMargin)
    assert(isLocal(q1), q1.queryExecution.optimizedPlan.toString)
    assert(q1.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((1L, 100L)))
    val q1b = spark.sql(
      "SELECT count(*) AS n FROM graft.sqlspec_rollup19 WHERE grp = 1")
    assert(isLocal(q1b), q1b.queryExecution.optimizedPlan.toString)
    assert(q1b.collect().head.getLong(0) === 100L)
    // IN-list predicate: each negated value disproven per or-group
    val q2 = spark.sql(
      """SELECT grp, count(*) AS n FROM graft.sqlspec_rollup19
        |WHERE grp IN (1, 3) GROUP BY grp""".stripMargin)
    assert(isLocal(q2), q2.queryExecution.optimizedPlan.toString)
    assert(q2.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      .toSeq === Seq((1L, 100L), (3L, 100L)))
    // COUNT(c) rollup through a DV on a NULL-FREE dir (grp 1): the
    // counter proves __nn_c == __rows there, so COUNT(c) = live rows
    MergeInto.deleteWhere(spark, root, spark.range(100, 105).toDF("id"))
    val q3 = spark.sql(
      "SELECT grp, count(c) AS n FROM graft.sqlspec_rollup19 GROUP BY grp")
    assert(isLocal(q3), q3.queryExecution.optimizedPlan.toString)
    assert(q3.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      .toSeq === Seq((0L, 100L), (1L, 95L), (2L, 90L), (3L, 100L)))
    val q3b = spark.sql(
      "SELECT count(c) AS n FROM graft.sqlspec_rollup19")
    assert(isLocal(q3b), q3b.queryExecution.optimizedPlan.toString)
    assert(q3b.collect().head.getLong(0) === 385L)
    // a DV on the NULL-BEARING dir still de-optimizes COUNT(c): the
    // deleted rows' nullness is unknown to the counters — scan agrees
    MergeInto.deleteWhere(spark, root, spark.range(200, 201).toDF("id"))
    val q4 = spark.sql(
      "SELECT grp, count(c) AS n FROM graft.sqlspec_rollup19 GROUP BY grp")
    assert(!isLocal(q4))
    assert(q4.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      .toSeq === Seq((0L, 100L), (1L, 95L), (2L, 90L), (3L, 100L)))
    // a predicate STRADDLING a dir bails the grouped fold to the scan
    val q5 = spark.sql(
      """SELECT grp, count(*) AS n FROM graft.sqlspec_rollup19
        |WHERE id < 150 GROUP BY grp""".stripMargin)
    assert(!isLocal(q5))
    assert(q5.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      .toSeq === Seq((0L, 100L), (1L, 45L)))
  }

  test("NaN/Infinity double stats poison the metadata fold — scan fallback, never a crash") {
    val root = Files.createTempDirectory("graft_sqlspec_").toString + "/t"
    val df = spark.range(0, 100).toDF("id")
      .withColumn("d", when(col("id") === 7, lit(Double.NaN))
        .when(col("id") === 8, lit(Double.PositiveInfinity))
        .otherwise(col("id").cast("double")))
    val slice = floor(col("id") / lit(50))
    val dirs = ManifestCommit.writeSliced(spark, root, df, slice,
      Seq("id", "d", ManifestCommit.RowCountStat))
    ManifestCommit.commitReplace(spark, root, dirs.map(_._1),
      pruneDisplaced = false, stats = dirs.toMap, schema = Some(df.schema))
    GraftSql.register("sqlspec_nan", root)
    // Spark's max over {…, NaN} is NaN; the "num"-kind stat rendering
    // of NaN cannot be BigDecimal-ordered — the fold must bail to the
    // scan, not throw from inside the optimizer rule
    val q = spark.sql("SELECT max(d) AS mx FROM graft.sqlspec_nan")
    assert(!q.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    assert(q.collect().head.getDouble(0).isNaN)
  }

  test("fold parity: {COUNT(*), COUNT(c), MIN, MAX} x {no WHERE, covering, " +
      "straddling, all-pruning} x {ungrouped, GROUP BY slice} in four table " +
      "states answer like the DataFrame API; exactly the pinned shapes fold") {
    // 4 grp-sliced dirs of 100 rows; c is null on every 10th row of grp 2.
    // States: fresh; a DV on the null-free grp-1 dir; a DV on the
    // null-bearing grp-2 dir; grp 3's c all NaN plus a second grp-3 dir
    // (an INSERT), so the NaN bound meets another one in its group.
    def mk(state: String): String = {
      val root = Files.createTempDirectory("graft_sqlspec_").toString + "/t"
      val df = spark.range(0, 400).toDF("id")
        .withColumn("grp", floor(col("id") / lit(100)))
        .withColumn("c", when(col("grp") === 2 && col("id") % 10 === 0,
            lit(null).cast("double"))
          .when(col("grp") === 3 && lit(state == "nan"), lit(Double.NaN))
          .otherwise(col("id").cast("double")))
      val slice = col("grp")
      val dirs = ManifestCommit.writeSliced(spark, root, df, slice,
        Seq("grp", "id", "c", ManifestCommit.RowCountStat))
      ManifestCommit.commitReplace(spark, root, dirs.map(_._1),
        pruneDisplaced = false, stats = dirs.toMap, schema = Some(df.schema),
        slice = Some(ManifestCommit.sliceSql(slice)))
      state match {
        case "dv_nullfree" =>
          MergeInto.deleteWhere(spark, root, spark.range(100, 105).toDF("id"))
        case "dv_nullbearing" =>
          MergeInto.deleteWhere(spark, root, spark.range(201, 204).toDF("id"))
        case _ => ()
      }
      GraftSql.register(s"sqlspec_parity_$state", root)
      if (state == "nan") spark.sql("INSERT INTO graft.sqlspec_parity_nan " +
        "SELECT id, CAST(3 AS BIGINT) AS grp, 1.0 AS c FROM range(400, 410)")
      root
    }
    val wheres = Seq("none" -> None, "covering" -> Some("grp >= 1"),
      "straddling" -> Some("id < 150"), "all_pruning" -> Some("id >= 1000"))
    // the pin: an all-pruning WHERE always folds (the empty-input
    // aggregate, or zero groups); a straddling one never does (COUNT and
    // rollups take the scan, ungrouped MIN/MAX go hybrid); otherwise
    // COUNT(*) always folds, COUNT(c) unless a DV sits on the
    // null-bearing dir, MIN/MAX only with no DV'd dir and no NaN bound
    def folds(state: String, agg: String, where: String): Boolean = where match {
      case "all_pruning" => true
      case "straddling" => false
      case _ => agg match {
        case "count(*)" => true
        case "count(c)" => state != "dv_nullbearing"
        case _ => state == "fresh"
      }
    }
    for (state <- Seq("fresh", "dv_nullfree", "dv_nullbearing", "nan")) {
      val root = mk(state)
      for (agg <- Seq("count(*)", "count(c)", "min(c)", "max(c)");
           (wn, w) <- wheres; grouped <- Seq(false, true)) {
        val sql = s"SELECT ${if (grouped) "grp, " else ""}$agg AS a " +
          s"FROM graft.sqlspec_parity_$state" + w.fold("")(" WHERE " + _) +
          (if (grouped) " GROUP BY grp" else "")
        val q = spark.sql(sql)
        val base = ManifestCommit.read(spark, root)
          .where(w.map(expr).getOrElse(lit(true)))
        val want =
          if (grouped) base.groupBy("grp").agg(expr(agg).as("a"))
          else base.agg(expr(agg).as("a"))
        val tag = s"[$state] $sql"
        val local = q.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]
        assert(local === folds(state, agg, wn),
          s"$tag\n${q.queryExecution.optimizedPlan}")
        val got = q.collect().map(_.toString).sorted.toSeq
        assert(got === want.collect().map(_.toString).sorted.toSeq, tag)
        // a grouped rollup whose WHERE prunes every dir is ZERO rows
        if (grouped && wn == "all_pruning") assert(got.isEmpty, tag)
      }
    }
  }

  test("metadata MIN/MAX round-trips strings and timestamps") {
    val root = Files.createTempDirectory("graft_sqlspec_").toString + "/t"
    val df = spark.range(0, 100).toDF("id")
      .withColumn("s", concat(lit("key_"), format_string("%03d", col("id"))))
      .withColumn("ts", to_timestamp(
        concat(lit("2024-01-"), format_string("%02d", col("id") % 28 + 1),
          lit(" 12:30:00"))))
    val slice = floor(col("id") / lit(50))
    val dirs = ManifestCommit.writeSliced(spark, root, df, slice,
      Seq("s", "ts", ManifestCommit.RowCountStat))
    ManifestCommit.commitReplace(spark, root, dirs.map(_._1),
      pruneDisplaced = false, stats = dirs.toMap, schema = Some(df.schema))
    GraftSql.register("sqlspec_mmtypes", root)
    val q = spark.sql(
      """SELECT min(s) AS mns, max(s) AS mxs, min(ts) AS mnt, max(ts) AS mxt
        |FROM graft.sqlspec_mmtypes""".stripMargin)
    assert(q.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
      q.queryExecution.optimizedPlan.toString)
    val want = ManifestCommit.read(spark, root)
      .agg(min("s"), max("s"), min("ts"), max("ts")).collect().head
    assert(q.collect().head.toSeq === want.toSeq)
  }

  test("deletion vectors apply to SQL reads, including pruned ones") {
    val root = mkTable("sqlspec_dv")
    MergeInto.deleteWhere(spark, root,
      spark.createDataFrame(java.util.Arrays.asList(
        org.apache.spark.sql.Row(125L), org.apache.spark.sql.Row(350L)),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.LongType, false)))))
    val m = ManifestCommit.readManifest(spark, root).get
    assert(m.dvs.nonEmpty, "delete must be merge-on-read here")
    val rows = spark.sql(
      "SELECT id FROM graft.sqlspec_dv WHERE id BETWEEN 120 AND 130 ORDER BY id")
    assert(rows.collect().map(_.getLong(0)).toSeq ===
      (120L to 130L).filterNot(_ == 125L))
    assert(spark.sql("SELECT id FROM graft.sqlspec_dv WHERE id = 350").count() === 0)
  }

  test("self-join resolves both instances independently") {
    mkTable("sqlspec_self")
    val n = spark.sql(
      """SELECT count(*) AS n FROM graft.sqlspec_self a
        |JOIN graft.sqlspec_self b ON a.id = b.id + 100
        |WHERE a.id < 150""".stripMargin).collect().head.getLong(0)
    // pairs (100..149) <- (0..49)
    assert(n === 50L)
  }

  test("time travel: graft.`name@vN` reads the pinned generation") {
    val root = mkTable("sqlspec_tt")
    val extra = ManifestCommit.newDataDir(root)
    spark.range(1000, 1010).toDF("id")
      .withColumn("k", col("id") % 7)
      .withColumn("v", concat(lit("v"), col("id")))
      .write.parquet(extra)
    ManifestCommit.commitAppend(spark, root, extra)
    assert(spark.sql("SELECT count(*) FROM graft.sqlspec_tt")
      .collect().head.getLong(0) === 410L)
    assert(spark.sql("SELECT max(id) AS m FROM graft.`sqlspec_tt@v1`")
      .collect().head.getLong(0) === 399L)
  }

  test("bloom side files prune point lookups in SQL") {
    // modulo layout: every dir spans the full id range, min/max prunes
    // nothing; blooms on the modulo class do
    val root = Files.createTempDirectory("graft_sqlspec_").toString + "/t"
    val df = spark.range(0, 400).toDF("id").withColumn("v", col("id") * 2)
    val dirs = ManifestCommit.writeSliced(spark, root, df,
      pmod(col("id"), lit(4)), Seq("id", ManifestCommit.RowCountStat))
    dirs.foreach { case (d, _) =>
      ManifestCommit.writeDirBloom(spark, d, "id", 100) }
    ManifestCommit.commitReplace(spark, root, dirs.map(_._1),
      pruneDisplaced = false, stats = dirs.toMap, schema = Some(df.schema))
    GraftSql.register("sqlspec_bloom", root)
    val q = spark.sql("SELECT v FROM graft.sqlspec_bloom WHERE id = 123")
    assert(scannedDirs(q).size <= 2,
      s"bloom must prune the 4-dir modulo layout: ${scannedDirs(q)}")
    assert(q.collect().map(_.getLong(0)).toSeq === Seq(246L))
    // IN probes DISJUNCTIVELY (round 18): the envelope [123, 250] spans
    // every modulo dir, only per-value blooms prune — ids land in dirs
    // 123%4=3 and 250%4=2, so ≤3 of 4 survive (≤1 bloom false positive)
    val q2 = spark.sql(
      "SELECT v FROM graft.sqlspec_bloom WHERE id IN (123, 250)")
    assert(scannedDirs(q2).size <= 3,
      s"IN must bloom-prune per value: ${scannedDirs(q2)}")
    assert(q2.collect().map(_.getLong(0)).toSet === Set(246L, 500L))
    // the OR-of-equalities spelling prunes identically (normalized)
    val q3 = spark.sql(
      "SELECT v FROM graft.sqlspec_bloom WHERE id = 123 OR id = 250")
    assert(scannedDirs(q3).size <= 3,
      s"OR-of-equals must bloom-prune per value: ${scannedDirs(q3)}")
    assert(q3.collect().map(_.getLong(0)).toSet === Set(246L, 500L))
  }

  test("INSERT INTO appends through the manifest and keeps stats alive") {
    val root = mkTable("sqlspec_ins")
    // VALUES with an int id: store-assignment cast to the bigint column
    spark.sql(
      "INSERT INTO graft.sqlspec_ins VALUES (1000, 3, 'v1000'), (1001, 4, 'v1001')")
    val m = ManifestCommit.readManifest(spark, root).get
    assert(m.op === Some("insert"))
    assert(m.dirs.size === 5)
    // metadata COUNT(*) still answers from the manifest: the new dir
    // inherited the RowCountStat pseudo-column
    val q = spark.sql("SELECT count(*) FROM graft.sqlspec_ins")
    assert(q.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    assert(q.collect().head.getLong(0) === 402L)
    // ... and id min/max stats: a range probe over old data still prunes
    // the new dir away
    val pruned = spark.sql(
      "SELECT id FROM graft.sqlspec_ins WHERE id BETWEEN 120 AND 130")
    assert(scannedDirs(pruned).size === 1)
    assert(spark.sql("SELECT v FROM graft.sqlspec_ins WHERE id = 1001")
      .collect().head.getString(0) === "v1001")
  }

  test("INSERT INTO ... SELECT from another graft table") {
    mkTable("sqlspec_ins_src")
    val dstRoot = mkTable("sqlspec_ins_dst")
    spark.sql(
      """INSERT INTO graft.sqlspec_ins_dst
        |SELECT id + 10000, k, v FROM graft.sqlspec_ins_src WHERE id < 50""".stripMargin)
    assert(ManifestCommit.read(spark, dstRoot).count() === 450L)
    assert(spark.sql(
      "SELECT count(*) AS n FROM graft.sqlspec_ins_dst WHERE id >= 10000")
      .collect().head.getLong(0) === 50L)
  }

  test("INSERT spanning multiple slices lands sliced with slice-tight stats") {
    val root = mkTable("sqlspec_ins_sliced")
    assert(ManifestCommit.readManifest(spark, root).get.slice.isDefined)
    // 3 slice values (10, 11, 12) in ONE statement → exactly 3 new dirs
    spark.sql(
      """INSERT INTO graft.sqlspec_ins_sliced
        |SELECT id, id % 7 AS k, concat('n', id) AS v FROM range(1000, 1300)""".stripMargin)
    val m = ManifestCommit.readManifest(spark, root).get
    assert(m.op === Some("insert"))
    assert(m.dirs.size === 7, s"4 original + 3 sliced insert dirs: ${m.dirs}")
    // stats are slice-tight: a probe into ONE inserted slice plans 1 dir,
    // and a probe over the original data is untouched by the insert
    val probeNew = spark.sql(
      "SELECT v FROM graft.sqlspec_ins_sliced WHERE id BETWEEN 1120 AND 1130")
    assert(scannedDirs(probeNew).size === 1, scannedDirs(probeNew))
    assert(probeNew.count() === 11)
    val probeOld = spark.sql(
      "SELECT v FROM graft.sqlspec_ins_sliced WHERE id BETWEEN 120 AND 130")
    assert(scannedDirs(probeOld).size === 1)
    // manifest COUNT(*) stays alive through the sliced insert
    val q = spark.sql("SELECT count(*) FROM graft.sqlspec_ins_sliced")
    assert(q.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    assert(q.collect().head.getLong(0) === 700L)
  }

  test("sliced INSERT tolerates null slice values (dir lands stat-less, stays readable)") {
    val root = mkTable("sqlspec_ins_nullslice")
    // id is the slice input; a null id lands in the Hive default
    // partition — promoted as a dir WITHOUT stats (pruning keeps
    // stat-less dirs, so the row is always readable)
    spark.sql(
      "INSERT INTO graft.sqlspec_ins_nullslice VALUES (CAST(NULL AS BIGINT), 1, 'nullrow')")
    val m = ManifestCommit.readManifest(spark, root).get
    assert(m.dirs.size === 5)
    assert(spark.sql(
      "SELECT v FROM graft.sqlspec_ins_nullslice WHERE id IS NULL")
      .collect().map(_.getString(0)).toSeq === Seq("nullrow"))
    // a range probe still prunes to its one dir — the stat-less null dir
    // is kept conservatively (skipping is an optimization, never a filter)
    val probe = spark.sql(
      "SELECT v FROM graft.sqlspec_ins_nullslice WHERE id BETWEEN 120 AND 130")
    assert(probe.count() === 11)
  }

  test("INSERT OVERWRITE replaces contents; old generation stays time-travelable") {
    val root = mkTable("sqlspec_ovw")
    spark.sql(
      "INSERT OVERWRITE graft.sqlspec_ovw SELECT id, id % 3 AS k, 'x' AS v FROM range(7)")
    assert(ManifestCommit.read(spark, root).count() === 7L)
    val m = ManifestCommit.readManifest(spark, root).get
    assert(m.op === Some("insert_overwrite"))
    assert(spark.sql("SELECT count(*) FROM graft.`sqlspec_ovw@v1`")
      .collect().head.getLong(0) === 400L)
  }

  test("INSERT with an explicit column list null-fills unlisted columns") {
    val root = mkTable("sqlspec_ins_cols")
    spark.sql(
      "INSERT INTO graft.sqlspec_ins_cols (v, id) VALUES ('named', 2000)")
    val r = spark.sql(
      "SELECT id, k, v FROM graft.sqlspec_ins_cols WHERE id = 2000").collect()
    assert(r.length === 1)
    assert(r(0).getLong(0) === 2000L)
    assert(r(0).isNullAt(1), "unlisted column k must null-fill")
    assert(r(0).getString(2) === "named")
    assert(ManifestCommit.read(spark, root).count() === 401L)
    val dup = intercept[Exception] {
      spark.sql("INSERT INTO graft.sqlspec_ins_cols (id, id) VALUES (1, 2)")
    }
    assert(dup.getMessage.contains("duplicate"), dup.getMessage)
    val unknown = intercept[Exception] {
      spark.sql("INSERT INTO graft.sqlspec_ins_cols (nope) VALUES (1)")
    }
    assert(unknown.getMessage.contains("no column"), unknown.getMessage)
  }

  test("INSERT rejects arity mismatch and time-travel targets") {
    mkTable("sqlspec_ins_bad")
    val e1 = intercept[Exception] {
      spark.sql("INSERT INTO graft.sqlspec_ins_bad VALUES (1, 2)")
    }
    assert(e1.getMessage.contains("columns"), e1.getMessage)
    val e2 = intercept[Exception] {
      spark.sql("INSERT INTO graft.`sqlspec_ins_bad@v1` VALUES (1, 2, 'x')")
    }
    assert(e2.getMessage.contains("time-travel"), e2.getMessage)
  }

  test("metadata tables: graft.`name#history` and graft.`name#files`") {
    mkTable("sqlspec_meta")
    spark.sql("INSERT INTO graft.sqlspec_meta VALUES (9999, 0, 'z')")
    val hist = spark.sql(
      """SELECT gen, operation, dirs_added FROM graft.`sqlspec_meta#history`
        |ORDER BY gen""".stripMargin).collect()
    assert(hist.map(_.getString(1)).toSeq === Seq("replace", "insert"))
    assert(hist.last.getLong(2) === 1L)
    val files = spark.sql(
      """SELECT dir, rows, stats['id'] AS id_range FROM graft.`sqlspec_meta#files`
        |ORDER BY dir""".stripMargin).collect()
    assert(files.length === 5)
    assert(files.map(_.getLong(1)).sum === 401L)
    assert(files.forall(r => r.getString(2).startsWith("[")))
    // metadata tables are manifest-only: no parquet relation in the plan
    val plan = spark.sql("SELECT * FROM graft.`sqlspec_meta#files`")
      .queryExecution.optimizedPlan
    assert(plan.collect {
      case l: LogicalRelation => l }.isEmpty, plan.toString)
    // #detail: the one-row DESCRIBE DETAIL summary, exact where the
    // manifest is fully metered
    val det = spark.sql(
      """SELECT name, generation, num_dirs, num_rows, partitioning, columns
        |FROM graft.`sqlspec_meta#detail`""".stripMargin).collect()
    assert(det.length === 1)
    val r = det.head
    assert(r.getString(0) === "sqlspec_meta")
    assert(r.getLong(2) === 5L)
    assert(r.getLong(3) === 401L, "num_rows must be the exact count")
    assert(Option(r.getString(4)).exists(_.nonEmpty), "slice recorded")
    assert(r.getSeq[String](5).contains("id"))
    val planD = spark.sql("SELECT * FROM graft.`sqlspec_meta#detail`")
      .queryExecution.optimizedPlan
    assert(planD.collect {
      case l: LogicalRelation => l }.isEmpty, "detail must be manifest-only")
  }

  test("SQL conjunctions prune multi-dimensionally on a z-ordered table") {
    // x/y uniform grid, initially sliced by x-range only: a y-only
    // predicate can't prune. After OPTIMIZE ZORDER(x, y) each dir is a
    // z-rectangle with tight stats on BOTH columns — the SQL x AND y
    // conjunction must intersect both pruning dimensions.
    val root = Files.createTempDirectory("graft_sqlspec_").toString + "/t"
    val df = spark.range(0, 64 * 64).toDF("i")
      .select((col("i") % 64).as("x"), (col("i") / 64).cast("long").as("y"))
    val dirs = ManifestCommit.writeSliced(spark, root, df,
      floor(col("x") / lit(4)), Seq("x", "y", ManifestCommit.RowCountStat))
    ManifestCommit.commitReplace(spark, root, dirs.map(_._1),
      pruneDisplaced = false, stats = dirs.toMap, schema = Some(df.schema))
    graft.ingest.Optimize.zorderCompactN(spark, root, Seq("x", "y"), 16,
      extraStatCols = Seq(ManifestCommit.RowCountStat))
    GraftSql.register("sqlspec_zorder", root)
    val q = spark.sql(
      """SELECT count(*) AS n FROM graft.sqlspec_zorder
        |WHERE x BETWEEN 10 AND 13 AND y BETWEEN 20 AND 23""".stripMargin)
    val scanned = scannedDirs(q)
    assert(scanned.size <= 4,
      s"x AND y must prune to a z-box neighborhood, got ${scanned.size} of 16")
    assert(q.collect().head.getLong(0) === 16L)
  }

  test("DELETE FROM prunes the rewrite set via stats and preserves cold dirs") {
    val root = mkTable("sqlspec_del")
    val coldBefore = ManifestCommit.readManifest(spark, root).get.dirs.toSet
    // range predicate: only the [100, 200) dir can match
    spark.sql("DELETE FROM graft.sqlspec_del WHERE id BETWEEN 120 AND 130")
    val m = ManifestCommit.readManifest(spark, root).get
    assert(m.op === Some("delete"))
    // exactly one dir displaced, three cold dirs byte-identical (same names)
    assert((coldBefore -- m.dirs.toSet).size === 1)
    assert((coldBefore & m.dirs.toSet).size === 3)
    val ids = spark.sql(
      "SELECT id FROM graft.sqlspec_del WHERE id BETWEEN 115 AND 135 ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    assert(ids === ((115L to 119L) ++ (131L to 135L)))
    assert(spark.sql("SELECT count(*) FROM graft.sqlspec_del")
      .collect().head.getLong(0) === 389L)
    // arbitrary (non-range) predicate still works, conservatively
    spark.sql("DELETE FROM graft.sqlspec_del WHERE id % 2 = 0 AND k = 3")
    val want = (0L until 400L)
      .filterNot(i => i >= 120 && i <= 130)
      .filterNot(i => i % 2 == 0 && i % 7 == 3)
    assert(spark.sql("SELECT count(*) FROM graft.sqlspec_del")
      .collect().head.getLong(0) === want.size.toLong)
  }

  test("UPDATE SET evaluates against the pre-update row; cold dirs survive") {
    val root = mkTable("sqlspec_upd")
    spark.sql(
      """UPDATE graft.sqlspec_upd SET k = id, v = concat(v, '!')
        |WHERE id BETWEEN 200 AND 205""".stripMargin)
    val m = ManifestCommit.readManifest(spark, root).get
    assert(m.op === Some("update"))
    // merge-on-read UPDATE (q181): the small matched set routes as a
    // position DV on the hot dir + one appended delta dir — all 4
    // original dirs survive untouched plus the appended images
    assert(m.dirs.size === 5)
    assert(m.dvs.nonEmpty, s"expected a deletion vector, got ${m.dvs}")
    val rows = spark.sql(
      """SELECT id, k, v FROM graft.sqlspec_upd
        |WHERE id BETWEEN 199 AND 206 ORDER BY id""".stripMargin).collect()
    rows.foreach { r =>
      val id = r.getLong(0)
      if (id >= 200 && id <= 205) {
        assert(r.getLong(1) === id)
        assert(r.getString(2) === s"v$id!")
      } else {
        assert(r.getLong(1) === id % 7)
        assert(r.getString(2) === s"v$id")
      }
    }
    assert(spark.sql("SELECT count(*) FROM graft.sqlspec_upd")
      .collect().head.getLong(0) === 400L)
  }

  test("DELETE with no matching rows is a no-op commit-wise") {
    val root = mkTable("sqlspec_del_noop")
    val genBefore = ManifestCommit.readManifest(spark, root).get.gen
    spark.sql("DELETE FROM graft.sqlspec_del_noop WHERE id > 100000")
    assert(ManifestCommit.readManifest(spark, root).get.gen === genBefore)
  }

  test("MERGE INTO: UPDATE SET * + INSERT *, cold dirs byte-identical") {
    val root = mkTable("sqlspec_merge")
    val coldBefore = ManifestCommit.readManifest(spark, root).get.dirs.toSet
    // matched keys 150..159 live in ONE dir ([100,200)); 1000.. are unmatched
    spark.range(150, 160).toDF("id")
      .union(spark.range(1000, 1005).toDF("id"))
      .withColumn("k", lit(-1L))
      .withColumn("v", concat(lit("m"), col("id")))
      .createOrReplaceTempView("sqlspec_merge_src")
    spark.sql(
      """MERGE INTO graft.sqlspec_merge t USING sqlspec_merge_src s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val m = ManifestCommit.readManifest(spark, root).get
    assert(m.op === Some("merge"))
    // exactly the [100,200) dir rewritten; 3 cold dirs survive by name
    assert((coldBefore & m.dirs.toSet).size === 3)
    assert(m.dirs.size === 4)
    val got = spark.sql(
      """SELECT id, k, v FROM graft.sqlspec_merge
        |WHERE id IN (149, 150, 159, 160, 1000, 1004) ORDER BY id""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(got === Seq(
      (149L, 149L % 7, "v149"), (150L, -1L, "m150"), (159L, -1L, "m159"),
      (160L, 160L % 7, "v160"), (1000L, -1L, "m1000"), (1004L, -1L, "m1004")))
    assert(spark.sql("SELECT count(*) FROM graft.sqlspec_merge")
      .collect().head.getLong(0) === 405L)
  }

  test("MERGE INTO: DELETE clause before UPDATE applies per source row") {
    val root = mkTable("sqlspec_merge_del")
    spark.range(200, 210).toDF("id")
      .withColumn("k", lit(0L))
      .withColumn("v", concat(lit("u"), col("id")))
      .withColumn("flag", when(col("id") % 2 === 0, lit("del")).otherwise(lit("keep")))
      .createOrReplaceTempView("sqlspec_merge_del_src")
    spark.sql(
      """MERGE INTO graft.sqlspec_merge_del t USING sqlspec_merge_del_src s
        |ON t.id = s.id
        |WHEN MATCHED AND s.flag = 'del' THEN DELETE
        |WHEN MATCHED THEN UPDATE SET t.id = s.id, t.k = s.k, t.v = s.v""".stripMargin)
    // even ids 200..208 deleted, odd ids 201..209 updated, no inserts
    assert(spark.sql("SELECT count(*) FROM graft.sqlspec_merge_del")
      .collect().head.getLong(0) === 395L)
    val got = spark.sql(
      """SELECT id, v FROM graft.sqlspec_merge_del
        |WHERE id BETWEEN 200 AND 209 ORDER BY id""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got === (200L to 209L).filter(_ % 2 == 1).map(i => (i, s"u$i")))
    assert(ManifestCommit.readManifest(spark, root).get.op === Some("merge"))
  }

  test("MERGE: an unmatched row satisfying the DELETE condition still INSERTs") {
    // matched-clause conditions never apply to unmatched rows (the SQL
    // contract) — the row must fall through to WHEN NOT MATCHED INSERT,
    // not be silently dropped as a no-op delete
    val root = mkTable("sqlspec_merge_unmdel")
    spark.range(2000, 2005).toDF("id") // all unmatched
      .withColumn("k", lit(0L))
      .withColumn("v", concat(lit("n"), col("id")))
      .withColumn("flag", lit(true)) // would-be DELETE condition holds
      .createOrReplaceTempView("sqlspec_merge_unmdel_src")
    spark.sql(
      """MERGE INTO graft.sqlspec_merge_unmdel t USING sqlspec_merge_unmdel_src s
        |ON t.id = s.id
        |WHEN MATCHED AND s.flag THEN DELETE
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(spark.sql(
      "SELECT count(*) FROM graft.sqlspec_merge_unmdel WHERE id >= 2000")
      .collect().head.getLong(0) === 5L,
      "unmatched rows with a true DELETE condition must insert")
    assert(ManifestCommit.read(spark, root).count() === 405L)
  }

  test("delete-only MERGE routes merge-on-read: no dir rewritten, DVs repoint") {
    val root = mkTable("sqlspec_merge_mor")
    val dirsBefore = ManifestCommit.readManifest(spark, root).get.dirs
    spark.range(0, 400, 100).toDF("id") // one key per dir
      .withColumn("drop_it", col("id") < 200)
      .createOrReplaceTempView("sqlspec_merge_mor_src")
    spark.sql(
      """MERGE INTO graft.sqlspec_merge_mor t USING sqlspec_merge_mor_src s
        |ON t.id = s.id
        |WHEN MATCHED AND s.drop_it THEN DELETE""".stripMargin)
    val m = ManifestCommit.readManifest(spark, root).get
    assert(m.dirs === dirsBefore, "merge-on-read must not rewrite any dir")
    assert(m.dvs.size === 2, s"ids 0 and 100 live in two dirs: ${m.dvs}")
    assert(m.op === Some("delete"))
    assert(spark.sql("SELECT count(*) FROM graft.sqlspec_merge_mor")
      .collect().head.getLong(0) === 398L)
    assert(spark.sql("SELECT count(*) FROM graft.sqlspec_merge_mor WHERE id IN (0, 100)")
      .collect().head.getLong(0) === 0L)
  }

  test("MERGE WITH SCHEMA EVOLUTION adds source-only columns; cold dirs null-fill") {
    val root = mkTable("sqlspec_merge_evo")
    spark.range(150, 160).toDF("id")
      .withColumn("k", lit(-1L))
      .withColumn("v", concat(lit("e"), col("id")))
      .withColumn("tag", lit("hot"))
      .createOrReplaceTempView("sqlspec_merge_evo_src")
    spark.sql(
      """MERGE WITH SCHEMA EVOLUTION INTO graft.sqlspec_merge_evo t
        |USING sqlspec_merge_evo_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val m = ManifestCommit.readManifest(spark, root).get
    assert(m.tableSchema.get.fieldNames.contains("tag"),
      "evolved column must be recorded in the union schema")
    val got = spark.sql(
      """SELECT id, v, tag FROM graft.sqlspec_merge_evo
        |WHERE id IN (1, 150, 159) ORDER BY id""".stripMargin).collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.getString(2)))).toSeq
    assert(got === Seq(
      (1L, "v1", None), // cold-dir row: evolved column null-fills
      (150L, "e150", Some("hot")), (159L, "e159", Some("hot"))))
    assert(spark.sql("SELECT count(*) FROM graft.sqlspec_merge_evo")
      .collect().head.getLong(0) === 400L)
    // WITHOUT the clause, extra source columns are dropped, not evolved
    val root2 = mkTable("sqlspec_merge_noevo")
    spark.sql(
      """MERGE INTO graft.sqlspec_merge_noevo t
        |USING sqlspec_merge_evo_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
    assert(!ManifestCommit.readManifest(spark, root2).get
      .tableSchema.get.fieldNames.contains("tag"))
  }

  test("MERGE rejections carry actionable messages") {
    mkTable("sqlspec_merge_bad")
    spark.range(0, 5).toDF("id").withColumn("k", lit(0L))
      .withColumn("v", lit("x")).createOrReplaceTempView("sqlspec_merge_bad_src")
    def mergeErr(sql: String): String =
      intercept[Exception](spark.sql(sql)).getMessage
    // insert-only merge
    assert(mergeErr(
      """MERGE INTO graft.sqlspec_merge_bad t USING sqlspec_merge_bad_src s
        |ON t.id = s.id
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      .contains("INSERT requires an UPDATE clause"))
    // partial UPDATE: v unassigned — full-row replace can't keep it
    assert(mergeErr(
      """MERGE INTO graft.sqlspec_merge_bad t USING sqlspec_merge_bad_src s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET t.k = s.k""".stripMargin)
      .contains("UPDATE SET *"))
    // non-equi ON
    assert(mergeErr(
      """MERGE INTO graft.sqlspec_merge_bad t USING sqlspec_merge_bad_src s
        |ON t.id > s.id
        |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
      .contains("equi-join"))
    // time-travel target
    assert(mergeErr(
      """MERGE INTO graft.`sqlspec_merge_bad@v1` t USING sqlspec_merge_bad_src s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
      .contains("time-travel"))
  }

  test("register rejects the metadata-table suffix '#'") {
    val e = intercept[Exception](GraftSql.register("a#history", "/tmp/x"))
    assert(e.getMessage.contains("#"))
  }

  test("nondeterministic SQL DML conditions are rejected") {
    mkTable("sqlspec_nondet")
    val e = intercept[Exception] {
      spark.sql("DELETE FROM graft.sqlspec_nondet WHERE rand() < 0.5")
    }
    assert(e.getMessage.contains("deterministic"), e.getMessage)
    val e2 = intercept[Exception] {
      spark.sql("UPDATE graft.sqlspec_nondet SET k = CAST(rand() * 10 AS BIGINT) WHERE id = 1")
    }
    assert(e2.getMessage.contains("deterministic"), e2.getMessage)
  }

  test("INSERT applies store-assignment (ANSI) casts even with ansi off") {
    mkTable("sqlspec_ins_ansi")
    assert(spark.conf.get("spark.sql.ansi.enabled") === "false" ||
      spark.conf.get("spark.sql.ansi.enabled") === "true") // just witness the knob
    val prior = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      val e = intercept[Exception] {
        spark.sql("INSERT INTO graft.sqlspec_ins_ansi VALUES ('boom', 1, 'x')")
      }
      assert(e.getMessage.toLowerCase.matches("(?s).*(cast|invalid|ansi).*"),
        e.getMessage)
    } finally spark.conf.set("spark.sql.ansi.enabled", prior)
  }

  test("unregistered names fall through to Spark's own error") {
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM graft.sqlspec_nope_missing").collect()
    }
    assert(e.getMessage.toLowerCase.contains("not"), e.getMessage)
  }

  test("VERSION AS OF and TIMESTAMP AS OF pin the snapshot like @v") {
    val root = mkTable("sqlspec_asof") // gen 1: 400 rows
    Thread.sleep(15) // commit timestamps are mtime-ms; keep them apart
    val betweenMs = System.currentTimeMillis()
    Thread.sleep(15)
    spark.sql( // gen 2: +100 rows
      "INSERT INTO graft.sqlspec_asof SELECT id, id % 7 AS k, " +
        "concat('v', id) AS v FROM range(400, 500)")
    assert(spark.sql(
      "SELECT count(*) AS n FROM graft.sqlspec_asof VERSION AS OF 1")
      .head.getLong(0) === 400L)
    assert(spark.sql(
      "SELECT count(*) AS n FROM graft.sqlspec_asof VERSION AS OF 2")
      .head.getLong(0) === 500L)
    // an instant between the commits resolves to gen 1
    val lit = new java.sql.Timestamp(betweenMs).toString
    assert(spark.sql("SELECT count(*) AS n FROM graft.sqlspec_asof " +
      s"TIMESTAMP AS OF '$lit'").head.getLong(0) === 400L)
    // an instant after both resolves to the live generation
    val after = new java.sql.Timestamp(System.currentTimeMillis()).toString
    assert(spark.sql("SELECT count(*) AS n FROM graft.sqlspec_asof " +
      s"TIMESTAMP AS OF '$after'").head.getLong(0) === 500L)
    // time travel still prunes from the PINNED manifest's stats
    val pruned = spark.sql(
      "SELECT v FROM graft.sqlspec_asof VERSION AS OF 1 WHERE id BETWEEN 120 AND 130")
    assert(scannedDirs(pruned).size === 1)
    // pre-history instants and @v mixing fail crisply
    val e1 = intercept[Exception] {
      spark.sql("SELECT * FROM graft.sqlspec_asof " +
        "TIMESTAMP AS OF '2000-01-01 00:00:00'").collect()
    }
    assert(e1.getMessage.contains("predates"), e1.getMessage)
    val e2 = intercept[Exception] {
      spark.sql("SELECT * FROM graft.`sqlspec_asof@v1` VERSION AS OF 2").collect()
    }
    assert(e2.getMessage.contains("cannot combine"), e2.getMessage)
    assert(ManifestCommit.readAsOf(spark, root, betweenMs).count() === 400L)
  }

  test("retention sweep preserves commit timestamps (checkpoint materialization keeps mtime)") {
    val root = mkTable("sqlspec_ts_retain")
    (0 until 4).foreach { i =>
      Thread.sleep(12) // keep record mtimes apart at ms granularity
      spark.sql("INSERT INTO graft.sqlspec_ts_retain " +
        s"SELECT id, id % 7 AS k, concat('v', id) AS v FROM range(${400 + i * 10}, ${410 + i * 10})")
    }
    val before = ManifestCommit.commitTimestamps(spark, root).toMap
    Thread.sleep(12)
    val betweenMs = before(3L) + 1 // instant inside the retained window
    // keepLast=3 expires gens 1-2 and MATERIALIZES gen 3's delta record
    // as a checkpoint — which must not re-date the commit to sweep time
    ManifestCommit.expireSnapshots(spark, root, keepLast = 3)
    val after = ManifestCommit.commitTimestamps(spark, root).toMap
    assert(after.keySet === Set(3L, 4L, 5L))
    after.foreach { case (g, t) =>
      assert(t === before(g), s"gen $g re-dated by the sweep: ${before(g)} -> $t") }
    // timestamp travel across the whole retained window still resolves
    assert(ManifestCommit.genAsOf(spark, root, betweenMs) === 3L)
  }

  test("parseTsMillis interprets literals in the SESSION timezone, not the JVM default") {
    val tz = java.util.TimeZone.getDefault
    try {
      java.util.TimeZone.setDefault(
        java.util.TimeZone.getTimeZone("America/New_York"))
      // session TZ is UTC: the literal must mean 12:00 UTC even when the
      // JVM default says otherwise (java.sql.Timestamp.valueOf would
      // yield 16:00 UTC here)
      val ms = GraftSql.parseTsMillis(spark, "2026-08-01 12:00:00")
      assert(ms === java.time.Instant.parse("2026-08-01T12:00:00Z").toEpochMilli)
      assert(GraftSql.parseTsMillis(spark, "1754049600000") === 1754049600000L)
      // garbage errors (exception type follows the session's ANSI mode:
      // a cast failure under ANSI, our crisp require otherwise)
      intercept[Exception] { GraftSql.parseTsMillis(spark, "not-a-time") }
    } finally java.util.TimeZone.setDefault(tz)
  }

  test("commit timestamps are monotonic even under a clock step") {
    val root = mkTable("sqlspec_monotonic")
    spark.sql("INSERT INTO graft.sqlspec_monotonic " +
      "SELECT id, id % 7 AS k, concat('v', id) AS v FROM range(400, 410)")
    spark.sql("INSERT INTO graft.sqlspec_monotonic " +
      "SELECT id, id % 7 AS k, concat('v', id) AS v FROM range(410, 420)")
    // force gen 2's record mtime BEHIND gen 1's (clock step / file copy)
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val g1 = f.getFileStatus(
      new org.apache.hadoop.fs.Path(root, "_manifest.g1")).getModificationTime
    f.setTimes(new org.apache.hadoop.fs.Path(root, "_manifest.g2"),
      g1 - 60000L, -1L)
    val ts = ManifestCommit.commitTimestamps(spark, root)
    assert(ts.map(_._1) === Seq(1L, 2L, 3L))
    assert(ts.sliding(2).forall { case Seq(a, b) => b._2 > a._2; case _ => true },
      s"not monotonic: $ts")
    // ordering stays correct: asOf gen2's adjusted instant sees gen 2
    assert(ManifestCommit.genAsOf(spark, root, ts(1)._2) === 2L)
  }
}
