package graft.ingest

import graft.{JobMeter, SparkSpec}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Per-column NON-NULL counters (`__nn_c`, round 18 — the Delta/Iceberg
  * nullCount idea) and what they arm: IS [NOT] NULL dir skipping,
  * metadata-only COUNT(c), and the whole-dir fast path that lets a
  * fully-covered DELETE / REPLACE WHERE displace a dir WITHOUT READING
  * IT — proven here by corrupting the covered dir's data file first. */
class NullStatsSpec extends SparkSpec {

  /** 3 dirs sliced by id/100: [0,100) has NO nulls in `c`, [100,200)
    * has some, [200,300) is ALL null. */
  private def mkTable(name: String): String = {
    val root = Files.createTempDirectory("graft_nn_").toString + "/t"
    val df = spark.range(0, 300).toDF("id")
      .withColumn("c", when(col("id") < 100, concat(lit("v"), col("id")))
        .when(col("id") < 200 && col("id") % 3 === 0, lit(null))
        .when(col("id") < 200, concat(lit("w"), col("id")))
        .otherwise(lit(null)))
    val slice = floor(col("id") / lit(100))
    val dirs = ManifestCommit.writeSliced(spark, root, df, slice,
      Seq("id", "c", ManifestCommit.RowCountStat))
    ManifestCommit.commitReplace(spark, root, dirs.map(_._1),
      pruneDisplaced = false, stats = dirs.toMap, schema = Some(df.schema),
      slice = Some(ManifestCommit.sliceSql(slice)))
    graft.sql.GraftSql.register(name, root)
    root
  }

  private def scanned(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.map(_.getName).toSeq
          case _ => Nil
        }
    }.flatten.filter(_.startsWith("data_")).distinct.size

  test("IS NULL / IS NOT NULL prune dirs through the non-null counters") {
    mkTable("nn_prune")
    // nulls exist only in dirs 2 and 3 — the null-free dir is skipped
    val isNull = spark.sql(
      "SELECT id FROM graft.nn_prune WHERE c IS NULL")
    assert(scanned(isNull) === 2, s"IS NULL must skip the null-free dir")
    assert(isNull.count() === 133) // 33 in [100,200) + all 100 of [200,300)
    // non-null values exist only in dirs 1 and 2 — the all-null dir skips
    val notNull = spark.sql(
      "SELECT id FROM graft.nn_prune WHERE c IS NOT NULL")
    assert(scanned(notNull) === 2, "IS NOT NULL must skip the all-null dir")
    assert(notNull.count() === 167)
    // programmatic DSL spelling rides the same machinery
    val ex = StatsPredicate.extract(
      org.apache.spark.sql.graftbridge.ColumnBridge.expression(
        col("c").isNull))
    assert(ex.isNull === Seq("c"))
  }

  test("COUNT(c) answers from the counters with a LocalRelation plan") {
    val root = mkTable("nn_count")
    val q = spark.sql(
      "SELECT count(c) AS n, count(*) AS all FROM graft.nn_count")
    assert(q.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
      q.queryExecution.optimizedPlan.toString)
    assert(q.collect().head.toSeq === Seq(167L, 300L))
    // a DV on the NULL-FREE dir keeps the fold (r19): __nn_c == __rows
    // there, so COUNT(c) = live rows — exact through the delete
    MergeInto.deleteWhere(spark, root, spark.range(0, 10).toDF("id"))
    val q2 = spark.sql("SELECT count(c) AS n FROM graft.nn_count")
    assert(q2.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
      q2.queryExecution.optimizedPlan.toString)
    assert(q2.collect().head.getLong(0) === 157L)
    // a DV on a NULL-BEARING dir makes nullness-through-deletes
    // unknowable — ordinary expansion, same answer
    MergeInto.deleteWhere(spark, root, spark.range(102, 103).toDF("id"))
    val q3 = spark.sql("SELECT count(c) AS n FROM graft.nn_count")
    assert(!q3.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    assert(q3.collect().head.getLong(0) === 157L) // id 102's c was null
  }

  test("fully-covered DELETE drops the dir with zero jobs and ZERO reads " +
      "(corrupted data file proves no scan)") {
    val root = mkTable("nn_drop")
    val m = ManifestCommit.readManifest(spark, root).get
    // corrupt every parquet file of the to-be-dropped dir [0,100): any
    // read attempt would now throw — the ultimate no-read witness
    val dir0 = m.dirs.find(d => m.stats(d)
      .exists(s => s.col == "id" && s.min == "0")).get
    val f = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    f.listStatus(new org.apache.hadoop.fs.Path(
      ManifestCommit.dirAbs(root, dir0))).filter(_.getPath.getName.endsWith(".parquet"))
      .foreach { st =>
        val out = f.create(st.getPath, true)
        out.write("corrupt".getBytes); out.close()
      }
    // <= 99, not < 100: extraction renders a CLOSED upper bound, so
    // `< 100` keeps the [100,200) dir as a witness candidate (one
    // read job); `<= 99` stats-prunes it and the whole op is
    // metadata-only
    val probe = JobMeter.measure(spark)(
      MergeInto.deleteRows(spark, root, col("id") <= 99))
    val res = probe.value
    assert(probe.count === 0, s"whole-dir delete must run ZERO Spark jobs")
    assert(res.dirsRewritten === 1 && res.rowsAffected === 100L)
    val m2 = ManifestCommit.readManifest(spark, root).get
    assert(!m2.dirs.contains(dir0))
    assert(ManifestCommit.read(spark, root).count() === 200L)
  }

  test("a dir with NULLS in a referenced column never takes the fast " +
      "path: NULL-predicate rows survive the delete") {
    val root = mkTable("nn_guard")
    // [100,200) has nulls in c: `c IS NOT NULL` is TRUE for 66 rows and
    // NULL never — but `c >= 'w'`-style predicates evaluate NULL on the
    // null rows; a whole-dir drop would destroy them
    val res = MergeInto.deleteRows(spark, root,
      col("id") >= 100 && col("id") < 200 && col("c") >= "w")
    assert(res.rowsAffected === 67L)
    // the 34 null-c rows of that dir are KEPT
    val kept = ManifestCommit.read(spark, root)
      .filter(col("id") >= 100 && col("id") < 200)
    assert(kept.count() === 33L)
    assert(kept.filter(col("c").isNotNull).count() === 0L)
  }

  test("compaction re-requests an all-null column through baseStatCol: " +
      "the __nn_ counter survives the fold") {
    val root = Files.createTempDirectory("graft_nn_").toString + "/t"
    val df = spark.range(0, 40).toDF("id")
      .withColumn("c", lit(null).cast("string")) // all null everywhere
    // two small dirs so compactSmall folds them
    (0 until 2).foreach { i =>
      val d = ManifestCommit.newDataDir(root)
      df.filter(col("id") % 2 === i).write.parquet(d)
      val st = ManifestCommit.dirStats(spark, d,
        Seq("id", "c", ManifestCommit.RowCountStat))
      if (i == 0) ManifestCommit.commitReplace(spark, root, Seq(d),
        pruneDisplaced = false, stats = Map(d -> st), schema = Some(df.schema))
      else ManifestCommit.commitAppend(spark, root, d, stats = st)
    }
    val pre = ManifestCommit.readManifest(spark, root).get
    assert(pre.dirs.forall(d => pre.stats(d)
      .exists(_.col == ManifestCommit.nnStat("c"))))
    Optimize.compactSmall(spark, root, smallBytes = 128L << 20)
    val post = ManifestCommit.readManifest(spark, root).get
    assert(post.dirs.size === 1)
    val cols = post.stats(post.dirs.head).map(_.col).toSet
    assert(cols.contains(ManifestCommit.nnStat("c")),
      s"folded dir lost the all-null column's counter: $cols")
    // the counter still proves all-null: IS NOT NULL scans nothing
    assert(ManifestCommit.read(spark, root)
      .filter(col("c").isNotNull).count() === 0L)
  }

  test("REPLACE WHERE takes the whole-dir fast path: the covered dir is " +
      "never read (corrupted), the insert still lands sliced") {
    val root = mkTable("nn_rw")
    val m = ManifestCommit.readManifest(spark, root).get
    val dir0 = m.dirs.find(d => m.stats(d)
      .exists(s => s.col == "id" && s.min == "0")).get
    val f = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    f.listStatus(new org.apache.hadoop.fs.Path(
      ManifestCommit.dirAbs(root, dir0))).filter(_.getPath.getName.endsWith(".parquet"))
      .foreach { st =>
        val out = f.create(st.getPath, true)
        out.write("corrupt".getBytes); out.close()
      }
    MergeInto.replaceWhere(spark, root,
      spark.range(0, 5).toDF("id").withColumn("c", lit("fresh")),
      col("id") < 100)
    val got = ManifestCommit.read(spark, root)
    assert(got.filter(col("id") < 100).count() === 5L)
    assert(got.count() === 205L)
  }
}
