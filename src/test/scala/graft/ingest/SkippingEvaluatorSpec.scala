package graft.ingest

import graft.SparkSpec
import graft.ingest.ManifestCommit.ColStats
import graft.sql.{GraftRelation, GraftSql}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, Expression, IsNotNull}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, LogicalPlan, SubqueryAlias}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import java.nio.file.Files

/** The one data-skipping evaluator (`StatsPredicate.candidates`) is
  * SOUND and SHARED: the SQL read path scans exactly the dirs it
  * returns for the condition the data-skipping rule receives, the DSL
  * Column form of a predicate (the predicate-DML route) gets the same
  * set as its SQL spelling, and no dir holding a matching row is ever
  * left out. */
class SkippingEvaluatorSpec extends SparkSpec {

  /** 8 dirs (one per `blk`), sliced by `blk` and the bucket component
    * `pmod(hash(d), 4)` (d is constant per dir and NOT metered, so a
    * point on d prunes only through bucket pinning); min/max on the
    * long `k` and the ntz `ts`, `__nn_` counters, `__rows`, blooms on
    * `k`; `k` is all-null in the last dir. */
  private lazy val table: (String, StructType) = {
    val root = Files.createTempDirectory("graft_eval_").toString + "/t"
    val df = spark.range(0, 800).toDF("id")
      .withColumn("blk", (col("id") / 100).cast("int"))
      .withColumn("k", when(col("blk") < 7, col("id")))
      .withColumn("ts", expr("timestamp_ntz'2024-01-01 00:00:00' + " +
        "make_interval(0, 0, 0, 0, cast(id AS int), 0, 0)"))
      .withColumn("d", concat(lit("dom"), col("blk").cast("string")))
      .drop("id")
    val schema = StructType(df.schema.fields.map(_.copy(nullable = true)))
    val slice = ManifestCommit.compositeSlice(Seq("blk", "pmod(hash(d), 4)"))
    val dirs = ManifestCommit.writeSliced(spark, root, df, expr(slice),
      Seq("k", "ts", "pmod(hash(d), 4)", ManifestCommit.RowCountStat))
    // the all-null dir's bloom is the empty filter: every probe drops it
    dirs.foreach { case (d, _) => ManifestCommit.writeDirBloom(spark, d, "k", 100) }
    ManifestCommit.commitReplace(spark, root, dirs.map(_._1),
      pruneDisplaced = false, stats = dirs.toMap, schema = Some(schema),
      slice = Some(slice))
    GraftSql.register("skip_eval", root)
    spark.udf.register("skip_eval_udf", (x: Long) => x % 7 == 3)
    (root, schema)
  }

  private def manifest = ManifestCommit.readManifest(spark, table._1).get

  private def names = table._2.fieldNames.toSet

  private def base(d: String) = new org.apache.hadoop.fs.Path(d).getName

  private def candidatesOf(cond: Expression): Set[String] =
    StatsPredicate.candidates(spark, table._1, manifest,
      StatsPredicate.extract(cond).restrict(names), table._2).map(base).toSet

  private def query(pred: String): DataFrame =
    spark.sql(s"SELECT k, ts, d FROM graft.skip_eval WHERE $pred")

  /** data_* dirs the SQL read's optimized plan scans. */
  private def scanned(df: DataFrame): Set[String] =
    df.queryExecution.optimizedPlan.collect {
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.map(_.getName)
        case _ => Nil
      }
    }.flatten.filter(_.startsWith("data_")).toSet

  private def leafFilter(p: LogicalPlan): Expression = p.collectFirst {
    case Filter(c, _: GraftRelation) => c
    case Filter(c, SubqueryAlias(_, _: GraftRelation)) => c
  }.getOrElse(fail(s"no Filter on the graft leaf:\n$p"))

  /** The condition the data-skipping rule receives: Spark's optimizer
    * output on the leaf with the rule itself excluded. It carries the
    * `isnotnull(c)` conjuncts InferFiltersFromConstraints adds, which the
    * analyzed condition lacks. */
  private def ruleInput(pred: String): Expression = {
    val key = "spark.sql.optimizer.excludedRules"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, classOf[graft.sql.GraftDataSkipping].getName)
    try leafFilter(query(pred).queryExecution.optimizedPlan)
    finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Every row matching `cond`, by brute-force scan of all dirs. */
  private def matching(cond: Column): DataFrame =
    ManifestCommit.readDirsOf(spark, table._1, manifest, manifest.dirs,
      keepDir = true).filter(cond)

  // (SQL text, DSL Column form when the shape has one)
  private val cases: Seq[(String, Option[Column])] = Seq(
    "k BETWEEN 100 AND 199" -> Some(col("k").between(100, 199)),
    "k > 250 AND k < 420" -> Some(col("k") > 250 && col("k") < 420),
    "k < 50 OR k > 520" -> Some(col("k") < 50 || col("k") > 520),
    "k IN (5, 333, 521)" -> Some(col("k").isin(5, 333, 521)),
    "d = 'dom2'" -> Some(col("d") === "dom2"),
    "k IS NULL" -> Some(col("k").isNull),
    "ts >= TIMESTAMP'2024-01-30 00:00:00'" -> None,
    "skip_eval_udf(k)" -> None)

  cases.foreach { case (pred, dsl) =>
    test(s"one evaluator, sound and shared: $pred") {
      val all = manifest.dirs.map(base).toSet
      assert(all.size === 8)
      val q = query(pred)
      val sql = scanned(q)
      // (a) the SQL read scans exactly the evaluator's candidates for
      // the condition its rule receives, and never more than for the
      // analyzed condition (Spark's inferred isnotnull only narrows)
      val input = ruleInput(pred)
      assert(sql === candidatesOf(input), q.queryExecution.optimizedPlan)
      val analyzed = candidatesOf(leafFilter(q.queryExecution.analyzed))
      // the analyzed IN list (`cast(k AS bigint) IN (…)`) unwraps its
      // identity cast, and the bloom drops the all-null dir that only the
      // inferred isnotnull disproves by stats
      if (pred.startsWith("k IN")) assert(sql === analyzed, s"analyzed $analyzed")
      else assert(sql.subsetOf(analyzed), s"$sql vs analyzed $analyzed")
      // (b) the DSL Column form (the predicate-DML input), with the
      // isnotnull conjuncts Spark inferred for the SQL spelling, prunes
      // to the same set
      def conjuncts(e: Expression): Seq[Expression] = e match {
        case And(a, b) => conjuncts(a) ++ conjuncts(b)
        case x => Seq(x)
      }
      val inferred = conjuncts(input).collect {
        case IsNotNull(a: AttributeReference) => col(a.name).isNotNull }
      dsl.foreach(c => assert(candidatesOf(
        ColumnBridge.expression((c +: inferred).reduce(_ && _))) === sql, pred))
      // (c) sound: every dir holding a matching row is a candidate
      val hit = matching(expr(pred))
      val hitDirs = hit.select("__dir").distinct().collect().map(_.getString(0)).toSet
      assert(hitDirs.subsetOf(sql), s"pruned a matching dir: ${hitDirs -- sql}")
      assert(q.count() === hit.count())
      // the predicate shapes the evaluator understands prune something
      if (pred.startsWith("skip_eval_udf")) assert(sql === all)
      else assert(sql.size < all.size, s"$pred pruned nothing")
    }
  }

  test("a malformed __rows counter is no counter: no table row count, " +
      "#files shows null, count(*) scans") {
    val root = Files.createTempDirectory("graft_eval_").toString + "/bad"
    val d1 = ManifestCommit.newDataDir(root)
    spark.range(0, 50).toDF("id").write.parquet(d1)
    val d2 = ManifestCommit.newDataDir(root)
    spark.range(50, 80).toDF("id").write.parquet(d2)
    def rows(n: String) = Seq(ColStats(ManifestCommit.RowCountStat, "num", n, n))
    ManifestCommit.commitReplace(spark, root, Seq(d1, d2),
      pruneDisplaced = false, stats = Map(d1 -> rows("x"), d2 -> rows("30")),
      schema = Some(spark.range(1).toDF("id").schema))
    assert(ManifestCommit.tableRowCountOf(
      ManifestCommit.readManifest(spark, root).get) === None)
    GraftSql.register("skip_eval_badrows", root)
    val files = spark.sql("SELECT dir, rows FROM graft.`skip_eval_badrows#files`")
      .collect().map(r => base(r.getString(0)) -> Option(r.get(1))).toMap
    assert(files === Map(base(d1) -> None, base(d2) -> Some(30L)))
    val q = spark.sql("SELECT count(*) FROM graft.skip_eval_badrows")
    assert(!q.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
      "a malformed counter must not serve the fold")
    assert(q.collect().head.getLong(0) === 80L)
  }

  /** Bytes read so far through the local filesystem, every thread. */
  private def localBytesRead(): Long = {
    import scala.jdk.CollectionConverters._
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesRead).sum
  }

  test("a point lookup that stats narrow to one dir opens that dir's " +
      "bloom only") {
    val m = manifest
    val ex = StatsPredicate.extract(ColumnBridge.expression(
      col("k") === 250L && col("k").isNotNull)).restrict(names)
    val survivor = StatsPredicate.statsCandidates(m, ex, table._2)
    assert(survivor.size === 1 && m.dirs.size === 8)
    // every dir's bloom has the same size: one open reads `one` bytes
    val b0 = localBytesRead()
    ManifestCommit.bloomDirsOf(spark, table._1, m, "k", Seq(250L), survivor)
    val one = localBytesRead() - b0
    assert(one > 0L)
    val b1 = localBytesRead()
    val kept = StatsPredicate.candidates(spark, table._1, m, ex, table._2)
    assert(localBytesRead() - b1 === one, "bloom files opened beyond the survivor")
    assert(kept === survivor)
  }

  test("OPTIMIZE with bloom columns over a column that is all null in " +
      "the folded dir installs the empty filter; point lookups stay exact") {
    val root = Files.createTempDirectory("graft_eval_").toString + "/nullbloom"
    val dirs = Seq(0L, 50L).map { lo =>
      val d = ManifestCommit.newDataDir(root)
      spark.range(lo, lo + 50).toDF("id")
        .withColumn("b", lit(null).cast("string")).write.parquet(d)
      d -> ManifestCommit.dirStats(spark, d, Seq("id"))
    }
    ManifestCommit.commitReplace(spark, root, dirs.map(_._1),
      pruneDisplaced = false, stats = dirs.toMap,
      schema = Some(StructType(Seq(
        StructField("id", LongType), StructField("b", StringType)))))
    Optimize.compactSmall(spark, root, smallBytes = 1L << 30,
      bloomCols = Seq("id", "b"))
    assert(ManifestCommit.readManifest(spark, root).get.dirs.size === 1)
    val (none, keptB, _) = ManifestCommit.readBloom(spark, root, "b", "x")
    assert(keptB === 0 && none.count() === 0L)
    val (hit, keptId, _) = ManifestCommit.readBloom(spark, root, "id", 42L)
    assert(keptId === 1 && hit.filter(col("id") === 42L).count() === 1L)
    GraftSql.register("skip_eval_nullbloom", root)
    assert(spark.sql("SELECT count(*) FROM graft.skip_eval_nullbloom " +
      "WHERE b = 'x'").head().getLong(0) === 0L)
    assert(spark.sql("SELECT count(*) FROM graft.skip_eval_nullbloom " +
      "WHERE id = 42").head().getLong(0) === 1L)
  }
}
