package graft.ingest

import graft.{JobMeter, SparkSpec}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.Files

/** Deletion vectors applied by the in-scan filter give exactly the rows
  * of a brute-force model: each dir's raw rows minus those whose DV key
  * tuple (no null component; numbers compared by value, NaN equal to
  * NaN, -0.0 to 0.0) is in the dir's own DV. */
class DvApplySpec extends SparkSpec {
  import ManifestCommit.{Manifest, dirAbs}

  private def newRoot(): String =
    Files.createTempDirectory("dv_apply_spec_").toString + "/t"

  private def manifest(root: String): Manifest =
    ManifestCommit.readManifest(spark, root).get

  private def canon(v: Any): Any = v match {
    case null => null
    case d: Double => if (d.isNaN) "NaN" else BigDecimal(d)
    case f: Float => if (f.isNaN) "NaN" else BigDecimal(f.toDouble)
    case n: Int => BigDecimal(n)
    case n: Long => BigDecimal(n)
    case n: Short => BigDecimal(n.toInt)
    case n: Byte => BigDecimal(n.toInt)
    case n: java.math.BigDecimal => BigDecimal(n)
    case b: Array[Byte] => b.toSeq
    case o => o
  }

  private def render(r: Row, cols: Seq[String]): String =
    cols.map(c => String.valueOf(r.get(r.fieldIndex(c)))).mkString("|")

  /** The model's rows of `m` (read in `schema`/`colmap` when given). */
  private def model(root: String, m: Manifest,
      schema: Option[StructType] = None,
      colmap: Option[Map[String, String]] = None): Seq[String] = {
    val cols = ManifestCommit.readDirsOf(spark, root, m.copy(dvs = Map.empty),
      m.dirs, schema, colmap).columns.toSeq
    m.dirs.flatMap { d =>
      val dv = m.dvs.get(d).map(f =>
        ManifestCommit.readDvs(spark, Seq(dirAbs(root, f))))
      val keyCols = dv.map(_.columns.toSeq).getOrElse(Nil)
      val dead: Set[Seq[Any]] = dv.map(_.collect().toSeq
        .map(r => keyCols.indices.map(i => canon(r.get(i))): Seq[Any])
        .filterNot(_.contains(null)).toSet).getOrElse(Set.empty[Seq[Any]])
      ManifestCommit.readDirsOf(spark, root, m.copy(dvs = Map.empty), Seq(d),
          schema, colmap, keepPos = keyCols.contains(ManifestCommit.PosFileCol))
        .collect().toSeq
        .filterNot { r =>
          val k = keyCols.map(c => canon(r.get(r.fieldIndex(c))))
          k.nonEmpty && !k.contains(null) && dead(k)
        }
        .map(render(_, cols))
    }.sorted
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(render(_, df.columns.toSeq)).sorted

  private def assertParity(root: String, m: Manifest = null,
      schema: Option[StructType] = None,
      colmap: Option[Map[String, String]] = None): Seq[String] = {
    val mm = Option(m).getOrElse(manifest(root))
    val got = rows(ManifestCommit.readDirsOf(spark, root, mm, mm.dirs, schema, colmap))
    assert(got === model(root, mm, schema, colmap))
    got
  }

  private def writeDir(root: String, schema: StructType, rs: Row*): String = {
    val d = ManifestCommit.newDataDir(root)
    mkDf(schema, rs: _*).coalesce(1).write.parquet(d)
    d
  }

  /** A DV dir written by hand at the table root; its manifest name. */
  private def writeDv(root: String, schema: StructType, rs: Row*): String = {
    val name = s"_dv_${java.util.UUID.randomUUID().toString.replace("-", "").take(16)}"
    mkDf(schema, rs: _*).coalesce(1).write.parquet(s"$root/$name")
    name
  }

  private val abv = StructType(Seq(StructField("a", LongType, true),
    StructField("b", StringType, true), StructField("v", DoubleType, true)))
  private val ab = StructType(abv.fields.take(2))

  test("multi-column keys with null components; a DV file shared by two dirs") {
    val root = newRoot()
    val d1 = writeDir(root, abv, Row(1L, "x", 1.0), Row(1L, null, 2.0),
      Row(null, "x", 3.0), Row(2L, "y", 4.0), Row(3L, "z", 5.0))
    val d2 = writeDir(root, abv, Row(1L, "x", 6.0), Row(2L, "y", 7.0),
      Row(4L, "w", 8.0))
    val d3 = writeDir(root, abv, Row(3L, "z", 9.0), Row(1L, "x", 10.0))
    // null components in the DV never match, not even a null in the data
    val shared = writeDv(root, ab, Row(1L, "x"), Row(1L, null), Row(null, "x"),
      Row(2L, "y"))
    val own = writeDv(root, ab, Row(3L, "z"))
    ManifestCommit.commitReplace(spark, root, Seq(d1, d2, d3),
      pruneDisplaced = false, schema = Some(abv),
      dvs = Map(d1 -> shared, d2 -> shared, d3 -> own))
    val got = assertParity(root)
    assert(got === Seq("1|null|2.0", "1|x|10.0", "3|z|5.0", "4|w|8.0",
      "null|x|3.0"))
    val plan = ManifestCommit.read(spark, root).queryExecution.executedPlan.toString
    assert(plan.linesIterator.count(_.matches(".*Filter .*dv_deleted\\(.*")) === 1, plan)
    // two reads of one generation plan equal, so a cached read is found again
    assert(ManifestCommit.read(spark, root).queryExecution.optimizedPlan.sameResult(
      ManifestCommit.read(spark, root).queryExecution.optimizedPlan))
  }

  test("float and double keys match as the join matched them: NaN = NaN, -0.0 = 0.0") {
    val root = newRoot()
    val s = StructType(Seq(StructField("k", DoubleType, true),
      StructField("f", FloatType, true), StructField("v", IntegerType, true)))
    val d = writeDir(root, s, Row(0.0, 0.0f, 1), Row(-0.0, -0.0f, 2),
      Row(Double.NaN, Float.NaN, 3), Row(1.5, 1.5f, 4), Row(2.5, 2.5f, 5),
      Row(null, 2.5f, 6))
    val dv = writeDv(root, StructType(s.fields.take(2)), Row(-0.0, 0.0f),
      Row(Double.NaN, Float.NaN), Row(2.5, 2.5f))
    ManifestCommit.commitReplace(spark, root, Seq(d), pruneDisplaced = false,
      schema = Some(s), dvs = Map(d -> dv))
    assert(assertParity(root) === Seq("1.5|1.5|4", "null|2.5|6"))
  }

  test("merge-on-read position DVs, and a key DV converted to positions") {
    val root = newRoot()
    val s = StructType(Seq(StructField("id", LongType, true),
      StructField("v", StringType, true)))
    val d = writeDir(root, s, (0L until 20L).map(i => Row(i, s"v$i")): _*)
    val st = ManifestCommit.dirStats(spark, d, Seq("id")) :+
      ManifestCommit.rowCountStat(spark, d)
    ManifestCommit.commitReplace(spark, root, Seq(d), pruneDisplaced = false,
      schema = Some(s), stats = Map(d -> st))
    MergeInto.deleteWhere(spark, root, spark.range(3, 4).toDF("id"))
    // the key DV becomes positions, joined by the update's own positions
    MergeInto.updateRows(spark, root, Seq("v" -> lit("upd")), col("id") === 5L,
      mode = "mor")
    MergeInto.updateRows(spark, root, Seq("v" -> lit("again")),
      col("id") === 7L || col("id") === 5L, mode = "mor")
    val m = manifest(root)
    assert(m.dvs.nonEmpty && m.dvs.values.forall(f => ManifestCommit.dvColumnsOf(
      spark, dirAbs(root, f)).contains(ManifestCommit.PosFileCol)))
    val got = assertParity(root)
    assert(got.size === 19 && got.contains("5|again") && got.contains("7|again") &&
      !got.exists(_.startsWith("3|")))
  }

  test("a key column renamed before the delete: the DV names it logically") {
    val root = newRoot()
    val s = StructType(Seq(StructField("id", LongType, true),
      StructField("v", StringType, true)))
    val d = writeDir(root, s, (0L until 6L).map(i => Row(i, s"v$i")): _*)
    ManifestCommit.commitReplace(spark, root, Seq(d), pruneDisplaced = false,
      schema = Some(s), stats = Map(d -> ManifestCommit.dirStats(spark, d, Seq("id"))))
    ManifestCommit.renameColumn(spark, root, "id", "key")
    MergeInto.deleteWhere(spark, root, spark.range(2, 4).toDF("key"))
    val m = manifest(root)
    assert(m.colmap === Map("key" -> "id") &&
      ManifestCommit.dvColumnsOf(spark, dirAbs(root, m.dvs(d.split('/').last))) === Seq("key"))
    assert(assertParity(root) === Seq("0|v0", "1|v1", "4|v4", "5|v5"))
  }

  test("a key widened by ALTER TYPE after its DV was written compares in the wide type") {
    Seq(LongType, DoubleType, DecimalType(20, 0)).foreach { wide =>
      val root = newRoot()
      val s = StructType(Seq(StructField("k", IntegerType, true),
        StructField("v", StringType, true)))
      val d = writeDir(root, s, (0 until 8).map(i => Row(i, s"v$i")): _*)
      ManifestCommit.commitReplace(spark, root, Seq(d), pruneDisplaced = false,
        schema = Some(s), stats = Map(d -> ManifestCommit.dirStats(spark, d, Seq("k"))))
      MergeInto.deleteWhere(spark, root,
        spark.range(2, 5).select(col("id").cast("int").as("k")))
      val withDv = manifest(root)
      // the live DV refuses the widening: fold it away first
      Optimize.compactSmall(spark, root, Long.MaxValue)
      ManifestCommit.alterColumnType(spark, root, "k", wide)
      val wideSchema = manifest(root).tableSchema
      assert(wideSchema.get("k").dataType === wide)
      // the DV'd generation read in the widened schema, as the change
      // feed reads it
      val got = assertParity(root, withDv, wideSchema)
      assert(got.size === 5 && got.map(_.split('|')(1)) ===
        Seq("v0", "v1", "v5", "v6", "v7"), s"$wide: $got")
      val feed = ChangeFeed.diff(spark, root, withDv.gen, manifest(root).gen, Seq("k"))
      assert(feed.count() === 0L, s"$wide: a widening changes no row")
    }
  }

  test("time travel to a generation with an older DV; a shallow clone's external DV") {
    val root = newRoot()
    val s = StructType(Seq(StructField("id", LongType, true),
      StructField("v", StringType, true)))
    val d = writeDir(root, s, (0L until 10L).map(i => Row(i, s"v$i")): _*)
    ManifestCommit.commitReplace(spark, root, Seq(d), pruneDisplaced = false,
      schema = Some(s), stats = Map(d -> ManifestCommit.dirStats(spark, d, Seq("id"))))
    MergeInto.deleteWhere(spark, root, spark.range(1, 2).toDF("id"))
    val g2 = manifest(root)
    MergeInto.deleteWhere(spark, root, spark.range(5, 7).toDF("id"))
    val g3 = manifest(root)
    assert(g2.dvs.values.toSet != g3.dvs.values.toSet)
    assert(rows(ManifestCommit.readAt(spark, root, g2.gen)).size === 9)
    assert(assertParity(root, g2).size === 9)
    assert(rows(ManifestCommit.readAt(spark, root, g3.gen)) === assertParity(root, g3))
    assert(assertParity(root, g3).size === 7)
    // a clone of generation 2 reads the source's DV by its absolute path
    val clone = newRoot()
    ManifestCommit.shallowClone(spark, root, clone, Some(g2.gen))
    val cm = manifest(clone)
    assert(cm.dvs.values.forall(ManifestCommit.isExternal(clone, _)))
    assert(rows(ManifestCommit.read(spark, clone)) === assertParity(clone))
    assert(assertParity(clone) === assertParity(root, g2))
  }

  test("an evicted DV is read again, counted, and gives the same rows; " +
      "the first read loads it with no Spark job") {
    val root = newRoot()
    val s = StructType(Seq(StructField("id", LongType, true),
      StructField("v", StringType, true)))
    val dirs = (0 until 3).map(i =>
      writeDir(root, s, (0L until 5L).map(j => Row(i * 10L + j, s"v$j")): _*))
    ManifestCommit.commitReplace(spark, root, dirs, pruneDisplaced = false,
      schema = Some(s),
      stats = dirs.map(d => d -> ManifestCommit.dirStats(spark, d, Seq("id"))).toMap)
    MergeInto.deleteWhere(spark, root, spark.createDataFrame(
      Seq(1L, 12L, 23L, 24L).map(Tuple1(_))).toDF("id"))
    val m = manifest(root)
    val noDv = m.copy(dvs = Map.empty)
    val plainJobs = jobsOf(ManifestCommit.readDirsOf(spark, root, noDv, m.dirs).collect())
    DvApply.cache.clear()
    val loads0 = DvApply.cache.loads.get
    val first = JobMeter.measure(spark)(rows(ManifestCommit.read(spark, root)))
    assert(first.count === plainJobs, "loading the DVs must run no job")
    assert(DvApply.cache.loads.get - loads0 === 3L)
    val again = rows(ManifestCommit.read(spark, root))
    assert(DvApply.cache.loads.get - loads0 === 3L, "a cached DV is not re-read")
    DvApply.cache.clear()
    assert(rows(ManifestCommit.read(spark, root)) === again)
    assert(DvApply.cache.loads.get - loads0 === 6L, "an evicted DV is re-read")
    assert(first.value === again && again === model(root, m) && again.size === 11)
  }

  test("the LRU holds at most its bound of key tuples; an over-bound set is counted") {
    def keys(n: Int): DvApply.Keys = {
      val set = new java.util.HashSet[AnyRef]()
      (0 until n).foreach(i => set.add(Long.box(i.toLong)))
      new DvApply.Keys(StructType(Seq(StructField("k", LongType))), set)
    }
    val lru = new DvApply.Lru(5)
    lru.get("a")(keys(3)); lru.get("b")(keys(2))
    assert(lru.cached("a") && lru.cached("b") && lru.evictions.get === 0L)
    lru.get("a")(fail("a is cached")) // touch a: b is now the eldest
    lru.get("c")(keys(2))
    assert(lru.cached("a") && !lru.cached("b") && lru.cached("c"))
    assert(lru.evictions.get === 1L)
    lru.get("d")(keys(6))
    assert(!lru.cached("d") && lru.overBound.get === 1L && lru.cached("a"))
    lru.get("d")(keys(6))
    assert(lru.loads.get === 5L && lru.overBound.get === 2L)
  }

  test("COUNT(*) over a DV'd dir is never answered from parquet footers") {
    val root = newRoot()
    val s = StructType(Seq(StructField("id", LongType, true),
      StructField("v", StringType, true)))
    val d = writeDir(root, s, (0L until 10L).map(i => Row(i, s"v$i")): _*)
    ManifestCommit.commitReplace(spark, root, Seq(d), pruneDisplaced = false,
      schema = Some(s), stats = Map(d -> ManifestCommit.dirStats(spark, d, Seq("id"))))
    MergeInto.deleteWhere(spark, root, spark.range(0, 4).toDF("id"))
    assert(spark.conf.get("spark.sql.parquet.aggregatePushdown") === "true")
    val df = ManifestCommit.read(spark, root)
    assert(df.count() === 6L && df.agg(count(lit(1))).head.getLong(0) === 6L)
    val plan = df.agg(count(lit(1))).queryExecution.executedPlan.toString
    assert(plan.contains("dv_deleted(") && !plan.contains("PushedAggregation"), plan)
    assert(model(root, manifest(root)).size === 6)
  }

  test("a second table whose DVs hold other keys of the same types compiles no new class") {
    def table(keys: Seq[Long], dvPairs: Seq[(Long, String)]): String = {
      val root = newRoot()
      val dirs = (0 until 2).map(i => writeDir(root, abv,
        keys.map(k => Row(k + i * 100, s"s$k", k.toDouble)): _*))
      val dv = writeDv(root, ab, dvPairs.map { case (a, b) => Row(a, b) }: _*)
      ManifestCommit.commitReplace(spark, root, dirs, pruneDisplaced = false,
        schema = Some(abv), dvs = dirs.map(_ -> dv).toMap)
      root
    }
    def compiles[T](f: => T): (T, Long) = {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val out = f
      (out, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0)
    }
    val r1 = table(Seq(1L, 2L, 3L), Seq(1L -> "s1", 102L -> "s2"))
    val r2 = table(Seq(7L, 8L, 9L), Seq(8L -> "s8", 109L -> "s9", 5L -> "zz"))
    assert(rows(ManifestCommit.read(spark, r1)).size === 4)
    val (got, n) = compiles(rows(ManifestCommit.read(spark, r2)))
    assert(got === model(r2, manifest(r2)) && got.size === 4)
    assert(n === 0L, s"reading the second table compiled $n classes")
  }
}
