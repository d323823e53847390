package graft.ingest

import graft.SparkSpec
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.Files

/** MERGE's and the DV delete's exact affected-dir test: one aggregate
  * over the source whose generated code depends only on the key's type
  * (the dir bounds ride as data), so a change batch that follows another
  * on a table whose dirs and bounds moved compiles nothing new; and the
  * touched set is exactly the dirs whose [min, max] holds a source key. */
class DmlCodegenSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", LongType, true),
    StructField("v", StringType, true),
    StructField("amt", DoubleType, true)))

  private def src(rows: (java.lang.Long, String)*): DataFrame =
    mkDf(schema, rows.map { case (k, v) => Row(k, v, 1.0) }: _*)

  private def keys(ks: Long*): DataFrame =
    spark.createDataFrame(ks.map(Tuple1(_))).toDF("id")

  /** `n` dirs sliced by `id / width`; dir `i` holds ids `width·i` to
    * `width·i + 4` (stats on `id` and on its zero-padded string form `v`), so every
    * dir's key range has a gap above it. */
  private def table(n: Int, width: Int = 10): String = {
    val root = Files.createTempDirectory("dml_codegen_").toString + "/t"
    val df = spark.range(0, n.toLong * width).toDF("id")
      .filter(col("id") % width < 5)
      .withColumn("v", lpad(col("id").cast("string"), 4, "0"))
      .withColumn("amt", col("id").cast("double"))
    val dirs = ManifestCommit.writeSliced(spark, root, df,
      floor(col("id") / width).cast("string"), Seq("id", "v"))
    ManifestCommit.commitReplace(spark, root, dirs.map(_._1),
      pruneDisplaced = false, stats = dirs.toMap,
      schema = Some(StructType(df.schema.fields.map(_.copy(nullable = true)))))
    root
  }

  private def manifest(root: String) = ManifestCommit.readManifest(spark, root).get

  /** Live dirs whose recorded [min, max] of `c` holds one of `ks`. */
  private def holding(root: String, c: String, ks: Seq[Any]): Set[String] = {
    val m = manifest(root)
    m.dirs.filter(d => m.stats(d).find(_.col == c).exists(cs => ks.exists {
      case k: Long => BigDecimal(cs.min) <= k && k <= BigDecimal(cs.max)
      case k: String => cs.min <= k && k <= cs.max
    })).toSet
  }

  private def compiles[T](f: => T): (T, Long) = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val out = f
    (out, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0)
  }

  test("a merge and a DV delete after the table's dirs and key bounds " +
      "changed compile no new generated class") {
    val root = table(6, width = 100)
    // batch A: update in dir 0, insert into its gap (the new dir's range
    // grows to [0, 60]); a delete in dir 3
    MergeInto.merge(spark, root, src((3L, "a"), (60L, "a")), Seq("id"))
    MergeInto.deleteWhere(spark, root, keys(303L))
    // in between: an insert-only merge adds a dir (dir count 6 → 7)
    val before = manifest(root).dirs.size
    MergeInto.merge(spark, root, src((5000L, "x")), Seq("id"))
    assert(manifest(root).dirs.size === before + 1)
    // batch B: same shapes, other dirs, other bounds
    val (mr, mc) = compiles(
      MergeInto.merge(spark, root, src((203L, "b"), (270L, "b")), Seq("id")))
    assert(mr.dirsRewritten === 1 && mr.updated === 1 && mr.inserted === 1)
    assert(mc === 0L, s"merge of batch B compiled $mc classes")
    val (dr, dc) = compiles(MergeInto.deleteWhere(spark, root, keys(403L)))
    assert(dr.dvsWritten === 1 && dr.deleted === 1)
    assert(dc === 0L, s"deleteWhere of batch B compiled $dc classes")
  }

  test("the touched set is exactly the dirs whose range holds a key, " +
      "across 64-dir hit words") {
    val root = table(70)
    // 3 → dir 0; 653 → dir 65 (word 1); 694 → dir 69; 697 and 1000 fall
    // in gaps / past every range and touch nothing
    val ks = Seq(3L, 653L, 694L, 697L, 1000L)
    val want = holding(root, "id", ks)
    assert(want.size === 3)
    val before = manifest(root).dirs.toSet
    val r = MergeInto.merge(spark, root,
      src(ks.map(k => (Long.box(k), "u")): _*), Seq("id"))
    assert(r.dirsRewritten === 3 && r.updated === 3 && r.inserted === 2)
    assert(before -- manifest(root).dirs === want)
  }

  test("past 512 ranged dirs the exact test runs over the overlap " +
      "survivors") {
    val root = table(600)
    // [3, 5007] overlaps dirs 0 to 500; of those only 0 and 500 hold a key
    val ks = Seq(3L, 5003L, 5007L)
    val want = holding(root, "id", ks)
    assert(want.size === 2)
    val before = manifest(root).dirs.toSet
    val r = MergeInto.merge(spark, root,
      src(ks.map(k => (Long.box(k), "u")): _*), Seq("id"))
    assert(r.dirsRewritten === 2 && r.updated === 2 && r.inserted === 1)
    assert(before -- manifest(root).dirs === want)
  }

  test("a string key compares as a string") {
    val root = table(8)
    // "0013" lies in dir 1's ["0010", "0014"], "0059" in no dir's range
    val sk = Seq("0013", "0059")
    val sWant = holding(root, "v", sk)
    assert(sWant.size === 1)
    val sBefore = manifest(root).dirs.toSet
    val sSrc = spark.createDataFrame(java.util.Arrays.asList(
      sk.map(v => Row(v, 7.0)): _*),
      StructType(Seq(StructField("v", StringType), StructField("amt", DoubleType))))
      .withColumn("id", lit(null).cast("long"))
    val sr = MergeInto.merge(spark, root, sSrc.select("id", "v", "amt"), Seq("v"))
    assert(sr.dirsRewritten === 1 && sr.updated === 1 && sr.inserted === 1)
    assert(sBefore -- manifest(root).dirs === sWant)
  }

  test("a null delete key touches no dir (the DV delete's match is " +
      "null-unsafe)") {
    val root = table(4)
    val d = MergeInto.deleteWhere(spark, root,
      spark.createDataFrame(java.util.Arrays.asList(Row(null), Row(12L)),
        StructType(Seq(StructField("id", LongType)))))
    assert(d.dvsWritten === 1 && d.deleted === 1)
    assert(ManifestCommit.read(spark, root).count() === 4L * 5 - 1)
  }
}
