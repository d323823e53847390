package graft.ingest

import graft.SparkSpec
import graft.sql.GraftSql
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}
import java.nio.file.{Files, Paths}

/** Every manifest generation goes through ONE commit step
  * (`ManifestCommit.commit`). The metadata-only verbs re-state no dir, so
  * each writes an O(1) delta record whatever the table's dir count, time
  * travel serves every generation exactly, a stale generation CAS writes
  * nothing, and the verbs that need no data run no Spark job. */
class CommitPathSpec extends SparkSpec {

  /** A `nDirs`-dir table, two rows per dir, sliced on `k` with per-dir
    * stats on `k` only — so every verb below touches no per-dir stats. */
  private def mkTable(nDirs: Int): (String, String) = {
    val root = Files.createTempDirectory("commit_path_").toString + "/t"
    val df = spark.range(0, 2L * nDirs).toDF("k")
      .withColumn("v", col("k") * 10)
      .withColumn("w", concat(lit("w"), col("k")))
      .withColumn("n", col("k").cast("int"))
    val slice = floor(col("k") / 2)
    val dirs = ManifestCommit.writeSliced(spark, root, df, slice, Seq("k"))
    assert(dirs.size === nDirs)
    ManifestCommit.commitReplace(spark, root, dirs.map(_._1),
      pruneDisplaced = false, stats = dirs.toMap,
      schema = Some(StructType(df.schema.fields.map(_.copy(nullable = true)))),
      op = "create", slice = Some(ManifestCommit.sliceSql(slice)))
    val name = s"commit_path_$nDirs"
    GraftSql.register(name, root)
    (root, name)
  }

  /** (schema, sorted rows) of a table read. */
  private def contents(df: org.apache.spark.sql.DataFrame) =
    (df.schema, df.collect().map(_.toString).sorted.toSeq)

  private val jobsOfVerb = scala.collection.mutable.Map[(Int, String), Int]()

  /** Run the eight metadata verbs on a fresh table; returns the root,
    * the contents seen after each generation and the verb of each gen. */
  private def runVerbs(nDirs: Int) = {
    val (root, name) = mkTable(nDirs)
    val seen = scala.collection.mutable.LinkedHashMap[Long, (StructType, Seq[String])]()
    val verbOf = scala.collection.mutable.Map[Long, String]()
    def step(verb: String)(f: => Unit): Unit = {
      jobsOfVerb((nDirs, verb)) = jobsOf(f)
      val m = ManifestCommit.readManifest(spark, root).get
      verbOf(m.gen) = verb
      seen(m.gen) = contents(ManifestCommit.read(spark, root))
    }
    seen(1L) = contents(ManifestCommit.read(spark, root))
    step("add_constraint")(ManifestCommit.setCheck(spark, root, "k_nonneg", "k >= 0"))
    step("drop_constraint")(ManifestCommit.dropCheck(spark, root, "k_nonneg"))
    step("add_columns")(spark.sql(s"ALTER TABLE graft.`$name` ADD COLUMNS (x string)"))
    step("drop_columns")(spark.sql(s"ALTER TABLE graft.`$name` DROP COLUMNS (w)"))
    step("rename_column")(ManifestCommit.renameColumn(spark, root, "v", "v2"))
    step("alter_column_type")(ManifestCommit.alterColumnType(spark, root, "n", LongType))
    step("set_slice")(ManifestCommit.setSlice(spark, root, Some("pmod(k, 4)")))
    step("restore")(ManifestCommit.restore(spark, root, 1L))
    (root, name, seen.toMap, verbOf.toMap)
  }

  private lazy val small = runVerbs(8)
  private lazy val large = runVerbs(64)

  private def recordBytes(root: String, gen: Long): Long =
    Files.size(Paths.get(root, s"${ManifestCommit.ManifestFile}.g$gen"))

  test("(a) every metadata verb writes a delta record whose size does not " +
      "grow with the table's dir count (8 vs 64 dirs)") {
    for ((root, _, _, verbOf) <- Seq(small, large)) {
      val kinds = ManifestCommit.recordKinds(spark, root)
      assert(kinds(1L) === "full")
      verbOf.toSeq.sortBy(_._1).foreach { case (g, verb) =>
        assert(kinds(g) === "delta", s"$verb (gen $g) wrote a ${kinds(g)} record")
      }
    }
    assert(small._4 === large._4)
    small._4.toSeq.sortBy(_._1).foreach { case (g, verb) =>
      assert(recordBytes(small._1, g) === recordBytes(large._1, g),
        s"$verb (gen $g): record bytes differ between 8 and 64 dirs")
    }
    // the checkpoint is the one record that does grow
    assert(recordBytes(large._1, 1L) > recordBytes(small._1, 1L))
  }

  test("(b) in a cold process every generation time-travels to exactly " +
      "the rows and schema it had") {
    for ((root, _, seen, _) <- Seq(small, large)) {
      assert(ManifestCommit.snapshotGens(spark, root) === (1L to 9L))
      ManifestCommit.clearResolveCache()
      seen.toSeq.sortBy(_._1).foreach { case (g, want) =>
        assert(contents(ManifestCommit.readAt(spark, root, g)) === want,
          s"generation $g of $root")
      }
      // the restore re-served generation 1's identity
      assert(seen(9L) === seen(1L))
      val m = ManifestCommit.readManifest(spark, root).get
      assert(m.colmap.isEmpty && m.checks.isEmpty && m.deadCols.isEmpty)
      assert(m.slice === Some(ManifestCommit.sliceSql(floor(col("k") / 2))))
    }
  }

  test("(c) a stale expectedGen throws ConcurrentCommitException and " +
      "leaves the pointer and the retained generations unchanged") {
    for ((root, _, _, _) <- Seq(small, large)) {
      val m = ManifestCommit.readManifest(spark, root).get
      val pointer = Paths.get(root, ManifestCommit.ManifestFile)
      val before = (Files.readAllBytes(pointer).toSeq,
        ManifestCommit.snapshotGens(spark, root))
      val stale = Some(m.gen - 1)
      def unchanged(what: String): Unit = {
        assert((Files.readAllBytes(pointer).toSeq,
          ManifestCommit.snapshotGens(spark, root)) === before, what)
      }
      intercept[ManifestCommit.ConcurrentCommitException](
        ManifestCommit.commitReplace(spark, root, m.dirs,
          pruneDisplaced = false, stats = m.stats, schema = m.tableSchema,
          expectedGen = stale))
      unchanged("commitReplace")
      intercept[ManifestCommit.ConcurrentCommitException](
        ManifestCommit.commitAppend(spark, root,
          ManifestCommit.newDataDir(root), expectedGen = stale))
      unchanged("commitAppend")
      intercept[ManifestCommit.ConcurrentCommitException](
        ManifestCommit.commit(spark, root, "probe", expectedGen = stale)(_.get))
      unchanged("commit")
      assert(ManifestCommit.readManifest(spark, root).get === m)
    }
  }

  test("(d) renameColumn, alterColumnType, setSlice, dropCheck and " +
      "restore run no Spark job") {
    small; large
    for (n <- Seq(8, 64); verb <- Seq("rename_column", "alter_column_type",
        "set_slice", "drop_constraint", "restore"))
      assert(jobsOfVerb((n, verb)) === 0, s"$verb on $n dirs")
  }
}
