package graft.ingest

import graft.SparkSpec
import graft.schema.{ColumnMeta, TableMeta}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import java.nio.file.Files

/** Batch ingest pipeline: dedup modes, staging swap atomicity shape,
  * audit parity (ingest_runner.py:1598-1789).
  */
class IngestSpec extends SparkSpec {

  private val meta = TableMeta("t", Seq(
    ColumnMeta("id", "bigint", nullable = false, isPk = true),
    ColumnMeta("v", "varchar"),
    ColumnMeta("factualizacion", "datetime")))

  private val schema = StructType(Seq(
    StructField("id", LongType, false),
    StructField("v", StringType, true),
    StructField("factualizacion", TimestampType, true)))

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private def dirtyDf = mkDf(schema,
    Row(1L, "a", ts("2021-01-01 00:00:00")),
    Row(1L, "a2", ts("2021-06-01 00:00:00")), // newer version of id=1
    Row(2L, "b", null),
    Row(3L, "c", ts("2021-01-01 00:00:00")))

  test("staging dedup keeps latest version per PK; swap leaves only the final table") {
    val out = Files.createTempDirectory("ingest_spec_").toString
    val res = Ingest.ingestTable(spark, dirtyDf, meta, out, DedupMode.Staging)
    assert(res.sourceRows === 4 && res.writtenRows === 3 && res.dedupDropped === 1)
    val rows = ManifestCommit.read(spark, s"$out/t").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows === Map(1L -> "a2", 2L -> "b", 3L -> "c"))
    assert(!Maintenance.exists(spark, s"$out/.staging_t"))
    assert(!Maintenance.exists(spark, s"$out/t__old"))
    assert(ManifestCommit.isManifestTable(spark, s"$out/t"),
      "staging mode must commit through the manifest")
  }

  test("a full-refresh load records the schema a footer read infers, so a " +
      "SQL query over it runs no schema-inference job") {
    val out = Files.createTempDirectory("ingest_spec_").toString
    Ingest.ingestTable(spark, dirtyDf, meta, out, DedupMode.NoDedup)
    val root = s"$out/t"
    val m = ManifestCommit.readManifest(spark, root).get
    val inferred = spark.read.parquet(ManifestCommit.dirAbs(root, m.dirs.head)).schema
    assert(m.tableSchema === Some(inferred))
    graft.sql.GraftSql.register("ingest_schema_t", root)
    val q = "SELECT v, count(*) FROM graft.ingest_schema_t GROUP BY v"
    spark.sql(q).collect() // warm
    val recorded = jobsOf(spark.sql(q).collect())
    // the same table without a recorded schema: one more job per query
    ManifestCommit.commitReplace(spark, root, m.dirs)
    val inferring = jobsOf(spark.sql(q).collect())
    assert(inferring === recorded + 1, s"recorded $recorded, inferring $inferring")
    // a month-partitioned load keeps the inferring read (its dirs carry
    // the partition column discovery adds)
    Ingest.ingestTable(spark, dirtyDf, meta, out, DedupMode.Staging,
      monthPartitionCol = Some("factualizacion"))
    assert(ManifestCommit.readManifest(spark, root).get.tableSchema.isEmpty)
  }

  test("replacing mode merges with existing target (latest version wins across loads)") {
    val out = Files.createTempDirectory("ingest_spec_").toString
    Ingest.ingestTable(spark, dirtyDf, meta, out, DedupMode.Replacing)
    // second load: newer id=2, older id=1 (must NOT win), new id=9
    val second = mkDf(schema,
      Row(1L, "stale", ts("2020-01-01 00:00:00")),
      Row(2L, "b2", ts("2022-01-01 00:00:00")),
      Row(9L, "new", ts("2021-01-01 00:00:00")))
    val res = Ingest.ingestTable(spark, second, meta, out, DedupMode.Replacing)
    assert(res.writtenRows === 4)
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("v")).toMap
    val want = Map(1L -> "a2", 2L -> "b2", 3L -> "c", 9L -> "new")
    // the logical table is the FINAL view over the appended parts...
    assert(asMap(Ingest.readFinal(spark, s"$out/t", Seq("id"),
      Some("factualizacion"))) === want)
    // ...and OPTIMIZE FINAL makes the physical layout match it
    Maintenance.compactFinal(spark, s"$out/t", Seq("id"), Some("factualizacion"))
    assert(asMap(ManifestCommit.read(spark, s"$out/t")) === want)
    assert(ManifestCommit.readManifest(spark, s"$out/t").get.dirs.size === 1,
      "compaction must retire every delta dir in one manifest replace")
  }

  test("replacing loads append batch-sized delta parts (no target rewrite)") {
    val out = Files.createTempDirectory("ingest_spec_").toString
    def dirBytes: Long = {
      val p = new org.apache.hadoop.fs.Path(s"$out/t")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getContentSummary(p).getLength
    }
    // base load: 5000 rows; delta load: 10 rows. If the delta write were
    // rewriting the target, the bytes added by load 2 would be ~the full
    // table; appended parts must cost a small fraction of it.
    val base = spark.range(5000).selectExpr(
      "id", "concat('v_', id) AS v",
      "timestamp'2021-01-01 00:00:00' AS factualizacion")
    Ingest.ingestTable(spark, base, meta, out, DedupMode.Replacing)
    val afterBase = dirBytes
    val delta = spark.range(10).selectExpr(
      "id + 10000 AS id", "concat('d_', id) AS v",
      "timestamp'2022-01-01 00:00:00' AS factualizacion")
    Ingest.ingestTable(spark, delta, meta, out, DedupMode.Replacing)
    val added = dirBytes - afterBase
    assert(added > 0, "delta load must append data")
    assert(added < afterBase / 2,
      s"delta load added $added bytes vs $afterBase base — write amplification " +
        "is ∝ target, not ∝ batch")
    assert(Ingest.readFinal(spark, s"$out/t", Seq("id"),
      Some("factualizacion")).count() === 5010)
  }

  test("replacing auto-compaction bounds the part count across many loads") {
    val out = Files.createTempDirectory("ingest_spec_").toString
    def load(i: Int) = spark.range(3).selectExpr(
      s"id + ${i * 10} AS id", "concat('v', id) AS v",
      "timestamp'2021-01-01 00:00:00' AS factualizacion")
    (0 until 5).foreach(i =>
      Ingest.ingestTable(spark, load(i), meta, out, DedupMode.Replacing,
        replacingCompactParts = 4))
    // without compaction 5 loads × >=1 part each would exceed the
    // threshold; the background-merge analogue keeps the count bounded
    assert(Maintenance.dataFileCount(spark, s"$out/t") <= 5)
    assert(ManifestCommit.read(spark, s"$out/t").count() === 15)
    assert(Ingest.readFinal(spark, s"$out/t", Seq("id"),
      Some("factualizacion")).count() === 15)
  }

  test("compactFinal re-establishes PK sort and bloom filters") {
    val out = Files.createTempDirectory("ingest_spec_").toString
    Ingest.ingestTable(spark, dirtyDf, meta, out, DedupMode.Replacing)
    Ingest.ingestTable(spark, mkDf(schema,
      Row(9L, "z", ts("2021-03-01 00:00:00")),
      Row(5L, "y", ts("2021-03-01 00:00:00"))), meta, out, DedupMode.Replacing)
    Maintenance.compactFinal(spark, s"$out/t", Seq("id"),
      Some("factualizacion"), sortingKey = Seq("id"))
    val conf = spark.sparkContext.hadoopConfiguration
    val live = ManifestCommit.resolvePaths(spark, s"$out/t")
    val files = live.flatMap { p =>
      val d = new org.apache.hadoop.fs.Path(p)
      d.getFileSystem(conf).listStatus(d).map(_.getPath)
        .filter(_.getName.endsWith(".parquet"))
    }
    assert(files.nonEmpty)
    files.foreach { file =>
      // the compacted layout must match the ingest write path: local PK
      // sort (row-group skipping) + PK bloom filter (point-probe skipping)
      val ids = spark.read.parquet(file.toString)
        .select("id").collect().map(_.getLong(0)).toSeq
      assert(ids === ids.sorted, s"$file must stay PK-sorted after compaction")
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf))
      try {
        import scala.jdk.CollectionConverters._
        val block = reader.getRowGroups.asScala.head
        val idCol = block.getColumns.asScala
          .find(_.getPath.toDotString == "id").get
        assert(reader.getBloomFilterDataReader(block).readBloomFilter(idCol) != null,
          s"$file must keep the PK bloom filter after compaction")
      } finally reader.close()
    }
  }

  test("month-partitioned replacing targets auto-compact per partition, layout kept") {
    val out = Files.createTempDirectory("ingest_spec_").toString
    def load(i: Int) = mkDf(schema,
      Row(1L, s"jan$i", ts(s"2021-01-0${i + 1} 00:00:00")),
      Row(2L, s"feb$i", ts(s"2021-02-0${i + 1} 00:00:00")))
    (0 until 4).foreach(i =>
      Ingest.ingestTable(spark, load(i), meta, out, DedupMode.Replacing,
        monthPartitionCol = Some("factualizacion"), replacingCompactParts = 3))
    val f = new org.apache.hadoop.fs.Path(s"$out/t")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val partDirs = f.listStatus(new org.apache.hadoop.fs.Path(s"$out/t"))
      .filter(_.isDirectory).map(_.getPath.getName).sorted.toSeq
    assert(partDirs === Seq("__yyyymm=202101", "__yyyymm=202102"),
      "partition layout must survive compaction (no scratch leftovers)")
    assert(Maintenance.dataFileCount(spark, s"$out/t") <= 4,
      "per-partition compaction must bound the part count")
    val fin = Ingest.readFinal(spark, s"$out/t", Seq("id"), Some("factualizacion"))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("v")).toMap
    assert(fin === Map(1L -> "jan3", 2L -> "feb3"))
  }

  test("hot-month compaction leaves cold partitions physically untouched") {
    val out = Files.createTempDirectory("ingest_spec_").toString
    // load 0 fills January AND February; loads 1-3 hit February only, so
    // only __yyyymm=202102 accumulates delta parts past the threshold
    Ingest.ingestTable(spark, mkDf(schema,
      Row(1L, "jan", ts("2021-01-05 00:00:00")),
      Row(2L, "feb0", ts("2021-02-01 00:00:00"))), meta, out,
      DedupMode.Replacing, monthPartitionCol = Some("factualizacion"),
      replacingCompactParts = 3)
    val f = new org.apache.hadoop.fs.Path(s"$out/t")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def fileStamps(part: String): Map[String, (Long, Long)] =
      f.listStatus(new org.apache.hadoop.fs.Path(s"$out/t/$part"))
        .filter(s => !s.getPath.getName.startsWith("_"))
        .map(s => s.getPath.getName -> ((s.getLen, s.getModificationTime)))
        .toMap
    val janBefore = fileStamps("__yyyymm=202101")
    (1 to 3).foreach { i =>
      Ingest.ingestTable(spark, mkDf(schema,
        Row(2L, s"feb$i", ts(s"2021-02-0${i + 1} 00:00:00"))), meta, out,
        DedupMode.Replacing, monthPartitionCol = Some("factualizacion"),
        replacingCompactParts = 3)
    }
    // February crossed the 3-file threshold on load 3 and was compacted...
    assert(Maintenance.dataFileCount(spark, s"$out/t/__yyyymm=202102") <= 3,
      "hot partition must have been compacted")
    // ...while January — cold, already at 1 file — kept the exact same
    // physical files (names, sizes, mtimes): the compactor never read or
    // rewrote it. This is the O(hot months) vs O(whole table) property.
    assert(fileStamps("__yyyymm=202101") === janBefore,
      "cold partition files must be byte-identical after a hot-month compaction")
    val fin = Ingest.readFinal(spark, s"$out/t", Seq("id"), Some("factualizacion"))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("v")).toMap
    assert(fin === Map(1L -> "jan", 2L -> "feb3"))
  }

  test("ingest writes parquet bloom filters on the PK columns") {
    val out = Files.createTempDirectory("ingest_spec_").toString
    Ingest.ingestTable(spark, dirtyDf, meta, out, DedupMode.NoDedup)
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new org.apache.hadoop.fs.Path(
      ManifestCommit.resolvePaths(spark, s"$out/t").head)
    val file = dir.getFileSystem(conf).listStatus(dir)
      .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf))
    try {
      import scala.jdk.CollectionConverters._
      val block = reader.getRowGroups.asScala.head
      def bloomOf(name: String) = block.getColumns.asScala
        .find(_.getPath.toDotString == name)
        .map(c => reader.getBloomFilterDataReader(block).readBloomFilter(c))
      assert(bloomOf("id").exists(_ != null), "PK column must carry a bloom filter")
      assert(bloomOf("v").forall(_ == null), "non-PK columns must not pay for one")
    } finally reader.close()
  }

  test("audit reports per-table parity with diff and ok flags") {
    val out = Files.createTempDirectory("ingest_spec_").toString
    Ingest.ingestTable(spark, dirtyDf, meta, out, DedupMode.NoDedup)
    val tgt = ManifestCommit.read(spark, s"$out/t")
    val audit = Ingest.audit(spark,
      Seq(("t", dirtyDf, tgt), ("t_bad", dirtyDf, tgt.limit(2)))).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4))).toMap
    assert(audit("t") === ((4L, 4L, 0L, 1)))
    assert(audit("t_bad") === ((4L, 2L, 2L, 0)))
  }

  test("maintenance: createFromSchema + truncate + compact are idempotent") {
    val out = Files.createTempDirectory("ingest_spec_").toString + "/m"
    val st = StructType(Seq(StructField("x", LongType, true)))
    Maintenance.createFromSchema(spark, out, st)
    assert(spark.read.parquet(out).count() === 0)
    Maintenance.createFromSchema(spark, out, st) // M8 idempotent re-create
    mkDf(st, Row(1L), Row(2L)).write.mode("append").parquet(out)
    Maintenance.optimizeCompact(spark, out)
    assert(spark.read.parquet(out).count() === 2)
    Maintenance.truncate(spark, out)
    assert(!Maintenance.exists(spark, out))
  }

  test("vacuumScratch removes swap/compact leftovers, never live tables") {
    val out = Files.createTempDirectory("ingest_spec_").toString
    Ingest.ingestTable(spark, dirtyDf, meta, out, DedupMode.NoDedup)
    // simulate a crash mid-swap: scratch dirs left behind
    val st = StructType(Seq(StructField("x", LongType, true)))
    Seq("t__staging", "t__compact", "t__old", ".staging_t").foreach { n =>
      mkDf(st, Row(1L)).write.mode("overwrite").parquet(s"$out/$n")
    }
    // default min-age protects fresh scratch: a concurrent load is
    // indistinguishable from a crash leftover by name alone
    assert(Maintenance.vacuumScratch(spark, out).isEmpty,
      "fresh (possibly in-flight) scratch must survive the default min-age")
    val removed = Maintenance.vacuumScratch(spark, out, minAgeMs = 0)
    assert(removed.size === 4)
    assert(Maintenance.exists(spark, s"$out/t"), "live table untouched")
    assert(!Maintenance.exists(spark, s"$out/t__staging"))
    assert(!Maintenance.exists(spark, s"$out/.staging_t"))
    assert(Maintenance.vacuumScratch(spark, out, minAgeMs = 0).isEmpty) // idempotent
  }

  test("vacuumScratch freshness is the NEWEST file under the dir, not the dir entry") {
    val out = Files.createTempDirectory("ingest_spec_").toString
    val st = StructType(Seq(StructField("x", LongType, true)))
    mkDf(st, Row(1L)).write.mode("overwrite").parquet(s"$out/t__compact")
    val f = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = new org.apache.hadoop.fs.Path(s"$out/t__compact")
    val old = System.currentTimeMillis() - 3600 * 1000L
    // age the DIR entry (the slow-single-file-write race: dir mtime only
    // moves on child create/rename) but leave the files fresh — an
    // active writer must survive the vacuum
    f.setTimes(dir, old, -1)
    assert(Maintenance.vacuumScratch(spark, out, minAgeMs = 15 * 60 * 1000L).isEmpty,
      "fresh files under an old dir entry mean a live writer — must survive")
    // now age every file too: a genuine crash leftover — reclaimed
    val it = f.listFiles(dir, true)
    while (it.hasNext) f.setTimes(it.next().getPath, old, -1)
    f.setTimes(dir, old, -1)
    val removed = Maintenance.vacuumScratch(spark, out, minAgeMs = 15 * 60 * 1000L)
    assert(removed.map(_.stripPrefix("file:")) === Seq(s"$out/t__compact"))
  }

  test("relaxSchema: non-PK fields become nullable, PK stays required") {
    val st = graft.schema.SchemaReflector.toStructType(meta)
    val relaxed = Maintenance.relaxSchema(
      StructType(st.fields.map(_.copy(nullable = false))))
    assert(!relaxed("id").nullable)
    assert(relaxed("v").nullable && relaxed("factualizacion").nullable)
  }
}
