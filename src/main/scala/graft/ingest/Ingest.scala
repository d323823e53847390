package graft.ingest

import graft.clean.TableCleaner
import graft.schema.TableMeta
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dedup policy for a table load, mirroring the reference's `--dedup`
  * flag (tools/ingest_runner.py:2061-2063). */
sealed trait DedupMode
object DedupMode {
  /** Append/overwrite as-is. */
  case object NoDedup extends DedupMode
  /** ReplacingMergeTree part model (tools/ingest_runner.py:1341-1342,
    * 1782-1787): each load APPENDS a batch-sized, intra-batch-collapsed
    * delta part; duplicates across parts collapse at read
    * (`Ingest.readFinal` = SELECT ... FINAL) and physically at
    * compaction (`Maintenance.compactFinal` = OPTIMIZE FINAL). Write
    * amplification is ∝ batch, not ∝ target — the property that makes
    * incremental loads viable on a 100 TB table. */
  case object Replacing extends DedupMode
  /** Window-dedup into a staging dir + atomic swap
    * (tools/ingest_runner.py:1529-1592). */
  case object Staging extends DedupMode
}

final case class IngestResult(
    table: String, sourceRows: Long, writtenRows: Long, dedupDropped: Long)

/** The batch ingest pipeline `read → clean → dedup → write → audit`
  * (tools/ingest_runner.py:1598-1789 ingest_one_table), as one declarative
  * Spark lineage per table.
  *
  * Scale notes: the reference chunks pandas frames to bound memory; Spark
  * partitions natively (no chunk loop). Cleaning is a narrow projection
  * (no shuffle); the only shuffle in the pipeline is the dedup window's
  * hash partition on the unique key — the same shuffle a MergeTree sort
  * would need. Audit is per-table count aggregation (tiny) unioned into
  * one frame — no driver-side dict matching.
  */
object Ingest {

  /** W1 dedup-by-latest-version (tools/ingest_runner.py:1576-1592):
    * keep the row with the greatest (version, tieBreak) per key, version
    * NULLS LAST.
    *
    * Skew posture: the row_number window form funnels EVERY duplicate of a
    * key into one task — a pathological hot key (e.g. PK default 0 after
    * N1 null→0 cleaning) serializes on one core with no map-side relief.
    * The reduction is associative, so the default path is the aggregate
    * form `max_by(struct(*cols), struct(version, tieBreak))`: partial
    * aggregation keeps ONE row per key per map task before the shuffle,
    * so a hot key ships #tasks rows, not #duplicates. Same result — struct
    * ordering compares version first then tie-breaks, and a null struct
    * field sorts below any value, which is exactly DESC NULLS LAST picked
    * by max. Determinism still requires (version ++ tieBreak) to totally
    * order each key's duplicates, same as the window form.
    *
    * With no ordering columns at all there is no "latest"; fall back to
    * the stable window form (arbitrary-but-deterministic survivor). */
  def dedupLatest(df: DataFrame, keys: Seq[String], version: Option[String],
      tieBreak: Seq[String] = Nil): DataFrame = {
    val ordCols = version.toSeq ++ tieBreak
    if (ordCols.isEmpty) {
      val w = Window.partitionBy(keys.map(col): _*)
        .orderBy(keys.map(col(_).asc): _*) // degenerate: stable order
      df.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .drop("__rn")
    } else {
      val latest = max_by(
        struct(df.columns.map(col): _*),
        struct(ordCols.map(col): _*))
      df.groupBy(keys.map(col): _*)
        .agg(latest.as("__latest"))
        .select(df.columns.map(c => col("__latest").getField(c).as(c)): _*)
    }
  }

  /** The row_number window form of [[dedupLatest]], kept for comparison
    * (SCALE.md hot-key kernel) and for callers that want rank semantics. */
  def dedupLatestWindow(df: DataFrame, keys: Seq[String], version: Option[String],
      tieBreak: Seq[String] = Nil): DataFrame = {
    val ordering =
      version.map(v => col(v).desc_nulls_last).toSeq ++
        tieBreak.map(col(_).desc) match {
        case Nil => Seq(keys.map(col).head.asc) // degenerate: stable order
        case o => o
      }
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ordering: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Ingest one table: clean per reflected metadata, apply the dedup mode,
    * write parquet to `targetDir/table` (staging swap when asked), return
    * the audit counts. `monthPartitionCol` mirrors the reference's
    * PARTITION BY toYYYYMM heuristic for log tables
    * (tools/create_clickhouse_models.py:46-68). */
  def ingestTable(
      spark: SparkSession, source: DataFrame, meta: TableMeta,
      targetDir: String, mode: DedupMode = DedupMode.NoDedup,
      monthPartitionCol: Option[String] = None,
      replacingCompactParts: Int = 256): IngestResult = {
    // A8 partial/final agg metrics: the reference accumulates per-chunk
    // inserted counts (ingest_runner.py:1730-1748); Spark's observe() API
    // collects the same metric DURING the write pass — no extra scan.
    val obs = new org.apache.spark.sql.Observation(
      s"ingest_${meta.table}_${java.util.UUID.randomUUID().toString.take(8)}")
    // A single-file (or few-row-group) source arrives as 1-2 partitions;
    // the cleaning projection is per-row CPU (regex) and must parallelize.
    // Rebalance BEFORE cleaning so the work spreads across cores; no-op
    // on well-partitioned inputs (the normal case on a cluster).
    val par = spark.sparkContext.defaultParallelism
    val sizeInBytes = source.queryExecution.optimizedPlan.stats.sizeInBytes
    val balanced =
      if (sizeInBytes > (8L << 20) &&
          source.rdd.getNumPartitions < math.max(2, par / 2))
        source.repartition(par)
      else source // small tables: a shuffle would cost more than it buys
    val cleaned = TableCleaner.clean(balanced, meta)
      .observe(obs, count(lit(1)).as("rows"))
    val keys = meta.pkColumns
    val version = meta.versionColumn
    val finalPath = s"$targetDir/${meta.table}"

    def write(df: DataFrame, path: String,
        saveMode: SaveMode = SaveMode.Overwrite): Unit = {
      // MergeTree ORDER BY analogue (SURVEY §1.3): sort within partitions
      // on the PK/sorting key so parquet row-group min/max stats enable
      // key-range skipping on read. Local sort only — no shuffle.
      val sortKey = meta.sortingKey.filter(df.columns.contains)
      def sorted(d: DataFrame) =
        if (sortKey.nonEmpty) d.sortWithinPartitions(sortKey.map(col): _*) else d
      // MergeTree PRIMARY KEY index analogue: parquet bloom filters on the
      // PK columns let point lookups (the upsert/reconciliation access
      // pattern) skip whole row groups whose min/max range matches but
      // which don't contain the key — cheap at write (bits per distinct),
      // decisive at 100 TB read where a PK probe would otherwise scan
      // every row group the sort range admits.
      val bloomOpts = meta.pkColumns.filter(df.columns.contains)
        .map(c => s"parquet.bloom.filter.enabled#$c" -> "true").toMap
      monthPartitionCol match {
        case Some(c) =>
          // repartition on the partition key first: otherwise EVERY task
          // writes EVERY month -> tasks x months tiny files (the classic
          // dynamic-partition small-files explosion at scale). For skewed
          // months add a salt column to this repartition.
          sorted(df.withColumn("__yyyymm", date_format(col(c), "yyyyMM"))
              .repartition(col("__yyyymm")))
            .write.mode(saveMode).options(bloomOpts)
            .partitionBy("__yyyymm").parquet(path)
        case None =>
          sorted(df).write.mode(saveMode).options(bloomOpts).parquet(path)
      }
    }

    // A full-refresh load replaces every dir with one it wrote: in the
    // flat layout the written frame's schema is exactly what a reader
    // infers from that dir's footers, so the commit records it and no
    // read pays the inference job. A `__yyyymm=` dir also carries the
    // partition column discovery adds, and keeps the inferring read.
    def replaceWith(df: DataFrame): Unit = {
      val dataDir = ManifestCommit.newDataDir(finalPath)
      write(df, dataDir)
      ManifestCommit.commitReplace(spark, finalPath, Seq(dataDir),
        schema = if (monthPartitionCol.isDefined) None
          else Some(org.apache.spark.sql.types.StructType(
            df.schema.fields.map(_.copy(nullable = true)))))
    }
    val written = mode match {
      case DedupMode.NoDedup =>
        // full-refresh load, committed through the manifest: the data
        // lands in an invisible uniquely-named dir; one atomic manifest
        // replace makes it the live generation (object-store-safe — the
        // rename-based swap is not, Maintenance.stagingSwap scaladoc)
        replaceWith(cleaned)
        cleaned
      case DedupMode.Staging =>
        require(keys.nonEmpty, s"staging dedup needs a PK for ${meta.table}")
        val deduped = dedupLatest(cleaned, keys, version)
        replaceWith(deduped)
        deduped
      case DedupMode.Replacing =>
        require(keys.nonEmpty, s"replacing dedup needs a PK for ${meta.table}")
        // INSERT = append a delta part. The old form unioned with the
        // full existing target and rewrote it — O(target) write
        // amplification per load. Intra-batch collapse keeps the part
        // minimal; cross-part duplicates are the read/compaction layer's
        // job, exactly as in ReplacingMergeTree. Flat targets append the
        // part as a manifest-committed delta dir; month-partitioned
        // targets keep the `__yyyymm=` directory layout (per-partition
        // compaction needs partition-addressable dirs — on an object
        // store that shape graduates to a per-partition manifest or a
        // transactional table format).
        val deduped = dedupLatest(cleaned, keys, version)
        if (monthPartitionCol.isEmpty) {
          val dataDir = ManifestCommit.newDataDir(finalPath)
          write(deduped, dataDir)
          ManifestCommit.commitAppend(spark, finalPath, dataDir)
        } else
          write(deduped, finalPath, SaveMode.Append)
        // background-merge analogue: once the part count crosses the
        // threshold, one O(target) compaction collapses everything —
        // amortized write amplification O(target/threshold) per load,
        // and read amplification (parts touched per FINAL read) stays
        // bounded however many loads arrive. The compactor re-establishes
        // the ingest layout (sorting-key local sort + PK bloom filters).
        // Month-partitioned targets use a PER-PARTITION trigger: only a
        // `__yyyymm=` dir that itself accumulated > replacingCompactParts
        // files is rewritten. A table-wide trigger would, on a years-deep
        // table whose steady-state file count (#months × files/month)
        // exceeds the threshold, re-rewrite every cold month on every
        // load — O(table) amplification on the per-batch path.
        monthPartitionCol match {
          case None =>
            val liveFiles = ManifestCommit.resolvePaths(spark, finalPath)
              .map(Maintenance.dataFileCount(spark, _)).sum
            if (liveFiles > replacingCompactParts)
              Maintenance.compactFinal(spark, finalPath, keys, version,
                sortingKey = meta.sortingKey)
          case Some(_) =>
            Maintenance.compactFinalPartitioned(spark, finalPath, keys, version,
              sortingKey = meta.sortingKey, minPartFiles = replacingCompactParts)
        }
        deduped
    }
    // Read back for the written count so the audit measures the TARGET,
    // not the lineage (ingest_runner.py run_audit reads ClickHouse counts).
    // Replacing targets audit their FINAL view (duplicates across delta
    // parts are not rows of the logical table).
    val writtenRows = mode match {
      case DedupMode.Replacing => readFinal(spark, finalPath, keys, version).count()
      case _ => ManifestCommit.read(spark, finalPath).count()
    }
    val tObs = System.nanoTime()
    val sourceRows = obs.get("rows").asInstanceOf[Long]
    val obsWait = (System.nanoTime() - tObs) / 1e9
    if (obsWait > 1.0)
      System.err.println(f"[ingest] ${meta.table} observation wait $obsWait%.1f s (listener-bus lag)")
    val _ = written // lineage handle kept for clarity; target re-read is the truth
    IngestResult(meta.table, sourceRows, writtenRows, sourceRows - writtenRows)
  }

  /** FINAL read surface for a Replacing target (SELECT ... FINAL):
    * collapse appended delta parts to latest-per-key. `mergeSchema`
    * tolerates parts written before a column existed — the read-time
    * analogue of unionByName(allowMissingColumns). One PK-hash shuffle,
    * the same cost the write path used to pay on EVERY load. Resolves
    * through the manifest when the target is manifest-committed. */
  def readFinal(spark: SparkSession, path: String, keys: Seq[String],
      version: Option[String], tieBreak: Seq[String] = Nil): DataFrame =
    dedupLatest(ManifestCommit.read(spark, path), keys, version, tieBreak)

  /** Concurrent multi-table ingest — the Spark analogue of the
    * reference's per-database subprocess parallelism
    * (tools/multi_database_ingest.py:129-151): independent table lineages
    * submitted as concurrent jobs share the executor pool, overlapping
    * small-table scheduling gaps with big-table compute. */
  def ingestAll(
      spark: SparkSession,
      tables: Seq[(graft.schema.TableMeta, DataFrame)],
      targetDir: String, mode: DedupMode = DedupMode.NoDedup,
      parallelism: Int = 4): Seq[IngestResult] = {
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = Executors.newFixedThreadPool(parallelism)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val futures = tables.map { case (meta, src) =>
        Future(ingestTable(spark, src, meta, targetDir, mode))
      }
      Await.result(Future.sequence(futures), Duration.Inf)
    } finally pool.shutdown()
  }

  /** Row-count reconciliation audit (tools/ingest_runner.py:1813-1937,
    * tools/multi_database_auditor.py:252+): full-outer count parity per
    * table, as one small DataFrame. */
  def audit(spark: SparkSession,
      tables: Seq[(String, DataFrame, DataFrame)]): DataFrame = {
    val counts = tables.map { case (name, src, tgt) =>
      val s = src.agg(count(lit(1)).as("source_rows"))
        .select(lit(name).as("tbl"), col("source_rows"))
      val t = tgt.agg(count(lit(1)).as("target_rows"))
        .select(lit(name).as("tbl"), col("target_rows"))
      s.join(t, Seq("tbl"), "full_outer")
    }
    counts.reduce(_ unionByName _)
      .na.fill(0L, Seq("source_rows", "target_rows"))
      .withColumn("diff", col("source_rows") - col("target_rows"))
      .withColumn("ok", (col("diff") === 0L).cast("int"))
  }
}
