package graft.ingest

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** OPTIMIZE ZORDER over a manifest-committed table — multi-dimensional
  * re-clustering so the manifest's per-dir column stats prune on EVERY
  * z-ordered dimension at once (the public Delta OPTIMIZE ZORDER /
  * Iceberg sort-order rewrite idea; the reference gets the 1-D version
  * from MergeTree ORDER BY keys, `/root/reference/tools/
  * ingest_runner.py:1529-1592` staging rewrite with a sort).
  *
  * A single-column sort gives tight per-dir [min, max] on that column
  * and useless full-range stats on every other; interleaving the bits
  * of two dimensions (`functions.ZOrderKey`, codegen'd) makes each
  * z-range dir a small RECTANGLE in (a, b) space, so a conjunctive
  * predicate box overlaps only the dirs its rectangle touches —
  * `ManifestCommit.resolvePruned` skips the rest from footer-only manifest stats.
  *
  * Scale shape: one pass computes the key, `repartitionByRange` on it
  * (one shuffle — sampled range boundaries, the standard distributed
  * sort), files written per bucket in ONE job via hive-style
  * `partitionBy`, then promoted to immutable `data_*` dirs and installed
  * with one atomic CAS commit. Cost is a full rewrite — a maintenance
  * operation by nature (run it on the cold/append-quiet tail, like any
  * OPTIMIZE); readers before/after see identical rows.
  *
  * 31-bit contract: z-order inputs must fit 31 bits (ZOrderKey masks
  * beyond that) — callers pass surrogate keys/bucketed values, same
  * contract as q100's sorting-key use.
  */
object Optimize {

  /** Re-cluster the live generation of `root` by the z-order of
    * (`colA`, `colB`) into `targetDirs` range-partitioned dirs, each
    * committed with min/max stats on both columns (plus `extraStatCols`).
    * Returns the new manifest. */
  def zorderCompact(spark: SparkSession, root: String,
      colA: String, colB: String, targetDirs: Int,
      extraStatCols: Seq[String] = Nil): ManifestCommit.Manifest =
    zorderCompactN(spark, root, Seq(colA, colB), targetDirs, extraStatCols)

  /** N-column OPTIMIZE ZORDER: same protocol, clustering key =
    * `ZOrderKeyN` over `cols` (⌊63/n⌋ bits per dimension — z-order the
    * few most-filtered columns only; beyond ~4 the per-dimension
    * resolution stops paying for itself, the same guidance the public
    * OPTIMIZE ZORDER implementations document). */
  /** `bloomCols`: point-lookup bloom side files rebuilt per new dir (a
    * rewrite would otherwise silently lose the bloom index its inputs
    * carried — the maintenance op is exactly when to refresh it). */
  /** `rankBuckets` > 0 swaps the per-dimension LINEAR min/max scaling
    * for RANK bucketing (the public Delta `range_partition_id` idea):
    * each dimension's z-slot is its rank among `rankBuckets` sampled
    * quantile boundaries, so a heavily value-skewed dimension (Zipf
    * keys, hot accounts) still spreads rows evenly across z-buckets —
    * linear scaling collapses most rows into a few buckets and the
    * z-rectangles stop pruning. Cost: the stats pass computes B−1
    * approximate quantiles per dimension instead of min/max (same
    * single aggregate job), and the key evaluation walks the broadcast
    * boundary array per row (O(B), codegen'd) — keep B modest (64–1024;
    * dir-level pruning needs no finer rank resolution than the dir
    * count). 0 = linear scaling (default). */
  def zorderCompactN(spark: SparkSession, root: String,
      cols: Seq[String], targetDirs: Int,
      extraStatCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil,
      bloomFpp: Double = 0.01,
      scope: Option[Set[String]] = None,
      rankBuckets: Int = 0): ManifestCommit.Manifest = {
    require(targetDirs >= 1, "targetDirs must be >= 1")
    require(cols.size >= 2, "z-order needs at least 2 columns")
    require(rankBuckets <= (1L << math.min(63 / cols.size, 20)),
      s"rankBuckets=$rankBuckets exceeds the ${63 / cols.size}-bit z-slot " +
        s"of a ${cols.size}-column key — ranks would spill into " +
        "co-dimensions' interleave bits and silently degrade clustering")
    val m = ManifestCommit.requireManifest(spark, root)
    // `scope` ([[zorderWhere]]): the rewrite reads and consumes ONLY the
    // in-scope dirs (DV-aware); everything else is never touched
    val inScope = scope.map(s => m.dirs.filter(s.contains))
      .getOrElse(m.dirs)
    if (inScope.isEmpty) return m
    val live = scope match {
      case None => ManifestCommit.read(spark, root)
      case Some(_) => ManifestCommit.readDirsOf(spark, root, m, inScope)
    }

    // MAGNITUDE NORMALIZATION (why Delta z-orders on range_partition_id,
    // never raw values): interleaving RAW bit patterns lets the widest-
    // magnitude dimension own every high bit — a (custkey ~1e3,
    // orderkey ~1e6) pair degrades to a plain orderkey sort and the
    // custkey dimension never gains prunable rectangles. Each column is
    // scaled into its ⌊63/n⌋-bit z-slot by its own min/max (ONE tiny agg
    // over the rewrite's input — 2n doubles to the driver). Linear
    // scaling is magnitude-robust; heavy value skew WITHIN a dimension
    // would want rank bucketing instead (SCALE.md notes the swap). A
    // constant or all-null column contributes bucket 0 (harmless); null
    // values keep the pre-existing contract (null z-key, one partition).
    // temporal columns map to epoch micros/days first (ANSI refuses a
    // direct TIMESTAMP_NTZ→double cast; the session zone is pinned UTC
    // so ntz→ltz is monotone), everything else keeps the plain
    // double cast — the same contract the raw z-key had
    def orderable(c: String): org.apache.spark.sql.Column = {
      import org.apache.spark.sql.types._
      live.schema.find(_.name.equalsIgnoreCase(c)).map(_.dataType) match {
        case Some(TimestampType) =>
          org.apache.spark.sql.functions.unix_micros(col(c)).cast("double")
        case Some(TimestampNTZType) =>
          org.apache.spark.sql.functions.unix_micros(
            col(c).cast("timestamp")).cast("double")
        case Some(DateType) =>
          org.apache.spark.sql.functions.unix_date(col(c)).cast("double")
        case _ => col(c).cast("double")
      }
    }
    val zcols: Seq[org.apache.spark.sql.Column] = if (rankBuckets > 0) {
      // RANK bucketing: one aggregate computes B−1 approximate quantile
      // boundaries per dimension; each row's z-slot = how many
      // boundaries it meets (functions.aggregate over the literal
      // boundary array — codegen'd, no UDF, no extra shuffle). Equal
      // quantiles (a constant or near-constant dimension) dedupe to
      // fewer boundaries — harmless, the dimension just carries fewer
      // distinct slots. Nulls fold to slot 0 (the z-key is a clustering
      // hint, never a correctness surface).
      val ps = (1 until rankBuckets).map(_.toDouble / rankBuckets)
      val qAggs = cols.map(c => org.apache.spark.sql.functions
        .percentile_approx(orderable(c),
          lit(ps.toArray), lit(10000)))
      val qRow = live.agg(qAggs.head, qAggs.tail: _*).collect()(0)
      val slotWidth = (1L << math.min(63 / cols.size, 20)).toDouble
      cols.zipWithIndex.map { case (c, i) =>
        val bs =
          if (qRow.isNullAt(i)) Nil
          else qRow.getSeq[Any](i).collect { case d: Double => d }
            .distinct.sorted
        // SPREAD the ranks across the full z-slot width: boundaries
        // DEDUPE, so a dimension whose mass sits on few distinct values
        // (a 9-value Zipf head collapses 255 quantiles to ~9+tail
        // boundaries) would otherwise occupy only the low slot bits and
        // lose every high interleave bit to its co-dimensions — rank
        // FRACTION, not raw rank, decides bit significance, keeping the
        // dimensions' weights comparable whatever their cardinality
        val scale = math.max(1L, (slotWidth / (bs.size + 1)).toLong)
        if (bs.isEmpty) lit(0L).cast("long")
        else org.apache.spark.sql.functions.aggregate(
          lit(bs.toArray),
          lit(0L),
          (acc, b) => acc + when(orderable(c) >= b, lit(1L)).otherwise(lit(0L)))
          .*(lit(scale))
      }
    } else {
      val mmAggs = cols.flatMap(c => Seq(
        org.apache.spark.sql.functions.min(orderable(c)),
        org.apache.spark.sql.functions.max(orderable(c))))
      val mmRow = live.agg(mmAggs.head, mmAggs.tail: _*).collect()(0)
      val buckets = (1L << math.min(63 / cols.size, 20)).toDouble
      cols.zipWithIndex.map { case (c, i) =>
        val lo = if (mmRow.isNullAt(2 * i)) 0.0 else mmRow.getDouble(2 * i)
        val hi = if (mmRow.isNullAt(2 * i + 1)) 0.0 else mmRow.getDouble(2 * i + 1)
        if (hi <= lo) lit(0L).cast("long")
        else org.apache.spark.sql.functions.least(
          lit(buckets - 1),
          org.apache.spark.sql.functions.floor(
            (orderable(c) - lit(lo)) / lit(hi - lo) * lit(buckets)))
          .cast("long")
      }
    }
    val keyed = live.withColumn("__z",
      graft.functions.columns.zorderKeyN(zcols: _*))
    // one range shuffle = the distributed sort; ordering WITHIN a dir is
    // irrelevant to dir-level stats, so no within-partition sort is paid.
    // A table with a RECORDED SLICE z-orders WITHIN its layout (the Delta
    // per-partition ZORDER discipline, same rule as compactSmall's
    // per-slice fold): the range key is (slice value, z), the write
    // partitions by BOTH, so a range partition straddling two slice
    // values splits into one slice-PURE leaf per value — a WHERE scope
    // spanning several slice values never folds them into mixed-slice
    // dirs that would silently degrade the DDL'd layout. Cost: up to
    // (#slice values − 1) extra dirs over `targetDirs`, no extra jobs.
    val (staged, partCols) = m.slice match {
      case Some(sliceText) =>
        (keyed.withColumn("__slicev", expr(sliceText))
          .repartitionByRange(targetDirs, col("__slicev"), col("__z"))
          .withColumn("__zbucket", spark_partition_id())
          .drop("__z"),
          Seq("__slicev", "__zbucket"))
      case None =>
        (keyed.repartitionByRange(targetDirs, col("__z"))
          .withColumn("__zbucket", spark_partition_id())
          .drop("__z"),
          Seq("__zbucket"))
    }

    // ONE write job for all buckets (hive-style layout), then promote
    // each LEAF dir to an immutable data_* dir. The promotion is a
    // local/HDFS rename; an object-store deployment writes the buckets
    // as final dirs directly via its committer — the manifest protocol
    // above it is unchanged.
    val staging = s"$root/._zorder_staging_${java.util.UUID.randomUUID().toString.take(8)}"
    // logical->physical rename under a column mapping (no-op otherwise;
    // __slicev is computed over LOGICAL names before the rename)
    ManifestCommit.toPhysicalNames(spark, root, staged)
      .write.partitionBy(partCols: _*).parquet(staging)
    val f = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def leaves(p: Path, depth: Int): Seq[org.apache.hadoop.fs.FileStatus] =
      if (depth == 0) f.listStatus(p).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("__zbucket="))
      else f.listStatus(p).toSeq.filter(_.isDirectory)
        .flatMap(st => leaves(st.getPath, depth - 1))
    val bucketDirs = leaves(new Path(staging), partCols.size - 1)
      .sortBy(st => (st.getPath.getParent.getName,
        st.getPath.getName.stripPrefix("__zbucket=").toInt))
    // a table answering COUNT(*) from the manifest keeps that ability
    // through the rewrite: __rows is folded into each new dir's stats
    val priorRows =
      if (m.stats.values.exists(_.exists(_.col == ManifestCommit.RowCountStat)))
        Seq(ManifestCommit.RowCountStat)
      else Nil
    // sliced rewrites record the slice components' stats (slice-tight
    // per leaf), keeping the layout's pruning armed — same discipline
    // as the sliced compactSmall fold
    val sliceStatCols = m.slice.toSeq.flatMap(s =>
      graft.sql.GraftWriteUtil.sliceRefCols(s, live.columns.toSeq) ++
        ManifestCommit.sliceExprStatCols(s, live.columns.toSeq))
    val statCols =
      (cols ++ extraStatCols ++ sliceStatCols).distinct ++ priorRows
    val newDirs = bucketDirs.map { st =>
      val d = ManifestCommit.newDataDir(root)
      f.rename(st.getPath, new Path(d))
      // bloom side files key on the PHYSICAL on-disk name (the read path
      // probes both); the new dir's files are physical-named already
      rebuildBlooms(spark, d, bloomCols.map(m.physNameOf), bloomFpp)
      d
    }
    // ONE grouped stats pass over every promoted dir (r19): the per-dir
    // dirStats loop was ~3 jobs of pure scheduler latency per z-bucket
    // — the dominant cost of OPTIMIZE ZORDER on a many-bucket layout
    val batchStats = ManifestCommit.dirStatsBatch(spark, newDirs, statCols,
      colmap = m.colmap, schema = m.physicalSchema)
    val promoted = newDirs.map(d => d -> batchStats(d))
    f.delete(new Path(staging), true)

    // rebasing commit: the rewrite consumed every IN-SCOPE base dir
    // (pinned), but a concurrent APPEND always grafts — a row-preserving
    // re-layout commutes with appends by construction (the delta dir
    // simply stays unclustered until the next OPTIMIZE), so
    // AlwaysDisjoint. Out-of-scope dirs carry through untouched. The
    // recorded schema stays the TABLE's: on an unrecorded-schema table a
    // SCOPED read's mergeSchema union could miss columns living only in
    // out-of-scope dirs — recording it would silently drop them.
    val recordSchema = m.tableSchema
      .map(s => StructType(s.fields.map(_.copy(nullable = true))))
      .getOrElse(StructType((if (scope.isEmpty) live
        else ManifestCommit.read(spark, root))
        .schema.fields.map(_.copy(nullable = true))))
    ManifestCommit.commitReconciled(spark, root, base = m,
      displaced = inScope,
      added = promoted.map(_._1),
      addedStats = promoted.toMap,
      schema = Some(recordSchema),
      op = "zorder",
      pinned = inScope.toSet)
  }

  /** Rebuild the per-dir bloom side files after a rewrite, sized to the
    * dir's actual distinct count. No-op for empty `cols`. */
  private def rebuildBlooms(spark: SparkSession, dir: String,
      cols: Seq[String], fpp: Double): Unit =
    if (cols.nonEmpty) {
      val aggs = cols.map(c => countDistinct(col(c)).as(c))
      val row = spark.read.parquet(dir).agg(aggs.head, aggs.tail: _*).collect()(0)
      cols.zipWithIndex.foreach { case (c, i) =>
        ManifestCommit.writeDirBloom(spark, dir, c,
          math.max(8L, row.getLong(i)), fpp)
      }
    }

  /** PREDICATE-SCOPED compaction (the public Delta `OPTIMIZE t WHERE
    * part = v` surface): fold only the small/dv'd dirs whose manifest
    * stats can OVERLAP `cond` — the hot partition gets its maintenance,
    * everything provably outside the predicate survives byte-identical
    * and is never probed, listed or read. Overlap (not containment) is
    * the right scope: compacting an extra boundary dir is harmless
    * (same rows, new layout), excluding a matching one would silently
    * skip requested maintenance. Conjuncts the stats can't parse
    * contribute nothing (the scope widens, never narrows wrongly).
    * Cost: O(in-scope dirs), not O(table) — the per-partition
    * maintenance discipline at SQL-surface granularity. */
  def compactWhere(spark: SparkSession, root: String,
      cond: org.apache.spark.sql.Column, smallBytes: Long,
      bloomCols: Seq[String] = Nil,
      bloomFpp: Double = 0.01): ManifestCommit.Manifest = {
    val m = ManifestCommit.requireManifest(spark, root)
    compactSmall(spark, root, smallBytes, bloomCols, bloomFpp,
      scope = Some(whereScope(spark, m, cond)))
  }

  /** The manifest-stats OVERLAP scope of a maintenance predicate: the
    * dirs whose recorded stats can hold rows matching `cond` (shared by
    * [[compactWhere]] and [[zorderWhere]]). Overlap, not containment:
    * touching an extra boundary dir is harmless (same rows, new layout),
    * excluding a matching one would silently skip requested maintenance;
    * unparseable conjuncts contribute nothing, so the scope widens,
    * never narrows wrongly. */
  private[graft] def whereScope(spark: SparkSession,
      m: ManifestCommit.Manifest,
      cond: org.apache.spark.sql.Column): Set[String] = {
    val names = m.tableSchema.map(_.fieldNames.toSet).getOrElse(Set.empty)
    // RESOLVE the predicate against the table schema before extraction:
    // a DSL-built Column carries column-node comparisons the stats
    // extractor doesn't parse (it would silently widen the scope to the
    // whole table); analysis normalizes both DSL and expr-text forms to
    // catalyst comparisons — and validates the referenced columns exist
    val resolved = m.tableSchema.map { s0 =>
      val empty = spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), s0)
      empty.filter(cond).queryExecution.analyzed.collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          f.condition
      }.getOrElse(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(cond))
    }.getOrElse(
      org.apache.spark.sql.graftbridge.ColumnBridge.expression(cond))
    // analysis promotes literal types by WRAPPING them in casts
    // (GreaterThanOrEqual(x, cast(10 as bigint))) which the extractor's
    // `l: Literal` patterns would miss — fold constant subtrees first
    val folded = resolved.transformUp {
      case e: org.apache.spark.sql.catalyst.expressions.Expression
          if e.foldable &&
            !e.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Literal] =>
        org.apache.spark.sql.catalyst.expressions.Literal
          .create(e.eval(null), e.dataType)
    }
    // analyzer-coerced casts on the COLUMN side (`cast(ts AS timestamp)
    // >= lit` for an ntz column — the common DSL shape) are unwrapped by
    // the extractor itself (StatsPredicate.normalizeCasts: injective
    // order-embeddings with a round-trip-exact literal only; a FLOORING
    // cast-to-date stays wrapped, so the scope widens, never narrows).
    // Fallback: the RAW unresolved form keeps the attribute bare for
    // shapes the normalization could not prove; its literal rendering
    // matches the stats under the session's pinned UTC. Still
    // conservative: unparseable conjuncts widen, never narrow.
    val ex = {
      val e0 = StatsPredicate.extract(folded)
      val e1 =
        if (e0.bounds.nonEmpty || e0.points.nonEmpty || e0.orGroups.nonEmpty)
          e0
        else StatsPredicate.extract(
          org.apache.spark.sql.graftbridge.ColumnBridge.expression(cond))
      if (names.isEmpty) e1 else e1.restrict(names)
    }
    // stats only (no bloom opens): the scope narrows the same way reads
    // do through min/max, bucket, or-group and nullness disproofs
    StatsPredicate.statsCandidates(m, ex,
      m.tableSchema.getOrElse(new org.apache.spark.sql.types.StructType())).toSet
  }

  /** PREDICATE-SCOPED Z-ORDER (the Delta `OPTIMIZE t WHERE p ZORDER BY
    * (a, b)` surface): re-cluster ONLY the dirs whose manifest stats can
    * overlap `cond` — the hot partition gets its multi-dimensional
    * re-layout in O(in-scope rows) while every cold dir survives
    * byte-identical and is never probed, listed or read. Scope semantics
    * are [[whereScope]]'s (overlap, widening conjuncts). `targetDirs`
    * defaults to the in-scope dir count, keeping the table's dir-count
    * granularity. No-op when the scope is empty. */
  def zorderWhere(spark: SparkSession, root: String,
      cond: org.apache.spark.sql.Column, cols: Seq[String],
      targetDirs: Option[Int] = None,
      extraStatCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil,
      bloomFpp: Double = 0.01,
      rankBuckets: Int = 0): ManifestCommit.Manifest = {
    val m = ManifestCommit.requireManifest(spark, root)
    val scope = whereScope(spark, m, cond)
    if (scope.isEmpty) return m
    zorderCompactN(spark, root, cols,
      targetDirs.getOrElse(math.max(1, scope.size)),
      extraStatCols, bloomCols, bloomFpp, scope = Some(scope),
      rankBuckets = rankBuckets)
  }

  /** The ONE fold-and-commit codepath every compaction flavor routes
    * through (round 18 — compactSmall's sliced/unsliced folds and
    * compactMonths' per-partition collapse used to be three write+commit
    * paths, and only one understood colmap + partition evolution
    * natively): `rows` (the folded dirs' live rows) optionally collapse
    * LATEST-PER-KEY within each slice group (`collapse` = Replacing
    * keys + version order — per-GROUP, a key appearing in two slice
    * values keeps both rows, the ReplacingMergeTree contract), re-lay
    * one dir per `slice` value (or one single dir when None), meter
    * `statCols`, rebuild blooms under physical names, and commit as a
    * rebasing `commitReconciled` that consumed exactly `fold`. */
  private def foldCommit(spark: SparkSession, root: String,
      m: ManifestCommit.Manifest, fold: Seq[String], rows: DataFrame,
      sliceText: Option[String], statCols: Seq[String],
      collapse: Option[(Seq[String], Option[String])],
      bloomCols: Seq[String], bloomFpp: Double,
      op: String): ManifestCommit.Manifest = {
    val collapsed = (collapse, sliceText) match {
      case (Some((keys, version)), Some(s)) =>
        Ingest.dedupLatest(rows.withColumn("__slice_g", expr(s)),
          keys :+ "__slice_g", version).drop("__slice_g")
      case (Some((keys, version)), None) =>
        Ingest.dedupLatest(rows, keys, version)
      case (None, _) => rows
    }
    val written = ManifestCommit.writeData(spark, root, collapsed,
      sliceText, statCols)
    written.foreach { case (d, _) =>
      rebuildBlooms(spark, d, bloomCols.map(m.physNameOf), bloomFpp) }
    ManifestCommit.commitReconciled(spark, root, base = m,
      displaced = fold,
      added = written.map(_._1),
      addedStats = written.toMap,
      op = op,
      pinned = fold.toSet)
  }

  /** MINOR compaction (SQL `OPTIMIZE`; `OPTIMIZE … WHERE` reaches it
    * through [[compactWhere]]'s `scope`). The fold CANDIDATES are the
    * in-scope live dirs smaller than `smallBytes` plus any dir carrying
    * a deletion vector (folding it materializes the DV away); large
    * clean dirs survive byte-identical. This is the LSM-ish maintenance
    * op that bounds dir count under streaming appends WITHOUT the
    * O(table) rewrite a full OPTIMIZE pays.
    *
    * An unsliced table folds its candidates into ONE new dir when at
    * least two qualify or one carries a DV. A table with a RECORDED
    * SLICE chooses per slice value ([[sliceFold]], the ClickHouse rule:
    * merge parts within a partition, and only where it holds several):
    * a clean slice-TIGHT candidate that is its value's only candidate is
    * already compact and survives byte-identical; DV'd dirs, LOOSE dirs
    * and the tight dirs they overlap or share a value with fold, one new
    * dir per value. A CDC batch's OPTIMIZE therefore costs O(touched
    * slices), not O(table), and so does the change-feed diff after it.
    * The fold records every slice component's stats, so its output is
    * tight and one per value: repeated OPTIMIZE converges and commits
    * nothing once the table is compact. Stats for new dirs are
    * recomputed on the union of the folded dirs' stat columns; kept
    * dirs keep stats and byte identity.
    *
    * `collapse` = Some((keys, version)) additionally collapses the
    * folded rows LATEST-PER-KEY within each slice group (the Replacing
    * semantics [[compactMonths]] applies per month) — the generic fold
    * carries the option natively, so any sliced layout gets the
    * collapse without a dedicated codepath. */
  def compactSmall(spark: SparkSession, root: String,
      smallBytes: Long, bloomCols: Seq[String] = Nil,
      bloomFpp: Double = 0.01,
      scope: Option[Set[String]] = None,
      collapse: Option[(Seq[String], Option[String])] = None)
      : ManifestCommit.Manifest = {
    val m = ManifestCommit.requireManifest(spark, root)
    val f = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // size probe on CONCURRENT threads: getContentSummary is one
    // filesystem round-trip per dir, and a sequential sweep is a driver
    // latency wall at high dir counts (the resolveBloom lesson; dv'd
    // dirs always fold, so they skip the probe entirely)
    // `scope` (compactWhere): dirs outside it are KEEP by fiat — never
    // probed, never folded
    val inScope: String => Boolean = d => scope.forall(_.contains(d))
    val small: Map[String, Boolean] = {
      // dirs whose manifest carries the exact __bytes stat answer from
      // METADATA (zero filesystem round-trips); only stat-less dirs
      // (old manifests) pay the content-summary probe
      val candidates = m.dirs.filter(inScope).filterNot(m.dvs.contains)
      val viaStat: Map[String, Boolean] = candidates.flatMap(d =>
        ManifestCommit.statLong(m, d, ManifestCommit.BytesStat)
          .map(b => d -> (b < smallBytes))).toMap
      val probed = candidates.filterNot(viaStat.contains)
      def probe(d: String) =
        d -> (f.getContentSummary(new Path(
          ManifestCommit.dirAbs(root, d))).getLength < smallBytes)
      viaStat ++ ManifestCommit.concurrently(probed, 32)(probe)
    }
    val candidates = m.dirs.filter(d =>
      inScope(d) && (m.dvs.contains(d) || small.getOrElse(d, false)))
    val fold = m.slice match {
      case Some(s) => sliceFold(m, s, candidates)
      case None =>
        if (candidates.size >= 2 || candidates.exists(m.dvs.contains))
          candidates
        else Nil
    }
    if (fold.isEmpty) return m
    val folded = ManifestCommit.readDirsOf(spark, root, m, fold)
    // baseStatCol: an all-null column's only recorded entry is its
    // __nn_ counter — inheritance must re-request the COLUMN, not let
    // the counter vanish through the pseudo filter
    val statCols = fold.flatMap(d => m.stats.getOrElse(d, Nil)
      .map(s => ManifestCommit.baseStatCol(s.col))).distinct
    // A table with a RECORDED SLICE folds through writeSliced — one dir
    // per slice value among the folded rows, slice-tight stats — the
    // Delta per-partition OPTIMIZE discipline. Folding a sliced table's
    // small dirs into ONE mixed dir (the pre-round-17 shape) silently
    // destroyed the layout the table was DDL'd for: a compacted
    // month-sliced table's folded dir spanned every month it absorbed,
    // so the very maintenance meant to help reads degraded their
    // pruning until rows were rewritten again. Unsliced tables keep the
    // single-dir fold. Rebasing commit either way: only the folded dirs
    // are consumed; a concurrent append grafts unconditionally (the new
    // small dir just waits for the next compaction cycle).
    val sliceStatCols = m.slice.toSeq.flatMap(s =>
      graft.sql.GraftWriteUtil.sliceRefCols(s, folded.columns.toSeq) ++
        ManifestCommit.sliceExprStatCols(s, folded.columns.toSeq))
    foldCommit(spark, root, m, fold, folded,
      sliceText = m.slice,
      statCols = (statCols ++ sliceStatCols).distinct,
      collapse = collapse,
      bloomCols = bloomCols, bloomFpp = bloomFpp,
      op = "compact_minor")
  }

  /** The fold set among a sliced table's compaction `candidates`. A dir
    * is slice-TIGHT when every component of `slice` is a per-dir
    * constant by its recorded stats (min == max and no null rows, or no
    * bound and a zero non-null counter: an all-null component); that
    * tuple is its slice value. Folding: DV'd dirs; LOOSE dirs (not
    * tight, or missing a component's stats — a merge rewrite spanning
    * several months, a month dir left by a partition evolution to days);
    * tight dirs that share their value with another candidate; and
    * tight dirs whose value a folding loose dir's component ranges can
    * hold (no stat = any value), so one fold leaves at most one dir per
    * value. */
  private[ingest] def sliceFold(m: ManifestCommit.Manifest, slice: String,
      candidates: Seq[String]): Seq[String] = {
    val comps = ManifestCommit.sliceComponents(slice)
    def stat(d: String, c: String) =
      m.stats.getOrElse(d, Nil).find(_.col.equalsIgnoreCase(c))
    def count(d: String, c: String) =
      stat(d, c).map(cs => new java.math.BigDecimal(cs.min))
    // Some(true) when the counters show rows with a null `c`, None when
    // the dir records no counters
    def hasNull(d: String, c: String): Option[Boolean] = for {
      nn <- count(d, ManifestCommit.nnStat(c))
      rows <- count(d, ManifestCommit.RowCountStat)
    } yield nn.compareTo(rows) != 0
    // per component: Some(Some(v)) constant v, Some(None) all-null
    def valueOf(d: String): Option[Seq[Option[String]]] = {
      val vs = comps.map(c => stat(d, c) match {
        case Some(cs) => Option.when(
          cs.min == cs.max && !hasNull(d, c).contains(true))(Some(cs.min))
        case None => Option.when(count(d, ManifestCommit.nnStat(c))
          .exists(_.signum == 0))(Option.empty[String])
      })
      if (vs.forall(_.isDefined)) Some(vs.flatten) else None
    }
    val value = candidates.map(d => d -> valueOf(d)).toMap
    val loose = candidates.filter(value(_).isEmpty)
    val parts = candidates.flatMap(value(_))
      .groupMapReduce(identity)(_ => 1)(_ + _)
    def holds(l: String)(v: Seq[Option[String]]): Boolean =
      comps.zip(v).forall {
        case (c, Some(x)) => stat(l, c).forall(_.overlaps(Some(x), Some(x)))
        case (c, None) => !hasNull(l, c).contains(false)
      }
    candidates.filter(d => value(d) match {
      case None => true
      case Some(v) =>
        m.dvs.contains(d) || parts(v) > 1 || loose.exists(holds(_)(v))
    })
  }

  /** The ClickHouse PER-PARTITION background merge, manifest-native (the
    * reference's monthly PARTITION BY layout compacts partition dirs via
    * renames, `Maintenance.compactFinalPartitioned` — not object-store-
    * safe; this is the same lifecycle through pure manifest commits):
    *
    * The steady state of a month-partitioned Replacing table is a set of
    * MONTH-PURE dirs (stats on `monthCol` span a single month — the
    * "partitions") plus recent DELTA dirs (appended batches, possibly
    * spanning months). This op folds the deltas in: for each month the
    * deltas actually touch, the month's pure dir(s) and the delta rows
    * of that month collapse latest-per-key into one new month-pure dir.
    * UNTOUCHED months survive byte-identical — per-load amortized cost
    * is O(touched months + deltas), never O(table), the same
    * per-partition-trigger discipline as the rename-based compactor.
    * Month reads prune through `ManifestCommit.resolvePruned` on
    * `monthCol` (month-pure stats make the prune exact).
    *
    * `version`: latest-per-key order (ReplacingMergeTree `ver`);
    * `keys` the collapse key. No-op without delta dirs. */
  def compactMonths(spark: SparkSession, root: String, monthCol: String,
      keys: Seq[String], version: Option[String],
      bloomCols: Seq[String] = Nil,
      bloomFpp: Double = 0.01): ManifestCommit.Manifest = {
    require(keys.nonEmpty, "compactMonths needs the collapse key")
    val m = ManifestCommit.requireManifest(spark, root)
    // month identity from the recorded temporal stats rendering
    // (uuuu-MM-… fixed width): pure = min and max in the same month
    def monthOf(d: String): Option[(String, String)] =
      m.stats.getOrElse(d, Nil).find(_.col == monthCol)
        .map(cs => (cs.min.take(7), cs.max.take(7)))
    // pure = single-month stats. A COLLAPSE is due for any month with
    // delta coverage OR more than one part (a single-month appended
    // batch is stats-pure but still an uncollapsed part of its month).
    val (pure, deltas) = m.dirs.partition(d =>
      monthOf(d).exists { case (lo, hi) => lo == hi })
    val byMonth = pure.groupBy(d => monthOf(d).get._1)
    val deltaDfOpt =
      if (deltas.isEmpty) None
      else Some(ManifestCommit.readDirsOf(spark, root, m, deltas).cache())
    try {
      val moRows = deltaDfOpt.map(_.select(
          date_format(col(monthCol), "yyyy-MM").as("__mo"))
        .distinct().collect().map(_.getString(0)).toSeq).getOrElse(Nil)
      // a NULL month can't belong to any partition: those delta rows are
      // collapsed among themselves into a residual dir that stays in the
      // committed set — dropping the delta dirs without re-homing them
      // would be silent data loss
      val deltaMonths = moRows.filter(_ != null)
      val hasNullMonth = moRows.contains(null)
      val multiPart = byMonth.collect { case (mo, ds) if ds.size > 1 => mo }
      val touched = (deltaMonths ++ multiPart).distinct.sorted
      if (touched.isEmpty && !hasNullMonth) return m

      val priorRows =
        if (m.stats.values.exists(_.exists(_.col == ManifestCommit.RowCountStat)))
          Seq(ManifestCommit.RowCountStat)
        else Nil
      val statCols = (Seq(monthCol) ++ keys).distinct ++ priorRows
      val rewritten = touched.flatMap(mo => byMonth.getOrElse(mo, Nil))
      // ALL touched months collapse in ONE pass (round 15; was a
      // sequential per-month loop of write+stats jobs — 2M jobs for M
      // touched months, a scheduler-latency wall that showed up as
      // q134's r14 regression and would dominate a backfill touching
      // hundreds of months): one union of the rewritten pure dirs plus
      // every delta row, one latest-per-key collapse GROUPED BY MONTH
      // (the ReplacingMergeTree contract is per-partition — a key
      // appearing in two months keeps both months' rows), and one
      // writeSliced laying out one dir per month with stats from its
      // single grouped pass. NULL-month delta rows ride the same pass:
      // their slice is null, writeSliced lands them in the
      // __HIVE_DEFAULT_PARTITION__-keyed residual dir.
      // backtick-quoted: monthCol is a NAME (the old col() contract) —
      // bare interpolation would let expr() parse `event-ts` as
      // subtraction
      val moText = s"date_format(`$monthCol`, 'yyyy-MM')"
      val pureDf =
        if (rewritten.isEmpty) None
        else Some(ManifestCommit.readDirsOf(spark, root, m, rewritten))
      val allParts = (pureDf.toSeq ++ deltaDfOpt.toSeq).reduce(_ unionByName _)
      // consumed = the rewritten month dirs + every delta dir; a
      // concurrently-appended batch grafts as a fresh delta for the next
      // cycle (the per-partition-trigger discipline). The collapse runs
      // per month inside the shared fold (keys + slice group).
      foldCommit(spark, root, m, rewritten ++ deltas, allParts,
        sliceText = Some(moText),
        statCols = statCols,
        collapse = Some((keys, version)),
        bloomCols = bloomCols, bloomFpp = bloomFpp,
        op = "compact_months")
    } finally { deltaDfOpt.foreach(_.unpersist()); () }
  }

  /** `ANALYZE TABLE graft.t COMPUTE STATISTICS [FOR COLUMNS (a, b)]` —
    * RETROFIT per-dir stats onto EXISTING dirs without rewriting a
    * byte: each live dir missing any requested stat gets min/max for
    * `cols` plus the exact row counter and on-disk bytes, computed in
    * one pass over its own files and re-stated through
    * `commitReconciled(statUpdates)` (an O(metadata) commit; the only
    * data I/O is the one read per un-metered dir). Arms stats-based
    * skipping, manifest-only COUNT(*) and exact sizeInBytes on tables
    * created/converted without stat columns — the post-hoc half of the
    * stats discipline (Delta meters at write time; Iceberg's analogue
    * is rewrite_manifests). IDEMPOTENT and INCREMENTAL: a dir already
    * carrying every requested stat skips its scan entirely, so a
    * re-run after appends meters only the new dirs, and a fully-metered
    * table commits nothing. `cols` resolve against the recorded schema
    * (logical names under a column mapping — stat keys stay logical,
    * exactly like write-time metering). */
  /** `bloomCols` (`ANALYZE … WITH BLOOMS (a, b)`): retrofit point-lookup
    * bloom side files onto live dirs that lack them — the legacy-table
    * migration story for `key = x` probes (q130's index otherwise only
    * arrives via rewrites). Presence of the side file IS the
    * completeness marker (no manifest change, no new generation), so
    * re-runs build nothing; each un-indexed dir pays one distinct-count
    * aggregate + one bloom build, sized to its own cardinality. Dirs
    * missing the column entirely are skipped (no bloom = never pruned,
    * the resolveBloom contract). */
  def analyzeStats(spark: SparkSession, root: String,
      cols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil,
      bloomFpp: Double = 0.01): ManifestCommit.Manifest = {
    val m = ManifestCommit.requireManifest(spark, root)
    val resolver = spark.sessionState.conf.resolver
    val fieldNames = m.tableSchema.map(_.fieldNames.toSeq).getOrElse(Nil)
    def canonOf(c: String): String =
      if (fieldNames.isEmpty) c
      else fieldNames.find(resolver(_, c)).getOrElse(
        throw new IllegalArgumentException(
          s"graft ANALYZE: no column $c in the table schema " +
            s"(${fieldNames.mkString(", ")})"))
    val canon = cols.map(canonOf)

    if (bloomCols.nonEmpty) {
      val canonB = bloomCols.map(canonOf)
      val f = new Path(root).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      def missing(d: String): Seq[String] = canonB.filter { c =>
        val abs = ManifestCommit.dirAbs(root, d)
        val phys = m.physNameOf(c)
        !f.exists(new Path(abs, s"_bloom_$c")) &&
          !f.exists(new Path(abs, s"_bloom_$phys"))
      }
      def index(d: String, want: Seq[String]): Unit = {
        val abs = ManifestCommit.dirAbs(root, d)
        // a hive-nested converted dir serves its partition column from
        // the path; data columns carry PHYSICAL names — build and name
        // the bloom under the on-disk name, same as the write path
        val footer = spark.read.parquet(abs).schema.fieldNames.toSet
        val present = want.map(m.physNameOf).filter(footer)
        if (present.nonEmpty) {
          val aggs = present.map(c => countDistinct(col(c)).as(c))
          val row = spark.read.parquet(abs)
            .agg(aggs.head, aggs.tail: _*).collect()(0)
          present.zipWithIndex.foreach { case (c, i) =>
            ManifestCommit.writeDirBloom(spark, abs, c,
              math.max(8L, row.getLong(i)), bloomFpp)
          }
        }
      }
      val bTargets = m.dirs.map(d => d -> missing(d)).filter(_._2.nonEmpty)
      // BATCHED build (r19): flat dirs of a schema-carrying table build
      // ALL their filters in TWO jobs total — one grouped countDistinct
      // pass (filter sizing), one mapPartitions+reduceByKey pass folding
      // per-(dir,col) BloomFilters — instead of ~3 jobs per dir through
      // a width-8 pool (a scheduler wall at 10k dirs: the whole point of
      // ANALYZE WITH BLOOMS is retrofitting a LARGE legacy table).
      // Hive-nested dirs (partition column served from the path) and
      // schemaless tables keep the per-dir path; a column type the
      // sketch can't hold (df.stat.bloomFilter contract: integral or
      // string) also falls back, preserving today's error surface.
      val physSchema = m.physicalSchema
      def bloomable(c: String): Boolean = physSchema.exists(s =>
        s.fields.find(_.name == m.physNameOf(c)).map(_.dataType).exists {
          case org.apache.spark.sql.types.StringType => true
          case org.apache.spark.sql.types.ByteType |
               org.apache.spark.sql.types.ShortType |
               org.apache.spark.sql.types.IntegerType |
               org.apache.spark.sql.types.LongType => true
          case _ => false
        })
      val (batchable, perDir) = bTargets.partition { case (d, want) =>
        physSchema.isDefined &&
          ManifestCommit.partSuffixOf(m, d).isEmpty && want.forall(bloomable)
      }
      if (batchable.size >= 2)
        buildBloomsBatch(spark, root, m, batchable, bloomFpp)
      val rest = perDir ++ (if (batchable.size >= 2) Nil else batchable)
      // overlap past four dirs (guide §2.6): each index() is a few
      // small driver-submitted jobs, and running many back-to-back is
      // a pure latency wall — the scheduler happily interleaves them
      ManifestCommit.concurrently(rest, 8) { case (d, w) => index(d, w) }
    }
    // a column can LEGITIMATELY yield no min/max entry (all-null values,
    // or absent from an old dir's files under schema evolution) — "no
    // stats = never pruned" forbids recording a bound for it. The
    // __analyzed marker records that the pass LOOKED, so the
    // completeness check below treats looked-and-null as satisfied and
    // a re-ANALYZE of a fully-metered table commits nothing (the
    // idempotency contract; without it every re-run re-scanned the
    // null-stat dirs and committed a fresh generation).
    def analyzedSet(d: String): Set[String] =
      m.stats.getOrElse(d, Nil)
        .find(_.col == ManifestCommit.AnalyzedStat)
        .map(_.min.split(",").filter(_.nonEmpty).toSet)
        .getOrElse(Set.empty)
    val targets = m.dirs.filter { d =>
      val have = m.stats.getOrElse(d, Nil).map(_.col).toSet
      val seen = analyzedSet(d)
      // complete per column: a bound (or looked-and-null marker) AND the
      // non-null counter (round 18 — a pre-counter dir re-meters once so
      // IS NULL skipping / COUNT(c) / whole-dir DML proofs arm on it).
      // The marker satisfies the COUNTER conjunct only when the column
      // has no bound either (footer-absent / all-null): a bound-bearing
      // dir with a pre-counter `__analyzed` marker must still re-meter
      // once, or its counters never backfill (ADVICE r18)
      !(canon.forall(c => (have(c) || seen(c)) &&
          (have(ManifestCommit.nnStat(c)) || (seen(c) && !have(c)))) &&
        have(ManifestCommit.RowCountStat) && have(ManifestCommit.BytesStat))
    }
    if (targets.isEmpty) return m // fully metered — commit nothing
    // Footer per target dir (driver-side reads, overlapped on a pool):
    // a dir written before a column was ADDED has no backing field —
    // skip that column for that dir; the marker still records it as
    // examined, so the dir stays complete on re-runs. The footer also
    // GROUPS the aggregate passes below: same-footer dirs (the common
    // bulk-load case) meter in ONE [[ManifestCommit.dirStatsBatch]]
    // grouped pass with an explicit schema — an N-dir ANALYZE costs a
    // couple of jobs per distinct footer instead of ~2 jobs per dir
    // through a width-8 pool, the difference between minutes and a
    // scheduler wall on a 10k-dir table (r19).
    def footerOf(d: String): org.apache.spark.sql.types.StructType =
      spark.read.parquet(ManifestCommit.dirAbs(root, d)).schema
    val footers: Map[String, org.apache.spark.sql.types.StructType] =
      ManifestCommit.concurrently(targets, 8)(d => d -> footerOf(d)).toMap
    // stats → the per-dir entry (marker logic unchanged from the
    // per-dir meter this replaces)
    def finish(d: String, cs: Seq[ManifestCommit.ColStats])
        : Seq[ManifestCommit.ColStats] = {
      val base =
        if (cs.nonEmpty) cs
        else Seq(ManifestCommit.dirBytesStat(spark,
          ManifestCommit.dirAbs(root, d)))
      // marker only when a requested column yielded no bound — the
      // common fully-stat-ed dir carries no extra metadata
      val gap = canon.filterNot(base.map(_.col).toSet)
      if (gap.isEmpty) base
      else {
        val seen = (analyzedSet(d) ++ canon).toSeq.sorted.mkString(",")
        base :+ ManifestCommit.ColStats(
          ManifestCommit.AnalyzedStat, "str", seen, seen)
      }
    }
    val metered: Map[String, Seq[ManifestCommit.ColStats]] =
      targets.groupBy(footers).toSeq.flatMap { case (footer, ds0) =>
        val fieldSet = footer.fieldNames.toSet
        val present = canon.filter(c => fieldSet(m.physNameOf(c)))
        val ask = (present :+ ManifestCommit.RowCountStat).distinct
        // hive-NESTED converted dirs can't ride the batch (its group key
        // is the file's immediate parent basename, which for them is the
        // `k=v` leaf, not the data dir) — meter them per-dir, schema-less
        // (their footer-derived schema carries discovery-injected
        // partition columns the raw per-dir read must re-discover)
        val (nested, ds) = ds0.partition(d =>
          ManifestCommit.partSuffixOf(m, d).isDefined)
        val absOf = ds0.map(d => d -> ManifestCommit.dirAbs(root, d)).toMap
        val batch =
          if (ds.isEmpty) Map.empty[String, Seq[ManifestCommit.ColStats]]
          else ManifestCommit.dirStatsBatch(spark, ds.map(absOf), ask,
            colmap = m.colmap, schema = Some(footer))
        ds.map(d => d -> finish(d, batch.getOrElse(absOf(d), Nil))) ++
          nested.map(d => d -> finish(d,
            ManifestCommit.dirStats(spark, absOf(d), ask, colmap = m.colmap)))
      }.toMap
    // merge with any stats the dir already had (never drop an existing
    // column's entry — a narrower ANALYZE must not disarm wider skipping)
    val updates = metered.map { case (d, fresh) =>
      val freshKeys = fresh.map(_.col).toSet
      val kept = m.stats.getOrElse(d, Nil).filterNot(c => freshKeys(c.col))
      // preserve a converted dir's nesting marker and partition-value
      // stats (they live in `kept`)
      d -> (kept ++ fresh)
    }
    ManifestCommit.commitReconciled(spark, root, base = m,
      displaced = Nil, added = Nil,
      statUpdates = updates,
      op = "analyze",
      pinned = targets.toSet)
  }

  /** ALL of `targets`' missing blooms in two Spark jobs (r19): one
    * grouped countDistinct pass sizes each (dir, col) filter, one
    * mapPartitions + reduceByKey pass folds the BloomFilters themselves
    * — versus ~3 driver-submitted jobs per dir on the per-dir path.
    * Parity with [[analyzeStats]]' per-dir `index()` is exact:
    *  - only FOOTER-PRESENT columns get a file (a dir written before a
    *    column was ADDED stays bloom-less for it — "no bloom = never
    *    pruned"); footers come from pooled driver-side reads, no jobs;
    *  - files land under the PHYSICAL on-disk name, tmp+rename install;
    *  - a present-but-all-null column gets the same empty minimal
    *    filter `index()` writes (probes answer "definitely not here",
    *    which is exact — no live row equals any probe value);
    *  - values fold through BloomFilter.put, the same integral/string
    *    dispatch `df.stat.bloomFilter` uses, so probe compatibility
    *    (`mightContain` from [[ManifestCommit.resolveBloom]]) holds
    *    byte-for-byte. */
  private def buildBloomsBatch(spark: SparkSession, root: String,
      m: ManifestCommit.Manifest,
      targets: Seq[(String, Seq[String])], fpp: Double): Unit = {
    import org.apache.spark.sql.functions.{col, countDistinct, element_at, input_file_name, split}
    val physSchema = m.physicalSchema.get
    val absOf = targets.map { case (d, _) =>
      d -> ManifestCommit.dirAbs(root, d) }.toMap
    def baseOf(d: String) = new Path(absOf(d)).getName
    // footer presence per dir — pooled driver-side footer reads
    val footers: Map[String, Set[String]] =
      ManifestCommit.concurrently(targets, 8) { case (d, _) =>
        d -> spark.read.parquet(absOf(d)).schema.fieldNames.toSet }.toMap
    // wanted PHYSICAL columns per dir basename, footer-present only
    val wantByDir: Map[String, Seq[String]] = targets.map { case (d, want) =>
      baseOf(d) -> want.map(m.physNameOf).distinct.filter(footers(d))
    }.toMap.filter(_._2.nonEmpty)
    val dirOfBase: Map[String, String] =
      targets.map { case (d, _) => baseOf(d) -> d }.toMap
    if (wantByDir.isEmpty) return
    val allCols: Seq[String] = wantByDir.values.flatten.toSeq.distinct
    val readDirs = wantByDir.keys.toSeq.sorted.map(b => absOf(dirOfBase(b)))
    val sel = spark.read.schema(physSchema).parquet(readDirs: _*)
      .select((element_at(split(input_file_name(), "/"), -2).as("__dir") +:
        allCols.map(col)): _*)
    // pass 1: filter sizing — per-(dir, col) distinct counts
    val cntAggs = allCols.map(c => countDistinct(col(c)).as(c))
    val expected: Map[(String, String), Long] =
      sel.groupBy("__dir").agg(cntAggs.head, cntAggs.tail: _*).collect()
        .flatMap { r => allCols.zipWithIndex.map { case (c, i) =>
          (r.getString(0), c) -> math.max(8L, r.getLong(i + 1)) } }.toMap
    // pass 2: fold every wanted (dir, col) filter in one job
    val wantB = spark.sparkContext.broadcast(wantByDir.map {
      case (b, cs) => b -> cs.toSet })
    val expB = spark.sparkContext.broadcast(expected)
    val colIdx = allCols.zipWithIndex.map { case (c, i) => c -> (i + 1) }
    val built = sel.rdd.mapPartitions { it =>
      val acc = scala.collection.mutable.HashMap
        .empty[(String, String), org.apache.spark.util.sketch.BloomFilter]
      it.foreach { r =>
        val dir = r.getString(0)
        wantB.value.get(dir).foreach { want =>
          colIdx.foreach { case (c, i) =>
            if (want(c) && !r.isNullAt(i)) {
              val bf = acc.getOrElseUpdate((dir, c),
                org.apache.spark.util.sketch.BloomFilter.create(
                  expB.value((dir, c)), fpp))
              bf.put(r.get(i))
            }
          }
        }
      }
      acc.iterator
    }.reduceByKey { (a, b) => a.mergeInPlace(b); a }.collect()
    val builtMap = built.toMap
    // install (tmp + rename each): wanted pairs the fold never saw a
    // non-null value for get the empty minimal filter, as per-dir does
    val installs: Seq[((String, String),
        org.apache.spark.util.sketch.BloomFilter)] =
      wantByDir.toSeq.flatMap { case (b, cs) => cs.map { c =>
        (b, c) -> builtMap.getOrElse((b, c),
          org.apache.spark.util.sketch.BloomFilter.create(
            expected((b, c)), fpp))
      } }
    installs.foreach { case ((b, c), bf) =>
      ManifestCommit.installDirBloom(spark, absOf(dirOfBase(b)), c, bf)
    }
  }
}
