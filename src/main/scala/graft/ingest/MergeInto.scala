package graft.ingest

import graft.ingest.ManifestCommit.ColStats
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, Decimal, DecimalType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** MERGE INTO over a manifest-committed table — the copy-on-write upsert
  * the reference expresses as ReplacingMergeTree INSERT + `FINAL` collapse
  * (tools/ingest_runner.py:1598-1789 rewrites whole tables through the
  * staging swap; a lakehouse deployment needs row-level merge without the
  * full rewrite). Public Delta/Iceberg MERGE semantics:
  *
  *   - matched (target key = source key): DELETE when `deleteWhen` holds
  *     on the source row, otherwise UPDATE (the source row replaces the
  *     target row);
  *   - not matched: INSERT the source row (unless `insertUnmatched` is
  *     off, or it is a delete of an absent key — a no-op).
  *
  * Copy-on-write is DIR-level, arbitrated by the manifest's commit-time
  * column stats: a live data dir whose `keys.head` [min, max] range
  * provably contains NO source key is never read, never rewritten, and
  * survives the commit byte-identical — on a 100 TB table a merge that
  * touches one hot range costs O(touched dirs + source), not O(table).
  * The affected-dir test is EXACT (one aggregate over the source marking
  * each dir whose range holds a key — a single job, one bit per dir on
  * the driver), not a min/max-overlap approximation, so a source whose key
  * span straddles a cold dir without actually containing any of its keys
  * still skips it. Dirs without stats on `keys.head` are always rewritten
  * (stats are an optimization, never a correctness gate — same contract
  * as `ManifestCommit.resolvePruned`).
  *
  * The rewrite itself is ONE null-safe full-outer join between the
  * touched dirs and the source on `keys` — survivors, updates, deletes
  * and inserts all fall out of the join sides, so the merge costs one
  * shuffle of (touched ∪ source), with per-action counts metered by
  * `observe` on the same pass (no second job). Unmatched-ness only needs
  * the touched dirs: a source key outside every live dir's range cannot
  * match anywhere by construction.
  *
  * Commit is optimistic-concurrency: the new live set (kept dirs + one
  * new dir) replaces the generation this merge READ via
  * `expectedGen` CAS — a concurrent writer landing in between raises
  * `ConcurrentCommitException` and the caller re-reads and retries.
  * History is preserved (`pruneDisplaced = false`), so time travel and
  * `ChangeFeed.diff` see the merge as one generation step.
  *
  * Contract: `source` carries every target column and is UNIQUE on
  * `keys` (enforced with one cheap aggregate — a duplicate-key source
  * makes "the source row" ill-defined, the same reason the reference's
  * collapse requires a version order).
  */
object MergeInto {

  /** The exact affected-dir test packs one bit per ranged dir into
    * `HitWords` fixed `bit_or` aggregates, so it runs in ONE aggregate
    * for at most this many ranged dirs. Beyond it the test goes
    * two-stage: a free driver-side [srcMin, srcMax] overlap prune over
    * the manifest stats first, then the exact bits only over the overlap
    * SURVIVORS. A hot-band source on a range-laid-out table survives to
    * a handful of dirs (exact, one small aggregate); a scattered source
    * that overlaps more than the cap falls back to overlap-based pruning
    * — still CORRECT (rewriting an overlap-only dir preserves its rows
    * through the merge join; the cost is I/O, not answers), and exactly
    * the public Delta/Iceberg min-max merge-pruning contract. */
  private val HitWords = 8
  private val MaxExactRangeDirs = 64 * HitWords

  /** `HitWords` aggregates over `src`: bit `i` of word `w` is set when
    * ranged dir `64w + i` holds a key of `src` in its [min, max] (numeric
    * stats compare the key as decimal(38,6), others as a string). The
    * bounds ride the plan as data ([[DirRanges]]), not as literals, so
    * the generated aggregate depends only on the key's type: a batch
    * that adds a dir or moves a bound reuses the compiled class. */
  private def hitAggs(src: DataFrame, keyCol: String,
      ranged: Seq[(String, ColStats)]): Seq[Column] = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val ranges = DirRanges(ranged.map(_._2))
    val k = src.col(keyCol)
    // a kind no dir carries is never read — no cast of a string key to
    // a decimal (which fails under ANSI)
    def as(dt: DataType, used: Boolean) =
      ColumnBridge.expression(if (used) k.cast(dt) else lit(null).cast(dt))
    val num = as(DecimalType(38, 6), ranges.numeric.exists(identity))
    val str = as(StringType, ranges.numeric.exists(!_))
    (0 until HitWords).map(w =>
      bit_or(ColumnBridge.column(DirHitWord(num, str, ranges, w))))
  }

  /** The `ranged` dirs whose bit is set in the hit words at `at`. */
  private def hitDirs(ranged: Seq[(String, ColStats)], row: Row,
      at: Int): Set[String] =
    ranged.indices.collect {
      case i if !row.isNullAt(at + i / 64) &&
          ((row.getLong(at + i / 64) >>> (i % 64)) & 1L) == 1L => ranged(i)._1
    }.toSet

  /** What ONE aggregate over a DML's source keys proves. `lead` holds
    * the caller's own aggregates (a row count first); `touched` the live
    * dirs the source's keys reach, in manifest order; `disjoint` the
    * rebase proof for [[ManifestCommit.commitReconciled]] — a
    * concurrently-added dir is provably untouched when its recorded key
    * range cannot overlap the source's (null keys defeat range proofs;
    * no stats = no proof). */
  private final case class KeyScan(lead: Row,
      touched: Seq[String], disjoint: (String, Seq[ColStats]) => Boolean)

  /** The exact affected-dir test shared by [[merge]] and [[deleteWhere]]:
    * `lead`, the source's own key range + null witness and — when the
    * ranged-dir count fits [[MaxExactRangeDirs]] — the exact per-dir hit
    * bits, all on ONE pass (a second job here is pure sequential-latency
    * waste on a merge gate). Dirs without stats on `keyCol` are always
    * touched (stats are an optimization, never a correctness gate). A
    * null source key touches every ranged dir when the caller's match is
    * null-SAFE (`nullSafe`, MERGE's `<=>` join); a null-unsafe match
    * (the delete's semi-join) deletes nothing with it. */
  private def scanKeys(m: ManifestCommit.Manifest, src: DataFrame,
      keyCol: String, lead: Seq[Column], nullSafe: Boolean): KeyScan = {
    val dirRange: Seq[(String, Option[ColStats])] =
      m.dirs.map(d => d -> m.stats.getOrElse(d, Nil).find(_.col == keyCol))
    val ranged = dirRange.collect { case (d, Some(cs)) => (d, cs) }
    val few = ranged.size <= MaxExactRangeDirs
    val k = src.col(keyCol)
    val n = lead.size
    val row = src.agg(lead.head, (lead.tail ++
      Seq(min(k), max(k), sum(when(k.isNull, 1L).otherwise(0L))) ++
      (if (few) hitAggs(src, keyCol, ranged) else Nil)): _*).collect()(0)
    val empty = row.getLong(0) == 0L
    val range = ManifestCommit.colStatsOf(keyCol, src.schema(keyCol).dataType,
      row.get(n), row.get(n + 1))
    val nullKey = !row.isNullAt(n + 2) && row.getLong(n + 2) > 0L
    val hit: Set[String] =
      if (empty) Set.empty
      else if (nullKey && nullSafe) ranged.map(_._1).toSet
      else if (few) hitDirs(ranged, row, n + 3)
      else {
        val overlap = ranged.filter { case (_, cs) =>
          range.exists(sr => cs.overlaps(Some(sr.min), Some(sr.max))) }
        if (overlap.isEmpty) Set.empty
        else if (overlap.size > MaxExactRangeDirs) overlap.map(_._1).toSet
        else {
          val aggs = hitAggs(src, keyCol, overlap)
          hitDirs(overlap, src.agg(aggs.head, aggs.tail: _*).collect()(0), 0)
        }
      }
    val touched = dirRange.collect { case (d, cs) if cs.isEmpty || hit(d) => d }
    KeyScan(row, touched, (_, stats) =>
      empty || (!nullKey && range.exists(sr =>
        stats.find(_.col == keyCol).exists(cs =>
          !cs.overlaps(Some(sr.min), Some(sr.max))))))
  }

  final case class MergeResult(
      gen: Long,
      dirsTotal: Int,
      dirsRewritten: Int,
      updated: Long,
      deleted: Long,
      inserted: Long,
      survivors: Long)

  /** `retries`: bounded AUTO-retry on an irreconcilable concurrent commit
    * — each attempt re-reads the manifest and re-runs the whole merge
    * (the OCC loop every production writer needs; the rebase in
    * `commitReconciled` already absorbs COMMUTING interleaves without
    * re-running, so a retry only fires when the conflict is real). The
    * aborted attempt's staged dir is reclaimed eagerly, not left for
    * `pruneOrphans`. Default 0 preserves throw-on-conflict.
    *
    * `unmatchedDeleteInserts`: what an UNMATCHED source row with a true
    * `deleteWhen` means. The programmatic default (false) treats it as a
    * delete of an absent key — a no-op (the delete-feed shape q147's
    * replication applies). SQL MERGE passes true: matched-clause
    * conditions never apply to unmatched rows there, so such a row falls
    * through to WHEN NOT MATCHED INSERT. */
  def merge(
      spark: SparkSession,
      root: String,
      source: DataFrame,
      keys: Seq[String],
      deleteWhen: Option[Column] = None,
      insertUnmatched: Boolean = true,
      evolveSchema: Boolean = false,
      retries: Int = 0,
      unmatchedDeleteInserts: Boolean = false): MergeResult =
    retrying(retries)(mergeOnce(spark, root, source, keys, deleteWhen,
      insertUnmatched, evolveSchema, unmatchedDeleteInserts))

  /** The OCC loop (optimistic concurrency control) of every DML verb:
    * `attempt` runs up to `retries + 1` times while it loses to a
    * concurrent commit, each run re-reading the table; the final
    * attempt's conflict propagates. */
  private def retrying[T](retries: Int)(attempt: => T): T = {
    var left = retries.max(0)
    while (left > 0) {
      try return attempt
      catch { case _: ManifestCommit.ConcurrentCommitException => left -= 1 }
    }
    attempt
  }

  /** One merge attempt. The source is evaluated twice — by the key
    * aggregate and by the write pass — so a source that is not a local
    * relation (a change feed's diff is a join over changed dirs) is
    * persisted for the attempt and computed once; a source the caller
    * already cached is left alone. */
  private def mergeOnce(
      spark: SparkSession,
      root: String,
      source: DataFrame,
      keys: Seq[String],
      deleteWhen: Option[Column],
      insertUnmatched: Boolean,
      evolveSchema: Boolean,
      unmatchedDeleteInserts: Boolean): MergeResult = {
    val hold = source.storageLevel == org.apache.spark.storage.StorageLevel.NONE &&
      !source.queryExecution.optimizedPlan.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.logical.LocalRelation]
    if (hold) source.persist()
    try mergeAttempt(spark, root, source, keys, deleteWhen, insertUnmatched,
      evolveSchema, unmatchedDeleteInserts)
    finally if (hold) source.unpersist()
  }

  private def mergeAttempt(
      spark: SparkSession,
      root: String,
      source: DataFrame,
      keys: Seq[String],
      deleteWhen: Option[Column],
      insertUnmatched: Boolean,
      evolveSchema: Boolean,
      unmatchedDeleteInserts: Boolean): MergeResult = {
    require(keys.nonEmpty, "merge requires at least one key column")
    val m = ManifestCommit.requireManifest(spark, root)

    // the target's schema comes from the MANIFEST when recorded — building
    // a frame over every live dir just to learn the column set forces an
    // InMemoryFileIndex listing of ALL of them (measured: the dominant
    // cost of a hot-band merge at 16k dirs, a driver-side listing job
    // before any real work). Unrecorded-schema tables keep the
    // read-through-manifest fallback (mergeSchema footer sweep — correct,
    // just slower; the same readDirsOf contract as everywhere else).
    val tSchema: org.apache.spark.sql.types.StructType =
      m.tableSchema.getOrElse(
        ManifestCommit.readDirsOf(spark, root, m, m.dirs).schema)
    val tCols = tSchema.fieldNames.toSeq
    require(tCols.forall(source.columns.contains),
      s"source must carry every target column; missing " +
        tCols.filterNot(source.columns.contains).mkString(","))
    // schema evolution (the reference's fixer relaxes schemas mid-stream,
    // tools/fix_clickhouse_schemas.py:73-166): NEW source columns append
    // to the table schema. Only the rewritten dir materializes them;
    // cold dirs stay byte-identical and null-fill at read through the
    // manifest's recorded union schema (explicit-schema parquet read —
    // no planning-time footer sweep). Without the flag, extra source
    // columns are dropped, the pre-evolution contract. `__graft_`-prefixed
    // columns are RESERVED engine helpers (the SQL MERGE delete-clause
    // carrier) and never evolve onto the table.
    val extraCols: Seq[String] =
      if (evolveSchema) source.columns.toSeq.filterNot(tCols.contains)
        .filterNot(_.startsWith("__graft_"))
      else Nil
    val outCols = tCols ++ extraCols

    // ---- ONE aggregate over the source: key uniqueness plus the exact
    // affected-dir test (scanKeys). Keys are distinct as a struct, which
    // is never null itself, so a null key counts like any other value —
    // the null-safe `<=>` join below matches it (countDistinct over the
    // bare keys would skip it and refuse every null-keyed source)
    val scan = scanKeys(m, source, keys.head,
      Seq(count(lit(1)).as("n"), countDistinct(struct(keys.map(col): _*)).as("d")),
      nullSafe = true)
    require(scan.lead.getLong(0) == scan.lead.getLong(1),
      s"source is not unique on (${keys.mkString(",")}): " +
        s"${scan.lead.getLong(0)} rows, ${scan.lead.getLong(1)} distinct keys")
    val touched = scan.touched.toSet
    val keptDirs = m.dirs.filterNot(touched)

    // ---- one full-outer join: survivors + updates + deletes + inserts
    val tgt = extraCols.foldLeft(
      (if (touched.isEmpty)
        spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), tSchema)
       // DV-aware subset read: a touched dir's deletion vector must be
       // applied here, or the rewrite would resurrect deleted rows
       else ManifestCommit.readDirsOf(spark, root, m, m.dirs.filter(touched)))
        .select(tCols.map(col): _*)) { (d, c) =>
        // target rows predate the new column → null (Delta/Iceberg
        // evolution semantics); the cast pins the source's exact type
        d.withColumn(c, lit(null).cast(source.schema(c).dataType))
      }
      .withColumn("__t", lit(true))
    val src = source
      .withColumn("__del", deleteWhen.getOrElse(lit(false)))
      .select((outCols.map(col) :+ col("__del")): _*)
      .withColumn("__s", lit(true))
    val cond = keys.map(k => tgt(k) <=> src(k)).reduce(_ && _)
    val joined = tgt.join(src, cond, "full_outer")

    val action = when(src("__s").isNull, lit("keep"))
      .when(tgt("__t").isNull,
        when((lit(unmatchedDeleteInserts) || !src("__del")) && lit(insertUnmatched),
          lit("insert")).otherwise(lit("skip")))
      .when(src("__del"), lit("delete"))
      .otherwise(lit("update"))

    // preserve kept dirs' stats; the SAME cols (and the byte meter) for
    // the new dir are metered on the write pass itself — no post-write
    // dirStats re-read of the dir we just produced
    val statCols = ((m.stats.values.flatten.map(s => ManifestCommit.baseStatCol(s.col))
      .toSeq match {
        case Nil => keys
        case cs => cs
      }) :+ ManifestCommit.BytesStat).distinct

    // the action counters ride the write pass too, observed BEFORE the
    // written-row filter so deleted/skipped rows are still counted; stat
    // min/max only see WRITTEN rows (a deleted row's values must not
    // widen the new dir's pruning range)
    val out = joined
      .select((outCols.map(c => when(action === "keep", tgt(c)).otherwise(src(c)).as(c)) :+
        action.as("__graft_action")): _*)
    val act = col("__graft_action")
    def n(a: String) = sum(when(act === a, 1L).otherwise(0L)).as(a)
    val newDir = ManifestCommit.newDataDir(root)
    // logical->physical rename under a column mapping (no-op otherwise);
    // stats are observed on the logical frame, so keys stay logical
    val (newStats, metrics) = ManifestCommit.writeDirWithStats(spark, root,
      out, newDir, statCols,
      written = Some(act =!= "delete" && act =!= "skip"),
      counters = Seq(n("update"), n("delete"), n("insert"), n("keep")))
    def metric(name: String): Long = metrics.get(name) match {
      case Some(v: java.lang.Long) => v.longValue()
      case Some(v) if v != null => v.toString.toLong
      case _ => 0L
    }
    val (upd, del, ins, keep) =
      (metric("update"), metric("delete"), metric("insert"), metric("keep"))
    val newName = new org.apache.hadoop.fs.Path(newDir).getName
    // every merge records the (possibly evolved) union schema: readers of
    // this generation plan with it explicitly, so cold dirs that predate
    // an evolved column null-fill without any footer sweep. Nullability
    // is forced — a cold dir has no values for an evolved column.
    val unionSchema = org.apache.spark.sql.types.StructType(
      out.drop("__graft_action").schema.fields.map(_.copy(nullable = true)))
    // rebasing commit: touched dirs are both the read set (pinned — a
    // concurrent rewrite of one means this output is stale) and the
    // displaced set; kept dirs' stats and DVs (including concurrent
    // repoints on dirs this merge never read) carry from the CURRENT
    // generation; a disjoint concurrent append grafts in
    // CHECK constraints are proven on the STAGED output — exactly the
    // rows that will serve reads, so delete-clause rows (never written)
    // and nondeterministic sources are handled soundly; a violation
    // deletes the staged dir and refuses the merge before any commit
    if (upd + ins + keep > 0)
      ManifestCommit.validateWrittenChecks(spark, root, m.checks,
        Seq(newName), "MERGE")
    val committed =
      try ManifestCommit.commitReconciled(
        spark, root, base = m,
        displaced = m.dirs.filter(touched),
        added = Seq(newName),
        addedStats =
          if (newStats.nonEmpty) Map(newName -> newStats) else Map.empty,
        schema = Some(unionSchema),
        op = "merge",
        pinned = touched,
        disjoint = scan.disjoint,
        // Some even when the read set was empty — a concurrent ADD
        // CONSTRAINT must fail this commit's CAS, not adopt its rows
        expectedChecks = Some(m.checks))
      catch {
        case e: ManifestCommit.ConcurrentCommitException =>
          // the staged rewrite can never be referenced — reclaim it now
          // (a retried merge re-stages from the new generation)
          ManifestCommit.reclaim(spark, root, Seq(newDir))
          throw e
      }

    MergeResult(committed.gen, m.dirs.size, m.dirs.size - keptDirs.size,
      upd, del, ins, keep)
  }

  final case class DeleteResult(
      gen: Long,
      dirsTotal: Int,
      dvsWritten: Int,
      deleted: Long)

  /** MERGE-ON-READ delete (public Delta deletion-vector / Iceberg
    * delete-file idea): subtract `keys` (a DataFrame holding exactly the
    * key columns) from the table WITHOUT rewriting any data dir. For
    * each dir the manifest's stats prove affected, the keys actually
    * present in that dir (one broadcast semi-join per touched dir — the
    * key set is small by the nature of a delete) are unioned into a NEW
    * immutable `_dv_*` file and the manifest repoints. Cost is
    * O(touched dirs × delete keys), never O(table) — the copy-on-write
    * worst case this exists for is a SPARSE delete scattered across
    * every dir, where `merge` would rewrite the whole table.
    *
    * Reads apply DVs as per-dir anti-joins; `OPTIMIZE`/compaction and a
    * later `merge` of a dv'd dir materialize the subtraction and drop
    * the DV. Time travel is exact: each generation references its own
    * immutable dv files.
    *
    * `retries`: bounded auto-retry on concurrent-commit conflict, the
    * same OCC loop as [[merge]]; staged `_dv_*` files of an aborted
    * attempt are reclaimed eagerly. */
  def deleteWhere(
      spark: SparkSession,
      root: String,
      keys: DataFrame,
      retries: Int = 0): DeleteResult =
    retrying(retries)(deleteWhereOnce(spark, root, keys))

  private def deleteWhereOnce(
      spark: SparkSession,
      root: String,
      keys: DataFrame): DeleteResult = {
    val keyCols = keys.columns.toSeq
    require(keyCols.nonEmpty, "deleteWhere requires at least one key column")
    val m = ManifestCommit.requireManifest(spark, root)
    val distinctKeys = keys.distinct().cache()
    try {
      // exact affected-dir test on keyCols.head — same contract as merge
      // (scanKeys). Null delete keys touch nothing: the per-dir semi-join
      // is null-UNSAFE equality, so a null key deletes nothing by contract.
      val scan = scanKeys(m, distinctKeys, keyCols.head, Seq(count(lit(1))),
        nullSafe = false)
      val touched = scan.touched

      // keys actually present among each touched dir's LIVE rows
      // (existing DV applied first, so re-deleting an already-deleted key
      // is a no-op), attributed by __dir in ONE semi-join over every
      // touched dir. Matched ROWS (not distinct keys) feed the dv-dead
      // counter: under key duplication within a dir one dv key kills
      // several rows, and the counter must track rows for live = rows −
      // dead. Both counts ride ONE grouped aggregate (semi-joined rows
      // always carry fully non-null keys — null-unsafe equality).
      val byBase = touched.map(d => new org.apache.hadoop.fs.Path(
        ManifestCommit.dirAbs(root, d)).getName -> d).toMap
      lazy val matched = ManifestCommit.readDirsOf(spark, root, m, touched,
        keepDir = true)
        .join(broadcast(distinctKeys), keyCols, "left_semi")
        .select((col("__dir") +: keyCols.map(col)): _*)
      val cnts: Map[String, (Long, Long)] =
        if (touched.isEmpty) Map.empty
        else matched.groupBy("__dir")
          .agg(count(lit(1)), countDistinct(keyCols.head, keyCols.tail: _*))
          .collect().flatMap(r => byBase.get(r.getString(0))
            .map(_ -> (r.getLong(1), r.getLong(2)))).toMap
      val hitDvd = touched.filter(d => cnts.contains(d) && m.dvs.contains(d))
      // a key DV grows by a union on the delete's own key columns, so a
      // hit dir whose DV holds other columns — a merge-on-read UPDATE's
      // position DV, or a key DV on other keys — cannot take these keys
      val foreign = hitDvd.filter(d => ManifestCommit.dvColumnsOf(spark,
        ManifestCommit.dirAbs(root, m.dvs(d))).toSet != keyCols.toSet)
      if (foreign.nonEmpty) throw new UnsupportedOperationException(
        s"deleteWhere on (${keyCols.mkString(", ")}): ${foreign.size} " +
          s"matched dir(s) carry a deletion vector on other columns " +
          s"(${foreign.take(3).mkString(", ")}); compact them with " +
          "OPTIMIZE first, or delete by predicate (deleteRows)")
      val newDvs = stageDvs(spark, root, matched,
        if (hitDvd.isEmpty) None
        else Some(ManifestCommit.dvRowsOf(spark, root, m, hitDvd)),
        cnts.keys.toSeq)
      val totalDeleted = cnts.values.map(_._2).sum
      // exact dead-row counters ride the same commit so COUNT(*) stays
      // manifest-only through merge-on-read deletes: new dead = prior
      // dead + rows newly killed. A dir whose prior dv PREDATES the
      // counter (dv present, no counter) is left unstamped — a partial
      // counter would make tableRowCount WRONG instead of unavailable
      val statUpdates: Map[String, Seq[ColStats]] =
        cnts.collect { case (d, (rows, _)) if
            (m.dvs.get(d).isEmpty ||
              m.stats.getOrElse(d, Nil).exists(_.col == ManifestCommit.DvDeadStat)) =>
          val prior = m.stats.getOrElse(d, Nil)
          val dead = prior.find(_.col == ManifestCommit.DvDeadStat)
            .map(_.min.toLong).getOrElse(0L) + rows
          d -> (prior.filterNot(_.col == ManifestCommit.DvDeadStat) :+
            ColStats(ManifestCommit.DvDeadStat, "num", dead.toString, dead.toString))
        }.toMap

      val committed =
        if (newDvs.isEmpty) m // nothing present anywhere: no commit needed
        // rebasing commit: nothing is displaced — the delete only REPOINTS
        // deletion vectors on the dirs it read (pinned: a concurrent
        // rewrite or DV repoint of one invalidates the union this delete
        // computed); concurrent appends graft when their key range proves
        // them free of the deleted keys
        else try ManifestCommit.commitReconciled(spark, root, base = m,
          displaced = Nil,
          added = Nil,
          dvUpdates = newDvs,
          op = "delete",
          pinned = touched.toSet,
          disjoint = scan.disjoint,
          statUpdates = statUpdates)
        catch {
          case e: ManifestCommit.ConcurrentCommitException =>
            // staged dv files of the aborted attempt are unreachable —
            // reclaim eagerly (a retry rebuilds them from the new gen)
            val f = new org.apache.hadoop.fs.Path(root)
              .getFileSystem(spark.sparkContext.hadoopConfiguration)
            newDvs.values.foreach(v =>
              f.delete(new org.apache.hadoop.fs.Path(root, v), true))
            throw e
        }
      DeleteResult(committed.gen, m.dirs.size, newDvs.size, totalDeleted)
    } finally distinctKeys.unpersist()
  }

  /** The ONE deletion-vector build, for key DVs (`deleteWhere`) and
    * position DVs (merge-on-read UPDATE) alike: `fresh` holds the
    * touched dirs' newly dead identities (the DV columns) attributed by
    * `__dir` (the data dir's basename), `old` the prior DV rows of the
    * `hit` dirs that already carry one, attributed the same way; one
    * partitioned staged write lays out every new DV, then one rename
    * per hit dir promotes it. The job count is flat in the number of
    * hit dirs, DV'd or not. Returns hit dir → new DV name. */
  private def stageDvs(spark: SparkSession, root: String, fresh: => DataFrame,
      old: Option[DataFrame], hit: Seq[String]): Map[String, String] = {
    if (hit.isEmpty) return Map.empty
    import org.apache.hadoop.fs.Path
    val f = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = s"$root/._dv_staging_${java.util.UUID.randomUUID().toString.take(8)}"
    // ONE shuffle: hashed on __dir, which the distinct's grouping keys
    // contain, so each dir's rows land deduplicated in one task — one
    // file per DV
    old.fold(fresh)(fresh.unionByName(_)).repartition(col("__dir")).distinct()
      .write.partitionBy("__dir").parquet(staging)
    val out = hit.map { d =>
      val dv = s"_dv_${java.util.UUID.randomUUID().toString.replace("-", "").take(16)}"
      require(f.rename(new Path(staging,
        s"__dir=${new Path(ManifestCommit.dirAbs(root, d)).getName}"),
        new Path(root, dv)), s"could not promote the DV staged for $d")
      d -> dv
    }.toMap
    f.delete(new Path(staging), true)
    out
  }

  // ---- predicate DML: DELETE/UPDATE WHERE <arbitrary condition> ----
  // The SQL DML surface (DELETE FROM / UPDATE graft.<name>) and any
  // programmatic caller that has a PREDICATE rather than a key set.
  // Copy-on-write at dir granularity, three-stage like everything else
  // in this family:
  //   1. candidates by manifest stats (StatsPredicate bounds + bloom
  //      points — O(stats-matching dirs), cold dirs never read);
  //   2. exact matched-dir test: ONE job over the plain candidates with
  //      the dir identity recovered from the file path (a candidate the
  //      predicate doesn't actually touch survives byte-identical);
  //      dv'd candidates are conservatively affected (their read goes
  //      through the DV anti-join, where per-file attribution is lost);
  //   3. affected dirs rewritten into one new dir (deletes drop matching
  //      rows; updates rewrite them in place), metered by observe on the
  //      write pass, committed via the REBASING commit with the
  //      stats-disjointness proof for concurrently-added dirs.

  final case class RowOpResult(
      gen: Long,
      dirsTotal: Int,
      dirsRewritten: Int,
      rowsAffected: Long)

  /** Delete every row satisfying `cond`. `cond` must reference table
    * columns by NAME (unresolved), e.g. `col("x") % 97 === 0`. */
  def deleteRows(spark: SparkSession, root: String, cond: Column,
      retries: Int = 0): RowOpResult =
    retrying(retries) {
      rowOp(spark, root, cond, "delete",
        (df, c) => df.filter(!coalesce(c, lit(false))))
    }

  /** Predicate-scoped OVERWRITE (the public Delta `replaceWhere` idea):
    * atomically delete every row satisfying `cond` and insert `data` —
    * the idempotent backfill primitive (`REPLACE WHERE day = D` re-lands
    * one day without touching the rest of a 100-TB table). Scale shape:
    * only stats-overlapping dirs are even READ (cold dirs never listed),
    * a witness pass drops candidates that turn out to hold no matching
    * rows, survivors rewrite once, and the new rows land in the table's
    * own recorded layout. The staged insert is validated to CONFORM to
    * `cond` (rows outside the replaced range are refused — Delta's
    * contract, and what makes the op idempotent) and against CHECK
    * constraints; delete + insert are ONE commit, CAS-rebased only onto
    * concurrent commits provably disjoint from the predicate. */
  def replaceWhere(spark: SparkSession, root: String, data: DataFrame,
      cond: Column, retries: Int = 0): RowOpResult =
    retrying(retries) {
      rowOp(spark, root, cond, "replace_where",
        (df, c) => df.filter(!coalesce(c, lit(false))), insert = Some(data))
    }

  /** Update `assignments` (name → expression over the row's own columns)
    * on every row satisfying `cond`; other rows and columns unchanged.
    *
    * `mode` (round 19):
    *  - "cow": copy-on-write — affected dirs rewritten whole (the
    *    pre-r19 behavior; the only route for hive-nested dirs);
    *  - "mor": merge-on-read — matched rows killed by a POSITION
    *    deletion vector, updated images appended slice-routed, ONE
    *    rebasing commit: a point UPDATE on a wide table writes O(row),
    *    not O(dir) (the Delta DV-update idea);
    *  - "auto" (default): merge-on-read when the matched fraction of
    *    the touched dirs is at most [[MorUpdateMaxFraction]] (row
    *    counters arbitrate; missing counters or nested dirs fall back
    *    to copy-on-write). */
  def updateRows(spark: SparkSession, root: String,
      assignments: Seq[(String, Column)], cond: Column,
      retries: Int = 0, mode: String = "auto"): RowOpResult = {
    require(Set("auto", "mor", "cow")(mode),
      s"updateRows: unknown mode '$mode' (auto | mor | cow)")
    assignments.foreach { case (n, rhs) =>
      requireDeterministic(s"update assignment $n", rhs) }
    def cow(): RowOpResult =
      rowOp(spark, root, cond, "update", { (df, c) =>
        val hit = coalesce(c, lit(false))
        // all assignment RHS evaluate against the PRE-update row (SQL
        // UPDATE semantics: SET a = b, b = a swaps)
        val cols = df.columns.toSeq.map { name =>
          assignments.find(_._1 == name) match {
            case Some((_, rhs)) =>
              when(hit, rhs.cast(df.schema(name).dataType))
                .otherwise(df.col(name)).as(name)
            case None => df.col(name)
          }
        }
        df.select(cols: _*)
      })
    retrying(retries) {
      if (mode == "cow") cow()
      else updateMorOnce(spark, root, assignments, cond,
        force = mode == "mor").getOrElse(cow())
    }
  }

  /** Merge-on-read pays off while the matched rows are a small slice of
    * the touched dirs: past this fraction the DV read-side tax (an
    * anti-join against the growing delete set on every scan) outweighs
    * the write-side savings and copy-on-write compacts it away now. */
  private val MorUpdateMaxFraction = 0.2

  /** One merge-on-read UPDATE attempt (see [[updateRows]]): position
    * DVs + slice-routed image append in one rebasing commit. The
    * change feed needs nothing special — the DV'd dir's identity
    * changes, so its pre-images land on the dropped side, the appended
    * images on the added side, and the key join pairs them into
    * update_preimage/update_postimage like any other commit.
    * None = fall back to copy-on-write ('auto' heuristics). */
  private def updateMorOnce(spark: SparkSession, root: String,
      assignments: Seq[(String, Column)], cond: Column,
      force: Boolean): Option[RowOpResult] = {
    requireDeterministic("update condition", cond)
    val m = ManifestCommit.requireManifest(spark, root)
    val tSchema = org.apache.spark.sql.types.StructType(
      m.tableSchema.getOrElse(
        ManifestCommit.readDirsOf(spark, root, m, m.dirs).schema)
        .fields.map(_.copy(nullable = true)))
    val names = tSchema.fieldNames.toSet
    val ex = StatsPredicate.extract(
      org.apache.spark.sql.graftbridge.ColumnBridge.expression(cond))
      .restrict(names)
    val cand = StatsPredicate.candidates(spark, root, m, ex, tSchema)
    if (cand.isEmpty) return Some(RowOpResult(m.gen, m.dirs.size, 0, 0L))
    // hive-nested dirs scan through path-injected partition values — no
    // per-file position identity there
    if (cand.exists(d => ManifestCommit.partSuffixOf(m, d).isDefined)) {
      require(!force, "merge-on-read UPDATE: hive-nested converted dirs " +
        "have no position identity — use copy-on-write")
      return None
    }
    val live = ManifestCommit.readDirsOf(spark, root, m, cand,
      Some(tSchema), keepPos = true)
    val matched = live.filter(coalesce(cond, lit(false))).cache()
    try {
      val perDir: Map[String, Long] = matched.groupBy("__dir").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      if (perDir.isEmpty) return Some(RowOpResult(m.gen, m.dirs.size, 0, 0L))
      val totalMatched = perDir.values.sum
      val byBase = cand.map(d => new org.apache.hadoop.fs.Path(
        ManifestCommit.dirAbs(root, d)).getName -> d).toMap
      val touched: Seq[String] = perDir.keys.toSeq.flatMap(byBase.get).sorted
      if (!force) {
        // counters arbitrate the auto mode; a counter-less dir can't
        // prove the fraction, so it takes the known-correct CoW path
        val lives = touched.map(ManifestCommit.liveRowsOf(m, _))
        if (lives.exists(_.isEmpty)) return None
        val liveSum = lives.flatten.sum.max(1L)
        if (totalMatched.toDouble > MorUpdateMaxFraction * liveSum)
          return None
      }
      val posCols = Seq(ManifestCommit.PosFileCol, ManifestCommit.PosIdxCol)
      // prior DVs join the same batched build: position DVs as they are,
      // a KEY-based prior DV converted to the positions of the rows it
      // killed — a raw (DV-less) scan of its dirs kept where the old DV
      // deletes, exact to the row
      val old = touched.filter(m.dvs.contains)
        .groupBy(d => ManifestCommit.dvColumnsOf(spark,
          ManifestCommit.dirAbs(root, m.dvs(d))))
        .toSeq.map { case (dvCols, ds) =>
          if (dvCols.toSet == posCols.toSet)
            ManifestCommit.dvRowsOf(spark, root, m, ds)
          else {
            val raw = ManifestCommit.readDirsOf(spark, root,
              m.copy(dvs = Map.empty), ds, Some(tSchema), keepPos = true)
            raw.filter(ManifestCommit.dvDeleted(spark, root, m, ds, raw,
                col("__dir"), dvCols.map(col)))
              .select((col("__dir") +: posCols.map(col)): _*)
          }
        }
      val newDvs = stageDvs(spark, root,
        matched.select((col("__dir") +: posCols.map(col)): _*),
        old.reduceOption(_.unionByName(_)), touched)
      // positions are row-exact, so the DV's row count (its files'
      // footers, no job) IS the dead count — stamped exactly even where
      // the prior DV predated the counter
      val dvStatUpdates: Map[String, Seq[ColStats]] =
        newDvs.map { case (d, dv) =>
          val dead = ManifestCommit.dvRowCount(spark,
            ManifestCommit.dirAbs(root, dv))
          val prior = m.stats.getOrElse(d, Nil)
          d -> (prior.filterNot(_.col == ManifestCommit.DvDeadStat) :+
            ColStats(ManifestCommit.DvDeadStat, "num",
              dead.toString, dead.toString))
        }
      // updated images: assignment RHS evaluate against the PRE-image
      // (every row here matched, so the application is unconditional)
      val imgCols = tSchema.fields.toIndexedSeq.map { f =>
        assignments.find(_._1 == f.name) match {
          case Some((_, rhs)) => rhs.cast(f.dataType).as(f.name)
          case None => col(f.name)
        }
      }
      val images = matched.select(imgCols: _*)
      val written =
        try ManifestCommit.writeData(spark, root, images, m.slice,
          tableStatCols(m, names))
        catch { case e: Throwable =>
          ManifestCommit.reclaim(spark, root, newDvs.values.toSeq); throw e }
      val committed =
        try {
          // an UPDATE can move a row OUT of a CHECK constraint — staged
          // bytes proven before commit, same as the CoW route
          ManifestCommit.validateWrittenChecks(spark, root, m.checks,
            written.map(_._1), "UPDATE")
          ManifestCommit.commitReconciled(spark, root, base = m,
            displaced = Nil, added = written.map(_._1),
            addedStats = written.toMap,
            dvUpdates = newDvs, statUpdates = dvStatUpdates,
            op = "update",
            pinned = touched.toSet,
            disjoint = (_, st) => ex.disjoint(st),
            expectedChecks = Some(m.checks))
        } catch { case e: Throwable =>
          ManifestCommit.reclaim(spark, root,
            newDvs.values.toSeq ++ written.map(_._1))
          throw e
        }
      Some(RowOpResult(committed.gen, m.dirs.size, 0, totalMatched))
    } finally { matched.unpersist(); () }
  }

  private def requireDeterministic(what: String, c: Column): Unit =
    require(org.apache.spark.sql.graftbridge.ColumnBridge.expression(c).deterministic,
      s"$what must be deterministic — the matched-dir witness job and the " +
        "rewrite job evaluate it independently, so e.g. rand() < 0.1 would " +
        "apply to a different row set than was witnessed (the Spark/Delta " +
        "row-level DML contract rejects nondeterministic conditions)")

  /** The table's recorded stat-column vocabulary, for metering freshly
    * appended dirs identically to the existing ones. */
  private def tableStatCols(m: ManifestCommit.Manifest,
      names: Set[String]): Seq[String] = {
    val sliceComps =
      m.slice.map(ManifestCommit.sliceComponents(_).toSet).getOrElse(Set.empty)
    m.stats.values.flatten.map(s => ManifestCommit.baseStatCol(s.col))
      .toSeq.distinct
      .filter(c => c == ManifestCommit.RowCountStat ||
        (!ManifestCommit.PseudoStats(c) && (names(c) || sliceComps(c))))
  }

  private def rowOp(spark: SparkSession, root: String, cond: Column,
      op: String, transform: (DataFrame, Column) => DataFrame,
      insert: Option[DataFrame] = None): RowOpResult = {
    requireDeterministic(s"$op condition", cond)
    val m = ManifestCommit.requireManifest(spark, root)
    val tSchema = org.apache.spark.sql.types.StructType(
      m.tableSchema.getOrElse(
        ManifestCommit.readDirsOf(spark, root, m, m.dirs).schema)
        .fields.map(_.copy(nullable = true)))
    val names = tSchema.fieldNames.toSet
    val condE = org.apache.spark.sql.graftbridge.ColumnBridge.expression(cond)
    // StatsPredicate: the evaluator the SQL read path prunes with; `ex`
    // is kept for the rebase disjointness proof at commit
    val ex = StatsPredicate.extract(condE).restrict(names)
    val cand = StatsPredicate.candidates(spark, root, m, ex, tSchema)
    if (cand.isEmpty && insert.isEmpty)
      return RowOpResult(m.gen, m.dirs.size, 0, 0L)

    // WHOLE-DIR FAST PATH for delete-shaped ops (round 18, the Delta
    // partition-delete idea): a candidate dir is dropped WITHOUT being
    // read — not even by the witness — when stats prove every row in it
    // satisfies the predicate (StatsPredicate.coveredBy: NOT cond is
    // stats-disjoint and every referenced column is proven null-free
    // there). `DELETE FROM t WHERE month = X` on a month-sliced table is
    // then ZERO Spark jobs — a pure metadata commit. UPDATE gains nothing
    // (it must rewrite the rows anyway) and stays on the witness path.
    val fastEligible = op == "delete" || op == "replace_where"
    val (covered, candRest) =
      if (fastEligible) cand.partition(StatsPredicate.coveredBy(m, condE, names))
      else (Nil, cand)
    val coveredMatched: Long = covered.map(d => ManifestCommit.liveRowsOf(m, d)
      .orElse(ManifestCommit.statLong(m, d, ManifestCommit.RowCountStat))
      .getOrElse(0L)).sum

    // exact matched-dir witness on the plain candidates, read through
    // the manifest (column mapping and hive-nested groups handled there)
    val (dvCand, plainCand) = candRest.partition(m.dvs.contains)
    // the witness identifies dirs by the data-dir BASENAME from the file
    // path ([[ManifestCommit.dirIdCol]], nesting-proof) — map back to
    // the manifest's entry string (a clone's external entries are
    // absolute; UUID basenames are unique across roots)
    val byBase = plainCand.map(d =>
      new org.apache.hadoop.fs.Path(ManifestCommit.dirAbs(root, d)).getName -> d).toMap
    val matchedPlain: Seq[String] =
      if (plainCand.isEmpty) Nil
      else ManifestCommit.readDirsOf(spark, root, m, plainCand, Some(tSchema),
          keepDir = true)
        .filter(cond).select("__dir").distinct()
        .collect().map(_.getString(0)).toSeq.flatMap(byBase.get)
    val witnessed = (matchedPlain ++ dvCand).sorted
    val affected = (witnessed ++ covered).sorted
    if (affected.isEmpty && insert.isEmpty)
      return RowOpResult(m.gen, m.dirs.size, 0, 0L)

    val statCols = tableStatCols(m, names)
    // the survivor rewrite reads ONLY the witnessed dirs — fully-covered
    // dirs are displaced whole, their row counts folded in from stats
    val (delAdded, matched): (Seq[(String, Seq[ColStats])], Long) =
      if (witnessed.isEmpty) (Nil, coveredMatched)
    else {
      val src = ManifestCommit.readDirsOf(spark, root, m, witnessed, Some(tSchema))
      val obs = Observation()
      val out = transform(src.observe(obs,
        sum(when(coalesce(cond, lit(false)), 1L).otherwise(0L)).as("matched"),
        count(lit(1)).as("total")), cond)
      val newDir = ManifestCommit.newDataDir(root)
      // the survivors' stats are metered on the same write pass
      val newStats = ManifestCommit.writeDirWithStats(spark, root, out,
        newDir, statCols)
      val row = obs.get
      val hit = Option(row("matched")).map(_.asInstanceOf[Long]).getOrElse(0L)
      val total = row("total").asInstanceOf[Long]
      val written = if (op == "delete" || op == "replace_where") total - hit else total
      val added =
        if (written == 0L) { // everything in the affected set deleted
          ManifestCommit.reclaim(spark, root, Seq(newDir))
          Nil
        } else Seq(newDir -> newStats)
      // UPDATE can move a row OUT of a CHECK constraint: the staged
      // rewrite is validated byte-for-byte before commit (DELETE only
      // removes rows and needs no proof)
      if (op == "update")
        ManifestCommit.validateWrittenChecks(spark, root, m.checks,
          added.map(_._1), "UPDATE")
      (added, hit + coveredMatched)
    }
    // REPLACE WHERE's insert side: the new rows land in the table's own
    // layout (sliced when one is recorded), are proven to CONFORM to the
    // predicate on the staged bytes (the Delta replaceWhere contract —
    // post-write, so a nondeterministic source can't smuggle a row the
    // validation never saw), and ride the SAME atomic commit as the
    // delete — no reader ever sees the range half-replaced.
    val insDirs: Seq[(String, Seq[ColStats])] = insert match {
      case None => Nil
      case Some(data) =>
        val aligned = data.select(tSchema.fields.toIndexedSeq.map(f =>
          col(f.name).cast(f.dataType).as(f.name)): _*)
        val written = ManifestCommit.writeData(spark, root, aligned,
          m.slice, statCols)
        val staged = written.map(_._1)
        if (staged.nonEmpty) {
          // a REFUSED insert must leave NO staged bytes behind — the
          // delete-side survivor rewrite (delAdded) is equally
          // uncommitted and equally orphaned without cleanup
          try {
            // read the staged bytes back under LOGICAL names so `cond`
            // resolves (files carry physical names under a column mapping)
            val bad = ManifestCommit.readDirsOf(spark, root, m, staged,
                Some(tSchema))
              .filter(!coalesce(cond, lit(false))).limit(1).count()
            if (bad > 0) {
              ManifestCommit.reclaim(spark, root, staged)
              throw new IllegalArgumentException(
                s"REPLACE WHERE to $root: written data does not conform to " +
                  "the replace predicate — nothing was committed")
            }
            // validateWrittenChecks reclaims `staged` itself on violation
            ManifestCommit.validateWrittenChecks(spark, root, m.checks,
              staged, "REPLACE WHERE")
          } catch {
            case e: Throwable =>
              ManifestCommit.reclaim(spark, root, delAdded.map(_._1))
              throw e
          }
        }
        written
    }
    val added = delAdded ++ insDirs
    val committed = ManifestCommit.commitReconciled(spark, root, m,
      displaced = affected, added = added.map(_._1), addedStats = added.toMap,
      op = op, pinned = affected.toSet,
      disjoint = (_, st) => ex.disjoint(st),
      // inserting rows must CAS against concurrent constraint changes,
      // exactly like SQL INSERT (a concurrent ADD CONSTRAINT validated
      // only the rows visible to it)
      expectedChecks =
        if (op == "update" || insert.isDefined) Some(m.checks) else None)
    RowOpResult(committed.gen, m.dirs.size, affected.size, matched)
  }
}

/** The [min, max] key ranges of the dirs [[MergeInto]]'s affected-dir
  * test probes: dir `i` compares a key as decimal(38,6) when
  * `numeric(i)` (its stats are numeric), else as a string. */
private[ingest] final case class DirRanges(numeric: Array[Boolean],
    lo: Array[AnyRef], hi: Array[AnyRef]) {

  /** Bits of the dirs `64w` to `64w + 63` whose range holds the key; a
    * null key holds nowhere. */
  def word(num: Decimal, str: UTF8String, w: Int): Long = {
    var bits = 0L
    var i = 64 * w
    val end = math.min(lo.length, i + 64)
    while (i < end) {
      val in =
        if (numeric(i)) num != null &&
          num.compare(lo(i).asInstanceOf[Decimal]) >= 0 &&
          num.compare(hi(i).asInstanceOf[Decimal]) <= 0
        else str != null &&
          str.binaryCompare(lo(i).asInstanceOf[UTF8String]) >= 0 &&
          str.binaryCompare(hi(i).asInstanceOf[UTF8String]) <= 0
      if (in) bits |= 1L << (i % 64)
      i += 1
    }
    bits
  }
}

private[ingest] object DirRanges {
  def apply(stats: Seq[ColStats]): DirRanges = {
    def bound(cs: ColStats, v: String): AnyRef =
      if (cs.kind == "num") Decimal(new java.math.BigDecimal(v))
      else UTF8String.fromString(v)
    DirRanges(stats.map(_.kind == "num").toArray,
      stats.map(cs => bound(cs, cs.min)).toArray,
      stats.map(cs => bound(cs, cs.max)).toArray)
  }
}

/** One word of [[DirRanges.word]] for the key given both ways (`num`:
  * the decimal(38,6) cast, `str`: the string cast). The ranges are a
  * reference object of the generated code, so the compiled class is the
  * same whatever the dirs and bounds are. */
private[ingest] final case class DirHitWord(num: Expression, str: Expression,
    ranges: DirRanges, word: Int) extends Expression {
  override def children: Seq[Expression] = Seq(num, str)
  override def nullable: Boolean = false
  override def dataType: DataType = LongType

  override def eval(input: InternalRow): Any =
    ranges.word(num.eval(input).asInstanceOf[Decimal],
      str.eval(input).asInstanceOf[UTF8String], word)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val r = ctx.addReferenceObj("dirRanges", ranges, classOf[DirRanges].getName)
    val n = num.genCode(ctx)
    val s = str.genCode(ctx)
    ev.copy(code = code"""
      ${n.code}
      ${s.code}
      long ${ev.value} = $r.word(${n.isNull} ? null : ${n.value},
        ${s.isNull} ? null : ${s.value}, $word);""", isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): DirHitWord = copy(num = c(0), str = c(1))
}
