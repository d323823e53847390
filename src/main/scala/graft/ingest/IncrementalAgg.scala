package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained aggregate table — the AggregatingMergeTree /
  * aggregate-materialized-view idea from the reference's MergeTree table
  * family (tools/gen_pipeline.py:222,298 wires Kafka→raw through pass-through
  * materialized views; ClickHouse deployments of that shape keep rollups in
  * Summing/AggregatingMergeTree targets), re-expressed Spark-first on the
  * [[ManifestCommit]] protocol:
  *
  *   - each incoming batch is collapsed to PARTIAL AGGREGATE STATE
  *     (one row per group, mergeable columns only) and committed as an
  *     immutable delta part — the batch's raw rows are never kept and
  *     NEVER rescanned;
  *   - reads merge the live state parts (`finalizeState` — a groupBy over
  *     rows ∝ #groups × #parts, independent of raw-row history);
  *   - `compactStates` folds all parts back to one via an atomic
  *     `commitReplace`, bounding part count without touching raw data.
  *
  * This is the 100 TB pattern for standing rollups: per-load work is
  * O(batch) + O(state), never O(history). All state columns are chosen
  * mergeable-exact: counts/integer sums as long, monetary sums as
  * decimal(30,2) (exact under any merge order — floating-point partial
  * sums would make the result depend on part boundaries), min/max in the
  * source type. `avg` is derived at finalize from sum+count.
  */
object IncrementalAgg {

  /** One maintained measure: `out` is the state/output column, `src` the
    * source column ("*" for count), `kind` ∈ count | sum_long | sum_dec |
    * min | max. */
  final case class Measure(out: String, src: String, kind: String)

  private val DecState = "decimal(30,2)"

  private def partialAgg(m: Measure): Column = m.kind match {
    case "count"    => count(if (m.src == "*") lit(1) else col(m.src)).as(m.out)
    case "sum_long" => sum(col(m.src)).cast("long").as(m.out)
    case "sum_dec"  => sum(col(m.src).cast(DecState)).cast(DecState).as(m.out)
    case "min"      => min(col(m.src)).as(m.out)
    case "max"      => max(col(m.src)).as(m.out)
    case other      => throw new IllegalArgumentException(s"measure kind $other")
  }

  /** State-merge algebra: count partials re-merge by SUM — the reason the
    * state is mergeable at all; sums by sum, min/max by min/max. The
    * output column keeps the state's canonical type so a compacted part
    * unions cleanly with fresh batch parts (decimal sums widen to (38,2)
    * under aggregation and must be narrowed back). */
  private def mergeAgg(m: Measure): Column = m.kind match {
    case "count" | "sum_long" => sum(col(m.out)).cast("long").as(m.out)
    case "sum_dec"            => sum(col(m.out)).cast(DecState).as(m.out)
    case "min"                => min(col(m.out)).as(m.out)
    case "max"                => max(col(m.out)).as(m.out)
    case other                => throw new IllegalArgumentException(s"measure kind $other")
  }

  /** Collapse one raw batch to partial state: one hash shuffle on the
    * group keys over BATCH rows only (map-side partial aggregation
    * applies — a hot group ships one row per map task). */
  def partialState(batch: DataFrame, keys: Seq[String],
      measures: Seq[Measure]): DataFrame = {
    val aggs = measures.map(partialAgg)
    batch.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Merge any number of state frames (parts) back to one-row-per-group
    * state. Associative + commutative, so ANY merge tree — per-read
    * finalize, compaction, or hierarchical combine — yields identical
    * results. */
  def mergeStates(states: DataFrame, keys: Seq[String],
      measures: Seq[Measure]): DataFrame = {
    val aggs = measures.map(mergeAgg)
    states.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Ingest one batch: collapse to partial state, commit as a delta part.
    * Raw rows are gone after this call — per-batch cost is O(batch). */
  def appendBatch(spark: SparkSession, root: String, batch: DataFrame,
      keys: Seq[String], measures: Seq[Measure]): ManifestCommit.Manifest = {
    val d = ManifestCommit.newDataDir(root)
    val partial = partialState(batch, keys, measures)
    partial.write.parquet(d)
    // every state part shares this schema by construction (same
    // keys+measures); recording it on the first commit spares every
    // later read the mergeSchema footer-sweep job (r19). Nullable-forced:
    // a later part CAN hold nulls where this batch's agg output was
    // provably non-null (the convert path's discipline).
    ManifestCommit.commitAppend(spark, root, d,
      schema = Some(nullableSchema(partial)))
  }

  /** The frame's schema with every field nullable — what the recorded
    * table schema of a multi-part state table must claim. */
  private def nullableSchema(df: DataFrame) =
    org.apache.spark.sql.types.StructType(
      df.schema.fields.map(_.copy(nullable = true)))

  /** Queryable rollup: merge live parts and cast exact state to the
    * query-facing types (decimal → double only HERE, after all exact
    * merging is done). `dropEmptyGroups` filters groups whose first
    * count-kind measure merged to zero — a group fully retracted by
    * change-feed deltas ([[applyChanges]]) has no surviving source rows
    * and must vanish from the rollup, exactly as a re-aggregation from
    * scratch would drop it. */
  def finalizeState(spark: SparkSession, root: String, keys: Seq[String],
      measures: Seq[Measure], dropEmptyGroups: Boolean = false): DataFrame = {
    val merged0 = mergeStates(ManifestCommit.read(spark, root), keys, measures)
    val merged = if (!dropEmptyGroups) merged0 else {
      val liveness = measures.find(_.kind == "count").getOrElse(
        throw new IllegalArgumentException(
          "dropEmptyGroups requires a count measure to witness group liveness"))
      merged0.filter(col(liveness.out) =!= 0L)
    }
    val outCols = keys.map(col) ++ measures.map { m =>
      if (m.kind == "sum_dec") col(m.out).cast("double").as(m.out) else col(m.out)
    }
    merged.select(outCols: _*)
  }

  /** SIGNED partial state from a change feed ([[ChangeFeed.diff]] output):
    * insert/update_postimage rows contribute +1, delete/update_preimage
    * −1 — so an update that MOVES a row between groups decrements the old
    * group and increments the new one, and the merge algebra (counts and
    * sums re-merge by SUM) retracts exactly. This is what makes the
    * rollup maintainable under MERGE/deletes with per-step cost
    * O(changes), never O(base table): the feed itself only reads the dir
    * symmetric difference, and the delta part holds one row per touched
    * group.
    *
    * Only count/sum measures are retractable — min/max state cannot be
    * un-merged (deleting the minimum needs the full history to find the
    * runner-up), so they are rejected here rather than silently wrong. */
  def changePartialState(feed: DataFrame, keys: Seq[String],
      measures: Seq[Measure]): DataFrame = {
    val bad = measures.filterNot(m => Set("count", "sum_long", "sum_dec")(m.kind))
    require(bad.isEmpty,
      s"measures not retractable under deletes: ${bad.map(_.out).mkString(",")} " +
        "(min/max state cannot be un-merged; recompute those from the base table)")
    val sign = when(
      col(ChangeFeed.ChangeType).isin("insert", "update_postimage"), 1L)
      .when(col(ChangeFeed.ChangeType).isin("delete", "update_preimage"), -1L)
    val aggs = measures.map { m =>
      m.kind match {
        case "count" =>
          // signed analogue of count(src): non-null rows contribute ±1
          val counted = if (m.src == "*") sign
            else when(col(m.src).isNotNull, sign).otherwise(0L)
          sum(counted).cast("long").as(m.out)
        case "sum_long" => sum(col(m.src) * sign).cast("long").as(m.out)
        case "sum_dec" =>
          // ±1 multiplication is exact in decimal; narrow back to the
          // canonical state type after the widening the product causes
          sum(col(m.src).cast(DecState) * sign).cast(DecState).as(m.out)
        case other => throw new IllegalArgumentException(s"measure kind $other")
      }
    }
    feed.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Maintain the rollup from a change feed: collapse the feed to a
    * signed delta part and commit it. Composes [[ChangeFeed.diff]] on
    * the BASE table with this rollup's state — the source-driven MV
    * chain (the reference wires Kafka→MV targets the same way,
    * tools/gen_pipeline.py:295-299), here derived from table history:
    * MERGE the base, diff the two generations, apply the feed. The base
    * table is never rescanned. */
  def applyChanges(spark: SparkSession, root: String, feed: DataFrame,
      keys: Seq[String], measures: Seq[Measure]): ManifestCommit.Manifest = {
    val d = ManifestCommit.newDataDir(root)
    val partial = changePartialState(feed, keys, measures)
    partial.write.parquet(d)
    ManifestCommit.commitAppend(spark, root, d, op = "apply_changes",
      schema = Some(nullableSchema(partial)))
  }

  final case class ApplyExactResult(
      manifest: ManifestCommit.Manifest,
      dirtyGroups: Long,
      baseRowsRescanned: Long)

  /** Maintain a rollup WITH min/max measures from a change feed — the
    * AggregatingMergeTree capability [[applyChanges]] must reject:
    * min/max state cannot be un-merged (deleting the minimum needs the
    * runner-up), so the standard fallback applies — groups whose min/max
    * MIGHT have regressed (any delete/update_preimage row in the feed:
    * the "dirty" groups) are re-aggregated FROM THE BASE TABLE, and only
    * those; every other group's min/max moves monotonically from the
    * feed's insert/postimage rows alone (a new value can only improve a
    * min — no base read needed).
    *
    * Cost shape at 100 TB: one pass over the feed (signed retractable
    * delta + monotone min/max partials), one broadcast-semi-joined scan
    * of the base RESTRICTED to dirty groups (the skipping-friendly
    * slice; `baseRowsRescanned` meters it via observe on that same
    * pass), and one state-sized stitch (state ∝ #groups, the small side
    * by construction). The stitched state commits as ONE part replacing
    * the live parts — a rebasing commit, so a concurrent [[appendBatch]]
    * part grafts instead of dying.
    *
    * Retractable measures (count/sum) keep the signed-delta algebra;
    * min/max columns hold FINALIZED values per group (exact by
    * re-aggregation or monotone merge), which is consistent state for
    * the min/max merge algebra (min of one exact value is itself). */
  def applyChangesExact(spark: SparkSession, root: String, feed: DataFrame,
      base: DataFrame, keys: Seq[String],
      measures: Seq[Measure]): ApplyExactResult = {
    import org.apache.spark.sql.Observation
    val (mm, retr) = measures.partition(m => m.kind == "min" || m.kind == "max")
    val badRetr = retr.filterNot(m => Set("count", "sum_long", "sum_dec")(m.kind))
    require(badRetr.isEmpty,
      s"measure kinds not maintainable: ${badRetr.map(_.out).mkString(",")}")
    require(mm.nonEmpty,
      "applyChangesExact is the min/max path; use applyChanges when none")
    val m0 = ManifestCommit.requireManifest(spark, root)

    val cur = mergeStates(
      ManifestCommit.readDirsOf(spark, root, m0, m0.dirs), keys, measures)
    val delta =
      if (retr.isEmpty) null else changePartialState(feed, keys, retr)
    // monotone min/max candidates from the feed's surviving images
    val feedMM = feed
      .filter(col(ChangeFeed.ChangeType).isin("insert", "update_postimage"))
      .groupBy(keys.map(col): _*)
      .agg(mm.map(partialAgg).head, mm.map(partialAgg).tail: _*)
    // dirty groups: a deleted/overwritten row may have BEEN the min/max
    val dirtyKeys = feed
      .filter(col(ChangeFeed.ChangeType).isin("delete", "update_preimage"))
      .select(keys.map(col): _*).distinct().cache()
    try {
      val obs = Observation()
      val rescans = base.join(broadcast(dirtyKeys), keys, "left_semi")
        .observe(obs, count(lit(1)).as("rescanned"))
      val dirtyMM = rescans.groupBy(keys.map(col): _*)
        .agg(mm.map(partialAgg).head, mm.map(partialAgg).tail: _*)

      // one stitch join per side, all on the group key — state-sized
      def pref(df: DataFrame, p: String): DataFrame =
        df.columns.foldLeft(df)((d, c) =>
          if (keys.contains(c)) d else d.withColumnRenamed(c, s"$p$c"))
      val dirtyMark = dirtyKeys.withColumn("__dirty", lit(true))
      val joined = (if (delta == null) pref(cur, "__c_")
        else pref(cur, "__c_").join(pref(delta, "__d_"), keys, "full_outer"))
        .join(pref(feedMM, "__f_"), keys, "full_outer")
        .join(pref(dirtyMM, "__r_"), keys, "full_outer")
        .join(dirtyMark, keys, "left_outer")
      val outCols = keys.map(col) ++ measures.map { msr =>
        msr.kind match {
          case "count" | "sum_long" =>
            (coalesce(col(s"__c_${msr.out}"), lit(0L)) +
              coalesce(col(s"__d_${msr.out}"), lit(0L))).cast("long").as(msr.out)
          case "sum_dec" =>
            (coalesce(col(s"__c_${msr.out}"), lit(0).cast(DecState)) +
              coalesce(col(s"__d_${msr.out}"), lit(0).cast(DecState)))
              .cast(DecState).as(msr.out)
          case "min" =>
            when(col("__dirty"), col(s"__r_${msr.out}"))
              .otherwise(least(col(s"__c_${msr.out}"), col(s"__f_${msr.out}")))
              .as(msr.out)
          case "max" =>
            when(col("__dirty"), col(s"__r_${msr.out}"))
              .otherwise(greatest(col(s"__c_${msr.out}"), col(s"__f_${msr.out}")))
              .as(msr.out)
        }
      }
      val d = ManifestCommit.newDataDir(root)
      // dirty-group metering rides the stitch pass itself (one row per
      // group there, so the flagged sum IS the dirty-group count) — a
      // separate dirtyKeys.count() job would be pure sequential latency
      val obsJ = Observation()
      joined
        .observe(obsJ,
          sum(when(col("__dirty"), 1L).otherwise(0L)).as("dirty_groups"))
        .select(outCols: _*).write.parquet(d)
      def metric(o: Observation, name: String): Long = o.get.get(name) match {
        case Some(v: java.lang.Long) => v.longValue()
        case Some(v) if v != null => v.toString.toLong
        case _ => 0L
      }
      val committed = ManifestCommit.commitReconciled(spark, root, base = m0,
        displaced = m0.dirs, added = Seq(d),
        op = "apply_changes_exact", pinned = m0.dirs.toSet)
      ApplyExactResult(committed, metric(obsJ, "dirty_groups"),
        metric(obs, "rescanned"))
    } finally { dirtyKeys.unpersist(); () }
  }

  /** OPTIMIZE analogue: fold all live parts to one. Readers before/after
    * see identical results (merge associativity); the commit is atomic
    * through the manifest, and REBASING: a batch part appended between
    * this read and the commit grafts into the new live set instead of
    * being silently dropped (state parts merge associatively, so a
    * surviving uncompacted part is always a valid table state —
    * `AlwaysDisjoint`). Without the rebase this was a lost-update
    * window: commitReplace([folded]) would displace a concurrent
    * append's part wholesale. */
  def compactStates(spark: SparkSession, root: String, keys: Seq[String],
      measures: Seq[Measure]): ManifestCommit.Manifest = {
    val m = ManifestCommit.requireManifest(spark, root)
    val merged = mergeStates(
      ManifestCommit.readDirsOf(spark, root, m, m.dirs), keys, measures)
    val d = ManifestCommit.newDataDir(root)
    merged.write.parquet(d)
    ManifestCommit.commitReconciled(spark, root, base = m,
      displaced = m.dirs, added = Seq(d),
      op = "compact", pinned = m.dirs.toSet)
  }
}
