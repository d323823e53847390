package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Change data feed between two retained generations of a
  * manifest-committed table — the lakehouse answer to the reference's
  * CDC envelope (`op: c/u/d` rows from Debezium,
  * tools/kafka_to_clickhouse.py:118-187): instead of consuming changes
  * from a broker, DERIVE them from table history, so any downstream
  * (incremental aggregate refresh, cache invalidation, audit) can ask
  * "what changed between gen N and gen M" after the fact.
  *
  * The manifest makes this cheap: data dirs are IMMUTABLE, so a dir
  * present in both generations cannot contribute a change — the diff
  * only reads the SYMMETRIC DIFFERENCE of the two live sets (dirs
  * dropped since `fromGen` vs dirs added since). A merge that rewrote
  * one hot dir out of a thousand diffs two dirs, not two table scans;
  * a pure compaction (same rows, new layout) correctly yields changes
  * for only the rows that actually differ — i.e. none.
  *
  * Output schema: every table column plus `_change_type` ∈
  * {insert, delete, update_preimage, update_postimage} (the public
  * Delta CDF vocabulary). An updated key emits BOTH its pre- and
  * post-image rows, so consumers can build either retraction or upsert
  * streams. One null-safe full-outer join on `keys` over the changed
  * dirs; rows identical on every column emit nothing.
  *
  * Contract: within each diffed generation the table is unique on
  * `keys` across the CHANGED dirs (the `MergeInto`/`commitReplace`
  * discipline). A ReplacingMergeTree-style table holding multiple
  * uncollapsed versions should be collapsed (`Ingest.dedupLatest`)
  * before snapshotting, or diffed on (key, version).
  */
object ChangeFeed {

  val ChangeType = "_change_type"

  def diff(
      spark: SparkSession,
      root: String,
      fromGen: Long,
      toGen: Long,
      keys: Seq[String],
      assumeUnique: Boolean = false): DataFrame = {
    require(keys.nonEmpty, "diff requires at least one key column")
    def manifestAt(g: Long) =
      ManifestCommit.readManifestAt(spark, root, g).getOrElse(
        throw new IllegalArgumentException(
          s"generation $g of $root is not retained (expired or never committed)"))
    val from = manifestAt(fromGen)
    val to = manifestAt(toGen)

    // Dir identity includes the deletion vector: a dir whose DV changed
    // between generations contributes its OLD row set to the dropped
    // side and its NEW row set to the added side — the row-level delta
    // (exactly the newly-deleted keys) falls out of the same join, so
    // merge-on-read deletes surface in the feed without any dir rewrite.
    def ident(m: ManifestCommit.Manifest)(d: String) = (d, m.dvs.get(d))
    val fromSet = from.dirs.map(ident(from)).toSet
    val toSet = to.dirs.map(ident(to)).toSet
    val droppedDirs = from.dirs.filterNot(d => toSet(ident(from)(d)))
    val addedDirs = to.dirs.filterNot(d => fromSet(ident(to)(d)))

    // The feed is emitted in toGen's schema (the public Delta CDF
    // contract): both sides read with that schema EXPLICITLY, so dirs
    // that predate an evolved column null-fill (a pre-evolution row
    // "updated" into the new schema emits preimage null / postimage
    // value for the evolved column) and planning needs no footer sweep.
    // The schema comes from the MANIFEST when recorded — building a
    // frame over every live dir just to learn the column set forces an
    // InMemoryFileIndex listing of ALL of them at plan time, O(table
    // dirs) driver work per diff (the same listing wall the merge path
    // already avoids); a diff's real I/O must follow the CHANGED dirs
    // only. Unrecorded-schema tables keep the read-through fallback.
    val readSchema = org.apache.spark.sql.types.StructType(
      to.tableSchema
        .getOrElse(ManifestCommit.readAt(spark, root, toGen).schema)
        .fields.map(_.copy(nullable = true)))
    val cols = readSchema.fieldNames.toSeq
    // schema-recording commits already refuse the reserved prefix
    // (writeManifest); this covers pre-evolution tables whose schema
    // comes from the read-through fallback — a __graft_ table column
    // would be silently REPLACED by the guard's helper withColumns below
    require(!cols.exists(_.startsWith("__graft_")),
      s"changeFeed.diff on $root: table carries column(s) in the " +
        s"reserved __graft_ helper namespace " +
        s"(${cols.filter(_.startsWith("__graft_")).mkString(", ")}) — " +
        "rename them before diffing")
    def readDirs(m: ManifestCommit.Manifest, dirs: Seq[String]): DataFrame = {
      // BOTH sides read in toGen's schema AND toGen's column mapping:
      // physical names are stable across a rename, so the TO mapping
      // resolves any generation's dirs — the FROM generation's own
      // (pre-rename) mapping would null-fill a renamed column and emit
      // wrong pre-images
      val base =
        if (dirs.isEmpty) spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), readSchema)
        else ManifestCommit.readDirsOf(spark, root, m, dirs, Some(readSchema),
          colmapOverride = Some(to.colmap))
      base.select(cols.map(col): _*)
    }
    // The uniqueness CONTRACT above is enforced, not trusted (unless the
    // caller passes assumeUnique=true — for feeds unique by construction,
    // e.g. directly post-dedupLatest): a duplicated key on either side
    // would make the full-outer join emit ARBITRARY update pairings
    // silently — wrong data, no error. The guard rides each side's
    // presence marker: a per-key window count raises (naming the key,
    // side and generation) the moment a key repeats.
    //
    // COST, measured honestly (round 15): the guard is NOT free, and the
    // round-14 claim that it was ("no extra shuffle") was wrong — the
    // `<=>` join partitions on the null-safe key shape
    // `(coalesce(k, <default>), isnull(k))` (ExtractEquiJoinKeys'
    // rewrite) while a window over raw keys partitions on the keys
    // themselves, so each side paid a SECOND Exchange+Sort: 1.3–2.1× on
    // every diff-heavy gate. The fix MATERIALIZES the null-safe shape as
    // real columns, windows over them, and joins on them with plain
    // equality (they are non-null by construction, and null keys still
    // pair exactly — (default, true) only matches (default, true)):
    // window and join now require the identical attribute-level
    // distribution and ordering, so ONE Exchange+Sort per side serves
    // both (ChangeFeedSpec pins the count equal to the unguarded plan).
    // The residual guard cost is WindowExec itself — per-group buffering
    // and a broken codegen span. Measured (round 15, min of 3): noise-
    // level on the small per-commit diffs the streaming gates plan, but
    // ~1.5x on a ROW-HEAVY diff (2M-row full-table rewrite) — the
    // buffer cost scales with changed rows. That is the price of
    // refusing to emit wrong data silently; feeds that are unique by
    // construction pay zero via assumeUnique.
    val keyTypes = keys.map { k =>
      readSchema(readSchema.fieldIndex(
        cols.find(_.equalsIgnoreCase(k)).getOrElse(k))).dataType
    }
    // Literal.default covers every atomic type; exotic key types (deep
    // structs) fall back to the raw-key shape — correct, just re-shuffled
    val defaults = keyTypes.map(dt =>
      scala.util.Try(
        org.apache.spark.sql.catalyst.expressions.Literal.default(dt)))
    val shapeOk = defaults.forall(_.isSuccess)
    // helper names live in the RESERVED `__graft_` namespace (as
    // applyTo's marker does) — withColumn REPLACES a same-named column,
    // so an unreserved name could silently overwrite real table data
    val helperNames: Seq[String] =
      keys.indices.flatMap(i => Seq(s"__graft_gk$i", s"__graft_gn$i"))
    def withShape(df: DataFrame): DataFrame = {
      import org.apache.spark.sql.catalyst.expressions.{Coalesce, IsNull}
      import org.apache.spark.sql.graftbridge.ColumnBridge
      keys.zipWithIndex.foldLeft(df) { case (d, (k, i)) =>
        d.withColumn(s"__graft_gk$i", ColumnBridge.column(Coalesce(Seq(
            ColumnBridge.expression(d(k)), defaults(i).get))))
          .withColumn(s"__graft_gn$i",
            ColumnBridge.column(IsNull(ColumnBridge.expression(d(k)))))
      }
    }
    def guard(df: DataFrame, side: String): org.apache.spark.sql.Column = {
      val parts: Seq[org.apache.spark.sql.Column] =
        if (shapeOk) helperNames.map(df(_)) else keys.map(df(_))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(parts: _*)
      when(count(lit(1)).over(w) > 1, raise_error(concat(
        lit(s"changeFeed.diff($fromGen -> $toGen) on $root: key (" +
          keys.mkString(", ") + ") = ("),
        concat_ws(", ", keys.map(k => df(k).cast("string")): _*),
        lit(s") is duplicated on the $side side — the feed requires the " +
          "table to be unique on the key columns across changed dirs " +
          "(arbitrary update pairings would be emitted otherwise). " +
          "Collapse versions first (Ingest.dedupLatest), diff on " +
          "(key, version), or pass assumeUnique=true if uniqueness is " +
          "guaranteed by construction"))).cast("boolean"))
        .otherwise(lit(true))
    }
    def mark(df0: DataFrame, name: String, side: String): DataFrame =
      if (assumeUnique) df0.withColumn(name, lit(true))
      else {
        val df = if (shapeOk) withShape(df0) else df0
        df.withColumn(name, guard(df, side))
      }
    val old = mark(readDirs(from, droppedDirs), "__o", s"dropped (gen $fromGen)")
    val neu = mark(readDirs(to, addedDirs), "__n", s"added (gen $toGen)")

    val cond =
      if (!assumeUnique && shapeOk)
        helperNames.map(n => old(n) === neu(n)).reduce(_ && _)
      else keys.map(k => old(k) <=> neu(k)).reduce(_ && _)
    val joined = old.join(neu, cond, "full_outer")

    val dataCols = cols.filterNot(keys.contains)
    val rowChanged = dataCols match {
      case Nil => lit(false) // key-only table: same key == same row
      case cs => cs.map(c => !(old(c) <=> neu(c))).reduce(_ || _)
    }

    def img(side: String => org.apache.spark.sql.Column, tpe: String) =
      struct((cols.map(c => side(c).as(c)) :+ lit(tpe).as(ChangeType)): _*)

    val changes = when(neu("__n").isNull, array(img(old(_), "delete")))
      .when(old("__o").isNull, array(img(neu(_), "insert")))
      .otherwise(
        array(img(old(_), "update_preimage"), img(neu(_), "update_postimage")))

    joined
      // unchanged rows (e.g. a compaction that re-wrote identical rows
      // into a new dir) emit nothing — filtered before the explode so no
      // empty-array typing is needed
      .filter(neu("__n").isNull || old("__o").isNull || rowChanged)
      .select(explode(changes).as("__c"))
      .select("__c.*")
  }

  // ---- incremental consumption: the public "table as an incremental
  // stream" shape (Delta readChangeFeed + startingVersion, Iceberg
  // incremental reads). A CONSUMER owns a durable cursor holding the
  // last generation it fully applied; each sync reads only the delta
  // between the cursor and the live generation — O(changed dirs), never
  // O(table) — and advances the cursor AFTER its downstream apply is
  // durable (at-least-once delivery; pair with content-idempotent
  // applies like MERGE/deleteWhere, gate q147). One writer per cursor
  // file (consumer state, not table state — lives outside the root).

  /** What one sync must apply: `changes` in CDF vocabulary.
    * `fromGen`=None marks the INITIAL sync — the full current snapshot
    * as `insert` rows (the Delta starting-snapshot contract). */
  final case class Consumed(changes: DataFrame, fromGen: Option[Long], toGen: Long)

  private def fs(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  def cursorGen(spark: SparkSession, cursorPath: String): Option[Long] = {
    val f = fs(spark, cursorPath)
    val p = new org.apache.hadoop.fs.Path(cursorPath)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try Some(new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8).trim.toLong)
      finally in.close()
    }
  }

  /** Durably record that everything up to `gen` is applied. Call AFTER
    * the downstream apply — a crash in between replays the batch, which
    * idempotent applies absorb. */
  def advanceCursor(spark: SparkSession, cursorPath: String, gen: Long): Unit = {
    val f = fs(spark, cursorPath)
    val out = f.create(new org.apache.hadoop.fs.Path(cursorPath), true)
    try out.write(gen.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Apply one consumed CDF batch to a replica table as ONE MERGE —
    * the canonical replication apply, content-idempotent so at-least-
    * once delivery (crash between apply and [[advanceCursor]], replay)
    * yields exactly-once replica contents. Folds what a naive consumer
    * runs as TWO sequential DML ops (MERGE the upserts, then delete the
    * deleted keys) into one source: `update_preimage` rows are dropped,
    * `insert`/`update_postimage` rows upsert, and `delete` rows ride
    * the SAME merge through `deleteWhen` on the change-type marker —
    * an unmatched delete (replayed, or racing a concurrent replica op)
    * is a no-op, never a phantom insert
    * (`unmatchedDeleteInserts=false`). One full-outer join, one commit:
    * half the scheduler latency per sync and one generation per sync
    * on the replica's own history. */
  def applyTo(spark: SparkSession, targetRoot: String, changes: DataFrame,
      keys: Seq[String], retries: Int = 0,
      evolveSchema: Boolean = false): MergeInto.MergeResult = {
    // the CDF bookkeeping columns must never land on the replica — the
    // delete marker rides a RESERVED `__graft_` helper (merge's schema
    // evolution is defined to skip those), and `_commit_version` (the
    // streaming feed's attribution column) is dropped when present
    require(!changes.columns.exists(_.startsWith("__graft_")),
      "applyTo: the changes frame carries column(s) in the reserved " +
        "__graft_ helper namespace — rename them (withColumn would " +
        "silently replace their data with the delete marker)")
    val src0 = changes.filter(col(ChangeType) =!= "update_preimage")
      .withColumn("__graft_ct", col(ChangeType)).drop(ChangeType)
    val src =
      if (src0.columns.contains("_commit_version"))
        src0.drop("_commit_version")
      else src0
    MergeInto.merge(spark, targetRoot, src, keys,
      deleteWhen = Some(col("__graft_ct") === "delete"),
      retries = retries,
      evolveSchema = evolveSchema)
  }

  /** One incremental sync: None = nothing new (cursor is at the live
    * generation). The returned `toGen` is what [[advanceCursor]] must
    * record once applied. The cursor generation must still be RETAINED
    * (same contract as [[diff]]); size snapshot retention to the
    * slowest consumer's lag. */
  def consume(spark: SparkSession, root: String, cursorPath: String,
      keys: Seq[String], assumeUnique: Boolean = false): Option[Consumed] = {
    val cur = ManifestCommit.requireManifest(spark, root).gen
    cursorGen(spark, cursorPath) match {
      case Some(g) if g == cur => None
      case Some(g) =>
        require(g < cur, s"cursor at gen $g is ahead of the table's $cur")
        // a cursor that fell behind snapshot retention is an operational
        // failure with a crisp remedy, not an obscure manifest miss
        if (ManifestCommit.readManifestAt(spark, root, g).isEmpty)
          throw new IllegalStateException(
            s"change-feed cursor at generation $g of $root is no longer " +
              "retained (snapshot retention expired it) — the incremental " +
              "window is lost. Remedy: delete the cursor file to force a " +
              "fresh initial-sync snapshot (re-replication), and size " +
              "expireSnapshots keepLast to cover the slowest consumer's lag")
        Some(Consumed(diff(spark, root, g, cur, keys, assumeUnique),
          Some(g), cur))
      case None =>
        // snapshot PINNED to the generation recorded as toGen — reading
        // the live manifest again here would let a commit landing in
        // between deliver rows beyond the recorded cursor (the next sync
        // would re-deliver that window and skew update/delete preimages)
        val snap = ManifestCommit.readAt(spark, root, cur)
        Some(Consumed(snap.withColumn(ChangeType, lit("insert")), None, cur))
    }
  }
}
