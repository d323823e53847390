package graft.sql

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.v2.V2CommandExec
import org.apache.spark.sql.types.StructType

import graft.ingest.{ManifestCommit, MergeInto}

private[graft] object GraftWriteUtil {
  /** CREATE existence is checked on the NAME, not just the target
    * location: creating an already-registered name at a NEW location
    * must error (any SQL catalog raises TableAlreadyExists) rather than
    * silently repointing the registry away from the real data. Returns
    * false — CREATE is a no-op — when the name is taken elsewhere but
    * IF NOT EXISTS was given. */
  def nameFree(name: String, root: String, ignoreIfExists: Boolean): Boolean =
    GraftSql.lookup(name) match {
      case Some((existing, _)) if existing != root =>
        if (!ignoreIfExists) throw new IllegalArgumentException(
          s"graft CREATE: table $name already exists (registered at " +
            s"$existing); DROP it first or use IF NOT EXISTS")
        false
      case _ => true
    }

  /** Table columns the slicing expression references — the natural stat
    * columns of a freshly created sliced table (`months(ts)` → ts range
    * stats per month dir, so date pruning works from the first insert).
    * Matching is CASE-INSENSITIVE (the default analyzer resolution —
    * `CHECK (PRICE > 0)` resolves against column `price`) and returns
    * the schema's CANONICAL names, so consumers comparing against field
    * names (stat metering, the DROP COLUMNS reference guards) agree
    * with how validation actually resolved. */
  def sliceRefCols(sliceText: String, fieldNames: Seq[String]): Seq[String] =
    org.apache.spark.sql.graftbridge.ColumnBridge
      .expression(org.apache.spark.sql.functions.expr(sliceText)).collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          a.name
      }.flatMap(n => fieldNames.find(_.equalsIgnoreCase(n))).distinct
}

/** Plans the SQL write commands ([[GraftInsert]]/[[GraftDelete]]/
  * [[GraftUpdate]]/[[GraftMerge]]/[[GraftMergeDelete]]). */
case class GraftWriteStrategy(spark: SparkSession) extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case GraftInsert(root, schema, query, overwrite) =>
      GraftInsertExec(spark, root, schema, query, overwrite) :: Nil
    case GraftDelete(root, cond) =>
      GraftRowOpExec(s"GraftDeleteExec $root",
        () => { MergeInto.deleteRows(spark, root, cond); () }) :: Nil
    case GraftUpdate(root, assigns, cond) =>
      GraftRowOpExec(s"GraftUpdateExec $root",
        () => { MergeInto.updateRows(spark, root, assigns, cond); () }) :: Nil
    case GraftMerge(root, schema, source, keys, assigns, deleteWhen,
        insertUnmatched, extraCols) =>
      GraftMergeExec(spark, root, schema, source, keys, assigns,
        deleteWhen, insertUnmatched, extraCols) :: Nil
    case GraftMergeDelete(root, source, keys, cond) =>
      GraftRowOpExec(s"GraftMergeDeleteExec $root", () => {
        // matched rows satisfying the condition, deleted merge-on-read:
        // the key set is the source's own keys where the clause holds —
        // deleteWhere's per-dir semi-join subtracts exactly those that
        // actually exist (absent keys are the no-op the MERGE contract
        // requires), cold dirs never read, no dir rewritten
        val src = org.apache.spark.sql.graftbridge.DatasetBridge.ofRows(spark, source)
        MergeInto.deleteWhere(spark, root, src.filter(cond)
          .select(keys.map(org.apache.spark.sql.functions.col): _*))
        ()
      }) :: Nil
    case GraftCreateTable(root, name, tableSchema, slice, ignoreIfExists) =>
      GraftRowOpExec(s"GraftCreateTableExec $name", () => {
        require(!GraftView.isView(spark, root),
          s"graft CREATE: $name is a VIEW — drop it first")
        if (!GraftWriteUtil.nameFree(name, root, ignoreIfExists)) ()
        else if (ManifestCommit.isManifestTable(spark, root)) {
          if (!ignoreIfExists) throw new IllegalArgumentException(
            s"graft CREATE: table $name already exists at $root " +
              "(use IF NOT EXISTS)")
          GraftSql.register(name, root) // idempotent re-create: re-register
        } else {
          ManifestCommit.commitReplace(spark, root, Nil,
            pruneDisplaced = false,
            schema = Some(StructType(tableSchema.fields.map(_.copy(nullable = true)))),
            op = "create", slice = slice)
          GraftSql.register(name, root)
        }
        ()
      }) :: Nil
    case GraftCtas(root, name, slice, query, ignoreIfExists) =>
      GraftRowOpExec(s"GraftCtasExec $name", () => {
        require(!GraftView.isView(spark, root),
          s"graft CREATE AS SELECT: $name is a VIEW — drop it first")
        if (!GraftWriteUtil.nameFree(name, root, ignoreIfExists)) ()
        else if (ManifestCommit.isManifestTable(spark, root)) {
          if (!ignoreIfExists) throw new IllegalArgumentException(
            s"graft CREATE AS SELECT: table $name already exists at $root")
          GraftSql.register(name, root)
        } else {
          val df = org.apache.spark.sql.graftbridge.DatasetBridge.ofRows(spark, query)
          val schema = StructType(df.schema.fields.map(_.copy(nullable = true)))
          // stat columns: whatever the slicing expression references
          // (identity → the column itself; months(ts) → ts range stats
          // per month dir, so date pruning works from day one), the
          // non-identity component expressions (a bucket component's
          // per-dir constant arms exact bucket pruning), plus the exact
          // row counter for manifest-only COUNT(*)
          val statCols = slice.toSeq.flatMap(s =>
            GraftWriteUtil.sliceRefCols(s, df.columns.toSeq) ++
              ManifestCommit.sliceExprStatCols(s, df.columns.toSeq)) :+
            ManifestCommit.RowCountStat
          val dirs = ManifestCommit.writeData(spark, root, df, slice, statCols)
          // expectedChecks = empty: CTAS rows were never validated
          // against any constraint — a constraint that appeared
          // concurrently (CREATE+ADD racing this CTAS) must fail the
          // commit, not silently govern unproven rows
          ManifestCommit.commitReplace(spark, root, dirs.map(_._1),
            pruneDisplaced = false, stats = dirs.toMap,
            schema = Some(schema), op = "create", slice = slice,
            expectedChecks = Some(Map.empty))
          GraftSql.register(name, root)
        }
        ()
      }) :: Nil
    case GraftShallowClone(root, name, srcRoot, version, tsRaw,
        ignoreIfExists, deep) =>
      GraftRowOpExec(s"GraftShallowCloneExec $name", () => {
        if (!GraftWriteUtil.nameFree(name, root, ignoreIfExists)) ()
        else if (ManifestCommit.isManifestTable(spark, root)) {
          if (!ignoreIfExists) throw new IllegalArgumentException(
            s"graft CLONE: table $name already exists at $root " +
              "(use IF NOT EXISTS)")
          // a DEEP CLONE that crashed between its two steps left a
          // SHALLOW clone here; the IF NOT EXISTS re-run must finish
          // the deep half before registering, or it would hand back a
          // "deep" clone still inside the source's retention window.
          // But ONLY when the existing manifest's external refs point
          // into THIS statement's source — that is the crashed-deep-
          // clone signature. An unrelated pre-existing table (e.g. an
          // intentional shallow clone of some OTHER source) must keep
          // IF NOT EXISTS a true no-op: materializing it would be a
          // data-copying commit mutating a table this statement did
          // not create.
          if (deep) {
            // PATH-NORMALIZED compare on both sides: shallowClone records
            // refs via dirAbs over a Path-normalized source, so a raw
            // user-typed srcRoot ("/a//b/", "file:/a/b") would never
            // prefix-match its own clone's refs and a genuine crashed
            // deep clone would misread as foreign
            def norm(p: String) =
              new org.apache.hadoop.fs.Path(p).toString.stripSuffix("/")
            val srcPrefix = norm(srcRoot) + "/"
            val m = ManifestCommit.readManifest(spark, root)
            val ext = m.toSeq.flatMap(mf =>
              mf.dirs.filter(ManifestCommit.isExternal(root, _)) ++
                mf.dvs.values.toSeq.filter(ManifestCommit.isExternal(root, _)))
            // a clone OF a shallow clone records the SOURCE's own external
            // refs verbatim (they point at the grandparent table, not
            // srcRoot) — those are part of the crashed-deep-clone
            // signature too, resolved against the generation this
            // statement pins (the refs the crashed run would have copied)
            val srcExt: Set[String] = {
              val gen = version.orElse(tsRaw.map(t => ManifestCommit.genAsOf(
                spark, srcRoot, GraftSql.parseTsMillis(spark, t))))
              (gen match {
                case Some(g) => ManifestCommit.readManifestAt(spark, srcRoot, g)
                case None => ManifestCommit.readManifest(spark, srcRoot)
              }).toSeq.flatMap(sm =>
                sm.dirs.filter(ManifestCommit.isExternal(srcRoot, _)) ++
                  sm.dvs.values.toSeq.filter(ManifestCommit.isExternal(srcRoot, _)))
                .map(norm).toSet
            }
            // ext empty = the deep clone already COMPLETED — the
            // idempotent-retry case, a true no-op (materializeExternal
            // would be one too, but skipping it avoids a pointless
            // manifest read/CAS); every ref into srcRoot or among the
            // source's own external refs = the crashed-deep-clone
            // signature — finish it; anything else is a FOREIGN table
            // this statement must not touch (the IF NOT EXISTS no-op
            // contract; with the normalization above, a genuine crashed
            // clone can no longer land in this branch by accident).
            if (ext.forall { e =>
              val en = norm(e)
              en.startsWith(srcPrefix) || srcExt.contains(en)
            }) {
              if (ext.nonEmpty) ManifestCommit.materializeExternal(spark, root)
            } else org.slf4j.LoggerFactory.getLogger(getClass).warn(
              s"graft CLONE IF NOT EXISTS: table at $root already exists " +
                s"and its external references do not all point into " +
                s"$srcRoot — leaving it untouched (no-op). If this is a " +
                "crashed deep clone of a different source, finish it " +
                "explicitly with a DEEP CLONE of that source.")
          }
          GraftSql.register(name, root)
        } else {
          val gen = version.orElse(tsRaw.map(t => ManifestCommit.genAsOf(
            spark, srcRoot, GraftSql.parseTsMillis(spark, t))))
          ManifestCommit.shallowClone(spark, srcRoot, root, gen)
          // DEEP: byte-copy the referenced dirs so the new table has no
          // dependency on the source's retention
          if (deep) ManifestCommit.materializeExternal(spark, root)
          GraftSql.register(name, root)
        }
        ()
      }) :: Nil
    case GraftConvert(root, name, statCols) =>
      GraftRowOpExec(s"GraftConvertExec $root", () => {
        name.foreach(n => GraftWriteUtil.nameFree(n, root,
          ignoreIfExists = false))
        ManifestCommit.convertToGraft(spark, root, statCols)
        name.foreach(GraftSql.register(_, root))
      }) :: Nil
    case GraftCreateView(root, name, text, replace, ifNotExists) =>
      GraftRowOpExec(s"GraftCreateViewExec $name", () => {
        val existing = GraftSql.lookup(name).map(_._1)
        val existsAsView = existing.exists(GraftView.isView(spark, _)) ||
          GraftView.isView(spark, root)
        val existsAsTable = existing.exists(r =>
          !GraftView.isView(spark, r)) ||
          ManifestCommit.isManifestTable(spark, root)
        if (existsAsTable) throw new IllegalArgumentException(
          s"graft CREATE VIEW: $name is a TABLE — drop it first")
        if (existsAsView && !replace) {
          if (!ifNotExists) throw new IllegalArgumentException(
            s"graft CREATE VIEW: view $name already exists " +
              "(use OR REPLACE / IF NOT EXISTS)")
        } else {
          // validate NOW: the text must parse and analyze against the
          // current registry — a typo'd column or missing table fails
          // the CREATE, not the BI tool's first query. (A view made
          // self-referential BY this replace still fails at query time
          // with the cycle message — the pre-image is what analyzes
          // here, the Postgres-compatible edge.)
          org.apache.spark.sql.graftbridge.DatasetBridge.ofRows(spark,
            spark.sessionState.sqlParser.parsePlan(text)).schema
          GraftView.write(spark, root, name, text)
          GraftSql.register(name, root)
        }
        ()
      }) :: Nil
    case GraftDropView(name, ifExists) =>
      GraftRowOpExec(s"GraftDropViewExec $name", () => {
        GraftSql.lookup(name) match {
          case None =>
            if (!ifExists) throw new IllegalArgumentException(
              s"graft DROP VIEW: $name is not registered (use IF EXISTS)")
          case Some((root, _)) =>
            if (!GraftView.isView(spark, root))
              throw new IllegalArgumentException(
                s"graft DROP VIEW: $name is a TABLE — use DROP TABLE")
            GraftView.delete(spark, root)
            GraftSql.unregister(name)
        }
        ()
      }) :: Nil
    case GraftDropTable(name, ifExists) =>
      GraftRowOpExec(s"GraftDropTableExec $name", () => {
        val reg = GraftSql.lookup(name)
        if (reg.isEmpty && !ifExists)
          throw new IllegalArgumentException(
            s"graft DROP TABLE: $name is not registered (use IF EXISTS)")
        reg.map(_._1).foreach(r => require(!GraftView.isView(spark, r),
          s"graft DROP TABLE: $name is a VIEW — use DROP VIEW"))
        // Spark's managed/external split: a table whose root lives under
        // the warehouse `graft.db` dir was created WITHOUT a LOCATION —
        // dropping it deletes its data (else a re-CREATE of the same
        // name would collide with the stale manifest forever). Explicit-
        // LOCATION (external) tables keep their data.
        reg.map(_._1).foreach { root =>
          val wh = spark.sessionState.conf.getConf(
            org.apache.spark.sql.internal.StaticSQLConf.WAREHOUSE_PATH)
          val managedPrefix = s"${wh.stripSuffix("/")}/graft.db/"
          if (root.startsWith(managedPrefix)) {
            val p = new org.apache.hadoop.fs.Path(root)
            p.getFileSystem(spark.sparkContext.hadoopConfiguration)
              .delete(p, true); ()
          }
        }
        GraftSql.unregister(name)
      }) :: Nil
    case GraftTruncate(root) =>
      GraftRowOpExec(s"GraftTruncateExec $root", () => {
        // a pre-evolution table has no recorded schema — capture it from
        // the live dirs NOW, or the emptied table would be unreadable
        // (zero dirs and no schema to resolve against)
        ManifestCommit.commit(spark, root, "truncate") { prev =>
          val m = prev.getOrElse(ManifestCommit.EmptyTable)
          m.copy(dirs = Nil, stats = Map.empty, dvs = Map.empty,
            tableSchema = m.tableSchema.orElse(prev.filter(_.dirs.nonEmpty)
              .map(p => ManifestCommit.readDirsOf(spark, root, p, p.dirs).schema)))
        }
        ()
      }) :: Nil
    case GraftAddColumns(root, added) =>
      GraftRowOpExec(s"GraftAddColumnsExec $root", () => {
        val m = ManifestCommit.requireManifest(spark, root)
        val cur = m.tableSchema.getOrElse(throw new IllegalArgumentException(
          "graft ALTER ADD COLUMNS: the table has no recorded schema " +
            "(pre-evolution table — rewrite it through a schema-recording commit first)"))
        val resolver = spark.sessionState.conf.resolver
        added.foreach { case (n, _) =>
          require(!cur.fieldNames.exists(resolver(_, n)),
            s"graft ALTER ADD COLUMNS: column $n already exists") }
        require(added.map(_._1.toLowerCase(java.util.Locale.ROOT)).distinct.size
          == added.size, "graft ALTER ADD COLUMNS: duplicate column in list")
        val widened = StructType(cur.fields ++ added.map { case (n, t) =>
          org.apache.spark.sql.types.StructField(n, t, nullable = true) })
        // expectedGen: this commit re-states the dir list it read — a
        // concurrent INSERT/MERGE landing in between would be silently
        // erased from the live set without the CAS guard
        ManifestCommit.commit(spark, root, "add_columns",
          expectedGen = Some(m.gen))(_ => m.copy(tableSchema = Some(widened)))
        GraftSql.biRefreshRoot(root)
        ()
      }) :: Nil
    case GraftDropColumns(root, names, ifExists) =>
      GraftRowOpExec(s"GraftDropColumnsExec $root", () => {
        val m = ManifestCommit.requireManifest(spark, root)
        val cur = m.tableSchema.getOrElse(throw new IllegalArgumentException(
          "graft ALTER DROP COLUMNS: the table has no recorded schema"))
        val resolver = spark.sessionState.conf.resolver
        val dropped = names.flatMap { n =>
          cur.fieldNames.find(resolver(_, n)) match {
            case Some(f) => Seq(f)
            case None if ifExists => Nil
            case None => throw new IllegalArgumentException(
              s"graft ALTER DROP COLUMNS: no column $n (use IF EXISTS)")
          }
        }.toSet
        // a deletion vector's key columns must stay readable for the
        // anti-join that applies it — materialize DVs away first
        require(m.dvs.isEmpty,
          "graft ALTER DROP COLUMNS: table carries deletion vectors — " +
            "compact them away first (Optimize.compactSmall/zorder or merge)")
        // a CHECK constraint over a dropped column would brick every
        // later enforced write with an unresolved-column error
        m.checks.foreach { case (cn, cond) =>
          val refs = GraftWriteUtil.sliceRefCols(cond, cur.fieldNames.toSeq)
          require(!refs.exists(dropped),
            s"graft ALTER DROP COLUMNS: CHECK constraint $cn ($cond) " +
              "references a dropped column — DROP CONSTRAINT first")
        }
        m.slice.foreach { s =>
          val refs = GraftWriteUtil.sliceRefCols(s, cur.fieldNames.toSeq)
          require(!refs.exists(dropped),
            s"graft ALTER DROP COLUMNS: the slicing expression $s references " +
              "a dropped column")
        }
        val narrowed = StructType(cur.fields.filterNot(f => dropped(f.name)))
        require(narrowed.nonEmpty, "graft ALTER DROP COLUMNS: cannot drop every column")
        // per-dir stats of dropped columns go with them; the dropped
        // columns' PHYSICAL names tombstone: data files still carry
        // their bytes, so a later ADD COLUMNS (or RENAME COLUMN onto)
        // that name would silently serve the stale values — the
        // tombstone makes the chokepoint refuse it
        ManifestCommit.commit(spark, root, "drop_columns",
          expectedGen = Some(m.gen))(_ => m.copy(
            stats = m.stats.map { case (d, cs) =>
              d -> cs.filterNot(c => dropped(c.col)) },
            tableSchema = Some(narrowed),
            colmap = m.colmap -- dropped,
            deadCols = (m.deadCols ++ dropped.toSeq.map(m.physNameOf)).distinct))
        GraftSql.biRefreshRoot(root)
        ()
      }) :: Nil
    case GraftRenameColumn(root, from, to) =>
      GraftRowOpExec(s"GraftRenameColumnExec $root $from->$to", () => {
        ManifestCommit.renameColumn(spark, root, from, to)
        GraftSql.biRefreshRoot(root)
        ()
      }) :: Nil
    case GraftAlterColumnType(root, changes) =>
      GraftRowOpExec(s"GraftAlterColumnTypeExec $root", () => {
        changes.foreach { case (n, t) =>
          ManifestCommit.alterColumnType(spark, root, n, t) }
        GraftSql.biRefreshRoot(root)
        ()
      }) :: Nil
    case GraftRenameTable(from, to) =>
      GraftRowOpExec(s"GraftRenameTableExec $from->$to", () => {
        val root = GraftSql.lookup(from).map(_._1).getOrElse(
          throw new IllegalArgumentException(
            s"graft RENAME: $from is not registered"))
        require(GraftSql.lookup(to).isEmpty,
          s"graft RENAME: target name $to already exists")
        GraftSql.register(to, root)
        GraftSql.unregister(from)
      }) :: Nil
    case GraftOptimize(root, zcols, where, ranked) =>
      GraftRowOpExec(s"GraftOptimizeExec $root", () => {
        import graft.ingest.Optimize
        // RANKED: per-dimension rank bucketing (skew-robust z-keys);
        // B=256 matches the kernel-measured default
        val rb = if (ranked) 256 else 0
        if (where.isDefined && zcols.nonEmpty) {
          // predicate-scoped Z-ORDER (Delta's OPTIMIZE WHERE ... ZORDER
          // BY): re-cluster only the stats-overlapping dirs; cold dirs
          // byte-identical, never read
          require(zcols.size >= 2,
            "graft OPTIMIZE ZORDER: needs at least 2 columns")
          val m = ManifestCommit.requireManifest(spark, root)
          val extra = m.stats.values.flatten.map(s => ManifestCommit.baseStatCol(s.col)).toSeq.distinct
            .filterNot(zcols.contains)
            .filter(c => c == ManifestCommit.RowCountStat ||
              !ManifestCommit.PseudoStats(c))
          Optimize.zorderWhere(spark, root,
            org.apache.spark.sql.functions.expr(where.get), zcols,
            extraStatCols = extra, rankBuckets = rb)
          ()
        } else if (where.isDefined) {
          // predicate-scoped maintenance: fold only the small/dv'd dirs
          // whose stats can overlap the predicate (Delta's OPTIMIZE WHERE)
          Optimize.compactWhere(spark, root,
            org.apache.spark.sql.functions.expr(where.get),
            smallBytes = 128L << 20)
          ()
        } else if (zcols.isEmpty) {
          // Delta's OPTIMIZE file-size ballpark: fold dirs below 128 MB
          Optimize.compactSmall(spark, root, smallBytes = 128L << 20)
          ()
        } else {
          require(zcols.size >= 2,
            "graft OPTIMIZE ZORDER: needs at least 2 columns")
          val m = ManifestCommit.requireManifest(spark, root)
          // keep the current dir-count granularity; carry the table's
          // established stat columns (incl. the row counter) that the
          // z-rewrite wouldn't meter on its own
          val extra = m.stats.values.flatten.map(s => ManifestCommit.baseStatCol(s.col)).toSeq.distinct
            .filterNot(zcols.contains)
            .filter(c => c == ManifestCommit.RowCountStat ||
              !ManifestCommit.PseudoStats(c))
          Optimize.zorderCompactN(spark, root, zcols,
            targetDirs = math.max(1, m.dirs.size), extraStatCols = extra,
            rankBuckets = rb)
          ()
        }
      }) :: Nil
    case GraftAddCheck(root, name, condition) =>
      GraftRowOpExec(s"GraftAddCheckExec $root $name", () => {
        ManifestCommit.setCheck(spark, root, name, condition); ()
      }) :: Nil
    case GraftDropCheck(root, name, ifExists) =>
      GraftRowOpExec(s"GraftDropCheckExec $root $name", () => {
        ManifestCommit.dropCheck(spark, root, name, ifExists); ()
      }) :: Nil
    case GraftRestore(root, version, tsRaw) =>
      GraftRowOpExec(s"GraftRestoreExec $root", () => {
        val gen = version.getOrElse(ManifestCommit.genAsOf(spark, root,
          GraftSql.parseTsMillis(spark, tsRaw.get)))
        ManifestCommit.restore(spark, root, gen)
        // a restore across a rename/widen boundary changes the live
        // schema — the standing BI mirror must re-describe
        GraftSql.biRefreshRoot(root)
        ()
      }) :: Nil
    case GraftReplaceWhere(root, predText, queryText) =>
      GraftRowOpExec(s"GraftReplaceWhereExec $root", () => {
        val df = spark.sql(queryText)
        val m = ManifestCommit.requireManifest(spark, root)
        // positional binding to the table schema (the SQL insert
        // contract); replaceWhere then applies store casts by name
        val names = m.tableSchema
          .map(_.fieldNames.toSeq)
          .getOrElse(ManifestCommit.read(spark, root).schema.fieldNames.toSeq)
        require(df.columns.length == names.size,
          s"graft REPLACE WHERE: query provides ${df.columns.length} " +
            s"columns, table has ${names.size}")
        MergeInto.replaceWhere(spark, root, df.toDF(names: _*),
          org.apache.spark.sql.functions.expr(predText))
        ()
      }) :: Nil
    case GraftAnalyze(root, cols, bloomCols) =>
      GraftRowOpExec(s"GraftAnalyzeExec $root", () => {
        graft.ingest.Optimize.analyzeStats(spark, root, cols,
          bloomCols = bloomCols); ()
      }) :: Nil
    case GraftSetSlice(root, slice) =>
      GraftRowOpExec(s"GraftSetSliceExec $root", () => {
        ManifestCommit.setSlice(spark, root, slice); ()
      }) :: Nil
    case v @ GraftVacuum(root, keepLast, maxAgeMs, dryRun) =>
      GraftRowsOpExec(s"GraftVacuumExec $root", v.output, () => {
        val expired = maxAgeMs match {
          case Some(age) =>
            ManifestCommit.expireSnapshotsOlderThan(spark, root, age, keepLast,
              dryRun = dryRun)
          case None =>
            ManifestCommit.expireSnapshots(spark, root, keepLast,
              dryRun = dryRun)
        }
        val orphans = ManifestCommit.pruneOrphans(spark, root,
          minAgeMs = 3600L * 1000L, dryRun = dryRun)
        if (dryRun) (expired ++ orphans).sorted else Nil
      }) :: Nil
    case _ => Nil
  }
}

/** Executes `MERGE INTO graft.<name>` (UPDATE[+DELETE][+INSERT] form) by
  * REWRITING THE SOURCE and delegating to [[MergeInto.merge]]'s dir-level
  * copy-on-write: each target column is computed into the source frame —
  * the assignment RHS where assigned, the equal-by-ON source column for
  * keys (the conversion proved coverage) — and cast to the target type,
  * so "update matched" is merge's ordinary full-row replace; the DELETE
  * clause's condition rides the same select as a helper column evaluated
  * over the ORIGINAL source columns (it may reference columns the rewrite
  * overwrites or drops). Scale contract inherited from merge: cold dirs
  * whose key range provably misses the source survive byte-identical,
  * one full-outer shuffle of (touched dirs ∪ source), OCC commit. */
case class GraftMergeExec(@transient spark: SparkSession, root: String,
    tableSchema: StructType, @transient source: LogicalPlan,
    keys: Seq[String],
    assignments: Seq[(String, org.apache.spark.sql.Column)],
    deleteWhen: Option[org.apache.spark.sql.Column],
    insertUnmatched: Boolean,
    extraCols: Seq[String] = Nil)
  extends V2CommandExec with LeafExecNode {

  override def output: Seq[Attribute] = Nil

  private val DelCol = "__graft_merge_del"

  override def run(): Seq[InternalRow] = {
    import org.apache.spark.sql.functions.col
    val src = org.apache.spark.sql.graftbridge.DatasetBridge.ofRows(spark, source)
    val assignOf = assignments.toMap // names carry the target schema's case
    val rewritten = tableSchema.fields.toIndexedSeq.map { f =>
      assignOf.getOrElse(f.name, src.col(f.name)).cast(f.dataType).as(f.name)
    } ++ extraCols.map(src.col) ++ // WITH SCHEMA EVOLUTION: new columns ride as-is
      deleteWhen.map(_.as(DelCol)).toSeq
    MergeInto.merge(spark, root, src.select(rewritten: _*), keys,
      deleteWhen = deleteWhen.map(_ => col(DelCol)),
      insertUnmatched = insertUnmatched,
      evolveSchema = extraCols.nonEmpty,
      // SQL contract: matched-clause conditions never apply to unmatched
      // rows — an unmatched source row satisfying the DELETE condition
      // still falls through to WHEN NOT MATCHED INSERT
      unmatchedDeleteInserts = true)
    Nil
  }

  override def simpleString(maxFields: Int): String =
    s"GraftMergeExec $root keys=${keys.mkString(",")}"
}

/** Driver-side row-level DML (the dir-level copy-on-write work happens
  * in the thunk's own Spark jobs via `MergeInto.deleteRows/updateRows`). */
case class GraftRowOpExec(label: String, op: () => Unit)
  extends V2CommandExec with LeafExecNode {
  override def output: Seq[Attribute] = Nil
  override def run(): Seq[InternalRow] = { op(); Nil }
  override def simpleString(maxFields: Int): String = label
}

/** Driver-side command that RETURNS rows (one string column) — the
  * VACUUM DRY RUN preview shape. */
case class GraftRowsOpExec(label: String, override val output: Seq[Attribute],
    op: () => Seq[String])
  extends V2CommandExec with LeafExecNode {
  override def run(): Seq[InternalRow] = op().map(s =>
    InternalRow(org.apache.spark.unsafe.types.UTF8String.fromString(s)))
  override def simpleString(maxFields: Int): String = label
}

/** Executes `INSERT [OVERWRITE] graft.<name>`: writes the aligned query
  * as ONE new immutable data dir, meters the table's established stat
  * columns over it (min/max/row-count read footer-only — parquet
  * aggregate pushdown — so the stats pass costs no data I/O), and
  * commits through the ordinary CAS protocol:
  *
  *  - INSERT INTO → `commitAppend` (op `insert`): O(1) manifest delta,
  *    prior dirs untouched, the table's recorded schema inherited;
  *  - INSERT OVERWRITE → `commitReplace` (op `insert_overwrite`) with
  *    `pruneDisplaced=false` — displaced dirs stay readable through
  *    time travel until retention expires them, the same contract as
  *    every other replace-family writer.
  *
  * Stat inheritance keeps the table's skipping and manifest-only
  * COUNT(*) alive across SQL writes: the new dir records exactly the
  * columns the existing dirs record (pseudo-stats re-derived, DV
  * dead-counts never inherited — a fresh dir has no deletion vector). */
case class GraftInsertExec(@transient spark: SparkSession, root: String,
    tableSchema: StructType, @transient query: LogicalPlan,
    overwrite: Boolean)
  extends V2CommandExec with LeafExecNode {

  override def output: Seq[Attribute] = Nil

  override def run(): Seq[InternalRow] = {
    val df = org.apache.spark.sql.graftbridge.DatasetBridge.ofRows(spark, query)
    val prev = ManifestCommit.readManifest(spark, root)
    // CHECK constraints are proven on the STAGED dirs after the write
    // (sound for nondeterministic queries — the validated bytes are the
    // served bytes); the commit then CAS-guards against ANY concurrent
    // constraint change — Some even when the read set was EMPTY, so a
    // concurrent ADD CONSTRAINT (which validated only the rows visible
    // to it) cannot be silently joined by this write's unproven rows
    val checks = prev.map(_.checks).getOrElse(Map.empty)
    val checksCas = Some(checks)
    // slice-component EXPRESSION stats (bucket/date components of a
    // composite slice) inherit alongside plain column stats
    val sliceComps = prev.flatMap(_.slice)
      .map(ManifestCommit.sliceComponents(_).toSet).getOrElse(Set.empty)
    val recorded = prev
      .map(_.stats.values.flatten.map(s => ManifestCommit.baseStatCol(s.col)).toSeq.distinct).getOrElse(Nil)
      .filter(c => c == ManifestCommit.RowCountStat ||
        (!ManifestCommit.PseudoStats(c) &&
          (tableSchema.fieldNames.contains(c) || sliceComps(c))))
    // a freshly DDL-created table has no dirs yet, hence no stats to
    // inherit — seed them from the slicing expression's referenced
    // columns (plus its non-identity components) so the FIRST insert
    // already arms pruning and COUNT(*). The CURRENT slice's columns
    // are ALWAYS unioned in even when stats are inherited: after
    // PARTITION EVOLUTION onto a different column, inherited stat
    // columns alone would leave the new key unmetered on every new dir
    // — pruning on the evolved layout would never arm
    val sliceSeed = prev.flatMap(_.slice).map(s =>
      GraftWriteUtil.sliceRefCols(s, tableSchema.fieldNames.toSeq) ++
        ManifestCommit.sliceExprStatCols(s, tableSchema.fieldNames.toSeq))
      .getOrElse(Nil)
    val statCols =
      if (recorded.nonEmpty) (recorded ++ sliceSeed).distinct
      else if (sliceSeed.nonEmpty)
        (sliceSeed :+ ManifestCommit.RowCountStat).distinct
      else Nil
    // The table's layout: one dir per slice value with slice-tight
    // stats when it records a slicing expression — so a year-sized
    // INSERT SELECT into a month-sliced table keeps skipping
    // month-granular instead of degrading to one table-spanning stat
    // range until the next OPTIMIZE — else one dir
    val dirs = ManifestCommit.writeData(spark, root, df,
      prev.flatMap(_.slice), statCols)
    ManifestCommit.validateWrittenChecks(spark, root, checks,
      dirs.map(_._1), "INSERT")
    if (overwrite)
      ManifestCommit.commitReplace(spark, root, dirs.map(_._1),
        pruneDisplaced = false, stats = dirs.toMap,
        schema = prev.flatMap(_.tableSchema), op = "insert_overwrite",
        expectedChecks = checksCas)
    else
      // nothing displaced, nothing pinned: an append reads no table
      // state, so it commutes with any concurrent commit
      ManifestCommit.commitAppendMulti(spark, root, dirs, op = "insert",
        expectedChecks = checksCas)
    Nil
  }
}
