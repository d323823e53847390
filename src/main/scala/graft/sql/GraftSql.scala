package graft.sql

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{MultiInstanceRelation, UnresolvedIdentifier, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Max, Min}
import org.apache.spark.sql.catalyst.optimizer.{CollapseProject, ColumnPruning, PushDownPredicates, RemoveNoopOperators}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.StructType

import graft.ingest.ManifestCommit
import graft.ingest.ManifestCommit.Manifest

/** SQL surface for manifest-committed (graft) tables: `spark.sql`
  * queries reference them as `graft`.`<name>` after [[GraftSql.register]]
  * (or `graft`.`/abs/table/root` ad hoc), with optional time travel via
  * a `@v<gen>` suffix — `SELECT * FROM graft.`orders@v3``.
  *
  * The reference exposes every table through a SQL endpoint (Superset /
  * ClickHouse HTTP — reference: superset_bootstrap/datasets.yaml and
  * the tools/sql_objects DDL scripts); here the same surface rides Spark's own
  * analyzer/optimizer through two injected rules instead of a copy of
  * the DataFrame plumbing:
  *
  *  - [[GraftResolveRelations]] (analyzer): resolves the identifier to a
  *    [[GraftRelation]] leaf pinned to ONE manifest generation — every
  *    query reads a consistent snapshot even under concurrent writers,
  *    and the whole relational planner (filter pushdown, column pruning,
  *    join planning, AQE) operates on it like any other relation.
  *  - [[GraftDataSkipping]] (pre-CBO optimizer): expands the leaf into
  *    the DV-aware manifest read, AFTER Catalyst has pushed filters down
  *    to it — so the expansion consults the manifest's per-dir min/max
  *    stats and bloom side files and plans ONLY the dirs the predicate
  *    can touch (the SQL path gets the same data skipping the
  *    programmatic `readPruned`/`readBloom` callers get), and answers
  *    bare `COUNT(*)` from manifest pseudo-stats with zero Spark jobs.
  *
  * Scale: resolution reads only the manifest (O(1) pointer + cached
  * delta-log records); skipping decisions are driver-side over in-memory
  * stats; the expanded plan is ordinary parquet relations, so a 1000-
  * executor cluster sees pruned file scans with pushed filters — no
  * extra shuffle, no driver data path. */
object GraftSql {
  /** registry: lowercase logical name -> table root. */
  private val registry =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  def register(name: String, root: String): Unit = {
    require(!name.contains("@"), s"table name may not contain '@': $name")
    // '#' is the metadata-table suffix syntax (`t#history`): a table
    // registered AS "a#history" would silently shadow table a's history
    require(!name.contains("#"), s"table name may not contain '#': $name")
    registry.put(name.toLowerCase(java.util.Locale.ROOT), root)
    biRefresh(name, dropped = false)
  }

  def unregister(name: String): Unit = {
    registry.remove(name.toLowerCase(java.util.Locale.ROOT))
    biRefresh(name, dropped = true)
  }

  /** Once [[syncBiCatalog]] has run, the mirror is STANDING: every later
    * registry mutation applies its one-view delta here, so a BI tool
    * connected to the Thrift endpoint sees CREATE/DROP/RENAME without
    * anyone re-running the sync. Best-effort by design — a mirror
    * hiccup must never fail the DDL that triggered it (the periodic
    * full sync reconciles) — and self-disarming when the mirror's
    * session is gone. */
  @volatile private var biMirror: Option[(org.apache.spark.sql.SparkSession,
    String)] = None

  /** Stop the standing mirror (tests; a deployment tearing down its BI
    * endpoint while the engine keeps serving other work). */
  def disarmBiMirror(): Unit = biMirror = None

  private def biRefresh(name: String, dropped: Boolean): Unit =
    biMirror.foreach { case (s, db) =>
      if (s.sparkContext.isStopped) biMirror = None
      else {
        val n = name.toLowerCase(java.util.Locale.ROOT)
        scala.util.Try {
          if (dropped) s.sql(s"DROP VIEW IF EXISTS `$db`.`$n`")
          else s.sql(
            s"CREATE OR REPLACE VIEW `$db`.`$n` AS SELECT * FROM graft.`$n`")
        }.failed.foreach(e =>
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"BI mirror auto-refresh of $db.$n failed (the next full " +
              s"syncBiCatalog reconciles): ${e.getMessage}"))
      }
    }

  /** Registered logical names (SHOW TABLES IN graft). */
  def registered: Seq[String] = {
    import scala.jdk.CollectionConverters._
    registry.keySet().asScala.toSeq
  }

  /** Re-mirror every registered name backed by `root` after a
    * SCHEMA-CHANGING DDL (RENAME/ALTER COLUMN TYPE/ADD/DROP COLUMNS):
    * a catalog view captures its schema at creation, so the standing
    * BI mirror's `getColumns` would keep serving the pre-DDL columns
    * until the next full sync — a BI tool connected while the DDL
    * lands must see the new name/type immediately. Same best-effort
    * contract as [[biRefresh]]: a mirror hiccup never fails the DDL. */
  private[sql] def biRefreshRoot(root: String): Unit =
    if (biMirror.nonEmpty) {
      import scala.jdk.CollectionConverters._
      val r = new org.apache.hadoop.fs.Path(root).toString
      registry.entrySet().asScala
        .filter(e => new org.apache.hadoop.fs.Path(e.getValue).toString == r)
        .foreach(e => biRefresh(e.getKey, dropped = false))
    }

  /** Mirror the graft registry into the Spark session catalog as a
    * database of VIEWs, so STOCK JDBC metadata discovery —
    * `DatabaseMetaData.getTables`/`getColumns`, the calls Superset and
    * Metabase schema sync actually make against the Thrift endpoint
    * (reference: tools/metabase_schema_discovery.py:150-210,
    * superset_bootstrap/datasets.yaml) — surfaces graft tables without
    * any custom driver. Each view's text is `SELECT * FROM
    * graft.<name>`, so a query against the DISCOVERED name expands
    * through the ordinary graft resolution rule and keeps generation
    * pinning, manifest-stats skipping, DV subtraction and metadata-only
    * COUNT(*) over the wire. The mirror database must NOT be named
    * `graft` (the rule's own qualifier — a same-named catalog view
    * would expand to a reference to itself). Re-running refreshes view
    * schemas (schema evolution) and drops views whose tables were
    * unregistered — the BI deployment calls this on its schema-sync
    * cadence, one O(#tables) metadata pass, no data I/O. */
  def syncBiCatalog(spark: org.apache.spark.sql.SparkSession,
      db: String = "graft_bi"): Seq[(String, String)] = {
    require(db.toLowerCase(java.util.Locale.ROOT) != "graft",
      "the BI mirror database may not be named 'graft' (it would shadow " +
        "the graft resolution qualifier and make every view self-referential)")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$db`")
    val want = registered.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    spark.sessionState.catalog.listTables(db)
      .map(_.table.toLowerCase(java.util.Locale.ROOT))
      .filterNot(want).foreach { stale =>
        spark.sql(s"DROP VIEW IF EXISTS `$db`.`$stale`")
      }
    // one broken table must not abort the whole sync (BI schema sync is
    // a standing loop); failures are RETURNED as (table, error) for the
    // caller's monitoring and logged. A table is dropped from discovery
    // only when its root is provably GONE (stale registration) — a
    // TRANSIENT read error keeps the previous healthy view serving.
    val failed = want.toSeq.sorted.flatMap { n =>
      scala.util.Try(spark.sql(
        s"CREATE OR REPLACE VIEW `$db`.`$n` AS SELECT * FROM graft.`$n`"))
        .failed.toOption.map { e =>
          val gone = rootOf(n).forall(r => scala.util.Try(
            !graft.ingest.ManifestCommit.isManifestTable(spark, r))
            .getOrElse(false))
          if (gone) {
            scala.util.Try(spark.sql(s"DROP VIEW IF EXISTS `$db`.`$n`"))
            ()
          }
          n -> e.getMessage
        }
    }
    if (failed.nonEmpty)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"syncBiCatalog: skipped unreadable tables ${failed.map(_._1).mkString(", ")}")
    // from here on the mirror auto-refreshes on every registry mutation
    biMirror = Some((spark, db))
    failed
  }

  /** ENGINE-RESTART recovery (r19): re-register every graft table and
    * persistent view found under the session warehouse's `graft.db` —
    * the registry is process memory, but SQL-created tables and views
    * are durable on disk, so a fresh engine (or a fresh Thrift server)
    * calls this once at startup and the BI tool's cold `SELECT … FROM
    * graft.orders_v` works with no per-session setup (the reference's
    * views live in ClickHouse and survive restarts the same way).
    * `only` filters by name (tests isolating from other suites'
    * warehouse leftovers). Returns the registered names. */
  def registerWarehouse(spark: org.apache.spark.sql.SparkSession,
      only: String => Boolean = _ => true): Seq[String] = {
    val wh = spark.sessionState.conf.getConf(
      org.apache.spark.sql.internal.StaticSQLConf.WAREHOUSE_PATH)
    val db = new org.apache.hadoop.fs.Path(s"${wh.stripSuffix("/")}/graft.db")
    val fs = db.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(db)) return Nil
    fs.listStatus(db).toSeq.filter(_.isDirectory).map(_.getPath)
      .filter(p => only(p.getName))
      .flatMap { p =>
        val recoverable =
          graft.ingest.ManifestCommit.isManifestTable(spark, p.toString) ||
            GraftView.isView(spark, p.toString)
        if (recoverable) { register(p.getName, p.toString); Some(p.getName) }
        else None
      }.sorted
  }

  private val AtGen = "^(.*)@v([0-9]+)$".r

  /** The registered root of a bare table name — the public face of the
    * registry for non-SQL callers (the streaming source's
    * `.option("table", name)`). */
  def rootOf(name: String): Option[String] =
    Option(registry.get(name.toLowerCase(java.util.Locale.ROOT)))

  /** Parse a user-supplied timestamp value — epoch millis or a
    * timestamp literal — to epoch millis, interpreting literals in the
    * SESSION timezone exactly like `TIMESTAMP AS OF` in a SELECT (a
    * JVM-default-zone parse would make the same literal name a
    * different instant in RESTORE/startingTimestamp than in the query
    * that previewed it). */
  def parseTsMillis(spark: org.apache.spark.sql.SparkSession, raw: String): Long =
    scala.util.Try(raw.trim.toLong).getOrElse {
      val micros = org.apache.spark.sql.catalyst.expressions.Cast(
        org.apache.spark.sql.catalyst.expressions.Literal(raw.trim),
        org.apache.spark.sql.types.TimestampType,
        Some(spark.sessionState.conf.sessionLocalTimeZone)).eval(null)
      require(micros != null,
        s"cannot interpret '$raw' as a timestamp (epoch millis or " +
          "'yyyy-MM-dd HH:mm:ss[.SSS]' in the session timezone)")
      micros.asInstanceOf[Long] / 1000L
    }

  /** Resolve `<name>` / `<name>@v<gen>` / `/abs/path[@v<gen>]` to
    * (root, pinned generation). */
  private[sql] def lookup(name: String): Option[(String, Option[Long])] = {
    val (base, gen) = name match {
      case AtGen(b, g) => (b, Some(g.toLong))
      case _ => (name, None)
    }
    Option(registry.get(base.toLowerCase(java.util.Locale.ROOT)))
      .orElse(if (base.startsWith("/")) Some(base) else None)
      .map(root => (root, gen))
  }
}

/** Analysis-time leaf for a graft table, pinned to the manifest
  * generation resolved when the query was analyzed (snapshot-consistent
  * reads under concurrent commits — the Delta/Iceberg scan-pinning
  * idea). Expanded to the physical read by [[GraftDataSkipping]]. */
case class GraftRelation(root: String, manifest: Manifest,
    readSchema: StructType, override val output: Seq[AttributeReference],
    timeTraveled: Boolean = false)
  extends LeafNode with MultiInstanceRelation {

  override def newInstance(): GraftRelation =
    copy(output = output.map(_.newInstance()))

  /** Manifest row counts feed the planner BEFORE expansion (join-order /
    * broadcast heuristics that consult logical stats must not see the
    * unknown-size default when the manifest knows better). sizeInBytes
    * is EXACT when every live dir carries the commit-time `__bytes`
    * stat — rows × schema defaultSize underestimates wide string/binary
    * corpora by 10×+, which could push a too-big side under the
    * broadcast threshold; old manifests without the stat keep the
    * estimate. */
  override def computeStats(): Statistics = {
    val rows = ManifestCommit.tableRowCountOf(manifest)
    val width = output.map(_.dataType.defaultSize).sum.max(1)
    Statistics(
      sizeInBytes = ManifestCommit.tableBytesOf(manifest).map(BigInt(_))
        .orElse(rows.map(n => BigInt(n) * width))
        .getOrElse(BigInt(conf.defaultSizeInBytes)),
      rowCount = rows.map(BigInt(_)))
  }

  override def simpleString(maxFields: Int): String =
    s"GraftRelation $root gen=${manifest.gen} dirs=${manifest.dirs.size}"
}

/** Analyzer rule: `graft`.`<name>` → [[GraftRelation]]. */
case class GraftResolveRelations(spark: SparkSession)
    extends Rule[LogicalPlan] {

  private def isGraftRef(u: UnresolvedRelation): Boolean =
    !u.isStreaming && u.multipartIdentifier.length == 2 &&
      u.multipartIdentifier.head.equalsIgnoreCase("graft") &&
      GraftSql.lookup(u.multipartIdentifier(1)).isDefined

  /** True when the registered root of a bare `graft.<x>` reference is a
    * persistent VIEW (descriptor, no manifest). `@v` suffixes never
    * denote views (guarded at resolve). */
  private def isViewRef(u: UnresolvedRelation): Boolean =
    isGraftRef(u) && {
      val (root, gen) = GraftSql.lookup(u.multipartIdentifier(1)).get
      gen.isEmpty && GraftView.isView(spark, root)
    }

  /** Substitute a view's parsed text, EAGERLY expanding nested graft
    * views with an explicit seen-set — view-on-view works to any depth
    * and a cycle fails with a clear message instead of the analyzer's
    * max-iterations error. Non-view graft references are left for the
    * ordinary resolution cases; everything rides the same machinery
    * (generation pinning, skipping, metadata folds) from there. */
  private def expandView(name: String, seen: Set[String]): LogicalPlan = {
    val root = GraftSql.lookup(name).get._1
    val d = GraftView.read(spark, root).getOrElse(
      throw new IllegalArgumentException(s"graft.$name: view descriptor vanished"))
    val parsed = spark.sessionState.sqlParser.parsePlan(d.text)
    parsed.resolveOperatorsUp {
      case u: UnresolvedRelation if !u.isStreaming &&
          u.multipartIdentifier.length == 2 &&
          u.multipartIdentifier.head.equalsIgnoreCase("graft") =>
        val inner = u.multipartIdentifier(1)
        val key = inner.toLowerCase(java.util.Locale.ROOT)
        GraftSql.lookup(inner) match {
          case Some((r, None)) if GraftView.isView(spark, r) =>
            if (seen(key)) throw new IllegalArgumentException(
              s"graft: cyclic view reference " +
                s"${(seen.toSeq.sorted :+ key).mkString(" -> ")}")
            SubqueryAlias(inner, expandView(inner, seen + key))
          case _ => u
        }
    }
  }

  private def resolveGraft(name: String, asOfGen: Option[Long] = None)
      : GraftRelation = {
    val (root, atGen) = GraftSql.lookup(name).get
    // a VIEW reaching here arrived through a write/DML/time-travel
    // path (plain SELECTs substitute the text before this point)
    require(!GraftView.isView(spark, root),
      s"graft.$name is a VIEW — it cannot be written, deleted from, " +
        "or time-traveled")
    require(atGen.isEmpty || asOfGen.isEmpty,
      s"graft.$name: cannot combine an @v reference with VERSION/TIMESTAMP AS OF")
    val gen = asOfGen.orElse(atGen)
    val m = (gen match {
      case Some(g) => ManifestCommit.readManifestAt(spark, root, g)
      case None => ManifestCommit.readManifest(spark, root)
    }).getOrElse(throw new IllegalArgumentException(
      s"graft.$name: no manifest at $root" +
        gen.map(g => s" for generation $g").getOrElse("")))
    // Recorded schema = zero-I/O resolution; a pre-evolution table
    // without one pays a one-time footer-merge read here (documented
    // slow path, same as readDirsOf's own fallback).
    val schema0 = m.tableSchema.getOrElse(
      ManifestCommit.readDirsOf(spark, root, m, m.dirs).schema)
    // file-source reads are nullable-at-read regardless of the
    // written schema; declaring anything non-null here would let the
    // optimizer fold predicates the data can violate
    val readSchema = StructType(schema0.fields.map(_.copy(nullable = true)))
    val out = readSchema.fields.toIndexedSeq
      .map(f => AttributeReference(f.name, f.dataType, nullable = true)())
    GraftRelation(root, m, readSchema, out, timeTraveled = gen.isDefined)
  }

  /** `<name>#history` / `<name>#files` / `<name>#detail` — the
    * metadata-table idea (Iceberg's `db.table.history`, Delta's
    * DESCRIBE HISTORY/DETAIL): commit provenance, per-dir file
    * metadata and the one-row table summary queryable as ordinary
    * relations. All are manifest-only driver builds — zero data I/O. */
  private val MetaRef = "^(.*)#(history|files|detail)$".r

  private def metaRelation(base: String, kind: String): LogicalPlan = {
    val (root, gen) = GraftSql.lookup(base).get
    require(gen.isEmpty, s"graft.$base#$kind: metadata tables are not time-travelable")
    val df = kind match {
      case "history" => ManifestCommit.history(spark, root)
      case "detail" =>
        // the DESCRIBE DETAIL one-row summary: identity, layout, size.
        // numRows/sizeInBytes are the EXACT manifest values when every
        // live dir is metered, null otherwise (never an estimate
        // masquerading as a count — run ANALYZE to arm them)
        val m = ManifestCommit.readManifest(spark, root).getOrElse(
          throw new IllegalArgumentException(s"graft.$base: no manifest at $root"))
        val row = org.apache.spark.sql.Row(
          "graft", base.takeWhile(_ != '@'), root,
          m.gen,
          m.dirs.size.toLong,
          ManifestCommit.tableBytesOf(m).map(Long.box).orNull,
          ManifestCommit.tableRowCount(spark, root).map(Long.box).orNull,
          m.slice.orNull,
          m.tableSchema.map(_.fieldNames.toSeq).orNull,
          m.dvs.size.toLong,
          m.checks.keys.toSeq.sorted,
          m.colmap.map { case (l, p) => s"$l->$p" }.toSeq.sorted)
        spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](
            java.util.Arrays.asList(row)),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("format",
              org.apache.spark.sql.types.StringType, false),
            org.apache.spark.sql.types.StructField("name",
              org.apache.spark.sql.types.StringType, false),
            org.apache.spark.sql.types.StructField("location",
              org.apache.spark.sql.types.StringType, false),
            org.apache.spark.sql.types.StructField("generation",
              org.apache.spark.sql.types.LongType, false),
            org.apache.spark.sql.types.StructField("num_dirs",
              org.apache.spark.sql.types.LongType, false),
            org.apache.spark.sql.types.StructField("size_bytes",
              org.apache.spark.sql.types.LongType, true),
            org.apache.spark.sql.types.StructField("num_rows",
              org.apache.spark.sql.types.LongType, true),
            org.apache.spark.sql.types.StructField("partitioning",
              org.apache.spark.sql.types.StringType, true),
            org.apache.spark.sql.types.StructField("columns",
              org.apache.spark.sql.types.ArrayType(
                org.apache.spark.sql.types.StringType), true),
            org.apache.spark.sql.types.StructField("num_deletion_vectors",
              org.apache.spark.sql.types.LongType, false),
            org.apache.spark.sql.types.StructField("check_constraints",
              org.apache.spark.sql.types.ArrayType(
                org.apache.spark.sql.types.StringType), true),
            org.apache.spark.sql.types.StructField("column_mapping",
              org.apache.spark.sql.types.ArrayType(
                org.apache.spark.sql.types.StringType), true))))
      case "files" =>
        val m = ManifestCommit.readManifest(spark, root).getOrElse(
          throw new IllegalArgumentException(s"graft.$base: no manifest at $root"))
        def stat(d: String, c: String) =
          ManifestCommit.statLong(m, d, c).map(Long.box).orNull
        val rows = m.dirs.map { d =>
          org.apache.spark.sql.Row(
            d,
            stat(d, ManifestCommit.RowCountStat),
            stat(d, ManifestCommit.BytesStat),
            m.dvs.get(d).orNull,
            m.stats.getOrElse(d, Nil)
              .filterNot(s => ManifestCommit.isPseudoStat(s.col))
              .map(s => s.col -> s"[${s.min}, ${s.max}]").toMap)
        }
        spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](
            java.util.Arrays.asList(rows: _*)),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("dir",
              org.apache.spark.sql.types.StringType, false),
            org.apache.spark.sql.types.StructField("rows",
              org.apache.spark.sql.types.LongType, true),
            org.apache.spark.sql.types.StructField("bytes",
              org.apache.spark.sql.types.LongType, true),
            org.apache.spark.sql.types.StructField("dv",
              org.apache.spark.sql.types.StringType, true),
            org.apache.spark.sql.types.StructField("stats",
              org.apache.spark.sql.types.MapType(
                org.apache.spark.sql.types.StringType,
                org.apache.spark.sql.types.StringType), true))))
    }
    df.queryExecution.analyzed
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperatorsUp {
      case u: UnresolvedRelation if !u.isStreaming &&
          u.multipartIdentifier.length == 2 &&
          u.multipartIdentifier.head.equalsIgnoreCase("graft") &&
          (u.multipartIdentifier(1) match {
            case MetaRef(base, _) => GraftSql.lookup(base).isDefined
            case _ => false
          }) =>
        val MetaRef(base, kind) = u.multipartIdentifier(1)
        SubqueryAlias(base.takeWhile(_ != '@'), metaRelation(base, kind))

      // persistent views substitute their parsed text (r19) — checked
      // BEFORE the table case so a view name never resolves as a table
      case u: UnresolvedRelation if isViewRef(u) =>
        val name = u.multipartIdentifier(1)
        SubqueryAlias(name,
          expandView(name, Set(name.toLowerCase(java.util.Locale.ROOT))))

      case u: UnresolvedRelation if isGraftRef(u) =>
        val name = u.multipartIdentifier(1)
        SubqueryAlias(name.takeWhile(_ != '@'), resolveGraft(name))

      // standard time-travel syntax (the Delta/Iceberg surface):
      //   SELECT ... FROM graft.t VERSION AS OF 3
      //   SELECT ... FROM graft.t TIMESTAMP AS OF '2026-08-01 12:00:00'
      // VERSION maps to the generation directly; TIMESTAMP evaluates the
      // (foldable) expression to an instant and resolves it against the
      // per-generation commit timestamps — both pin the snapshot exactly
      // like the `@v` suffix, and skipping/stats ride the pinned manifest.
      case org.apache.spark.sql.catalyst.analysis.RelationTimeTravel(
          u: UnresolvedRelation, tsOpt, verOpt) if isGraftRef(u) =>
        val name = u.multipartIdentifier(1)
        val root = GraftSql.lookup(name).get._1
        val gen = (verOpt, tsOpt) match {
          case (Some(v), None) =>
            scala.util.Try(v.trim.toLong).getOrElse(
              throw new IllegalArgumentException(
                s"graft.$name VERSION AS OF: expected a generation number, got '$v'"))
          case (None, Some(e)) =>
            require(e.foldable,
              s"graft.$name TIMESTAMP AS OF: the expression must be a constant")
            val micros = org.apache.spark.sql.catalyst.expressions.Cast(
              e, org.apache.spark.sql.types.TimestampType,
              Some(conf.sessionLocalTimeZone)).eval(null)
            require(micros != null,
              s"graft.$name TIMESTAMP AS OF: cannot interpret ${e.sql} as a timestamp")
            ManifestCommit.genAsOf(spark, root,
              micros.asInstanceOf[Long] / 1000L)
          case _ => throw new IllegalArgumentException(
            s"graft.$name: exactly one of VERSION AS OF / TIMESTAMP AS OF is required")
        }
        SubqueryAlias(name.takeWhile(_ != '@'),
          resolveGraft(name, asOfGen = Some(gen)))

      // INSERT INTO / INSERT OVERWRITE graft.<name>. The target is NOT a
      // child of InsertIntoStatement (only `query` is), so it must be
      // resolved here, mirroring how Spark's own ResolveRelations
      // special-cases insert targets. Once the source query is resolved,
      // fold both into a leaf command holding the ALIGNED query (position
      // or BY NAME binding + store-assignment casts, the SQL insert
      // contract). A leaf (query as innerChildren, like Spark's own
      // InsertIntoDataSourceCommand) so the outer optimizer doesn't
      // double-optimize a plan the command re-plans at run().
      case i: InsertIntoStatement if i.query.resolved && (i.table match {
            case u: UnresolvedRelation => isGraftRef(u)
            case _ => false
          }) =>
        val g = resolveGraft(
          i.table.asInstanceOf[UnresolvedRelation].multipartIdentifier(1))
        require(!g.timeTraveled, "graft INSERT: cannot write to a @v time-travel reference")
        require(i.partitionSpec.isEmpty, "graft INSERT: PARTITION spec not supported")
        require(!i.ifPartitionNotExists, "graft INSERT: IF NOT EXISTS not supported")
        val fields = g.readSchema.fields
        // STORE-ASSIGNMENT casts, not the session's expression-cast mode:
        // SQL INSERT follows spark.sql.storeAssignmentPolicy (Spark's own
        // TableOutputResolver contract) — under the default ANSI policy an
        // overflowing or malformed value FAILS the insert even with
        // spark.sql.ansi.enabled=false, instead of landing silently as
        // NULL/truncated; STRICT rejects any potentially-lossy cast
        // (UpCast, resolved when the command re-analyzes its query).
        def castTo(a: Attribute, f: org.apache.spark.sql.types.StructField): NamedExpression =
          if (a.dataType == f.dataType) Alias(a, f.name)()
          else {
            import org.apache.spark.sql.internal.SQLConf.StoreAssignmentPolicy
            val cast = conf.storeAssignmentPolicy match {
              case StoreAssignmentPolicy.STRICT => UpCast(a, f.dataType)
              case StoreAssignmentPolicy.LEGACY =>
                Cast(a, f.dataType, Some(conf.sessionLocalTimeZone), EvalMode.LEGACY)
              case _ =>
                Cast(a, f.dataType, Some(conf.sessionLocalTimeZone), EvalMode.ANSI)
            }
            Alias(cast, f.name)()
          }
        val aligned: Seq[NamedExpression] =
          if (i.byName) fields.toIndexedSeq.map { f =>
            val a = i.query.output.find(a => conf.resolver(a.name, f.name))
              .getOrElse(throw new IllegalArgumentException(
                s"graft INSERT BY NAME: source query has no column ${f.name}"))
            castTo(a, f)
          } else if (i.userSpecifiedCols.nonEmpty) {
            // explicit column list: `INSERT INTO t (a, c) SELECT ...` —
            // listed columns bind positionally to the query, unlisted
            // target columns null-fill (the ANSI insert contract)
            require(i.userSpecifiedCols.size == i.query.output.size,
              s"graft INSERT: column list names ${i.userSpecifiedCols.size} " +
                s"columns, query provides ${i.query.output.size}")
            require(i.userSpecifiedCols.map(_.toLowerCase(java.util.Locale.ROOT))
              .distinct.size == i.userSpecifiedCols.size,
              s"graft INSERT: duplicate column in list ${i.userSpecifiedCols.mkString(",")}")
            val byField: Map[String, Attribute] =
              i.userSpecifiedCols.zip(i.query.output).map { case (n, a) =>
                val f = fields.find(f => conf.resolver(f.name, n)).getOrElse(
                  throw new IllegalArgumentException(
                    s"graft INSERT: table has no column $n"))
                f.name -> a
              }.toMap
            fields.toIndexedSeq.map { f =>
              byField.get(f.name) match {
                case Some(a) => castTo(a, f)
                case None => Alias(Literal(null, f.dataType), f.name)()
              }
            }
          } else {
            require(i.query.output.size == fields.length,
              s"graft INSERT: query provides ${i.query.output.size} columns, " +
                s"table has ${fields.length}")
            i.query.output.zip(fields.toIndexedSeq).map { case (a, f) => castTo(a, f) }
          }
        GraftInsert(g.root, g.readSchema, Project(aligned, i.query), i.overwrite)

      // DELETE FROM graft.<name> WHERE <cond> — the target IS the child
      // here (unlike InsertIntoStatement), so the relation case above has
      // already resolved it and the analyzer has resolved <cond> against
      // it; fold into a leaf command carrying the predicate by NAME
      // (the executor re-resolves it against its own read).
      case d: DeleteFromTable if d.resolved && graftTarget(d.table).isDefined =>
        val g = graftTarget(d.table).get
        require(!g.timeTraveled, "graft DELETE: cannot write to a @v time-travel reference")
        GraftDelete(g.root, byNameColumn(d.condition))

      // UPDATE graft.<name> SET ... [WHERE <cond>]
      case u: UpdateTable if u.resolved && graftTarget(u.table).isDefined =>
        val g = graftTarget(u.table).get
        require(!g.timeTraveled, "graft UPDATE: cannot write to a @v time-travel reference")
        val assigns = u.assignments.map { a =>
          val name = a.key match {
            case ar: AttributeReference => ar.name
            case other => throw new IllegalArgumentException(
              s"graft UPDATE: only top-level columns can be assigned, got $other")
          }
          name -> byNameColumn(a.value)
        }
        GraftUpdate(g.root, assigns,
          u.condition.map(byNameColumn).getOrElse(
            org.apache.spark.sql.functions.lit(true)))

      // (graft DDL — CREATE/CTAS/DROP/TRUNCATE — is claimed at PARSE
      // time by GraftSqlParser: ResolveSessionCatalog would otherwise
      // convert those statements before any injected rule runs. The
      // statements BELOW can be claimed here instead: their children are
      // UnresolvedTable/UnresolvedTableOrView/UnresolvedNamespace
      // referencing a name no catalog can resolve, so the builtin rules
      // leave them unresolved and this rule gets them before
      // CheckAnalysis errors.)

      // ALTER TABLE graft.<name> ADD COLUMNS (..): commit the widened
      // schema — O(1) metadata, no data write; cold dirs null-fill at
      // read (the q125/evolveSchema contract as DDL)
      case ac: AddColumns if graftTableRef(ac.table).isDefined =>
        val (root, gen) = graftTableRef(ac.table).get
        require(gen.isEmpty, "graft ALTER: cannot alter a @v time-travel reference")
        val added = ac.columnsToAdd.map { c =>
          require(c.path.isEmpty,
            s"graft ALTER ADD COLUMNS: only top-level columns (got ${c.name.mkString(".")})")
          require(c.position.isEmpty,
            "graft ALTER ADD COLUMNS: FIRST/AFTER positions are not supported")
          require(c.default.isEmpty,
            "graft ALTER ADD COLUMNS: DEFAULT values are not supported")
          (c.colName, c.dataType)
        }
        GraftAddColumns(root, added)

      // ALTER TABLE graft.<name> ADD CONSTRAINT c CHECK (cond) — the
      // Delta constraint contract: existing rows are validated NOW, and
      // every enforced writer (INSERT / MERGE / UPDATE / streaming sink)
      // re-proves the condition for the rows it lands. The child is
      // matched both unresolved and after this rule's own resolution
      // (the analyzer binds the condition against the resolved child).
      case acc: org.apache.spark.sql.catalyst.plans.logical.AddCheckConstraint
          if constraintRoot(acc.child).isDefined =>
        val root = constraintRoot(acc.child).get
        val c = acc.checkConstraint
        require(c.userProvidedCharacteristic ==
          org.apache.spark.sql.catalyst.expressions.ConstraintCharacteristic(None, None),
          "graft ADD CONSTRAINT: ENFORCED is the only supported " +
            "characteristic — NOT ENFORCED / RELY clauses would silently " +
            "change meaning and are rejected")
        val name = Option(c.userProvidedName).filter(_.nonEmpty)
          .getOrElse(throw new IllegalArgumentException(
            "graft ADD CONSTRAINT: a constraint name is required " +
              "(ALTER TABLE t ADD CONSTRAINT <name> CHECK (...))"))
        GraftAddCheck(root, name, c.condition)

      // ALTER TABLE graft.<name> DROP CONSTRAINT c — O(1) metadata commit
      case dcon: org.apache.spark.sql.catalyst.plans.logical.DropConstraint
          if constraintRoot(dcon.table).isDefined =>
        GraftDropCheck(root = constraintRoot(dcon.table).get,
          name = dcon.name, ifExists = dcon.ifExists)

      // ALTER TABLE graft.<name> DROP COLUMN(s): commit the narrowed
      // schema — data files keep the bytes, reads project them away
      case dc: DropColumns if graftTableRef(dc.table).isDefined =>
        val (root, gen) = graftTableRef(dc.table).get
        require(gen.isEmpty, "graft ALTER: cannot alter a @v time-travel reference")
        val names = dc.columnsToDrop.map {
          case org.apache.spark.sql.catalyst.analysis.UnresolvedFieldName(Seq(n)) => n
          case other => throw new IllegalArgumentException(
            s"graft ALTER DROP COLUMNS: only top-level columns (got $other)")
        }
        GraftDropColumns(root, names, dc.ifExists)

      // ALTER TABLE graft.<name> ALTER COLUMN c TYPE <wider>: an
      // O(metadata) commit widening the recorded schema — cold files
      // keep their narrower physical type, the parquet reader upcasts
      // at scan time (the Delta type-widening idea; whitelist enforced
      // in ManifestCommit.alterColumnType)
      case ac: AlterColumns if graftTableRef(ac.table).isDefined =>
        val (root, gen) = graftTableRef(ac.table).get
        require(gen.isEmpty, "graft ALTER: cannot alter a @v time-travel reference")
        val changes = ac.specs.map { sp =>
          require(sp.newNullability.isEmpty && sp.newComment.isEmpty &&
            sp.newPosition.isEmpty && sp.newDefaultExpression.isEmpty &&
            !sp.dropDefault,
            "graft ALTER COLUMN: only TYPE changes are supported " +
              "(nullability/comment/position/default are not)")
          val name = sp.column match {
            case org.apache.spark.sql.catalyst.analysis.UnresolvedFieldName(Seq(n)) => n
            case other => throw new IllegalArgumentException(
              s"graft ALTER COLUMN: only top-level columns (got $other)")
          }
          name -> sp.newDataType.getOrElse(throw new IllegalArgumentException(
            "graft ALTER COLUMN: no TYPE given"))
        }
        GraftAlterColumnType(root, changes)

      // ALTER TABLE graft.<name> RENAME COLUMN a TO b: an O(metadata)
      // commit recording a COLUMN MAPPING (logical -> physical name) —
      // cold dirs keep their bytes under the old name, reads project
      // under the new one, stats/bloom keys remap; guards refuse
      // renaming DV-key / slicing-referenced / constrained columns
      // (ManifestCommit.renameColumn)
      case rc: RenameColumn if graftTableRef(rc.table).isDefined =>
        val (root, gen) = graftTableRef(rc.table).get
        require(gen.isEmpty, "graft ALTER: cannot alter a @v time-travel reference")
        val from = rc.column match {
          case org.apache.spark.sql.catalyst.analysis.UnresolvedFieldName(Seq(n)) => n
          case other => throw new IllegalArgumentException(
            s"graft ALTER RENAME COLUMN: only top-level columns (got $other)")
        }
        GraftRenameColumn(root, from, rc.newName)

      // ALTER TABLE graft.<a> RENAME TO graft.<b>: a registry repoint
      case rt: RenameTable if (rt.child match {
            case u: org.apache.spark.sql.catalyst.analysis.UnresolvedTableOrView =>
              u.multipartIdentifier.length == 2 &&
                u.multipartIdentifier.head.equalsIgnoreCase("graft") &&
                GraftSql.lookup(u.multipartIdentifier(1)).isDefined
            case _ => false
          }) =>
        val u = rt.child
          .asInstanceOf[org.apache.spark.sql.catalyst.analysis.UnresolvedTableOrView]
        val from = u.multipartIdentifier(1)
        require(!from.contains("@"),
          "graft RENAME: cannot rename a @v time-travel reference")
        val to = rt.newName match {
          case Seq(n) => n // RENAME TO y keeps the namespace
          case Seq(g, n) if g.equalsIgnoreCase("graft") => n
          case other => throw new IllegalArgumentException(
            s"graft RENAME: target must stay in graft (got ${other.mkString(".")})")
        }
        GraftRenameTable(from, to)

      // DESCRIBE [EXTENDED] graft.<name>[@vN] — schema (and, extended,
      // table detail) from the manifest alone; the JDBC/BI metadata call
      case d: DescribeRelation if (d.relation match {
            case u: org.apache.spark.sql.catalyst.analysis.UnresolvedTableOrView =>
              u.multipartIdentifier.length == 2 &&
                u.multipartIdentifier.head.equalsIgnoreCase("graft") &&
                GraftSql.lookup(u.multipartIdentifier(1)).isDefined
            case _ => false
          }) =>
        val u = d.relation
          .asInstanceOf[org.apache.spark.sql.catalyst.analysis.UnresolvedTableOrView]
        require(d.partitionSpec.isEmpty,
          "graft DESCRIBE: partition specs are not supported")
        val (root, gen) = GraftSql.lookup(u.multipartIdentifier(1)).get
        val m = (gen match {
          case Some(g) => ManifestCommit.readManifestAt(spark, root, g)
          case None => ManifestCommit.readManifest(spark, root)
        }).getOrElse(throw new IllegalArgumentException(
          s"graft.${u.multipartIdentifier(1)}: no manifest at $root"))
        val schema = m.tableSchema.getOrElse(
          ManifestCommit.readDirsOf(spark, root, m, m.dirs).schema)
        def utf8(s: String) = org.apache.spark.unsafe.types.UTF8String.fromString(s)
        def row(a: String, b: String, c: String) =
          InternalRow(utf8(a), utf8(b), utf8(c))
        val base = schema.fields.toIndexedSeq.map(f =>
          row(f.name, f.dataType.simpleString, ""))
        val detail = if (!d.isExtended) Nil else Seq(
          row("", "", ""),
          row("# Detailed Table Information", "", ""),
          row("Provider", "graft", ""),
          row("Location", root, ""),
          row("Generation", m.gen.toString, ""),
          row("Live dirs", m.dirs.size.toString, ""),
          row("Deletion vectors", m.dvs.size.toString, "")) ++
          m.slice.map(s => row("Slicing", s, "")).toSeq ++
          m.checks.toSeq.sortBy(_._1).map { case (n, c) =>
            row(s"Constraint $n", s"CHECK ($c)", "") }
        LocalRelation(d.output, base ++ detail)

      // SHOW CREATE TABLE graft.<name> — round-trippable DDL from the
      // manifest alone (schema, partitioning reverse-mapped to its
      // transform, location); what a BI tool or migration script asks
      // for before re-creating the table elsewhere
      case sct: org.apache.spark.sql.catalyst.plans.logical.ShowCreateTable
          if (sct.child match {
            case u: org.apache.spark.sql.catalyst.analysis.UnresolvedTableOrView =>
              u.multipartIdentifier.length == 2 &&
                u.multipartIdentifier.head.equalsIgnoreCase("graft") &&
                GraftSql.lookup(u.multipartIdentifier(1)).isDefined
            case _ => false
          }) =>
        val u = sct.child
          .asInstanceOf[org.apache.spark.sql.catalyst.analysis.UnresolvedTableOrView]
        val name = u.multipartIdentifier(1)
        val (root, gen) = GraftSql.lookup(name).get
        require(gen.isEmpty,
          "graft SHOW CREATE TABLE: not applicable to a @v time-travel reference")
        val m = ManifestCommit.readManifest(spark, root).getOrElse(
          throw new IllegalArgumentException(s"graft.$name: no manifest at $root"))
        val schema = m.tableSchema.getOrElse(
          ManifestCommit.readDirsOf(spark, root, m, m.dirs).schema)
        def bq(n: String) = "`" + n.replace("`", "``") + "`"
        val cols = schema.fields.map(f => s"  ${bq(f.name)} ${f.dataType.sql}")
          .mkString(",\n")
        // reverse-map the stored slicing SQL to the transform list CREATE
        // accepts (composite slices decompose per component), so the
        // emitted statement round-trips through our own parser; an
        // unrecognized component rides as a comment
        val DateFmt = """date_format\((\w+), '(\w+)'\)""".r
        val Bucket = """pmod\(hash\((\w+)\), (\d+)\)""".r
        def transformOf(comp: String): Option[String] = comp match {
          case DateFmt(c, "yyyy") => Some(s"years(${bq(c)})")
          case DateFmt(c, "yyyyMM") => Some(s"months(${bq(c)})")
          case DateFmt(c, "yyyyMMdd") => Some(s"days(${bq(c)})")
          case DateFmt(c, "yyyyMMddHH") => Some(s"hours(${bq(c)})")
          case Bucket(c, n) => Some(s"bucket($n, ${bq(c)})")
          case s if schema.fieldNames.contains(s) => Some(bq(s))
          case _ => None
        }
        val partitioned = m.slice.map { s =>
          val comps = ManifestCommit.sliceComponents(s)
          val mapped = comps.map(transformOf)
          if (mapped.forall(_.isDefined))
            s"PARTITIONED BY (${mapped.flatten.mkString(", ")})\n"
          else s"/* slicing: $s */\n"
        }.getOrElse("")
        // constraints are not part of the CREATE grammar — emit the
        // ALTER statements that re-establish them after the CREATE
        val constraints = m.checks.toSeq.sortBy(_._1).map { case (n, c) =>
          s"\n-- ALTER TABLE graft.$name ADD CONSTRAINT $n CHECK ($c)"
        }.mkString
        val stmt = s"CREATE TABLE graft.$name (\n$cols)\n" +
          s"${partitioned}LOCATION '${root.replace("'", "\\'")}'$constraints"
        LocalRelation(sct.output, Seq(InternalRow(
          org.apache.spark.unsafe.types.UTF8String.fromString(stmt))))

      // SHOW TABLES IN graft [LIKE pattern] — the registry listing
      case st: ShowTables if (st.namespace match {
            case n: org.apache.spark.sql.catalyst.analysis.UnresolvedNamespace =>
              n.multipartIdentifier == Seq("graft")
            case r: org.apache.spark.sql.catalyst.analysis.ResolvedNamespace =>
              r.namespace.toSeq == Seq("graft")
            case _ => false
          }) =>
        // Spark's SHOW TABLES LIKE contract (StringUtils.filterPattern):
        // case-insensitive, '*' = any chars, '|' separates alternatives,
        // everything else literal (regex metachars quoted)
        def matches(n: String, pattern: String): Boolean =
          pattern.split("\\|").exists { alt =>
            val rx = alt.trim.split("\\*", -1)
              .map(java.util.regex.Pattern.quote)
              .mkString(".*")
            n.matches("(?i)" + rx)
          }
        val names = GraftSql.registered.sorted.filter(n =>
          st.pattern.forall(p => matches(n, p)))
        def utf8(s: String) = org.apache.spark.unsafe.types.UTF8String.fromString(s)
        LocalRelation(st.output,
          names.map(n => InternalRow(utf8("graft"), utf8(n), false)))

      // MERGE INTO graft.<name> USING <source> ON <equi-cond> — mapped
      // onto MergeInto.merge by REWRITING THE SOURCE: assignment RHS
      // (which may only reference source columns) are computed into the
      // source frame, so "update matched" is merge's ordinary full-row
      // replace. A DELETE-only merge (no UPDATE clause) routes to the
      // merge-on-read deleteWhere path instead — matched-but-kept rows
      // must keep the TARGET version, which a rewrite can't express.
      case mi: MergeIntoTable if mi.resolved &&
          graftTarget(mi.targetTable).isDefined =>
        convertMerge(mi)
    }

  private def convertMerge(mi: MergeIntoTable): LogicalPlan = {
    import org.apache.spark.sql.functions.lit
    val g = graftTarget(mi.targetTable).get
    require(!g.timeTraveled, "graft MERGE: cannot write to a @v time-travel reference")
    require(mi.notMatchedBySourceActions.isEmpty,
      "graft MERGE: WHEN NOT MATCHED BY SOURCE is not supported")
    val tgtOut = mi.targetTable.outputSet
    val srcOut = mi.sourceTable.outputSet
    def srcOnly(e: Expression): Boolean = e.references.subsetOf(srcOut)
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(a, b) => conjuncts(a) ++ conjuncts(b)
      case o => Seq(o)
    }
    val keys = conjuncts(mi.mergeCondition).map {
      case EqualTo(a: AttributeReference, b: AttributeReference) =>
        val (t, s) =
          if (tgtOut.contains(a) && srcOut.contains(b)) (a, b)
          else if (tgtOut.contains(b) && srcOut.contains(a)) (b, a)
          else throw new IllegalArgumentException(
            "graft MERGE: ON must compare a target column with a source column")
        require(t.name.equalsIgnoreCase(s.name),
          s"graft MERGE: ON columns must share a name (${t.name} vs ${s.name})")
        t.name
      case other => throw new IllegalArgumentException(
        s"graft MERGE: only equi-join ON conditions are supported, got $other")
    }

    var deleteWhen: Option[org.apache.spark.sql.Column] = None
    var updateAssigns: Option[Seq[Assignment]] = None
    mi.matchedActions.foreach {
      case DeleteAction(cond) =>
        require(updateAssigns.isEmpty,
          "graft MERGE: DELETE must precede UPDATE (clauses apply in order; " +
            "a DELETE after an unconditional UPDATE is unreachable)")
        require(deleteWhen.isEmpty, "graft MERGE: at most one DELETE clause")
        cond.foreach(c => require(srcOnly(c),
          "graft MERGE: the DELETE condition may reference only source columns"))
        deleteWhen = Some(cond.map(byNameColumn).getOrElse(lit(true)))
      case ua: UpdateAction =>
        require(ua.condition.isEmpty, "graft MERGE: conditional UPDATE is not supported")
        require(updateAssigns.isEmpty, "graft MERGE: at most one UPDATE clause")
        ua.assignments.foreach(a => require(srcOnly(a.value),
          "graft MERGE: UPDATE values may reference only source columns"))
        updateAssigns = Some(ua.assignments)
      case other => throw new IllegalArgumentException(
        s"graft MERGE: unsupported WHEN MATCHED action $other")
    }
    def assignPairs(as: Seq[Assignment]): Seq[(String, Expression)] = as.map { a =>
      a.key match {
        case ar: AttributeReference => ar.name -> a.value
        case other => throw new IllegalArgumentException(
          s"graft MERGE: only top-level columns can be assigned, got $other")
      }
    }
    val insertUnmatched = mi.notMatchedActions match {
      case Seq() => false
      case Seq(ia: InsertAction) =>
        require(ia.condition.isEmpty, "graft MERGE: conditional INSERT is not supported")
        ia.assignments.foreach(a => require(srcOnly(a.value),
          "graft MERGE: INSERT values may reference only source columns"))
        // merge() inserts the SAME rewritten source row it updates with,
        // so the insert mapping must agree with the update mapping
        // (star-expanded clauses always do)
        updateAssigns.foreach { ua =>
          val u = assignPairs(ua).map { case (k, v) => (k, v.canonicalized) }.toMap
          val i = assignPairs(ia.assignments)
            .map { case (k, v) => (k, v.canonicalized) }.toMap
          require(u == i,
            "graft MERGE: INSERT and UPDATE column mappings must agree")
        }
        true
      case _ => throw new IllegalArgumentException(
        "graft MERGE: at most one unconditional WHEN NOT MATCHED INSERT is supported")
    }
    (updateAssigns, deleteWhen) match {
      case (None, Some(dw)) =>
        require(!insertUnmatched,
          "graft MERGE: INSERT requires an UPDATE clause (delete-only merges cannot insert)")
        GraftMergeDelete(g.root, mi.sourceTable, keys, dw)
      case (Some(ua), _) =>
        val assigns = assignPairs(ua).map { case (k, v) => k -> byNameColumn(v) }
        // merge() is a full-row replace: a matched row's post-image is the
        // rewritten SOURCE row, so every target column must get a value —
        // from an assignment, or (for ON keys) from the source column the
        // equi-condition proves equal. `UPDATE SET *` always covers.
        val covered = (keys ++ assigns.map(_._1))
          .map(_.toLowerCase(java.util.Locale.ROOT)).toSet
        val uncovered = g.readSchema.fieldNames.toSeq
          .filterNot(f => covered(f.toLowerCase(java.util.Locale.ROOT)))
        require(uncovered.isEmpty,
          "graft MERGE: UPDATE must assign every non-key target column " +
            s"(merge replaces the whole matched row); unassigned: " +
            s"${uncovered.mkString(",")} — use UPDATE SET *")
        // MERGE WITH SCHEMA EVOLUTION: NEW source columns (by name, star
        // expansion never references them) append to the table schema via
        // merge(evolveSchema) — the q125 contract from SQL text. Without
        // the clause, extra source columns are dropped (pre-evolution
        // semantics, same as the programmatic default).
        val targetNames = g.readSchema.fieldNames
          .map(_.toLowerCase(java.util.Locale.ROOT)).toSet
        val extraCols =
          if (!mi.withSchemaEvolution) Nil
          else mi.sourceTable.output.map(_.name)
            .filterNot(n => targetNames(n.toLowerCase(java.util.Locale.ROOT)))
        GraftMerge(g.root, g.readSchema, mi.sourceTable, keys, assigns,
          deleteWhen, insertUnmatched, extraCols)
      case (None, None) if insertUnmatched => throw new IllegalArgumentException(
        "graft MERGE: WHEN NOT MATCHED INSERT requires an UPDATE clause " +
          "(insert-only merges would have to leave matched rows untouched)")
      case (None, None) => throw new IllegalArgumentException(
        "graft MERGE: needs at least one WHEN MATCHED clause")
    }
  }

  /** `ALTER/TRUNCATE`-style child: `UnresolvedTable` naming graft.<n>. */
  private def graftTableRef(t: LogicalPlan): Option[(String, Option[Long])] =
    t match {
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedTable
          if u.multipartIdentifier.length == 2 &&
            u.multipartIdentifier.head.equalsIgnoreCase("graft") =>
        GraftSql.lookup(u.multipartIdentifier(1))
      case _ => None
    }

  /** The graft-table root beneath a constraint statement's child —
    * which the parser ships as the violation-scan scaffold
    * `Filter(NOT cond, relation)` (ADD) or a bare table reference
    * (DROP), resolved or not. Time-travel references are rejected:
    * constraints are live-table metadata. */
  private def constraintRoot(p: LogicalPlan): Option[String] = {
    val inner = p match {
      case f: Filter => f.child
      case other => other
    }
    graftTableRef(inner).map { case (r, gen) =>
      require(gen.isEmpty,
        "graft ALTER: cannot alter a @v time-travel reference")
      r
    }.orElse(graftTarget(inner).map { g =>
      require(!g.timeTraveled,
        "graft ALTER: cannot alter a @v time-travel reference")
      g.root
    })
  }

  private def graftTarget(t: LogicalPlan): Option[GraftRelation] = t match {
    case g: GraftRelation => Some(g)
    // `MERGE INTO graft.t AS x` stacks the user alias on the resolver's
    // own — strip them all
    case SubqueryAlias(_, child) => graftTarget(child)
    case _ => None
  }

  /** Re-express a RESOLVED predicate/expression by column NAME, so the
    * DML executor can apply it to its own manifest read (fresh exprIds).
    * `With` common-subexpression forms (BETWEEN resolves to one) are
    * inlined first — a With cannot be rebuilt around unresolved
    * children, and the executor's re-analysis re-derives the sharing. */
  private def byNameColumn(e: Expression): org.apache.spark.sql.Column = {
    def inlineWith(x: Expression): Expression = x.transformUp {
      case w: With =>
        val defs = w.defs.map(d => d.id -> d.child).toMap
        w.child.transformUp {
          case r: CommonExpressionRef => defs(r.id)
        }
    }
    // normalize casts WHILE the condition is still resolved (fold
    // literal-side casts, unwrap injective column-side casts): the
    // name-rekeying below loses the child types the unwrap needs, and
    // an analyzer-inserted ntz↔ltz cast would otherwise make the DML
    // condition extract nothing — no pruning, no whole-dir proof
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.ingest.StatsPredicate.normalizeAnalyzedCasts(inlineWith(e))
        .transform {
        case a: AttributeReference =>
          org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(Seq(a.name))
      })
  }
}

/** Logical leaf command for `INSERT [OVERWRITE] graft.<name> <query>`:
  * the aligned source query rides as innerChildren (already resolved;
  * re-planned independently at run time), executed by
  * [[GraftInsertExec]] via [[GraftWriteStrategy]]. */
case class GraftInsert(root: String, tableSchema: StructType,
    query: LogicalPlan, overwrite: Boolean) extends LeafCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(query)
  override def simpleString(maxFields: Int): String =
    s"GraftInsert $root overwrite=$overwrite"
}

/** Leaf command for `DELETE FROM graft.<name> WHERE cond`. The predicate
  * rides as a name-based Column (NOT an Expression field — the command is
  * past analysis; the executor resolves it against its own read). */
case class GraftDelete(root: String, cond: org.apache.spark.sql.Column)
  extends LeafCommand {
  override def simpleString(maxFields: Int): String = s"GraftDelete $root"
}

/** Leaf command for `UPDATE graft.<name> SET ... WHERE cond`. */
case class GraftUpdate(root: String,
    assignments: Seq[(String, org.apache.spark.sql.Column)],
    cond: org.apache.spark.sql.Column)
  extends LeafCommand {
  override def simpleString(maxFields: Int): String = s"GraftUpdate $root"
}

/** Leaf command for `MERGE INTO graft.<name>` with an UPDATE clause:
  * executed as `MergeInto.merge` over the REWRITTEN source (assignment
  * RHS computed into the source frame, cast to the target schema).
  * `extraCols` (non-empty only under `WITH SCHEMA EVOLUTION`) names the
  * source columns that evolve onto the table schema. */
case class GraftMerge(root: String, tableSchema: StructType,
    source: LogicalPlan, keys: Seq[String],
    assignments: Seq[(String, org.apache.spark.sql.Column)],
    deleteWhen: Option[org.apache.spark.sql.Column],
    insertUnmatched: Boolean,
    extraCols: Seq[String] = Nil)
  extends LeafCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(source)
  override def simpleString(maxFields: Int): String =
    s"GraftMerge $root keys=${keys.mkString(",")}"
}

/** Leaf command for `CREATE TABLE graft.<name> (cols) [PARTITIONED BY
  * (transform)] [LOCATION path]`: commits an EMPTY generation carrying
  * the declared schema (and slicing expression, when partitioned) and
  * registers the name — the DDL face of the programmatic
  * create-from-schema (M1), reference create_clickhouse_models.py. */
case class GraftCreateTable(root: String, name: String,
    tableSchema: StructType, slice: Option[String], ignoreIfExists: Boolean)
  extends LeafCommand {
  override def simpleString(maxFields: Int): String =
    s"GraftCreateTable $name at $root"
}

/** Leaf command for `CREATE TABLE graft.<name> [PARTITIONED BY ...] AS
  * SELECT ...`: the query lands sliced per the declared transform (one
  * dir per slice value with slice stats) or as one dir, then commits as
  * generation 1 with the query's schema recorded. */
case class GraftCtas(root: String, name: String, slice: Option[String],
    query: LogicalPlan, ignoreIfExists: Boolean)
  extends LeafCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(query)
  override def simpleString(maxFields: Int): String =
    s"GraftCtas $name at $root"
}

/** Leaf command for `CREATE TABLE graft.<new> SHALLOW CLONE graft.<src>
  * [VERSION|TIMESTAMP AS OF ...] [LOCATION ...]`: a zero-copy fork —
  * one metadata commit referencing the source's immutable dirs (see
  * `ManifestCommit.shallowClone` for the ownership contract). */
case class GraftShallowClone(root: String, name: String, srcRoot: String,
    version: Option[Long], tsRaw: Option[String], ignoreIfExists: Boolean,
    deep: Boolean = false)
  extends LeafCommand {
  override def simpleString(maxFields: Int): String =
    s"GraftShallowClone $name at $root from $srcRoot"
}

/** Leaf command for `CONVERT TO GRAFT parquet.\`path\``: in-place
  * migration of a plain parquet directory onto the manifest protocol
  * (file moves + one commit — see `ManifestCommit.convertToGraft`);
  * `AS graft.<name>` also registers it for SQL. */
case class GraftConvert(root: String, name: Option[String],
    statCols: Seq[String])
  extends LeafCommand {
  override def simpleString(maxFields: Int): String =
    s"GraftConvert $root${name.map(n => s" as $n").getOrElse("")}"
}

/** Leaf command for `DROP TABLE graft.<name>`: unregisters the name.
  * Graft tables are EXTERNAL — the manifest and data stay on disk
  * (re-register or address by path to get them back; retention/
  * pruneOrphans reclaim space), which is why PURGE is rejected. */
/** `CREATE [OR REPLACE] VIEW graft.<name> AS <text>` — persistent view
  * descriptor + registration (see [[GraftView]]). */
case class GraftCreateView(root: String, name: String, text: String,
    replace: Boolean, ifNotExists: Boolean) extends LeafCommand {
  override def simpleString(maxFields: Int): String =
    s"GraftCreateView $name at $root"
}

case class GraftDropView(name: String, ifExists: Boolean)
    extends LeafCommand {
  override def simpleString(maxFields: Int): String =
    s"GraftDropView $name"
}

case class GraftDropTable(name: String, ifExists: Boolean)
  extends LeafCommand {
  override def simpleString(maxFields: Int): String = s"GraftDropTable $name"
}

/** Leaf command for `TRUNCATE TABLE graft.<name>`: commits an empty
  * live set, inheriting schema and slicing — prior generations stay
  * time-travelable until retention expires them (M3's contract). */
case class GraftTruncate(root: String) extends LeafCommand {
  override def simpleString(maxFields: Int): String = s"GraftTruncate $root"
}

/** Leaf command for `ALTER TABLE graft.<name> ADD COLUMNS`: one O(1)
  * metadata commit of the widened union schema — no data write; cold
  * dirs null-fill the new columns at read. */
case class GraftAddColumns(root: String,
    added: Seq[(String, org.apache.spark.sql.types.DataType)])
  extends LeafCommand {
  override def simpleString(maxFields: Int): String =
    s"GraftAddColumns $root ${added.map(_._1).mkString(",")}"
}

/** Leaf command for `ALTER TABLE graft.<name> DROP COLUMN(s)`: one O(1)
  * metadata commit of the narrowed schema — data files keep the bytes,
  * reads project them away (and per-dir stats for the dropped columns
  * are removed so the manifest stays self-consistent). */
case class GraftDropColumns(root: String, names: Seq[String],
    ifExists: Boolean) extends LeafCommand {
  override def simpleString(maxFields: Int): String =
    s"GraftDropColumns $root ${names.mkString(",")}"
}

/** Leaf command for `ALTER TABLE graft.<a> RENAME TO graft.<b>`: a pure
  * registry repoint — the table root, manifest, and data are untouched
  * (names are a session-level concept; the root IS the identity). */
case class GraftRenameTable(from: String, to: String) extends LeafCommand {
  override def simpleString(maxFields: Int): String =
    s"GraftRenameTable $from -> $to"
}

/** Leaf command for `ALTER TABLE graft.<t> RENAME COLUMN a TO b`: one
  * O(metadata) commit recording the column mapping (the public Delta
  * column-mapping idea) — no data rewrite; see
  * [[graft.ingest.ManifestCommit.renameColumn]] for the contract. */
case class GraftRenameColumn(root: String, from: String, to: String)
  extends LeafCommand {
  override def simpleString(maxFields: Int): String =
    s"GraftRenameColumn $root $from -> $to"
}

/** Leaf command for `ALTER TABLE graft.<t> ALTER COLUMN c TYPE wider`:
  * one O(metadata) commit per column (type widening — cold files keep
  * their narrower physical type, the parquet reader upcasts at scan
  * time); see [[graft.ingest.ManifestCommit.alterColumnType]]. */
case class GraftAlterColumnType(root: String,
    changes: Seq[(String, org.apache.spark.sql.types.DataType)])
  extends LeafCommand {
  override def simpleString(maxFields: Int): String =
    s"GraftAlterColumnType $root ${changes.map { case (n, t) =>
      s"$n:${t.simpleString}" }.mkString(",")}"
}

/** Leaf command for `OPTIMIZE graft.<name> [ZORDER BY (cols)]`: plain
  * form folds small dirs (`Optimize.compactSmall`, the LSM-ish
  * maintenance); the ZORDER form re-lays the table along the
  * multi-column interleave (`Optimize.zorderCompactN`), preserving the
  * current dir-count granularity and the table's established stat
  * columns. */
case class GraftOptimize(root: String, zorderCols: Seq[String],
    where: Option[String] = None, ranked: Boolean = false)
  extends LeafCommand {
  override def simpleString(maxFields: Int): String =
    s"GraftOptimize $root" +
      (if (zorderCols.nonEmpty) s" zorder=${zorderCols.mkString(",")}" else "") +
      (if (ranked) " ranked" else "") +
      where.map(w => s" where=$w").getOrElse("")
}

/** Leaf command for `VACUUM graft.<name> [RETAIN n GENERATIONS|HOURS]`:
  * snapshot retention (count- or age-based) plus an orphan sweep with
  * the standard 1-hour freshness guard (an in-flight writer's staged
  * dir must never be reclaimed). */
/** `dryRun` (the Delta VACUUM DRY RUN surface): report the paths that
  * WOULD be reclaimed — expired snapshot records, data dirs/DVs only
  * they reference, stale orphans — as result rows, touching nothing. */
/** ANALYZE TABLE: retrofit per-dir stats (min/max for `cols`, rows,
  * bytes) onto existing dirs without rewriting data; `WITH BLOOMS`
  * additionally retrofits point-lookup bloom side files for
  * `bloomCols` onto un-indexed dirs; see
  * [[graft.ingest.Optimize.analyzeStats]]. */
case class GraftAnalyze(root: String, cols: Seq[String],
    bloomCols: Seq[String] = Nil)
    extends LeafCommand {
  override def simpleString(maxFields: Int): String =
    s"GraftAnalyze $root (${cols.mkString(", ")})" +
      (if (bloomCols.isEmpty) "" else s" blooms (${bloomCols.mkString(", ")})")
}

/** Leaf command for `INSERT INTO graft.<name> REPLACE WHERE <pred>
  * <query>` (the public Delta replaceWhere surface): predicate-scoped
  * atomic overwrite — delete every row matching the predicate, insert
  * the query's rows, ONE commit. Carries raw texts: the executor
  * parses the query with the session parser (so it may reference graft
  * tables) and the predicate with `expr`, both resolved at run time;
  * query columns bind POSITIONALLY to the table schema, the SQL insert
  * contract. */
case class GraftReplaceWhere(root: String, predText: String,
    queryText: String) extends LeafCommand {
  override def simpleString(maxFields: Int): String =
    s"GraftReplaceWhere $root where=$predText"
}

/** Partition evolution: record a new slicing expression (None = drop
  * slicing) for future writes; see
  * [[graft.ingest.ManifestCommit.setSlice]]. */
case class GraftSetSlice(root: String, slice: Option[String])
    extends LeafCommand {
  override def simpleString(maxFields: Int): String =
    s"GraftSetSlice $root ${slice.getOrElse("<none>")}"
}

case class GraftVacuum(root: String, keepLast: Int, maxAgeMs: Option[Long],
    dryRun: Boolean = false) extends LeafCommand {
  override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
    if (dryRun) Seq(org.apache.spark.sql.catalyst.expressions
      .AttributeReference("path", org.apache.spark.sql.types.StringType,
        nullable = false)())
    else Nil
  override def simpleString(maxFields: Int): String =
    s"GraftVacuum $root${if (dryRun) " DRY RUN" else ""}"
}

/** Leaf command for `RESTORE TABLE graft.<name> TO VERSION|TIMESTAMP AS
  * OF <x>`: rolls the live table back to the resolved generation as a
  * new history-preserving commit ([[graft.ingest.ManifestCommit.restore]]).
  * `tsMillis` is set for the TIMESTAMP form (resolved at execution so
  * the restore and its generation lookup see one consistent history). */
case class GraftRestore(root: String, version: Option[Long],
    tsRaw: Option[String])
  extends LeafCommand {
  override def simpleString(maxFields: Int): String =
    s"GraftRestore $root to=${version.map("v" + _).orElse(tsRaw).getOrElse("?")}"
}

/** Leaf command for `ALTER TABLE graft.<name> ADD CONSTRAINT <name>
  * CHECK (<cond>)` ([[graft.ingest.ManifestCommit.setCheck]]: existing
  * rows validated in one scan, then an O(1) metadata commit). */
case class GraftAddCheck(root: String, name: String, condition: String)
  extends LeafCommand {
  override def simpleString(maxFields: Int): String =
    s"GraftAddCheck $root $name CHECK ($condition)"
}

/** Leaf command for `ALTER TABLE graft.<name> DROP CONSTRAINT <name>`. */
case class GraftDropCheck(root: String, name: String, ifExists: Boolean)
  extends LeafCommand {
  override def simpleString(maxFields: Int): String =
    s"GraftDropCheck $root $name"
}

/** Leaf command for a DELETE-only `MERGE INTO graft.<name>`: matched
  * rows satisfying the condition are deleted via the merge-on-read
  * `deleteWhere` path; everything else is untouched. */
case class GraftMergeDelete(root: String, source: LogicalPlan,
    keys: Seq[String], cond: org.apache.spark.sql.Column)
  extends LeafCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(source)
  override def simpleString(maxFields: Int): String =
    s"GraftMergeDelete $root keys=${keys.mkString(",")}"
}

/** Pre-CBO optimizer rule: expand every [[GraftRelation]] into its
  * DV-aware manifest read — consulting per-dir min/max stats and bloom
  * side files against the filter that Catalyst pushed down onto the
  * leaf, and short-circuiting bare COUNT(*) to manifest pseudo-stats
  * (zero jobs). Runs ONCE, after the operator-optimization fixed point,
  * so predicate pushdown and column pruning have already collapsed the
  * plan to `[Project] > [Filter] > leaf` shapes. */
case class GraftDataSkipping(spark: SparkSession)
    extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    // extractor, not guard-plus-body: the metadata fold walks every
    // dir's stat list and must run ONCE per matching aggregate
    case MetadataServed(p) => p
    case Project(ps, Filter(cond, g: GraftRelation)) if ps.forall(_.deterministic) =>
      localOptimize(Project(ps, Filter(cond, expand(g, keptDirs(cond, g)))))
    case Filter(cond, g: GraftRelation) =>
      localOptimize(Filter(cond, expand(g, keptDirs(cond, g))))
    case Project(ps, g: GraftRelation) if ps.forall(_.deterministic) =>
      localOptimize(Project(ps, expand(g, g.manifest.dirs)))
    case g: GraftRelation =>
      expand(g, g.manifest.dirs)
  }

  /** Build the real read plan over `dirs` and re-bind it to the leaf's
    * attribute ids positionally (readSchema fixes the column order, so
    * position is exact). A fresh plan per expansion keeps expression ids
    * unique when one table appears several times in a query. */
  private def expand(g: GraftRelation, dirs: Seq[String]): LogicalPlan = {
    val df = ManifestCommit.readDirsOf(spark, g.root, g.manifest, dirs,
      schemaOverride = Some(g.readSchema))
    // the fresh analyzed subtree may carry ResolvedHint (readDirsOf
    // broadcasts DV key sets); the optimizer's hint-normalization batch
    // already ran, so fold hints into join nodes here or the planner
    // rejects the plan
    val inner = org.apache.spark.sql.catalyst.optimizer.EliminateResolvedHint(
      df.queryExecution.analyzed)
    require(inner.output.length == g.output.length,
      s"graft expansion arity mismatch at ${g.root}: " +
        s"${inner.output.length} vs ${g.output.length}")
    Project(g.output.zip(inner.output).map { case (o, n) =>
      Alias(n, o.name)(exprId = o.exprId)
    }, inner)
  }

  /** The expansion happens after Catalyst's own pushdown batch already
    * ran, so re-run the four rules that matter LOCALLY on the expanded
    * subtree: pushes the surviving filter through the re-bind Project
    * (and through the DV anti-join's left side) into the parquet
    * relations, and prunes their read schema — `.explain` shows
    * PushedFilters/ReadSchema exactly as the programmatic path does. */
  private val cleanup: Seq[Rule[LogicalPlan]] =
    Seq(PushDownPredicates, ColumnPruning, CollapseProject, RemoveNoopOperators)

  private def localOptimize(p0: LogicalPlan): LogicalPlan = {
    var p = p0
    var i = 0
    var changed = true
    while (changed && i < 20) {
      val next = cleanup.foldLeft(p)((q, r) => r(q))
      changed = !next.fastEquals(p)
      p = next
      i += 1
    }
    p
  }

  /** Dirs the pushed-down filter can touch, per the pinned manifest:
    * min/max stats prune range/equality conjuncts; bloom side files
    * additionally prune point lookups. Conservative by construction —
    * unparseable conjuncts contribute nothing, stat-less dirs are kept,
    * and the full filter still runs on what's read. The evaluator is
    * shared with predicate DML and OPTIMIZE WHERE (StatsPredicate), so
    * all of them prune identically; extraction is restricted to the
    * leaf's own column names. */
  private def keptDirs(cond: Expression, g: GraftRelation): Seq[String] = {
    val ex = graft.ingest.StatsPredicate.extract(cond)
      .restrict(g.output.map(_.name).toSet)
    graft.ingest.StatsPredicate.candidates(spark, g.root, g.manifest, ex,
      g.schema)
  }

  private object MetadataServed {
    def unapply(agg: Aggregate): Option[LogicalPlan] = metadataAgg(agg)
  }

  /** Classification of one aggregate output the manifest can serve. */
  private sealed trait AggSpec
  private case object GroupKey extends AggSpec
  private case object CountStar extends AggSpec
  private case class CountCol(a: AttributeReference) extends AggSpec
  private case class MinOf(a: AttributeReference) extends AggSpec
  private case class MaxOf(a: AttributeReference) extends AggSpec

  /** UTF-8-byte (= code point) lexicographic ordering for non-numeric
    * stat renderings: the per-dir extremes were computed by Spark in
    * UTF8String BINARY order, and Java String ordering compares UTF-16
    * code units, which disagrees exactly when a BMP char in
    * [U+E000,U+FFFF] meets a supplementary-plane char (emoji vs
    * fullwidth punctuation) — folding with it could silently return a
    * different MIN/MAX than the scan would (ADVICE r18). Date/timestamp
    * renderings are ASCII, where the two orders coincide. */
  private val utf8Ordering: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int = {
      val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      val n = math.min(x.length, y.length)
      while (i < n) {
        val c = java.lang.Integer.compare(x(i) & 0xff, y(i) & 0xff)
        if (c != 0) return c
        i += 1
      }
      java.lang.Integer.compare(x.length, y.length)
    }
  }

  /** Fold per-dir ColStats entries to the extreme bound, parsed to the
    * column's external value. Some(None) = no dir holds a value (the
    * column is all-null on the stats side — contributes nothing to a
    * MIN/MAX); None = POISONED — an un-orderable "num" rendering
    * (NaN/Infinity from a float/double column crash BigDecimal) or a
    * failed parse round-trip — the caller must fall back to the scan,
    * never throw from inside the optimizer rule. */
  private def foldStatBounds(sts: Seq[ManifestCommit.ColStats],
      a: AttributeReference, wantMin: Boolean): Option[Option[Any]] = {
    if (sts.isEmpty) return Some(None)
    val vals = sts.map(s => if (wantMin) s.min else s.max)
    scala.util.Try {
      if (sts.head.kind == "num") {
        val ord = Ordering.by((v: String) => new java.math.BigDecimal(v))
        if (wantMin) vals.min(ord) else vals.max(ord)
      } else if (wantMin) vals.min(utf8Ordering) else vals.max(utf8Ordering)
    }.toOption match {
      case None => None
      case Some(best) => ManifestCommit.parseStatValue(best, a.dataType) match {
        case None => None
        case some => Some(some)
      }
    }
  }

  private def aggSpecOf(e: NamedExpression): Option[AggSpec] = e match {
    case Alias(ae: AggregateExpression, _)
        if !ae.isDistinct && ae.filter.isEmpty =>
      ae.aggregateFunction match {
        case c: Count => c.children match {
          case Seq(l: Literal) if l.value != null => Some(CountStar)
          // COUNT(c) = non-null count: served by the per-column
          // __nn_ counters (any column type — no parse round-trip)
          case Seq(a: AttributeReference) => Some(CountCol(a))
          case _ => None
        }
        case m: Min => m.child match {
          case a: AttributeReference if ManifestCommit.statParseable(a.dataType) =>
            Some(MinOf(a))
          case _ => None
        }
        case m: Max => m.child match {
          case a: AttributeReference if ManifestCommit.statParseable(a.dataType) =>
            Some(MaxOf(a))
          case _ => None
        }
        case _ => None
      }
    case _ => None
  }

  /** `SELECT [k,] count(*) / count(c) / min(c) / max(c) FROM graft.t
    * [WHERE <pred>] [GROUP BY k]` answered from manifest stats — the
    * Delta/Iceberg metadata-only aggregate and the Spark
    * OptimizeMetadataOnlyQuery / Iceberg partition-rollup ideas, on stats
    * instead of paths, in ONE evaluator. The ungrouped query is the
    * grouped case with zero keys: a single group holding every candidate
    * dir, which always emits one row.
    *
    * Every live dir is classified against the predicate (round 19 — the
    * reference's flagship BI shape is the FILTERED count,
    * create_working_metabase_questions.py:78-100):
    *  - DISJOINT (ordinary stats/bloom pruning, [[keptDirs]]) —
    *    contributes nothing;
    *  - FULLY COVERED (the q177 whole-dir DML proof: `extract(NOT
    *    pred)` is stats-disjoint so no row can satisfy the negation,
    *    AND every predicate column is proven null-free there by the
    *    non-null counters — a row where the predicate evaluates NULL
    *    matches nothing, so without the witness the fold would
    *    over-count) — ALL live rows match;
    *  - STRADDLING — only a scan can answer for it.
    * A covered dir SERVES every aggregate from its stats when:
    *  - COUNT(*): row counter (− DV dead counter when DV'd) — exact
    *    through deletes;
    *  - COUNT(c): non-null counter; a DV'd dir only when the counter
    *    proves the column null-free (`__nn_c == __rows`, so COUNT(c) =
    *    live rows — r19, one DV'd dir no longer de-optimizes the fold);
    *  - MIN/MAX: DV-free (a DV may have deleted the extreme row, so a
    *    DV'd dir's stats are bounds, not witnesses) and a recorded bound
    *    or an `__analyzed` marker proving the column all-null there.
    * When every candidate dir serves, the answer is a zero-scan
    * LocalRelation (`SELECT count(*) … WHERE month = X` on a
    * month-sliced 100-TB table is a zero-job metadata read; an empty
    * candidate set folds to the empty-input aggregate). Otherwise the
    * zero-key MIN/MAX-only case goes HYBRID: scan ONLY the unserved dirs
    * and union the served dirs' bounds in as two literal rows, leaving
    * the original Aggregate to fold them — at 100 TB a `SELECT max(ts)`
    * after a point DELETE reads one dir, not the table. COUNT can't ride
    * a union (it would double-count), and a grouped rollup can't express
    * a straddling dir's partial group: both take the ordinary scan.
    *
    * GROUP BY k folds when every dir records min == max for the leaf
    * column k — each dir belongs wholly to ONE group, exactly what
    * slicing produces — and the non-null counters prove no dir hides
    * NULL group keys. The BI daily-counts dashboard over a 100-TB sliced
    * table becomes a metadata read.
    *
    * Sound by construction: stats are EXACT per-dir aggregates, values
    * round-trip through [[ManifestCommit.parseStatValue]] or the rewrite
    * bails to the ordinary expansion (a POISONED value never throws from
    * inside the optimizer), and MIN/MAX ignore nulls so all-null dirs
    * contribute nothing. Any unmet condition returns None — ordinary
    * scan. */
  private def metadataAgg(agg: Aggregate): Option[LogicalPlan] = {
    val (g, cond) = agg.child match {
      case gr: GraftRelation => (gr, None)
      case Project(ps, gr: GraftRelation) if ps.forall(_.deterministic) =>
        (gr, None)
      case Filter(c, gr: GraftRelation) => (gr, Some(c))
      case Project(ps, Filter(c, gr: GraftRelation))
          if ps.forall(_.deterministic) => (gr, Some(c))
      case _ => return None
    }
    // the predicate must be deterministic, subquery-free, and speak
    // only about the leaf's own columns (exprId identity, same rule as
    // the aggregate args below)
    cond.foreach { c =>
      if (!c.deterministic || c.exists(_.isInstanceOf[PlanExpression[_]]) ||
        !c.references.forall(a => g.output.exists(_.exprId == a.exprId)))
        return None
    }
    val key: Option[AttributeReference] = agg.groupingExpressions match {
      case Seq() if agg.aggregateExpressions.nonEmpty => None
      case Seq(a: AttributeReference)
          if g.output.exists(_.exprId == a.exprId) &&
            ManifestCommit.statParseable(a.dataType) => Some(a)
      case _ => return None
    }
    // each output is the grouping key itself or a servable aggregate
    val cells: Seq[AggSpec] = agg.aggregateExpressions.map {
      case a: AttributeReference if key.exists(_.exprId == a.exprId) => GroupKey
      case Alias(a: AttributeReference, _) if key.exists(_.exprId == a.exprId) =>
        GroupKey
      case e => aggSpecOf(e).getOrElse(return None)
    }
    // stats describe LEAF columns: a min/max/count arg must be the
    // leaf's own attribute (by exprId, not name — a derived projection
    // aliased to a leaf column's name must never read the leaf's stats)
    val argCols = cells.collect {
      case CountCol(a) => a; case MinOf(a) => a; case MaxOf(a) => a
    }.distinctBy(_.exprId)
    if (!argCols.forall(a => g.output.exists(_.exprId == a.exprId))) return None
    val m = g.manifest
    def statOf(d: String, c: String) =
      m.stats.getOrElse(d, Nil).find(_.col.equalsIgnoreCase(c))
    def statN(d: String, c: String): Option[Long] = ManifestCommit.statLong(m, d, c)
    // dirs surviving ordinary pruning under the predicate, and of those
    // the subset PROVEN fully covered (every live row matches)
    val (candidate, covered): (Seq[String], Set[String]) = cond match {
      case None => (m.dirs, m.dirs.toSet)
      case Some(c) =>
        val kept = keptDirs(c, g)
        (kept, kept.filter(graft.ingest.StatsPredicate.coveredBy(m, c,
          g.output.map(_.name).toSet)).toSet)
    }
    def live(d: String): Option[Long] = ManifestCommit.liveRowsOf(m, d)
    def bounded(d: String, a: AttributeReference): Boolean = !m.dvs.contains(d) &&
      (statOf(d, a.name).isDefined || ManifestCommit.analyzedColsOf(m, d)
        .exists(_.equalsIgnoreCase(a.name)))
    def servable(d: String): Boolean = covered(d) && cells.forall {
      case GroupKey => true
      case CountStar => live(d).isDefined
      case CountCol(a) =>
        statN(d, ManifestCommit.nnStat(a.name)).isDefined &&
          (!m.dvs.contains(d) ||
            (live(d).isDefined &&
              statN(d, ManifestCommit.nnStat(a.name)) ==
                statN(d, ManifestCommit.RowCountStat)))
      case MinOf(a) => bounded(d, a)
      case MaxOf(a) => bounded(d, a)
    }
    val (statsDirs, scanDirs) = candidate.partition(servable)
    // fold the served dirs' bounds; None = no dir holds a value (the
    // column is all-null on the stats side — contributes nothing); a
    // value that fails to round-trip, or a malformed counter, poisons
    // the whole rewrite (scan fallback, never a throw — ADVICE r18)
    var poisoned = false
    def fold(ds: Seq[String], a: AttributeReference, wantMin: Boolean): Option[Any] =
      foldStatBounds(ds.flatMap(statOf(_, a.name)), a, wantMin) match {
        case Some(v) => v
        case None => poisoned = true; None
      }
    def toInternal(dt: org.apache.spark.sql.types.DataType, v: Option[Any]): Any =
      v.map(org.apache.spark.sql.catalyst.CatalystTypeConverters
        .createToCatalystConverter(dt)(_)).orNull
    def liveOr0(d: String): Long = live(d) match {
      case Some(n) => n
      case None => poisoned = true; 0L
    }
    def nnOr0(d: String, a: AttributeReference): Long =
      statN(d, ManifestCommit.nnStat(a.name)) match {
        case Some(n) => n
        case None => poisoned = true; 0L
      }
    if (scanDirs.nonEmpty) {
      val mmOnly = cells.forall { case MinOf(_) | MaxOf(_) => true; case _ => false }
      if (key.isDefined || !mmOnly || statsDirs.isEmpty) return None
      val minRow = InternalRow.fromSeq(
        argCols.map(a => toInternal(a.dataType, fold(statsDirs, a, wantMin = true))))
      val maxRow = InternalRow.fromSeq(
        argCols.map(a => toInternal(a.dataType, fold(statsDirs, a, wantMin = false))))
      if (poisoned) return None
      val localAttrs = argCols.map(a =>
        AttributeReference(a.name, a.dataType, nullable = true)())
      val scanBase = expand(g, scanDirs)
      val scanChild = Project(argCols,
        cond.map(Filter(_, scanBase)).getOrElse(scanBase))
      val union = Union(Seq(scanChild,
        LocalRelation(localAttrs, Seq(minRow, maxRow))))
      return Some(localOptimize(agg.copy(child = union)))
    }
    val groups: Seq[(Option[String], Seq[String])] = key match {
      case None => Seq(None -> statsDirs)
      case Some(k) =>
        // every dir constant on the key, with no null keys anywhere (a
        // null group key is invisible to min/max stats)
        val const: Map[String, String] = statsDirs.flatMap(d =>
          statOf(d, k.name).filter(s => s.min == s.max).map(d -> _.min)).toMap
        val noNullKeys = statsDirs.forall(d => (for {
          r <- statN(d, ManifestCommit.RowCountStat)
          nn <- statN(d, ManifestCommit.nnStat(k.name))
        } yield nn == r).getOrElse(false))
        if (const.size != statsDirs.size || !noNullKeys) return None
        statsDirs.groupBy(const).toSeq.map { case (v, ds) => Some(v) -> ds }
    }
    // a group whose dirs are all DV'd with counters proving zero live
    // rows has NO live rows: a real GROUP BY emits no row for it. A
    // DV-free dir is non-empty by construction (it recorded a constant)
    // and absent counters keep the group (conservative); the zero-key
    // group always emits its one row.
    def emits(ds: Seq[String]): Boolean = key.isEmpty ||
      ds.exists(d => !m.dvs.contains(d) || live(d).isEmpty) ||
      ds.flatMap(live).sum != 0L
    val rows = groups.collect { case (v, ds) if emits(ds) =>
      InternalRow.fromSeq(cells.map {
        case GroupKey =>
          val parsed = v.flatMap(ManifestCommit.parseStatValue(_, key.get.dataType))
          if (parsed.isEmpty) poisoned = true
          toInternal(key.get.dataType, parsed)
        case CountStar => ds.map(liveOr0).sum
        case CountCol(a) => ds.map(d =>
          if (m.dvs.contains(d)) liveOr0(d) else nnOr0(d, a)).sum
        case MinOf(a) => toInternal(a.dataType, fold(ds, a, wantMin = true))
        case MaxOf(a) => toInternal(a.dataType, fold(ds, a, wantMin = false))
      })
    }
    if (poisoned) None else Some(LocalRelation(agg.output, rows))
  }
}
