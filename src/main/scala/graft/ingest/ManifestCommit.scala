package graft.ingest

import org.apache.hadoop.fs.{FileContext, Options, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Object-store-safe table commit protocol.
  *
  * The rename-based `Maintenance.stagingSwap` is atomic on HDFS/local
  * filesystems but NOT on S3-style object stores (directory "rename" is a
  * non-atomic copy+delete). The reference gets its swap atomicity from the
  * database itself (ClickHouse `RENAME TABLE`,
  * tools/ingest_runner.py:1529-1592); a lakehouse deployment needs the
  * table-format trick instead: data files are immutable once written, and
  * the ONLY mutable object is a single small `_manifest` file naming the
  * live data directories. Commit = replacing that one file — a one-object
  * atomic operation everywhere (file rename locally/HDFS, conditional PUT
  * on object stores). Readers resolve through the manifest, so they see
  * the previous complete generation until the instant the new one lands;
  * a crash between data write and manifest write leaves an orphan data
  * dir and the OLD generation still served — never a partial table.
  *
  * Layout of a manifest-committed table root:
  * {{{
  *   root/_manifest            # tiny CAS pointer: gen + #ref + #base
  *   root/_manifest.g<N>       # immutable per-generation record: a full
  *                             #   checkpoint, or a delta over g<N-1>
  *                             #   (full forced every CheckpointInterval)
  *   root/data_<uuid>/         # immutable part directories
  * }}}
  * The pointer is the ONLY mutable object and stays O(1) bytes, so the
  * object-store conditional PUT arbitrating writers is constant-cost at
  * any dir count; per-commit metadata I/O is O(changes), amortized
  * O(dirs / CheckpointInterval) — the public Delta log + checkpoint
  * shape. Pre-delta-log tables (full content in the pointer, every
  * g-file full) read unchanged and migrate on their next commit.
  *
  * Generations: `commitReplace` installs an exact set of live dirs (the
  * staging-swap analogue, one dir per generation); `commitAppend` adds a
  * delta dir to the live set (the ReplacingMergeTree INSERT analogue).
  * Displaced/orphaned dirs are pruned by `pruneOrphans` with the same
  * newest-mtime in-flight guard as `Maintenance.vacuumScratch`.
  *
  * Time travel: every commit also records an immutable `_manifest.g<N>`
  * snapshot; with `pruneDisplaced = false` the displaced data dirs stay
  * on disk, so `readAt(root, gen)` reconstructs any retained generation
  * exactly (the Iceberg/Delta snapshot-read shape, from the public
  * table-format designs). `expireSnapshots(keepLast)` is the retention
  * half: drop old snapshot files and the data dirs only they reference.
  */
object ManifestCommit {

  val ManifestFile = "_manifest"

  /** Commit-time column statistics for one data dir: `kind` is "num"
    * (compare as BigDecimal) or "str" (compare lexicographically — ISO
    * dates/timestamps order correctly as strings). The data-skipping
    * read path prunes a dir when its [min, max] cannot overlap the
    * queried range — the Iceberg/Delta file-skipping idea at dir
    * granularity, which is what saves the object-store LIST + scan. */
  final case class ColStats(col: String, kind: String, min: String, max: String) {
    def overlaps(lo: Option[String], hi: Option[String]): Boolean = {
      def le(a: String, b: String): Boolean =
        if (kind == "num") new java.math.BigDecimal(a).compareTo(new java.math.BigDecimal(b)) <= 0
        else a <= b
      lo.forall(l => le(l, max)) && hi.forall(h => le(min, h))
    }
  }

  /** `tableSchema`, when present, is the authoritative union schema of
    * the live generation (recorded by schema-evolving commits). Readers
    * plan with it EXPLICITLY instead of `mergeSchema` — on a 100 TB
    * table, mergeSchema is a planning-time footer sweep of every data
    * file, while an explicit schema is zero I/O and parquet null-fills
    * columns a cold dir predates. Absent on pre-evolution manifests →
    * readers fall back to mergeSchema (always correct, just slower).
    *
    * `op` labels the operation that produced this generation (append,
    * replace, merge, zorder, compact, …) — the commit-provenance half of
    * the public DESCRIBE HISTORY idea; [[history]] walks the retained
    * snapshots and derives the dir-level delta per step. */
  /** `dvs` maps a data dir to its DELETION VECTOR file (merge-on-read
    * deletes, the public Delta DV / Iceberg delete-file idea): the dir's
    * rows minus the keys in the DV file are its live rows. DV files are
    * immutable `_dv_*` parquet at the table root holding exactly the key
    * columns; a new delete writes a NEW dv file (the union for that dir)
    * and repoints — dirs and dv files never mutate, so time travel stays
    * exact (each generation references its own dv set). */
  /** `txns` records, per idempotent WRITER id, the highest batch version
    * it has committed (the public Delta txnAppId/txnVersion idea): a
    * streaming sink whose checkpoint replays a batch after a crash
    * between manifest commit and checkpoint write presents the same
    * (writer, version) again and the commit is skipped — exactly-once
    * table contents without any coordination beyond the manifest. */
  /** `slice` records the table's SLICING EXPRESSION as SQL text (set at
    * creation by range/month-sliced writers, inherited by every later
    * commit): writers that receive an arbitrary row set — SQL INSERT
    * above all — re-derive the table's layout from it via `writeSliced`,
    * so a year-sized INSERT SELECT into a month-sliced table lands as
    * month dirs with month-tight stats instead of one blob that degrades
    * skipping until the next OPTIMIZE (the reference's log tables are
    * month-partitioned by DDL — create_clickhouse_models.py:57 — and its
    * INSERT path cannot produce an unpartitioned part). Advisory layout
    * metadata: readers never consult it. */
  /** `colmap` is the COLUMN MAPPING (the public Delta column-mapping
    * idea, name-based): logical field name → the PHYSICAL name the data
    * files carry, with only differing entries recorded. Created by
    * `renameColumn` (an O(metadata) commit — cold dirs keep their
    * bytes); every data writer translates logical→physical before
    * writing ([[toPhysicalNames]]) and every read projects physical→
    * logical ([[readDirsOf]]), so filter pushdown rides a plain alias,
    * not an expression. `deadCols` tombstones the PHYSICAL names of
    * DROPPED columns: data files still carry their bytes, so re-adding
    * (or renaming onto) such a name would silently resurrect stale
    * values — refused until the data is rewritten into a new table. */
  final case class Manifest(gen: Long, dirs: Seq[String],
      stats: Map[String, Seq[ColStats]] = Map.empty,
      tableSchema: Option[org.apache.spark.sql.types.StructType] = None,
      op: Option[String] = None,
      dvs: Map[String, String] = Map.empty,
      txns: Map[String, Long] = Map.empty,
      slice: Option[String] = None,
      checks: Map[String, String] = Map.empty,
      colmap: Map[String, String] = Map.empty,
      deadCols: Seq[String] = Nil) {
    /** Physical (on-disk) name of a logical column. */
    def physNameOf(logical: String): String = colmap.getOrElse(logical, logical)
    /** The recorded table schema under PHYSICAL (on-disk) names — what a
      * freshly written data dir of this table actually carries. Callers
      * metering just-written dirs pass it to [[ManifestCommit.dirStats]]/
      * [[ManifestCommit.dirStatsBatch]] to skip parquet schema inference
      * (a one-task-per-file footer job). */
    def physicalSchema: Option[org.apache.spark.sql.types.StructType] =
      tableSchema.map(s =>
        if (colmap.isEmpty) s
        else org.apache.spark.sql.types.StructType(
          s.fields.map(f => f.copy(name = physNameOf(f.name)))))
  }

  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String): String =
    java.net.URLDecoder.decode(s, "UTF-8")

  /** One dir per line: `<name>`, `<name>\t<col:kind:min:max,...>`, or
    * `<name>\t<stats-or-empty>\tdv:<file>` with percent-encoded fields —
    * old manifests (fewer fields) parse with empty stats/dv, so the
    * format is back-compatible. */
  private def renderDirLine(m: Manifest)(d: String): String = {
    val stats = m.stats.get(d).filter(_.nonEmpty).map(_.map(c =>
      Seq(c.col, c.kind, c.min, c.max).map(enc).mkString(":")).mkString(","))
    val dv = m.dvs.get(d).map(f => "dv:" + enc(f))
    (stats, dv) match {
      case (None, None) => d
      case (s, None) => d + "\t" + s.getOrElse("")
      case (s, Some(v)) => d + "\t" + s.getOrElse("") + "\t" + v
    }
  }

  private def parseStats(cs: String): Seq[ColStats] =
    if (cs.isEmpty) Nil
    else cs.split(',').toSeq.map { s =>
      val Array(c, k, mn, mx) = s.split(':')
      ColStats(dec(c), dec(k), dec(mn), dec(mx))
    }

  private def parseDirLine(line: String): (String, Seq[ColStats], Option[String]) =
    line.split('\t') match {
      case Array(d) => (d, Nil, None)
      case Array(d, cs) => (d, parseStats(cs), None)
      case Array(d, cs, dv) =>
        (d, parseStats(cs), Some(dec(dv.stripPrefix("dv:"))))
    }

  private def fs(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestPath(root: String) = new Path(root, ManifestFile)

  private def snapshotPath(root: String, gen: Long) =
    new Path(root, s"$ManifestFile.g$gen")

  /** One manifest FILE, uninterpreted: generation header, '#'-meta lines,
    * dir lines. '#'-prefixed metadata lines extend the format
    * back-compatibly: old manifests have none, old parsers of new
    * manifests never existed (this is the only parser). */
  private final case class RawManifest(gen: Long, meta: Seq[String],
      dirLines: Seq[String]) {
    def metaVal(key: String): Option[String] =
      meta.find(_.startsWith(key + "\t")).map(_.split('\t')(1))
    /** Pointer in the delta-log format: names gen, content lives in
      * `_manifest.g<gen>` (resolved through the checkpoint chain). */
    def isRef: Boolean = meta.exists(_.startsWith("#ref"))
    /** Some(baseGen) when this per-generation file is a DELTA record
      * over `baseGen` rather than a full (checkpoint) snapshot. */
    def deltaBase: Option[Long] = metaVal("#delta").map(_.toLong)
  }

  private def readRaw(spark: SparkSession, root: String,
      p: Path): Option[RawManifest] = {
    val f = fs(spark, root)
    if (!f.exists(p)) None
    else {
      // exists-then-open is a TOCTOU window: a concurrent retention
      // sweep can delete an expired record in between — absent is
      // absent, however it was observed (readers retry via the
      // readManifest path, readManifestAt callers see the same None an
      // earlier-arriving sweep would have produced)
      val in =
        try f.open(p)
        catch { case _: java.io.FileNotFoundException => return None }
      val text =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val lines = text.split("\n").map(_.stripLineEnd).filter(_.trim.nonEmpty)
      val (meta, dirLines) = lines.tail.toSeq.partition(_.startsWith("#"))
      Some(RawManifest(lines.head.trim.toLong, meta, dirLines))
    }
  }

  /** op / schema / txn / slice meta are ABSOLUTE in every file (full or
    * delta): they are O(1)/O(cols)/O(writers) — tiny next to the O(dirs)
    * dir list, so deltas re-state them instead of diffing. */
  private final case class MetaFields(
      schema: Option[org.apache.spark.sql.types.StructType],
      op: Option[String], txns: Map[String, Long], slice: Option[String],
      checks: Map[String, String], colmap: Map[String, String],
      deadCols: Seq[String])

  /** Highest `#vermin` (minimum-reader version) this build understands.
    * Version 2 = column mapping (#colmap/#deadcols): logical names no
    * longer match on-disk names, so a reader that ignores the mapping
    * would silently null-fill renamed columns. The marker makes such a
    * mixed-version deployment FAIL LOUDLY instead (the public Delta
    * minReaderVersion idea): any commit carrying a mapping emits
    * `#vermin 2`, and a build whose supported version is lower refuses
    * the manifest with an upgrade remedy rather than serving wrong
    * data. Unknown plain meta lines stay ignorable — only #vermin is a
    * hard gate, which is exactly what lets FUTURE format features make
    * themselves unreadable to THIS build. */
  private[ingest] val SupportedReaderVersion = 2L

  private def interpretMeta(raw: RawManifest): MetaFields = {
    raw.metaVal("#vermin").map(_.toLong)
      .filter(_ > SupportedReaderVersion).foreach { v =>
        throw new IllegalStateException(
          s"manifest requires reader version $v but this build supports " +
            s"up to $SupportedReaderVersion — the table uses a newer " +
            "format feature; upgrade the graft library before reading it")
      }
    val schema = raw.metaVal("#schema").map { s =>
      org.apache.spark.sql.types.DataType.fromJson(dec(s))
        .asInstanceOf[org.apache.spark.sql.types.StructType]
    }
    val op = raw.metaVal("#op").map(dec)
    val txns = raw.metaVal("#txn").map { t =>
      t.split(',').toSeq.map { x =>
        val i = x.lastIndexOf(':')
        dec(x.substring(0, i)) -> x.substring(i + 1).toLong
      }.toMap
    }.getOrElse(Map.empty[String, Long])
    val checks = raw.metaVal("#check").map { t =>
      t.split(',').toSeq.map { x =>
        val i = x.indexOf(':')
        dec(x.substring(0, i)) -> dec(x.substring(i + 1))
      }.toMap
    }.getOrElse(Map.empty[String, String])
    val colmap = raw.metaVal("#colmap").map { t =>
      t.split(',').toSeq.map { x =>
        val i = x.indexOf(':')
        dec(x.substring(0, i)) -> dec(x.substring(i + 1))
      }.toMap
    }.getOrElse(Map.empty[String, String])
    val deadCols = raw.metaVal("#deadcols")
      .map(_.split(',').toSeq.map(dec)).getOrElse(Nil)
    MetaFields(schema, op, txns, raw.metaVal("#slice").map(dec), checks,
      colmap, deadCols)
  }

  private def interpretFull(raw: RawManifest): Manifest = {
    val mf = interpretMeta(raw)
    val parsed = raw.dirLines.map(parseDirLine)
    Manifest(raw.gen, parsed.map(_._1),
      parsed.collect { case (d, cs, _) if cs.nonEmpty => d -> cs }.toMap,
      mf.schema, mf.op,
      parsed.collect { case (d, _, Some(dv)) => d -> dv }.toMap,
      mf.txns, mf.slice, mf.checks, mf.colmap, mf.deadCols)
  }

  /** Apply one delta record to its resolved base: `-name` removes a dir,
    * `~dirline` re-states a surviving dir's stats/dv in place, `+dirline`
    * appends a new dir at the end — exactly the shapes `commitAppend`
    * and `commitReconciled` produce, so base order is preserved. */
  private def applyDelta(base: Manifest, raw: RawManifest): Manifest = {
    val mf = interpretMeta(raw)
    val removed = raw.dirLines.filter(_.startsWith("-"))
      .map(_.substring(1)).toSet
    val updated = raw.dirLines.filter(_.startsWith("~"))
      .map(l => parseDirLine(l.substring(1)))
    val added = raw.dirLines.filter(_.startsWith("+"))
      .map(l => parseDirLine(l.substring(1)))
    val touched = (updated ++ added).map(_._1).toSet
    Manifest(raw.gen,
      base.dirs.filterNot(removed) ++ added.map(_._1),
      (base.stats -- removed -- touched) ++
        (updated ++ added).collect { case (d, cs, _) if cs.nonEmpty => d -> cs },
      mf.schema, mf.op,
      (base.dvs -- removed -- touched) ++
        (updated ++ added).collect { case (d, _, Some(v)) => d -> v },
      mf.txns, mf.slice, mf.checks, mf.colmap, mf.deadCols)
  }

  /** Resolved-manifest memo for the per-generation files: a COMMITTED
    * `_manifest.g<N>`'s logical content never changes (expire's
    * checkpoint materialization rewrites a byte-different but
    * semantically identical full form), so chain resolution is paid once
    * per generation per process. Writers invalidate their own gen before
    * writing — that covers the one mutation window, a crashed commit's
    * stale g<N> file being overwritten by the next committer of gen N. */
  private val resolveCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, Manifest](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Manifest]): Boolean = size > 256
    })
  private def cacheKey(root: String, gen: Long) = root + "\u0000g" + gen
  private[graft] def clearResolveCache(): Unit = resolveCache.clear()

  /** Resolve generation `gen`'s manifest through the checkpoint chain:
    * walk delta records back to the nearest full snapshot (chain length
    * is bounded by [[CheckpointInterval]] — commits force a full
    * checkpoint before the chain can exceed it), apply forward. Old
    * tables (every g-file full) resolve in one step. */
  private def resolveAt(spark: SparkSession, root: String,
      gen: Long): Option[Manifest] =
    Option(resolveCache.get(cacheKey(root, gen))).orElse {
      readRaw(spark, root, snapshotPath(root, gen)).map { raw =>
        require(raw.gen == gen,
          s"$root: ${snapshotPath(root, gen)} header says gen ${raw.gen}")
        val m = raw.deltaBase match {
          case Some(b) =>
            val base = resolveAt(spark, root, b).getOrElse(
              throw new IllegalStateException(
                s"$root: generation $gen is a delta over missing generation " +
                  s"$b — metadata chain broken (expired without checkpoint?)"))
            applyDelta(base, raw)
          case None => interpretFull(raw)
        }
        resolveCache.put(cacheKey(root, gen), m)
        m
      }
    }

  /** A fresh, uniquely-named data directory under `root`. The writer owns
    * it exclusively (UUID), so the write needs no locking; the dir is
    * invisible to readers until a commit names it. */
  def newDataDir(root: String): String =
    s"$root/data_${java.util.UUID.randomUUID().toString.replace("-", "").take(16)}"

  /** EXTERNAL dir/DV reference: an absolute path OUTSIDE this table's
    * root — how a SHALLOW CLONE's manifest names the source's immutable
    * dirs. Local entries are stored as bare names; external entries stay
    * absolute. A clone never OWNS its external references: every delete
    * path (eager prune, retention, orphan sweep) skips them — reclaiming
    * them is the SOURCE table's retention's job, exactly the public
    * Delta shallow-clone contract (vacuuming the source invalidates
    * clones that still reference the removed files; vacuuming the clone
    * touches only its own local dirs). */
  /** A fully-qualified manifest entry: a filesystem-absolute path or a
    * scheme-qualified URI (`s3a://…`, `hdfs://…`, `file:/…`, and
    * authority-less forms like `hdfs:/nn/x`) — anything that must NOT
    * be re-rooted under the table root at read time. Local entries are
    * bare `data_*`/`_dv_*` names, which can never start with a URI
    * scheme. */
  private val QualifiedScheme =
    java.util.regex.Pattern.compile("^[A-Za-z][A-Za-z0-9+.\\-]*:")
  private def isQualified(d: String): Boolean =
    d.startsWith("/") || QualifiedScheme.matcher(d).lookingAt()

  private[graft] def isExternal(root: String, d: String): Boolean =
    isQualified(d) && !d.startsWith(root.stripSuffix("/") + "/")

  /** Canonical manifest entry for a commit input: bare name for a local
    * dir (absolute-under-root or already bare), untouched for an
    * external reference. */
  private def entryName(root: String)(d: String): String =
    if (isExternal(root, d)) d else new Path(d).getName

  /** Absolute read path of a manifest entry (local name re-rooted,
    * external reference as-is). */
  def dirAbs(root: String, d: String): String =
    if (isQualified(d)) d else s"$root/$d"

  /** Bounded retry around the chain walk: a concurrent retention sweep
    * (or eager-prune replace) can delete part of the chain BETWEEN this
    * reader's pointer read and its record walk. Both writers repair
    * before they delete — expire materializes the oldest kept generation
    * into a full checkpoint first, eager-prune lands a full record and
    * repoints — so a fresh walk (and fresh pointer read, for the
    * repointed case) always sees a self-contained chain. A chain still
    * broken after the retries is real corruption and surfaces. */
  @annotation.tailrec
  private def readManifestRetrying(spark: SparkSession, root: String,
      attempt: Int): Option[Manifest] =
    readRaw(spark, root, manifestPath(root)) match {
      case None => None
      case Some(raw) if !raw.isRef =>
        Some(interpretFull(raw)) // pre-delta-log pointer: full content inline
      case Some(raw) =>
        // resolveAt -> None here means the pointer we read went STALE
        // past the retention window before our walk (its record already
        // expired) — same remedy as a broken chain: re-read the pointer.
        // A ref pointer whose record is still missing after the retries
        // is corruption (commits land the record BEFORE the pointer),
        // never "no table", so it surfaces rather than reading as empty.
        val resolved: Option[Manifest] =
          try resolveAt(spark, root, raw.gen)
          catch { case e: IllegalStateException =>
            if (attempt < 3) None else throw e }
        resolved match {
          case some @ Some(_) => some
          case None if attempt < 3 => readManifestRetrying(spark, root, attempt + 1)
          case None => throw new IllegalStateException(
            s"$root: pointer names generation ${raw.gen} but its metadata " +
              "record is missing after retries")
        }
    }

  def readManifest(spark: SparkSession, root: String): Option[Manifest] =
    readManifestRetrying(spark, root, 0)

  /** The historical manifest of generation `gen`, if its record is
    * still retained (see `expireSnapshots`). */
  def readManifestAt(spark: SparkSession, root: String, gen: Long): Option[Manifest] =
    resolveAt(spark, root, gen)

  /** Retained snapshot generations, ascending. Snapshots newer than the
    * pointer (a stale file from a crashed commit) are excluded — only
    * generations that actually committed are visible history. */
  def snapshotGens(spark: SparkSession, root: String): Seq[Long] = {
    val f = fs(spark, root)
    val rootP = new Path(root)
    if (!f.exists(rootP)) return Nil
    val current = // pointer header only — no need to resolve the chain
      readRaw(spark, root, manifestPath(root)).map(_.gen).getOrElse(return Nil)
    f.listStatus(rootP).toSeq.map(_.getPath.getName)
      .filter(_.startsWith(ManifestFile + ".g"))
      .flatMap(n => scala.util.Try(n.stripPrefix(ManifestFile + ".g").toLong).toOption)
      .filter(_ <= current).sorted
  }

  /** True when `path` is a manifest-committed table root. */
  def isManifestTable(spark: SparkSession, path: String): Boolean =
    fs(spark, path).exists(manifestPath(path))

  /** Commit timestamp (epoch millis) of every retained generation —
    * classic-Delta semantics: the per-generation record FILE's
    * modification time (one object-store HEAD each, no content reads),
    * adjusted monotonic (`max(prev + 1, mtime)`) so a clock hiccup or
    * copied file can never make a LATER generation claim an EARLIER
    * instant and flip `genAsOf` ordering. */
  def commitTimestamps(spark: SparkSession, root: String): Seq[(Long, Long)] = {
    val f = fs(spark, root)
    var last = Long.MinValue
    snapshotGens(spark, root).map { g =>
      val m = f.getFileStatus(snapshotPath(root, g)).getModificationTime
      last = math.max(last + 1, m)
      g -> last
    }
  }

  /** The generation LIVE at `tsMillis` — the newest one committed at or
    * before it. Errors crisply when the instant predates the retained
    * history (the snapshot that was live then has been expired) or the
    * table has no commits. */
  def genAsOf(spark: SparkSession, root: String, tsMillis: Long): Long = {
    val ts = commitTimestamps(spark, root)
    require(ts.nonEmpty, s"$root is not a manifest-committed table")
    val at = ts.takeWhile(_._2 <= tsMillis)
    if (at.isEmpty) throw new IllegalArgumentException(
      s"timestamp $tsMillis predates the earliest RETAINED commit of " +
        s"$root (generation ${ts.head._1} at ${ts.head._2}) — older " +
        "history has been expired by snapshot retention; size " +
        "expireSnapshots keepLast to the time-travel window you need")
    at.last._1
  }

  /** Timestamp-based time travel: the table as of the wall-clock
    * instant (Delta's `TIMESTAMP AS OF`). Same retention contract as
    * [[readAt]]. */
  def readAsOf(spark: SparkSession, root: String, tsMillis: Long): DataFrame =
    readAt(spark, root, genAsOf(spark, root, tsMillis))

  /** Add (or replace) a CHECK constraint — the Delta `ALTER TABLE ADD
    * CONSTRAINT name CHECK (cond)` contract: the condition must be a
    * deterministic boolean over the table's columns, EXISTING rows must
    * already satisfy it (one validating scan — adding a constraint the
    * data violates is refused, not recorded), and every later enforced
    * write re-proves it for the rows it lands. Constraints ride the
    * manifest as `#check` meta — inherited by appends, compactions,
    * merges and reconciled commits; RESTORE restores the target
    * generation's constraint set with its data. */
  def setCheck(spark: SparkSession, root: String, name: String,
      conditionSql: String): Manifest = {
    require(name.nonEmpty && !name.contains(":") && !name.contains(","),
      s"constraint name may not contain ':' or ',': $name")
    val m = readManifest(spark, root).getOrElse(
      throw new IllegalArgumentException(
        s"$root is not a manifest-committed table"))
    // silently replacing an existing constraint could WEAKEN it while
    // both owners believe theirs is in force — duplicate names error
    require(!m.checks.contains(name),
      s"$root already has a CHECK constraint $name " +
        s"(${m.checks(name)}); DROP CONSTRAINT $name first to replace it")
    // the determinism guard must run on the RESOLVED condition: on the
    // unresolved expr(...), UnresolvedFunction defaults deterministic =
    // true, so `CHECK (rand() < 0.5)` would slip past and later writes
    // would pass/fail nondeterministically. Analyzing a filter over the
    // live table resolves functions and columns (an unknown column fails
    // HERE, not at first write).
    val live = read(spark, root)
    val resolvedCond = live
      .filter(org.apache.spark.sql.functions.expr(conditionSql))
      .queryExecution.analyzed.collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
      }.getOrElse(throw new IllegalStateException(
        s"constraint $name: could not analyze condition $conditionSql"))
    require(resolvedCond.deterministic,
      s"constraint $name: the condition must be deterministic")
    // the existing data must satisfy the constraint
    val bad = violations(live, Map(name -> conditionSql))
    if (bad.nonEmpty) throw new IllegalArgumentException(
      s"cannot add CHECK constraint $name ($conditionSql) to $root: " +
        s"${bad.head._2} existing row(s) violate it")
    commitReplace(spark, root, m.dirs, pruneDisplaced = false,
      stats = m.stats, dvs = m.dvs, schema = m.tableSchema,
      op = "add_constraint", expectedGen = Some(m.gen),
      checks = Some(m.checks + (name -> conditionSql)))
  }

  /** Drop a CHECK constraint (O(1) metadata commit). */
  def dropCheck(spark: SparkSession, root: String, name: String,
      ifExists: Boolean = false): Manifest = {
    val m = readManifest(spark, root).getOrElse(
      throw new IllegalArgumentException(
        s"$root is not a manifest-committed table"))
    if (!m.checks.contains(name)) {
      if (ifExists) return m
      throw new IllegalArgumentException(
        s"$root has no CHECK constraint $name (use IF EXISTS); " +
          s"defined: ${m.checks.keys.toSeq.sorted.mkString(", ")}")
    }
    commitReplace(spark, root, m.dirs, pruneDisplaced = false,
      stats = m.stats, dvs = m.dvs, schema = m.tableSchema,
      op = "drop_constraint", expectedGen = Some(m.gen),
      checks = Some(m.checks - name))
  }

  /** Per-constraint violation counts over `df` — ONE aggregate pass for
    * the whole constraint set (SQL CHECK semantics: NULL passes, only
    * FALSE violates). Empty result = all rows satisfy all constraints. */
  def violations(df: DataFrame, checks: Map[String, String])
      : Seq[(String, Long)] = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not, sum, when}
    if (checks.isEmpty) return Nil
    val aggs = checks.toSeq.sortBy(_._1).map { case (n, c) =>
      sum(when(not(coalesce(expr(c), lit(true))), 1L).otherwise(0L)).as(n)
    }
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    checks.keys.toSeq.sorted.zipWithIndex
      .map { case (n, i) => n -> (if (row.isNullAt(i)) 0L else row.getLong(i)) }
      .filter(_._2 > 0)
  }

  /** Enforce CHECK constraints over freshly WRITTEN, UNCOMMITTED dirs —
    * the enforcement point of every constrained writer (SQL INSERT,
    * streaming sink, MERGE, row-level UPDATE): the staged bytes are
    * validated exactly as readers would see them, so DELETE-clause
    * rows (never written), nondeterministic sources and expression
    * re-evaluation cannot smuggle a violation past the constraint. On
    * violation the staged dirs are DELETED and the whole write refused
    * atomically — nothing was committed. Cost: one read of the NEW
    * data only, zero when the table has no constraints. */
  def validateWrittenChecks(spark: SparkSession, root: String,
      checks: Map[String, String], dirs: Seq[String], writer: String): Unit = {
    if (checks.isEmpty || dirs.isEmpty) return
    val bad = violations(spark.read.parquet(dirs.map(dirAbs(root, _)): _*), checks)
    if (bad.nonEmpty) {
      val f = fs(spark, root)
      dirs.foreach(d => f.delete(new Path(dirAbs(root, d)), true))
      val (n, cnt) = bad.head
      throw new IllegalArgumentException(
        s"$writer to $root violates CHECK constraint $n " +
          s"(${checks(n)}): $cnt row(s) fail it — nothing was committed")
    }
  }

  /** Roll the LIVE table back to a retained generation as a NEW commit
    * (Delta's RESTORE): history is preserved — the rollback itself is
    * time-travelable, shows in `#history` as op `restore`, and surfaces
    * in the change feed as the inverse of the rolled-back window. Data
    * dirs are immutable and the target generation retained, so this is
    * an O(target dirs) metadata commit re-stating its dir list, stats,
    * DVs, schema and slicing — no data is read or copied. CAS-guarded
    * against the generation the caller observed. Restoring to the live
    * generation is a no-op. */
  def restore(spark: SparkSession, root: String, gen: Long): Manifest = {
    val cur = readManifest(spark, root).getOrElse(
      throw new IllegalArgumentException(
        s"$root is not a manifest-committed table"))
    if (cur.gen == gen) return cur
    require(gen < cur.gen,
      s"cannot restore $root to generation $gen: the table is at ${cur.gen}")
    val m = readManifestAt(spark, root, gen).getOrElse(
      throw new IllegalArgumentException(
        s"generation $gen of $root is not retained (expired or never " +
          "committed) — cannot restore; size expireSnapshots keepLast to " +
          "the rollback window you need"))
    commitReplace(spark, root, m.dirs, pruneDisplaced = false,
      stats = m.stats, schema = m.tableSchema, op = "restore",
      dvs = m.dvs, slice = m.slice, clearSlice = true,
      expectedGen = Some(cur.gen), checks = Some(m.checks),
      // the restored generation's COLUMN MAPPING and tombstones are part
      // of its read identity: restoring to a pre-rename generation
      // restores the old name AND the absence of the mapping; restoring
      // to a pre-drop generation legitimately revives the column — its
      // bytes are exactly what that generation's readers saw (a
      // conflicting post-drop re-add was refused by the tombstone, so
      // no newer dir can have repurposed the name). The restored dir
      // set is exactly the target generation's, so its metadata is
      // self-consistent by construction.
      colmap = Some(m.colmap),
      deadCols = Some(m.deadCols))
  }

  /** LOGICAL→PHYSICAL projection for data-file writes into `root`: under
    * a column mapping ([[Manifest.colmap]]) every data writer must land
    * files under the PHYSICAL names (the discipline that keeps one
    * uniform on-disk naming across pre- and post-rename dirs, so reads
    * stay a plain alias with full filter pushdown). No-op — the common
    * case — when the table has no mapping. Helper columns a writer adds
    * (`__slice`, `__zbucket`) pass through untouched. Writers that
    * forget this call are caught loudly by the commit-time footer guard
    * ([[commitAppend]]/[[commitReconciled]]/[[commitReplace]] under a
    * non-empty mapping). */
  def toPhysicalNames(spark: SparkSession, root: String,
      df: DataFrame): DataFrame = {
    val cmap = readManifest(spark, root).map(_.colmap).getOrElse(Map.empty)
    if (cmap.isEmpty) df
    else {
      import org.apache.spark.sql.functions.col
      val resolver = spark.sessionState.conf.resolver
      df.select(df.columns.toIndexedSeq.map { c =>
        val phys = cmap.collectFirst {
          case (l, p) if resolver(l, c) => p
        }.getOrElse(c)
        col(c).as(phys)
      }: _*)
    }
  }

  /** The column names an SQL expression text references, resolved to the
    * given field names (case-insensitive, like the analyzer). */
  private[graft] def exprRefCols(text: String,
      fieldNames: Seq[String]): Seq[String] =
    org.apache.spark.sql.graftbridge.ColumnBridge
      .expression(org.apache.spark.sql.functions.expr(text)).collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          a.name
      }.flatMap(n => fieldNames.find(_.equalsIgnoreCase(n))).distinct

  /** `ALTER TABLE t RENAME COLUMN from TO to` as an O(metadata) commit —
    * the public Delta COLUMN MAPPING idea, name-based: cold dirs keep
    * their bytes under the old (physical) name, the manifest records
    * `to → physical`, reads project physical→logical ([[readDirsOf]]),
    * writers translate logical→physical ([[toPhysicalNames]]), per-dir
    * stats and bloom side-file keys remap, and time travel to a
    * pre-rename generation serves the old name (each generation's
    * record carries its own mapping).
    *
    * Guards — refused (each would corrupt a standing contract):
    *  - a column the SLICING expression references (the layout's dir
    *    names and component stats are keyed on the old text);
    *  - a column any CHECK constraint references (every enforced writer
    *    re-proves the recorded text);
    *  - a column any live DELETION VECTOR keys on (the anti-join reads
    *    the DV file's recorded key names) — compact DVs away first;
    *  - a target name colliding with any column's PHYSICAL name or a
    *    DROPPED column's tombstone (old files still carry those bytes —
    *    an explicit-schema read would serve stale values). */
  def renameColumn(spark: SparkSession, root: String, from: String,
      to: String): Manifest = commitLock(root).synchronized {
    val m = readManifest(spark, root).getOrElse(
      throw new IllegalArgumentException(
        s"$root is not a manifest-committed table"))
    val cur = m.tableSchema.getOrElse(throw new IllegalArgumentException(
      "graft RENAME COLUMN: the table has no recorded schema " +
        "(pre-evolution table — rewrite it through a schema-recording " +
        "commit first)"))
    val resolver = spark.sessionState.conf.resolver
    val fromCanon = cur.fieldNames.find(resolver(_, from)).getOrElse(
      throw new IllegalArgumentException(
        s"graft RENAME COLUMN: no column $from"))
    require(to.nonEmpty && to != fromCanon,
      s"graft RENAME COLUMN: target name must differ from $fromCanon")
    // a case-only rename (a → A) is legal; any OTHER column matching the
    // target is a collision
    require(!cur.fieldNames.exists(n => n != fromCanon && resolver(n, to)),
      s"graft RENAME COLUMN: column $to already exists")
    m.slice.foreach { s =>
      require(!exprRefCols(s, cur.fieldNames.toSeq)
        .exists(resolver(_, fromCanon)),
        s"graft RENAME COLUMN: the slicing expression $s references " +
          s"$fromCanon — the table layout is keyed on it; rewrite the " +
          "table under a new slicing expression instead")
    }
    m.checks.foreach { case (cn, cond) =>
      require(!exprRefCols(cond, cur.fieldNames.toSeq)
        .exists(resolver(_, fromCanon)),
        s"graft RENAME COLUMN: CHECK constraint $cn ($cond) references " +
          s"$fromCanon — DROP CONSTRAINT first and re-add it under the " +
          "new name")
    }
    // DV key columns are read BY NAME from each DV file's own schema at
    // apply time — renaming one would break every anti-join over it.
    // One footer read per DISTINCT dv file; tables without DVs skip.
    m.dvs.values.toSeq.distinct.foreach { f =>
      val keys = dvColumnsOf(spark, dirAbs(root, f))
      require(!keys.exists(resolver(_, fromCanon)),
        s"graft RENAME COLUMN: live deletion vectors key on $fromCanon " +
          "— compact them away first (OPTIMIZE / Optimize.compactSmall)")
    }
    val lower = (x: String) => x.toLowerCase(java.util.Locale.ROOT)
    // the renamed column's OWN physical name is excluded: renaming a
    // mapped column BACK to its on-disk name is legal (it clears the
    // mapping entry — physFrom == to below)
    val physNames =
      cur.fieldNames.filterNot(_ == fromCanon).map(n => m.physNameOf(n))
    require(!(physNames ++ m.deadCols).exists(p => lower(p) == lower(to)),
      s"graft RENAME COLUMN: target name $to collides with a physical " +
        "(on-disk) column name still present in data files — a renamed " +
        "column's original name, or a previously dropped column; pick " +
        "another name or rewrite the data into a new table")
    val physFrom = m.physNameOf(fromCanon)
    val newColmap = (m.colmap - fromCanon) ++
      (if (physFrom == to) Map.empty[String, String] else Map(to -> physFrom))
    val newSchema = org.apache.spark.sql.types.StructType(cur.fields.map(f =>
      if (f.name == fromCanon) f.copy(name = to) else f))
    // per-dir stats re-key to the new logical name in the same commit
    // (skipping resolves by logical name), INCLUDING the column's
    // non-null counter; pseudo/expression stats and other columns carry
    // unchanged
    val newStats = m.stats.map { case (d, cs) =>
      d -> cs.map { c =>
        if (c.col == fromCanon) c.copy(col = to)
        else if (c.col == nnStat(fromCanon)) c.copy(col = nnStat(to))
        else if (c.col == AnalyzedStat) {
          // the ANALYZE marker's column LIST must follow the rename too,
          // or the marked dir reads as never-examined for the new name
          // (metadata MIN/MAX falls back to scans, re-ANALYZE re-meters
          // forever — the idempotency the marker exists for)
          val seen = c.min.split(",").filter(_.nonEmpty)
            .map(n => if (n == fromCanon) to else n).sorted.mkString(",")
          c.copy(min = seen, max = seen)
        } else c
      }
    }
    val m2 = Manifest(m.gen + 1, m.dirs, newStats, Some(newSchema),
      Some("rename_column"), m.dvs, m.txns, m.slice, m.checks,
      newColmap, m.deadCols)
    writeManifest(spark, root, m2, Some(m))
    m2
  }

  /** READ-TIME WIDENING whitelist — exactly the upcasts Spark 4's
    * parquet readers perform when the requested schema is wider than
    * the file's (the public Delta type-widening matrix; each pair is
    * spec-PROVEN against this Spark build in AlterColumnTypeSpec, since
    * the reader also silently tolerates some NARROWING we must refuse). */
  private def widens(from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    def intDigitsNeeded(dt: DataType): Option[Int] = dt match {
      case ByteType => Some(3); case ShortType => Some(5)
      case IntegerType => Some(10); case LongType => Some(20)
      case _ => None
    }
    (from, to) match {
      case (a, b) if a == b => false
      case (ByteType, ShortType | IntegerType | LongType | DoubleType) => true
      case (ShortType, IntegerType | LongType | DoubleType) => true
      case (IntegerType, LongType | DoubleType) => true
      case (FloatType, DoubleType) => true
      case (DateType, TimestampNTZType) => true
      case (f: DecimalType, t: DecimalType) =>
        t.scale >= f.scale &&
          (t.precision - t.scale) >= (f.precision - f.scale)
      case (f, t: DecimalType) =>
        intDigitsNeeded(f).exists(n => t.precision - t.scale >= n)
      case _ => false
    }
  }

  /** `ALTER TABLE t ALTER COLUMN c TYPE wider` as an O(metadata) commit
    * (the public Delta TYPE WIDENING idea): the recorded schema widens,
    * cold files keep their narrower physical type and the parquet
    * reader upcasts at scan time — zero data I/O at any table size.
    * Only the proven widening whitelist is accepted ([[widens]] — the
    * reader tolerates some NARROWING silently, so the guard is ours).
    * Date → timestamp_ntz additionally REWRITES the column's per-dir
    * stats bounds to the timestamp rendering (a date bound compared
    * lexicographically against a timestamp probe could WRONGLY prune
    * the boundary day — a date value IS midnight, so the rewrite is
    * exact). Slicing-referenced columns are refused (a bucket
    * component's Murmur3 hash is width-sensitive: post-widening rows
    * would land in different buckets than equal pre-widening values);
    * DV-keyed columns are refused (the anti-join reads the DV file's
    * recorded key type). */
  def alterColumnType(spark: SparkSession, root: String, colName: String,
      to: org.apache.spark.sql.types.DataType): Manifest =
      commitLock(root).synchronized {
    val m = readManifest(spark, root).getOrElse(
      throw new IllegalArgumentException(
        s"$root is not a manifest-committed table"))
    val cur = m.tableSchema.getOrElse(throw new IllegalArgumentException(
      "graft ALTER COLUMN TYPE: the table has no recorded schema " +
        "(pre-evolution table — rewrite it through a schema-recording " +
        "commit first)"))
    val resolver = spark.sessionState.conf.resolver
    val field = cur.fields.find(f => resolver(f.name, colName)).getOrElse(
      throw new IllegalArgumentException(
        s"graft ALTER COLUMN TYPE: no column $colName"))
    require(field.dataType != to,
      s"graft ALTER COLUMN TYPE: ${field.name} already has type " +
        s"${to.simpleString}")
    require(widens(field.dataType, to),
      s"graft ALTER COLUMN TYPE: ${field.dataType.simpleString} -> " +
        s"${to.simpleString} is not a lossless read-time widening " +
        "(supported: byte/short/int -> wider integral or double, " +
        "float -> double, date -> timestamp_ntz, decimal scale/precision " +
        "growth, integral -> sufficiently wide decimal); narrowing or " +
        "re-typing requires rewriting into a new table")
    m.slice.foreach { s =>
      require(!exprRefCols(s, cur.fieldNames.toSeq)
        .exists(resolver(_, field.name)),
        s"graft ALTER COLUMN TYPE: the slicing expression $s references " +
          s"${field.name} — bucket hashes and slice renderings are " +
          "width-sensitive; rewrite the table under a new slicing " +
          "expression instead")
    }
    m.dvs.values.toSeq.distinct.foreach { f =>
      val keys = dvColumnsOf(spark, dirAbs(root, f))
      require(!keys.exists(resolver(_, field.name)),
        s"graft ALTER COLUMN TYPE: live deletion vectors key on " +
          s"${field.name} — compact them away first (OPTIMIZE / " +
          "Optimize.compactSmall)")
    }
    val newSchema = org.apache.spark.sql.types.StructType(cur.fields.map(f =>
      if (f.name == field.name) f.copy(dataType = to) else f))
    // date -> timestamp stats bounds re-render (exact: a date IS its
    // midnight instant); numeric widenings compare as BigDecimal and
    // need no rewrite. Stats are keyed by LOGICAL name.
    val statKey = field.name
    // float -> double ALSO re-renders: a float's recorded bound is its
    // shortest decimal rendering ("0.3") while the post-widen reader
    // serves the exact double expansion (0.30000001192092896), which
    // lies strictly OUTSIDE that bound under BigDecimal comparison — a
    // probe for a value actually served from the table could silently
    // prune its dir. Rewrite each bound to the double expansion of the
    // float value (the exact value the reader now serves as an extreme).
    def floatBound(s: String): String =
      scala.util.Try(s.toFloat).toOption
        .filter(f => !f.isNaN && !f.isInfinite)
        .map(_.toDouble.toString).getOrElse(s)
    val newStats =
      if (field.dataType == org.apache.spark.sql.types.DateType)
        m.stats.map { case (d, cs) => d -> cs.map(c =>
          if (c.col == statKey && c.min.length == 10)
            c.copy(min = temporalBound(c.min), max = temporalBound(c.max))
          else c)
        }
      else if (field.dataType == org.apache.spark.sql.types.FloatType &&
               to == org.apache.spark.sql.types.DoubleType)
        m.stats.map { case (d, cs) => d -> cs.map(c =>
          if (c.col == statKey)
            c.copy(min = floatBound(c.min), max = floatBound(c.max))
          else c)
        }
      else m.stats
    val m2 = Manifest(m.gen + 1, m.dirs, newStats, Some(newSchema),
      Some("alter_column_type"), m.dvs, m.txns, m.slice, m.checks,
      m.colmap, m.deadCols)
    writeManifest(spark, root, m2, Some(m))
    m2
  }

  /** PARTITION EVOLUTION (the public Iceberg partition-spec-evolution
    * idea): record a NEW slicing expression for FUTURE writes — or drop
    * slicing entirely (`slice = None`) — as an O(metadata) commit.
    * Existing dirs keep their bytes and their old layout untouched;
    * because skipping here is STATS-based (per-dir min/max recorded at
    * write time), not directory-layout-based, the mixed table needs no
    * migration: old dirs keep pruning through their recorded stats, new
    * writes land slice-tight under the new expression (INSERT, the
    * streaming sink and writeSliced all read the slice from the
    * manifest per write), and a probe on the NEW key simply keeps any
    * old dir that never recorded that expression's stats — conservative,
    * never wrong. The expression must analyze against the RECORDED
    * table schema (logical names — writers compute the slice over the
    * logical frame, so a column mapping needs no translation here). */
  def setSlice(spark: SparkSession, root: String,
      slice: Option[String]): Manifest = commitLock(root).synchronized {
    val m = readManifest(spark, root).getOrElse(
      throw new IllegalArgumentException(
        s"$root is not a manifest-committed table"))
    slice.foreach { s =>
      val cur = m.tableSchema.getOrElse(throw new IllegalArgumentException(
        "graft SET PARTITIONED BY: the table has no recorded schema " +
          "(pre-evolution table — rewrite it through a schema-recording " +
          "commit first)"))
      val empty = spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), cur)
      try {
        empty.select(org.apache.spark.sql.functions.expr(s))
          .queryExecution.analyzed
        ()
      } catch { case e: org.apache.spark.sql.AnalysisException =>
        throw new IllegalArgumentException(
          s"graft SET PARTITIONED BY: slicing expression $s does not " +
            s"resolve against the table schema " +
            s"(${cur.fieldNames.mkString(", ")}): ${e.getMessage}")
      }
    }
    val m2 = Manifest(m.gen + 1, m.dirs, m.stats, m.tableSchema,
      Some("set_slice"), m.dvs, m.txns, slice, m.checks,
      m.colmap, m.deadCols)
    writeManifest(spark, root, m2, Some(m))
    m2
  }

  /** ZERO-COPY SHALLOW CLONE (the public Delta `CREATE TABLE ... SHALLOW
    * CLONE` idea): create a NEW manifest-committed table at `dstRoot`
    * whose first generation REFERENCES the source's immutable data dirs
    * (and deletion vectors) as absolute external entries — no data is
    * read or copied, cost is one O(source dirs) metadata commit at any
    * table size. Stats, recorded schema, slicing expression and CHECK
    * constraints all carry, so the clone prunes, COUNTs manifest-only
    * and enforces exactly like the source did at the cloned generation.
    *
    * The tables then diverge independently: writes to the clone land
    * LOCAL dirs (a merge displacing an external ref just drops it from
    * the clone's live set); the source never learns of the clone.
    * Ownership contract (Delta's): the clone never deletes external
    * references — its VACUUM/retention/eager-prune skip them — and the
    * SOURCE's retention is what eventually reclaims them, so a clone
    * outliving the source generation it pinned must be re-cloned or
    * deep-copied first (size the source's `expireSnapshots keepLast`
    * to the clone lifetime you need, same rule as time travel).
    *
    * Cloning a CLONE re-resolves to the ORIGINAL absolute dirs (external
    * entries are already absolute), so reference chains never nest.
    * `gen` clones a retained historical generation (time-travel clone —
    * a writable fork of yesterday's table). */
  def shallowClone(spark: SparkSession, srcRoot: String, dstRoot: String,
      gen: Option[Long] = None): Manifest = {
    require(!isManifestTable(spark, dstRoot),
      s"shallow clone: $dstRoot is already a manifest-committed table")
    val src = new Path(srcRoot).toString // normalized (no trailing slash)
    require(new Path(dstRoot).toString != src,
      "shallow clone: destination equals the source root")
    // a source nested UNDER the destination would make its dirs look
    // local to the clone (entry canonicalization strips them) — refuse
    require(!src.startsWith(new Path(dstRoot).toString + "/"),
      s"shallow clone: source $src lies inside the destination $dstRoot")
    val m = gen match {
      case Some(g) => readManifestAt(spark, src, g).getOrElse(
        throw new IllegalArgumentException(
          s"shallow clone: generation $g of $src is not retained " +
            "(expired or never committed)"))
      case None => readManifest(spark, src).getOrElse(
        throw new IllegalArgumentException(
          s"shallow clone: $src is not a manifest-committed table"))
    }
    val extDirs = m.dirs.map(dirAbs(src, _))
    // expectedGen 0: two clones racing to the same destination must not
    // both claim generation 1 — the loser's CAS fails crisply
    commitReplace(spark, dstRoot, extDirs, pruneDisplaced = false,
      expectedGen = Some(0L),
      stats = m.dirs.zip(extDirs)
        .flatMap { case (d, e) => m.stats.get(d).map(e -> _) }.toMap,
      schema = m.tableSchema, op = "clone",
      dvs = m.dirs.zip(extDirs)
        .flatMap { case (d, e) => m.dvs.get(d).map(f => e -> dirAbs(src, f)) }
        .toMap,
      slice = m.slice, clearSlice = true,
      checks = Some(m.checks), expectedChecks = None,
      // the clone reads the SOURCE's physical files — its column mapping
      // and tombstones are part of the cloned read identity
      colmap = Some(m.colmap), deadCols = Some(m.deadCols))
  }

  /** IN-PLACE conversion of a plain parquet directory into a
    * manifest-committed table (the public Delta `CONVERT TO DELTA`
    * idea — the migration path for the fleets of existing parquet
    * tables a new engine must absorb): the directory's part files are
    * MOVED into a fresh immutable data dir — one rename each, no data
    * copied or decoded on rename-capable filesystems (an object-store
    * deployment pays one server-side copy per file) — commit-time
    * stats over `statCols` plus the exact row counter are metered
    * once, and generation 1 lands with the recorded schema: skipping,
    * manifest-only COUNT(*), appends, time travel and every other
    * table-format capability are live immediately. Concurrent plain
    * readers of the directory must be quiesced for the move (the same
    * caveat Delta documents for its convert); refuses a directory that
    * is already a manifest table or carries a nested/hive-partitioned
    * layout (rewrite those through `writeSliced` — partition values
    * live in dir names, not in the files, so a move cannot preserve
    * them). */
  def convertToGraft(spark: SparkSession, root: String,
      statCols: Seq[String] = Nil): Manifest = {
    require(!isManifestTable(spark, root),
      s"convert: $root is already a manifest-committed table")
    val f = fs(spark, root)
    val rootP = new Path(root)
    require(f.exists(rootP), s"convert: $root does not exist")
    val entries = f.listStatus(rootP).toSeq
      .filterNot(st => st.getPath.getName.startsWith("_") ||
        st.getPath.getName.startsWith("."))
    val (subdirs, files) = entries.partition(_.isDirectory)
    // HIVE layout (`month=202401/` or nested `year=2024/month=01/` — the
    // single-level case is the reference's own partitioned layout,
    // create_clickhouse_models.py:57,207-211; real migration inputs are
    // often `partitionBy(a, b)` output) is a first-class convert: each
    // LEAF dir (the deepest `k=v` level) moves WHOLE into its own data
    // dir — one rename per leaf, never a rewrite — keeping its full
    // `k=v/.../k=v` relative path so Spark's partition discovery keeps
    // serving every level's column; the manifest records each level's
    // value as a dir column stat (per-dimension pruning live
    // immediately) plus the [[PartStat]] nesting marker, and the layout
    // continues as the table's slicing (identity for one level, the
    // composite transform list for N).
    //
    // Discovery is a LEVEL-BY-LEVEL BFS with CONCURRENT listStatus per
    // frontier (a sequential sweep is a driver-latency wall at
    // thousands of dirs — the resolveBloom lesson). Each level must be
    // uniformly `k=v` on ONE column; a dir mixing files and subdirs, a
    // non-`k=v` dir, or a RAGGED tree (data files at one depth,
    // deeper partitions elsewhere) is refused with the writeSliced
    // remedy — those carry structure a rename cannot preserve. A
    // file-less leaf (only _SUCCESS, or empty) contributes no rows and
    // is SKIPPED (the post-commit sweep deletes file-free shells).
    val (hiveLeaves: Seq[String], hiveLevelCols: Seq[String]) =
      if (subdirs.isEmpty) (Nil, Nil)
      else {
        require(files.isEmpty,
          s"convert: $root mixes data files and subdirectories " +
            s"(${files.take(3).map(_.getPath.getName).mkString(", ")}…) — " +
            "not a hive-partitioned layout; clean the stray files first")
        val leaves = scala.collection.mutable.ArrayBuffer[String]()
        val levelCols = scala.collection.mutable.ArrayBuffer[String]()
        def validateLevel(names: Seq[String], under: String): String = {
          require(names.forall(n => n.indexOf('=') > 0),
            s"convert: $root has non-hive subdirectories under $under " +
              s"(${names.filter(_.indexOf('=') <= 0).take(3)
                .mkString(", ")}…) — nested layouts carry structure a " +
              "file move cannot preserve; rewrite through " +
              "ManifestCommit.writeSliced instead")
          val cols = names.map(_.takeWhile(_ != '=')).distinct
          require(cols.size == 1,
            s"convert: $root mixes partition columns at one level under " +
              s"$under (${cols.mkString(", ")}) — not a valid hive layout")
          cols.head
        }
        var frontier: Seq[String] = {
          val names = subdirs.map(_.getPath.getName).sorted
          levelCols += validateLevel(names, "the root")
          names
        }
        while (frontier.nonEmpty) {
          require(levelCols.size <= 16,
            s"convert: $root nests deeper than 16 partition levels — " +
              "not a plausible hive layout")
          val listed: Seq[(String, Seq[String], Boolean)] =
            concurrently(frontier, 32) { rel =>
              val st = f.listStatus(new Path(rootP, rel)).toSeq
              val visible = st.filterNot(s0 =>
                s0.getPath.getName.startsWith("_") ||
                  s0.getPath.getName.startsWith("."))
              val (ds, fls) = visible.partition(_.isDirectory)
              if (ds.nonEmpty) require(fls.isEmpty,
                s"convert: $root/$rel mixes data files and " +
                  s"subdirectories (${fls.take(3).map(_.getPath.getName)
                    .mkString(", ")}…) — not a hive-partitioned layout; " +
                  "rewrite through ManifestCommit.writeSliced instead")
              (rel, ds.map(_.getPath.getName).sorted, fls.nonEmpty)
            }
          val branches = listed.filter(_._2.nonEmpty)
          val dataLeaves = listed.filter(l => l._2.isEmpty && l._3)
          if (branches.nonEmpty && dataLeaves.nonEmpty)
            throw new IllegalArgumentException(
              s"convert: $root is a RAGGED hive layout — data files at " +
                s"depth ${levelCols.size} (${dataLeaves.head._1}) " +
                s"alongside deeper partitions (${branches.head._1}); a " +
                "move cannot preserve both shapes — rewrite through " +
                "ManifestCommit.writeSliced instead")
          if (branches.isEmpty) {
            leaves ++= dataLeaves.map(_._1)
            frontier = Nil
          } else {
            levelCols += validateLevel(
              branches.flatMap(_._2).distinct, branches.head._1)
            frontier = branches.flatMap { case (rel, ds, _) =>
              ds.map(d => s"$rel/$d")
            }
          }
        }
        (leaves.toSeq.sorted, levelCols.toSeq)
      }
    require(files.nonEmpty || hiveLeaves.nonEmpty,
      s"convert: $root contains no data files")
    // validate EVERYTHING that can fail BEFORE the first rename: the
    // schema read proves the files parse (partition discovery supplies
    // the hive column), and unknown stat columns are refused while the
    // directory is still intact — a post-move failure would leave the
    // plain table's files displaced with no manifest
    val schema = org.apache.spark.sql.types.StructType(
      spark.read.parquet(root).schema.fields.map(_.copy(nullable = true)))
    statCols.filterNot(PseudoStats).foreach { c =>
      require(schema.fieldNames.exists(_.equalsIgnoreCase(c)),
        s"convert: stat column $c is not in the table's schema " +
          s"(${schema.fieldNames.mkString(", ")})")
    }
    val statColNames = statCols.filterNot(PseudoStats)
      .flatMap(c => schema.fieldNames.find(_.equalsIgnoreCase(c)))
    if (hiveLeaves.nonEmpty) {
      val partColPath: Seq[String] = hiveLevelCols.map(c =>
        schema.fieldNames.find(_.equalsIgnoreCase(c)).get)
      val nK = partColPath.size
      // one data dir per leaf partition, the leaf moved whole (rename
      // only) keeping its full relative `k=v/.../k=v` path; rollback
      // restores any moved prefix exactly — each data dir holds at most
      // its one leaf subtree, whose relative path is unique
      val dirOf: Map[String, String] = hiveLeaves.map(_ -> newDataDir(root)).toMap
      def rollbackLeaves(): Unit = dirOf.foreach { case (n, d) =>
        val moved = new Path(s"$d/$n")
        if (f.exists(moved)) {
          val back = new Path(rootP, n)
          f.mkdirs(back.getParent)
          f.rename(moved, back)
        }
        val dp = new Path(d)
        if (f.exists(dp)) f.delete(dp, true)
      }
      // ALL leaves' stats in ONE grouped aggregate over the intact hive
      // layout (partition discovery supplies every level's group key) —
      // a 1000-partition convert must not pay 1000 sequential stat jobs.
      // The group KEY is Spark's own cast-to-string of each partition
      // value — the same rendering partitionBy used for the dir names —
      // so it matches the leaf's unescaped values for every type
      // (java-side String.valueOf would render e.g. Timestamp with a
      // trailing ".0" and silently degrade every leaf to the sequential
      // fallback); the TYPED values ride as the partition column's own
      // min/max, constant per group, through the shared [[statAggs]] /
      // [[renderStats]] pair (the grouped pass commits no null
      // counters, as converted tables always have). A leaf whose
      // rendering still defies the match falls back to its own per-dir
      // pass with a warning (correctness over speed, never silence).
      val pre = spark.read.parquet(root)
      val cols = (statColNames ++ partColPath).distinct :+ RowCountStat
      val real = cols.filterNot(isPseudoStat)
      val aggs = statAggs(pre, real)
      val keyCols = partColPath.map(c => pre(c).cast("string"))
      val groupedRows: Map[Seq[String], org.apache.spark.sql.Row] =
        pre.groupBy(keyCols: _*).agg(aggs.head, aggs.tail: _*)
          .collect().toSeq.map { r =>
            (0 until nK).map(i => if (r.isNullAt(i)) null else r.getString(i)) -> r
          }.toMap
      val dts = statTypes(pre, real)
      try {
        val pairs = hiveLeaves.map(n =>
          s"$root/$n" -> s"${dirOf(n)}/$n")
        // intermediate `k=v` parents under each data dir exist BEFORE
        // the rename job (O(#leaves) driver metadata ops)
        pairs.foreach { case (_, d0) => f.mkdirs(new Path(d0).getParent) }
        if (pairs.size <= SmallFanout) pairs.foreach { case (s0, d0) =>
          require(f.rename(new Path(s0), new Path(d0)),
            s"convert: could not move $s0 into $d0")
        } else distributeRenames(spark, root, pairs)
        // exact on-disk bytes per promoted leaf (sizeInBytes exactness
        // and OPTIMIZE's probe-free small-dir selection start life armed
        // on converted tables too): one content-summary round-trip per
        // leaf, overlapped on the same concurrent pool as discovery
        val bytesOf: Map[String, ColStats] = concurrently(hiveLeaves, 32)(n =>
          n -> dirBytesStat(spark, dirOf(n))).toMap
        val stats = hiveLeaves.map { n =>
          val cs = groupedRows.get(unescapeSuffixValues(n)).map { r =>
            renderStats(cols, dts, i => r.get(nK + i), bytesOf(n))
              .filterNot(_.col.startsWith(NullCountPrefix))
          }.getOrElse {
            org.slf4j.LoggerFactory.getLogger(getClass).warn(
              s"convert: leaf $n missed the grouped stats key (value " +
                s"rendering) — metering it with its own per-dir pass")
            dirStats(spark, dirOf(n), cols)
          }
          dirOf(n) -> (cs :+ ColStats(PartStat, "str", n, n))
        }.toMap
        val slice =
          if (nK == 1) partColPath.head else compositeSlice(partColPath)
        val committed = commitReplace(spark, root, hiveLeaves.map(dirOf),
          pruneDisplaced = false, stats = stats,
          schema = Some(schema), op = "convert", slice = Some(slice),
          expectedGen = Some(0L), expectedChecks = Some(Map.empty))
        // after a SUCCESSFUL commit, sweep away what the moves left
        // behind: emptied intermediate `k=v` shells and data-less leaves
        // (only _SUCCESS / hidden files). The root then holds exactly
        // manifest + data dirs — a stray partition dir next to the
        // manifest reads as live table state to later tooling (orphan
        // pruning, a re-convert attempt, manual inspection). Best-effort
        // AND provably file-free: the commit already succeeded, and a
        // dir holding any real file is never touched.
        def fileFree(p: Path): Boolean =
          f.listStatus(p).forall { s0 =>
            if (s0.isDirectory) fileFree(s0.getPath)
            else s0.getPath.getName.startsWith("_") ||
              s0.getPath.getName.startsWith(".")
          }
        subdirs.foreach { sd =>
          try { if (fileFree(sd.getPath)) f.delete(sd.getPath, true); () }
          catch { case scala.util.control.NonFatal(_) => () }
        }
        committed
      } catch { case scala.util.control.NonFatal(e) =>
        rollbackLeaves()
        throw e
      }
    } else {
      val dir = newDataDir(root)
      f.mkdirs(new Path(dir))
      // EVERYTHING from the first rename on runs under the rollback: a
      // rename failing mid-loop (object-store copy error, permissions,
      // concurrent delete) must restore the plain directory exactly like
      // a failed stats pass or a lost CAS would. Rollback moves back
      // whatever LIVES IN the staging dir (the dir is UUID-owned, so its
      // content is precisely the already-moved prefix) — correct for both
      // the driver loop and the distributed rename job below.
      def rollbackMoves(): Unit = {
        val dp = new Path(dir)
        if (f.exists(dp)) {
          f.listStatus(dp).foreach(st =>
            f.rename(st.getPath, new Path(rootP, st.getPath.getName)))
          f.delete(dp, true)
        }
      }
      try {
        // a large directory's renames are independent O(1) metadata ops:
        // past a small count they run as a Spark job (one task per slice,
        // per-task FileSystem) instead of one at a time on the driver — a
        // million-part convert must not serialize a million round-trips
        // through one JVM
        val names = files.map(_.getPath.getName)
        if (names.size <= SmallFanout) names.foreach { n =>
          require(f.rename(new Path(rootP, n), new Path(dir, n)),
            s"convert: could not move $root/$n into $dir")
        } else distributeRenames(spark, root,
          names.map(n => s"$root/$n" -> s"$dir/$n"))
        val cols = (statColNames :+ RowCountStat).distinct
        // flat convert: `schema` was inferred from these very files
        // above — reuse it so the stats pass skips a second inference
        commitReplace(spark, root, Seq(dir), pruneDisplaced = false,
          stats = Map(dir -> dirStats(spark, dir, cols, schema = Some(schema))),
          schema = Some(schema), op = "convert",
          expectedGen = Some(0L), expectedChecks = Some(Map.empty))
      } catch { case scala.util.control.NonFatal(e) =>
        rollbackMoves()
        throw e
      }
    }
  }

  /** `g` over `xs` in order: serial up to 4 items, else on a pool of at
    * most `cap` threads — for independent filesystem round trips, where
    * a sequential loop costs latency linear in `xs`.
    * One pool per call: its threads are created by the caller, so they
    * inherit the caller's Spark local properties (job tags included). */
  private[ingest] def concurrently[A, B](xs: Seq[A], cap: Int)(g: A => B): Seq[B] =
    if (xs.size <= 4) xs.map(g)
    else {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(xs.size, cap))
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try Await.result(Future.sequence(xs.map(x => Future(g(x)))), Duration.Inf)
      finally pool.shutdown()
    }

  /** Below this many independent filesystem operations, a driver-side
    * loop or small thread pool beats a Spark job's scheduling overhead;
    * above it the work runs as a job (per-task FileSystem handles), so
    * a 100-TB table never funnels its copies/renames through one JVM. */
  private[ingest] val SmallFanout = 16

  /** Minimal serializable Hadoop-conf carrier: copy/rename tasks need
    * the session's Hadoop conf (object-store credentials, FS impls) on
    * executors, and `Configuration` itself is not Java-serializable. */
  private class SerConf(@transient var conf: org.apache.hadoop.conf.Configuration)
      extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject(); conf.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject()
      conf = new org.apache.hadoop.conf.Configuration(false)
      conf.readFields(in)
    }
  }

  /** Run every (src, dst) rename as a Spark job (convert's
    * large-directory path). Any task failure fails the job; the
    * caller's rollback restores whatever prefix had moved. */
  private def distributeRenames(spark: SparkSession, root: String,
      pairs: Seq[(String, String)]): Unit = {
    val conf = new SerConf(spark.sparkContext.hadoopConfiguration)
    val slices = math.min(pairs.size,
      math.max(2, spark.sparkContext.defaultParallelism))
    spark.sparkContext.setJobDescription(
      s"graft convert: move ${pairs.size} paths under $root")
    try spark.sparkContext.parallelize(pairs, slices).foreachPartition { it =>
      val fsys = new Path(root).getFileSystem(conf.conf)
      it.foreach { case (s, d) =>
        if (!fsys.rename(new Path(s), new Path(d))) {
          // IDEMPOTENT under task retries: a retried partition re-visits
          // pairs its first attempt already moved — src gone + dst
          // present IS the desired post-state, not a failure (without
          // this, one transient task error deterministically aborts a
          // million-part convert: every retry refails on the moved
          // prefix until maxFailures)
          val done = !fsys.exists(new Path(s)) && fsys.exists(new Path(d))
          if (!done)
            throw new java.io.IOException(s"convert: could not move $s to $d")
        }
      }
    } finally spark.sparkContext.setJobDescription(null)
  }

  /** Convert EXTERNAL references into locally-OWNED copies — the deep
    * half of cloning (Delta's `DEEP CLONE`, and the escape hatch for a
    * shallow clone that must outlive its source's retention window):
    * every external dir and deletion vector is byte-copied under this
    * root and one same-content generation re-points at the copies. The
    * copy DISTRIBUTES: external dirs expand to per-FILE (src, dst)
    * pairs that run as a Spark job with per-task FileSystem handles —
    * the same shape as Delta's distributed DEEP CLONE — so wall clock
    * scales with the cluster, not with one driver's bandwidth; only a
    * small fan-out (≤ [[SmallFanout]] files) stays on a driver thread
    * pool where job-scheduling overhead would dominate. CAS-guarded on
    * the generation read; a no-op when nothing is external; a failed
    * copy best-effort deletes the partial target dirs (any survivor is
    * an unreferenced orphan that `pruneOrphans` reclaims). After this
    * the table depends on no other root. */
  def materializeExternal(spark: SparkSession, root: String): Manifest = {
    val m = readManifest(spark, root).getOrElse(
      throw new IllegalArgumentException(
        s"$root is not a manifest-committed table"))
    val extDirs = m.dirs.filter(isExternal(root, _))
    val extDvs = m.dvs.values.toSeq.distinct.filter(isExternal(root, _))
    if (extDirs.isEmpty && extDvs.isEmpty) return m
    val conf = spark.sparkContext.hadoopConfiguration
    val dstFs = fs(spark, root)
    val targets: Seq[(String, String)] =
      extDirs.map(d => d -> newDataDir(root)) ++
        extDvs.map(v => v -> s"$root/_dv_${java.util.UUID.randomUUID()
          .toString.replace("-", "").take(16)}")
    // overwrite=true makes the copy IDEMPOTENT: targets are fresh UUID
    // paths, so the only thing ever overwritten is a retried task's own
    // partial file — without it a transient task failure deterministically
    // refails every retry on the already-copied prefix
    def copyOne(c: org.apache.hadoop.conf.Configuration)(
        src: String, dst: String): Unit = {
      val sp = new Path(src); val dp = new Path(dst)
      org.apache.hadoop.fs.FileUtil.copy(
        sp.getFileSystem(c), sp, dp.getFileSystem(c), dp, false, true, c)
      ()
    }
    try {
      // FILE-level fan-out: a clone of a few huge dirs must still spread
      // across tasks, so each external dir expands to its files (one
      // listing apiece — driver metadata, no data I/O). INSIDE the try:
      // a listing failure (source reclaimed mid-build) must hit the same
      // catch that reclaims the partially-created target dirs.
      val filePairs: Seq[(String, String)] = targets.flatMap { case (s, d) =>
        val sp = new Path(s)
        val sfs = sp.getFileSystem(conf)
        if (sfs.getFileStatus(sp).isDirectory) {
          dstFs.mkdirs(new Path(d))
          sfs.listStatus(sp).toSeq.map(st =>
            st.getPath.toString -> new Path(d, st.getPath.getName).toString)
        } else Seq(s -> d)
      }
      if (filePairs.size <= SmallFanout) {
        // small fan-out: overlap round-trips on a driver pool
        concurrently(filePairs, 8) { case (s, d) => copyOne(conf)(s, d) }
      } else {
        val ser = new SerConf(conf)
        val slices = math.min(filePairs.size,
          math.max(2, spark.sparkContext.defaultParallelism))
        spark.sparkContext.setJobDescription(
          s"graft materialize: copy ${filePairs.size} files into $root")
        try spark.sparkContext.parallelize(filePairs, slices)
          .foreachPartition { it =>
            val c = ser.conf
            it.foreach { case (s, d) =>
              val sp = new Path(s); val dp = new Path(d)
              org.apache.hadoop.fs.FileUtil.copy(
                sp.getFileSystem(c), sp, dp.getFileSystem(c), dp,
                false, true, c)
              ()
            }
          }
        finally spark.sparkContext.setJobDescription(null)
      }
      val local: Map[String, String] =
        targets.map { case (s, d) => s -> new Path(d).getName }.toMap
      commitReplace(spark, root,
        m.dirs.map(d => local.getOrElse(d, d)),
        pruneDisplaced = false,
        stats = m.stats.map { case (d, cs) => local.getOrElse(d, d) -> cs },
        dvs = m.dvs.map { case (d, f) =>
          local.getOrElse(d, d) -> local.getOrElse(f, f) },
        schema = m.tableSchema, op = "materialize",
        expectedGen = Some(m.gen), checks = Some(m.checks))
    } catch { case scala.util.control.NonFatal(e) =>
      // copied-but-uncommitted dirs are orphans — reclaim them now
      // rather than waiting for pruneOrphans (best-effort)
      targets.foreach { case (_, d) =>
        scala.util.Try(dstFs.delete(new Path(d), true)) }
      throw e
    }
  }

  /** Physical kind of each retained per-generation metadata record —
    * "full" (checkpoint) or "delta" — observability for tests/audits;
    * readers never need it (resolution is transparent). */
  def recordKinds(spark: SparkSession, root: String): Map[Long, String] =
    snapshotGens(spark, root).map(g =>
      g -> (if (readRaw(spark, root, snapshotPath(root, g))
        .exists(_.deltaBase.isDefined)) "delta" else "full")).toMap

  /** Absolute paths of the live data dirs; a plain (non-manifest) table
    * resolves to itself, so readers can use this unconditionally. */
  def resolvePaths(spark: SparkSession, path: String): Seq[String] =
    readManifest(spark, path) match {
      case Some(m) => m.dirs.map(dirAbs(path, _))
      case None => Seq(path)
    }

  /** Read the manifest's dirs: with the recorded union schema when the
    * manifest carries one (explicit schema = zero planning I/O; parquet
    * null-fills columns a dir predates), else mergeSchema (footer sweep,
    * but tolerates any dir-to-dir drift without recorded metadata).
    * Dirs carrying a deletion vector subtract it with a per-dir
    * LEFT ANTI join on the DV's own key columns (DVs are small — the
    * join broadcasts; per-dir application is exact without any
    * key-uniqueness assumption, since a key deleted from one dir may
    * legitimately live on in a later-inserted dir). */
  private def readDirs(spark: SparkSession, root: String, m: Manifest): DataFrame =
    readDirsOf(spark, root, m, m.dirs)

  /** Reserved POSITION-identity columns (round 19 — the Delta
    * position-deletion-vector idea expressed through the existing
    * key-DV anti-join): a DV file whose columns are exactly these
    * deletes rows by (parquet file name, row index within the file) —
    * null-proof (both are never null, unlike arbitrary key columns)
    * and valid for tables with NO key at all, which is what
    * merge-on-read UPDATE needs. Readers materialize them from
    * `_metadata` only for the scans that need them. */
  val PosFileCol = "__pos_file"
  val PosIdxCol = "__pos_idx"

  /** Read a SUBSET of a manifest's dirs under that manifest's metadata
    * (schema + deletion vectors). `schemaOverride` forces a specific
    * read schema (ChangeFeed reads BOTH generations in toGen's schema).
    * Public for change-feed/maintenance composition.
    *
    * `colmapOverride`: the COLUMN MAPPING matching `schemaOverride`'s
    * logical names, when that schema comes from a DIFFERENT generation
    * than `m` (ChangeFeed reads the FROM generation's dirs in the TO
    * generation's schema — physical names are stable across renames, so
    * the TO mapping resolves them for any generation's dirs; using the
    * FROM generation's own mapping would null-fill a renamed column). */
  def readDirsOf(spark: SparkSession, root: String, m: Manifest,
      dirs: Seq[String],
      schemaOverride: Option[org.apache.spark.sql.types.StructType] = None,
      colmapOverride: Option[Map[String, String]] = None,
      keepPos: Boolean = false,
      keepDir: Boolean = false)
      : DataFrame =
    try readDirsOfImpl(spark, root, m, dirs, schemaOverride, colmapOverride,
      keepPos, keepDir)
    catch { case e: org.apache.spark.sql.AnalysisException =>
      // a missing path here is USUALLY a reclaimed external reference —
      // name the clone ownership contract and the remedy instead of
      // surfacing a raw path error (house style: the streaming source's
      // retention-lapse error does the same). The ORIGINAL exception
      // rides as the cause: an unrelated analysis error on a table that
      // merely also has a reclaimed ref must stay diagnosable.
      throw cloneRetentionError(spark, root, m).map { ise =>
        ise.initCause(e); ise
      }.getOrElse(e)
    }

  /** The clone-outlived-its-source failure, when that is what a read
    * error was: Some(crisp error) iff any of the manifest's EXTERNAL
    * references no longer exists on its own filesystem. */
  private def cloneRetentionError(spark: SparkSession, root: String,
      m: Manifest): Option[IllegalStateException] = {
    val ext = (m.dirs ++ m.dvs.values.toSeq).distinct
      .filter(isExternal(root, _))
    val gone = ext.filter { d =>
      scala.util.Try(!fs(spark, d).exists(new Path(d))).getOrElse(false)
    }
    if (gone.isEmpty) None
    else Some(new IllegalStateException(
      s"shallow clone at $root references external data that the " +
        s"SOURCE table's retention has reclaimed (missing: " +
        s"${gone.take(3).mkString(", ")}${if (gone.size > 3) ", …" else ""}). " +
        "Ownership contract: a clone never owns its external references " +
        "— the source's retention reclaims them — so a clone must live " +
        "within the source's retention window. Remedy: re-clone from a " +
        "retained generation, or make the table self-contained with " +
        "DEEP CLONE / ManifestCommit.materializeExternal before the " +
        "source expires (size the source's expireSnapshots keepLast to " +
        "the clone lifetime you need)"))
  }

  /** Spark schema and leaf parquet paths of a DV dir, from ONE
    * driver-side listing and footer read, cached forever: DV dirs are
    * IMMUTABLE (every delete writes a new `_dv_<uuid>` and repoints the
    * manifest), yet every read of a DV'd table re-ran a schema-inference
    * JOB per distinct DV — pure scheduler latency on the hottest read
    * path (r19). Caching the full STRUCT (not just names) also lets the
    * DV-union scan read with an explicit schema, skipping the union's
    * own inference job. Reads go through the LEAF files ([[readDvs]]):
    * Spark's hidden-path filter matches the `_dv_` dir names themselves,
    * so a dir-path read logged "All paths were ignored" on every DV scan.
    * The fallback (dir path, spark.read schema) covers exotic
    * filesystems where the direct listing or footer read fails. */
  private val dvCache = new java.util.concurrent.ConcurrentHashMap[
    String, (org.apache.spark.sql.types.StructType, Seq[String])]()
  private def dvFooterOf(spark: SparkSession, absDir: String)
      : (org.apache.spark.sql.types.StructType, Seq[String]) =
    dvCache.computeIfAbsent(absDir, _ =>
      scala.util.Try {
        val f = fs(spark, absDir)
        val files = f.listStatus(new Path(absDir)).map(_.getPath)
          .filter(p => p.getName.endsWith(".parquet") &&
            !p.getName.startsWith("_") && !p.getName.startsWith("."))
          .sortBy(_.getName).toSeq
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          files.head, spark.sparkContext.hadoopConfiguration)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try (new org.apache.spark.sql.execution.datasources.parquet
          .ParquetToSparkSchemaConverter(spark.sessionState.conf)
          .convert(r.getFileMetaData.getSchema), files.map(_.toString))
        finally r.close()
      }.getOrElse((spark.read.parquet(absDir).schema, Seq(absDir))))
  private[ingest] def dvColumnsOf(spark: SparkSession, absDir: String): Seq[String] =
    dvFooterOf(spark, absDir)._1.fieldNames.toSeq

  /** The rows of the DV dirs `absDirs` (one key-column set), read
    * through their cached leaf files with the first one's schema. */
  private[ingest] def readDvs(spark: SparkSession,
      absDirs: Seq[String]): DataFrame =
    spark.read.schema(dvFooterOf(spark, absDirs.head)._1)
      .parquet(absDirs.flatMap(dvFooterOf(spark, _)._2): _*)

  /** The row count of the DV dir `absDir`: its cached leaf files'
    * footer counts summed on the driver, no job. */
  private[ingest] def dvRowCount(spark: SparkSession, absDir: String): Long =
    dvFooterOf(spark, absDir)._2.map { p =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new Path(p),
          spark.sparkContext.hadoopConfiguration))
      try r.getRecordCount finally r.close()
    }.sum

  /** The DV rows of DV'd `dirs` (one DV column set), each attributed to
    * its owning data dir's BASENAME in `__dir`: ONE scan over the DV
    * files (never one scan node per DV — the plan stays flat in DV
    * count), the owning dir recovered from each row's `_dv_*` path
    * segment through a tiny broadcast lookup (a DV file several dirs
    * reference fans out to one row per dir, which is exactly the per-dir
    * delete set). Basename-keyed like [[dirIdCol]]: a clone's external
    * entries are absolute strings, and UUID dir/DV names make basenames
    * unique across roots. */
  private[ingest] def dvRowsOf(spark: SparkSession, root: String,
      m: Manifest, dirs: Seq[String]): DataFrame = {
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val lookup = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](java.util.Arrays.asList(
        dirs.map(d => org.apache.spark.sql.Row(
          new Path(dirAbs(root, m.dvs(d))).getName,
          new Path(dirAbs(root, d)).getName)): _*)),
      StructType(Seq(StructField("__dv_name", StringType, false),
        StructField("__dir", StringType, false))))
    // explicit schema from the cached footer read — the scan itself
    // must not pay an inference job over every DV file (r19)
    readDvs(spark, dirs.map(d => dirAbs(root, m.dvs(d))).distinct)
      .withColumn("__dv_name", dirIdCol)
      .join(org.apache.spark.sql.functions.broadcast(lookup), "__dv_name")
      .drop("__dv_name")
  }

  private def readDirsOfImpl(spark: SparkSession, root: String, m: Manifest,
      dirs: Seq[String],
      schemaOverride: Option[org.apache.spark.sql.types.StructType],
      colmapOverride: Option[Map[String, String]] = None,
      keepPos: Boolean = false,
      // keepDir: attach `__dir` (the owning data dir's BASENAME, from
      // the scan's own file path) WITHOUT the position columns — the
      // per-dir attribution batched DML passes group on (r19)
      keepDir: Boolean = false)
      : DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col}
    val schema = schemaOverride.orElse(m.tableSchema)
    // COLUMN MAPPING: data files carry PHYSICAL names; the scan reads
    // them and a plain alias projection serves the logical names, so
    // filter pushdown on a renamed column rides the alias into the
    // parquet scan (PushedFilters intact) — never a coalesce/expression
    // the scan couldn't push. Restricted to the read schema's fields
    // (a schemaOverride may name columns the mapping doesn't know).
    val activeColmap = colmapOverride.getOrElse(m.colmap)
    val eff: Map[String, String] = schema.map(s =>
      s.fieldNames.flatMap(n =>
        activeColmap.get(n).filter(_ != n).map(n -> _)).toMap)
      .getOrElse(Map.empty)
    val physSchema = schema.map(s =>
      if (eff.isEmpty) s
      else org.apache.spark.sql.types.StructType(s.fields.map(f =>
        f.copy(name = eff.getOrElse(f.name, f.name)))))
    def toLogical(df: DataFrame, extra: Seq[String]): DataFrame =
      if (eff.isEmpty) df
      else df.select((schema.get.fields.toIndexedSeq.map(f =>
        col(eff.getOrElse(f.name, f.name)).as(f.name)) ++
        extra.map(col)): _*)
    def readPaths(paths: Seq[String]): DataFrame = physSchema match {
      case Some(s) => spark.read.schema(s).parquet(paths: _*)
      case None => spark.read.option("mergeSchema", "true").parquet(paths: _*)
    }
    val (dvd, plain) = dirs.partition(m.dvs.contains)
    // HIVE-NESTED dirs (converted leaf partitions, [[PartStat]]) scan in
    // their OWN group via [[readNestedPaths]] — one leaf-path scan plus
    // a broadcast value injection, flat in dir count — because mixing
    // nested and flat roots in one parquet read raises "conflicting
    // directory structures". Grouped by partition COLUMN so a
    // multi-spec history still plans one scan per spec.
    def partColsOf(d: String): Option[String] =
      partSuffixOf(m, d).map(
        _.split('/').map(_.takeWhile(_ != '=')).mkString(","))
    val posCols = Seq(PosFileCol, PosIdxCol)
    def readGroup(g: Seq[String], withId: Boolean,
        withPos: Boolean = false): DataFrame =
      partColsOf(g.head) match {
        case None =>
          val df0 = readPaths(g.map(dirAbs(root, _)))
          val df1 = if (withId) df0.withColumn("__dir", dirIdCol) else df0
          // positions from the scan's own metadata struct — never null,
          // stable for immutable files (the position-DV identity)
          val df = if (!withPos) df1
            else df1.withColumn(PosFileCol, col("_metadata.file_name"))
              .withColumn(PosIdxCol, col("_metadata.row_index"))
          toLogical(df, (if (withId) Seq("__dir") else Nil) ++
            (if (withPos) posCols else Nil))
        case Some(_) =>
          require(!withPos,
            s"$root: position columns are not supported on hive-nested " +
              "converted dirs (merge-on-read UPDATE falls back to " +
              "copy-on-write there)")
          toLogical(readNestedPaths(spark,
            g.map(d => dirAbs(root, d) -> partSuffixOf(m, d).get),
            physSchema, keepDirId = withId),
            if (withId) Seq("__dir") else Nil)
      }
    val plainDfs = plain.groupBy(partColsOf).toSeq.sortBy(_._2.head)
      .map { case (_, g) =>
        readGroup(g, withId = keepPos || keepDir, withPos = keepPos) }
    // DV'd dirs grouped by their DV's key-column set: ONE scan and ONE
    // broadcast anti-join per group on (dir, keys), not one join operator
    // per dir — a sparse-delete-heavy table at scale can carry hundreds
    // of dv'd dirs, and a plan with hundreds of join nodes pays analysis
    // and codegen cost linear in dir count. The dir identity rides along
    // as the parquet file path's parent segment, so per-dir exactness is
    // preserved (a key deleted from one dir may live on in another).
    // Grouping needs each DV's schema: fetched on CONCURRENT threads
    // (one footer each — a sequential loop is a driver-latency wall at
    // hundreds of DVs, the resolveBloom lesson).
    val dvFilesAll = dvd.map(m.dvs).distinct
    val dvSchema: Map[String, Seq[String]] =
      concurrently(dvFilesAll, 16)(f => f -> dvColumnsOf(spark, dirAbs(root, f))).toMap
    val dvdDfs = dvd.groupBy(d => (dvSchema(m.dvs(d)), partColsOf(d)))
      .toSeq.sortBy(_._2.head).map { case ((keyCols, _), groupDirs) =>
        val dvUnion = dvRowsOf(spark, root, m, groupDirs)
          .select((keyCols.map(col) :+ col("__dir").as("__dv_dir")): _*)
        // a POSITION dv (file, row-index identity) needs the scan to
        // materialize the position columns it anti-joins on
        val posDv = keyCols.exists(posCols.contains)
        val joined = readGroup(groupDirs, withId = true,
          withPos = posDv || keepPos)
          .withColumnRenamed("__dir", "__dv_dir")
          .join(broadcast(dvUnion), keyCols :+ "__dv_dir", "left_anti")
        val back =
          if (keepPos || keepDir) joined.withColumnRenamed("__dv_dir", "__dir")
          else joined.drop("__dv_dir")
        if (posDv && !keepPos) back.drop(posCols: _*) else back
      }
    (plainDfs ++ dvdDfs) match {
      case Nil => // empty set: preserve the recorded schema if any; a
        // pre-evolution manifest (no schema line) with live dirs still
        // yields a correctly-shaped empty frame from their merged
        // footers (zero data rows read)
        schema match {
          case Some(s) => spark.createDataFrame(
            new java.util.ArrayList[org.apache.spark.sql.Row](), s)
          case None if m.dirs.nonEmpty =>
            spark.read.option("mergeSchema", "true")
              .parquet(m.dirs.map(dirAbs(root, _)): _*).limit(0)
          case None => throw new IllegalArgumentException(
            s"$root: no dirs to read and no recorded schema")
        }
      case one :: Nil => one
      // allowMissingColumns: in the schemaless (mergeSchema) branch each
      // group's read resolves its OWN merged schema, so dir-to-dir column
      // drift on a pre-evolution table must null-fill across groups the
      // same way one mergeSchema pass over all dirs would
      case many => many.reduce(_.unionByName(_, allowMissingColumns = true))
    }
  }

  /** Read the live generation (manifest-resolved; falls through to a
    * plain parquet read for non-manifest dirs). `mergeSchema` tolerates
    * delta dirs written before a column existed, as `Ingest.readFinal`
    * does for raw part layouts. */
  def read(spark: SparkSession, path: String): DataFrame =
    readManifest(spark, path) match {
      case Some(m) => readDirs(spark, path, m)
      case None => spark.read.option("mergeSchema", "true").parquet(path)
    }

  /** Time travel: read the table exactly as generation `gen` committed
    * it. Only valid while the snapshot is retained (the table must be
    * committed with `pruneDisplaced = false` / appends, and `gen` not yet
    * expired) — data dirs are immutable, so a retained generation is
    * byte-identical to what its readers saw at commit time. */
  def readAt(spark: SparkSession, path: String, gen: Long): DataFrame = {
    val m = readManifestAt(spark, path, gen).getOrElse(
      throw new IllegalArgumentException(
        s"generation $gen of $path is not retained (expired or never committed)"))
    readDirs(spark, path, m)
  }

  /** Atomically (re)write the manifest. The content is staged to a
    * dot-file and moved over `_manifest` with FileContext OVERWRITE
    * rename — a single-file atomic replace on local/HDFS. On an object
    * store this step maps to one conditional PUT of `_manifest` (the
    * object-store deployment swaps this implementation in; everything
    * else — immutable dirs, resolve-through-manifest — is already
    * store-safe because no data object is ever renamed or overwritten). */
  private def writeFileAtomic(spark: SparkSession, root: String, dest: Path,
      content: String): Unit = {
    val f = fs(spark, root)
    val rootP = new Path(root)
    if (!f.exists(rootP)) f.mkdirs(rootP)
    val tmp = new Path(root,
      s"._manifest_tmp_${java.util.UUID.randomUUID().toString.take(8)}")
    val scheme = f.getUri.getScheme
    if (scheme == null || scheme == "file") {
      // LOCAL: pure-NIO tmp write + POSIX rename(2). Two reasons over
      // the Hadoop path: (1) Hadoop's local rename(OVERWRITE) is
      // delete-then-rename — a concurrent reader can observe the
      // destination MISSING in between; rename(2) replaces atomically.
      // (2) LocalFileSystem.create would drop a `.crc` sidecar for the
      // tmp name that no rename ever moves — one litter file per commit
      // at the table root, forever. HDFS FileContext rename is atomic
      // as-is; the object-store deployment replaces this whole method
      // with a conditional PUT.
      java.nio.file.Files.write(
        java.nio.file.Paths.get(tmp.toUri.getPath),
        content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      java.nio.file.Files.move(
        java.nio.file.Paths.get(tmp.toUri.getPath),
        java.nio.file.Paths.get(dest.toUri.getPath),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } else {
      val out = f.create(tmp, true)
      try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      val fc = FileContext.getFileContext(rootP.toUri,
        spark.sparkContext.hadoopConfiguration)
      fc.rename(tmp, dest, Options.Rename.OVERWRITE)
    }
  }

  private def metaLines(m: Manifest): Seq[String] =
    // column mapping in play -> older readers must refuse, not null-fill
    // (see [[SupportedReaderVersion]]); every record (full or delta)
    // carries the gate because deltas re-state meta absolutely
    (if (m.colmap.isEmpty && m.deadCols.isEmpty) Nil
     else Seq("#vermin\t2")) ++
    m.tableSchema.map(s => "#schema\t" + enc(s.json)).toSeq ++
      m.op.map(o => "#op\t" + enc(o)).toSeq ++
      m.slice.map(s => "#slice\t" + enc(s)).toSeq ++
      (if (m.checks.isEmpty) Nil
       else Seq("#check\t" + m.checks.toSeq.sortBy(_._1)
         .map { case (n, c) => enc(n) + ":" + enc(c) }.mkString(","))) ++
      (if (m.txns.isEmpty) Nil
       else Seq("#txn\t" + m.txns.toSeq.sortBy(_._1)
         .map { case (w, v) => enc(w) + ":" + v }.mkString(","))) ++
      (if (m.colmap.isEmpty) Nil
       else Seq("#colmap\t" + m.colmap.toSeq.sortBy(_._1)
         .map { case (l, p) => enc(l) + ":" + enc(p) }.mkString(","))) ++
      (if (m.deadCols.isEmpty) Nil
       else Seq("#deadcols\t" + m.deadCols.map(enc).mkString(",")))

  private def renderFull(m: Manifest): String =
    (Seq(m.gen.toString) ++ metaLines(m) ++
      m.dirs.map(renderDirLine(m))).mkString("\n")

  /** Delta record of `m` over `prev` (`-removed`, `~restated`, `+added`
    * — see [[applyDelta]]); None when the change doesn't fit the delta
    * shape (non-successor generation, or surviving dirs reordered /
    * interleaved with additions — only full replaces do that, and they
    * write checkpoints anyway). */
  private def renderDelta(prev: Manifest, m: Manifest): Option[String] = {
    if (m.gen != prev.gen + 1) return None
    val prevSet = prev.dirs.toSet
    val mSet = m.dirs.toSet
    val added = m.dirs.filterNot(prevSet)
    if (m.dirs != prev.dirs.filter(mSet) ++ added) return None
    val removed = prev.dirs.filterNot(mSet)
    val restated = prev.dirs.filter(d => mSet(d) &&
      (prev.stats.get(d) != m.stats.get(d) || prev.dvs.get(d) != m.dvs.get(d)))
    // a delta touching as many lines as a full render saves nothing —
    // checkpoint instead (also what keeps near-total rewrites self-
    // contained); the guard is structural so the full O(dirs) string
    // render is never built on the delta path
    if (removed.size + restated.size + added.size >= m.dirs.size) return None
    Some((Seq(m.gen.toString, s"#delta\t${prev.gen}") ++ metaLines(m) ++
      removed.map("-" + _) ++
      restated.map(d => "~" + renderDirLine(m)(d)) ++
      added.map(d => "+" + renderDirLine(m)(d))).mkString("\n"))
  }

  /** Checkpoint cadence: a full snapshot at least every this-many
    * generations bounds every read's delta-chain walk. The interval
    * trades commit cost (one O(dirs) checkpoint write per K commits,
    * O(changes) otherwise) against cold-read cost (≤ K small delta
    * files after the checkpoint) — the public Delta log/checkpoint
    * ratio ballpark. */
  private[ingest] val CheckpointInterval = 16

  private def pointerText(gen: Long, fullBase: Long): String =
    Seq(gen.toString, "#ref\t1", s"#base\t$fullBase").mkString("\n")

  /** Every commit writes an immutable per-generation record
    * `_manifest.g<gen>` BEFORE swapping the `_manifest` pointer — this is
    * what `readAt`/time travel resolves. The record lands first so a
    * crash between the two writes leaves a stale gen-N record that the
    * next successful commit of gen N simply overwrites; the pointer (the
    * single commit point) never references a missing record.
    *
    * DELTA LOG (the public Delta/Iceberg metadata-scale answer, adopted
    * once MetaScaleCheck showed two O(dirs) file writes per commit): when
    * `prev` is supplied and the change fits the delta shape, the
    * per-generation record holds ONLY the delta and the pointer is a
    * tiny `#ref` naming the generation — commit I/O drops from O(dirs)
    * to O(changes). A full checkpoint is forced every
    * [[CheckpointInterval]] generations (tracked via the pointer's
    * `#base` line) so chains stay short; full replaces (`prev = None`)
    * always checkpoint, which is what keeps the eager-prune path
    * self-contained. Old-format tables (full content in the pointer)
    * keep reading fine; their first new commit moves them onto the log. */
  private def writeManifest(spark: SparkSession, root: String, m: Manifest,
      prev: Option[Manifest] = None): Unit = {
    // the `__graft_` namespace is RESERVED for engine helper columns
    // (ChangeFeed's gk/gn shape columns, applyTo's change-type marker):
    // a table column in it would be silently REPLACED by withColumn in
    // those paths — refuse it at the one chokepoint every schema-
    // recording commit passes through, so the reservation is enforced,
    // not conventional
    m.tableSchema.foreach { s =>
      val bad = s.fieldNames.filter(_.startsWith("__graft_"))
      require(bad.isEmpty,
        s"$root: column name(s) ${bad.mkString(", ")} use the reserved " +
          "__graft_ prefix (engine helper namespace) — rename them")
      // COLUMN-MAPPING consistency, enforced at the one chokepoint every
      // commit passes: physical names must be distinct (a new column
      // whose name equals a renamed column's ORIGINAL name would make
      // two logical columns share one on-disk name) and must not collide
      // with a dropped column's tombstoned bytes (old files still carry
      // them — reads would resurrect stale values)
      val lower = (x: String) => x.toLowerCase(java.util.Locale.ROOT)
      val phys = s.fieldNames.map(n => lower(m.physNameOf(n)))
      require(phys.distinct.size == phys.length,
        s"$root: two columns map to one physical (on-disk) name " +
          s"(${phys.diff(phys.distinct).distinct.mkString(", ")}) — a new " +
          "column may not reuse a renamed column's original name; pick " +
          "another name or rewrite the data into a new table")
      val deadHit = s.fieldNames.filter(n =>
        m.deadCols.exists(d => lower(d) == lower(m.physNameOf(n))))
      require(deadHit.isEmpty,
        s"$root: column(s) ${deadHit.mkString(", ")} collide with a " +
          "DROPPED column's physical name — existing data files still " +
          "carry the old bytes and an explicit-schema read would serve " +
          "them as this column's values; pick another name or rewrite " +
          "the data into a new table")
    }
    require(m.colmap.isEmpty || m.tableSchema.isDefined,
      s"$root: a column mapping requires a recorded table schema " +
        "(reads cannot translate physical names without one)")
    resolveCache.remove(cacheKey(root, m.gen))
    val fullBase: Long = readRaw(spark, root, manifestPath(root))
      .map(r => r.metaVal("#base").map(_.toLong).getOrElse(r.gen))
      .getOrElse(m.gen)
    val delta =
      if (m.gen - fullBase >= CheckpointInterval) None
      else prev.flatMap(p => renderDelta(p, m))
    delta match {
      case Some(d) =>
        writeFileAtomic(spark, root, snapshotPath(root, m.gen), d)
        writeFileAtomic(spark, root, manifestPath(root), pointerText(m.gen, fullBase))
      case None => // checkpoint: the only path that renders O(dirs) text
        writeFileAtomic(spark, root, snapshotPath(root, m.gen), renderFull(m))
        writeFileAtomic(spark, root, manifestPath(root), pointerText(m.gen, m.gen))
    }
    resolveCache.put(cacheKey(root, m.gen), m)
  }

  /** Staging-swap analogue: install `dirs` (relative names under `root`)
    * as the EXACT live set. Displaced dirs of the previous generation are
    * deleted after the commit (safe: they are no longer reachable through
    * the manifest; a reader holding the old generation's file list mid-
    * scan has the same exposure as with the rename swap, and zero
    * exposure on object stores where deletes don't invalidate open
    * reads). Returns the new manifest. */
  /** Per-root commit arbitration for SAME-PROCESS writers: manifest
    * commits happen on the Spark driver, so concurrent committers of one
    * table normally share this JVM — an interned lock around the
    * read-check-write makes the local CAS exact for them (without it,
    * two threads could both pass `checkCas` and one manifest write would
    * silently vanish). Cross-process writers on a shared filesystem keep
    * the narrowed-not-closed window; closing it is the object store's
    * conditional-PUT / If-Match job, as `checkCas`'s scaladoc records. */
  private val commitLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def commitLock(root: String): Object =
    commitLocks.computeIfAbsent(root, _ => new Object)

  /** `slice`: record (or at creation, set) the table's slicing expression
    * — SQL text over the table's columns; `None` INHERITS the previous
    * generation's (slicing is standing layout policy, and an INSERT
    * OVERWRITE must not silently drop it). `clearSlice = true` makes
    * `slice` authoritative instead — `None` then records NO slicing
    * expression (RESTORE to a pre-slicing generation must restore its
    * absence, not inherit the current one).
    *
    * `expectedChecks`: the CHECK-constraint set the caller VALIDATED its
    * rows against (pass `Some(Map.empty)` when the table had none —
    * skipping the guard on an empty read is exactly the hole that lets a
    * concurrent ADD CONSTRAINT join unproven rows); `None` only for
    * writers that re-state rows already proven (metadata-only commits
    * CAS-guarded by `expectedGen`, TRUNCATE, row-removal). */
  def commitReplace(spark: SparkSession, root: String, dirs: Seq[String],
      pruneDisplaced: Boolean = true,
      stats: Map[String, Seq[ColStats]] = Map.empty,
      expectedGen: Option[Long] = None,
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      op: String = "replace",
      dvs: Map[String, String] = Map.empty,
      slice: Option[String] = None,
      checks: Option[Map[String, String]] = None,
      expectedChecks: Option[Map[String, String]] = None,
      clearSlice: Boolean = false,
      colmap: Option[Map[String, String]] = None,
      deadCols: Option[Seq[String]] = None): Manifest =
      commitLock(root).synchronized {
    // local dirs canonicalize to bare names; external (clone) refs stay
    val names = dirs.map(entryName(root))
    val prev = readManifest(spark, root)
    checkConstraintCas(root, prev.map(_.checks).getOrElse(Map.empty),
      expectedChecks)
    checkCas(root, prev, expectedGen)
    // schema is caller-asserted, never silently inherited: a full replace
    // may legitimately change the table's shape, and a stale schema line
    // would MASK new columns at read (explicit-schema reads only see
    // recorded columns). None → no schema line → mergeSchema fallback.
    // writer-txn state is PRESERVED through replaces: a compaction that
    // lands between a streaming commit and its checkpoint write must not
    // reopen the idempotence window for the replayed batch.
    // colmap/deadCols INHERIT by default (column mapping is standing
    // layout metadata, like the slicing expression); RESTORE / CLONE /
    // RENAME pass the target state explicitly.
    val m = Manifest(prev.map(_.gen + 1).getOrElse(1L), names,
      stats.map { case (d, cs) => entryName(root)(d) -> cs }, schema, Some(op),
      dvs.map { case (d, f) => entryName(root)(d) -> f },
      prev.map(_.txns).getOrElse(Map.empty),
      if (clearSlice) slice else slice.orElse(prev.flatMap(_.slice)),
      checks.getOrElse(prev.map(_.checks).getOrElse(Map.empty)),
      colmap.getOrElse(prev.map(_.colmap).getOrElse(Map.empty)),
      deadCols.getOrElse(prev.map(_.deadCols).getOrElse(Nil)))
    guardPhysicalNames(spark, root, m, prev.map(_.dirs.toSet).getOrElse(Set.empty))
    writeManifest(spark, root, m)
    if (pruneDisplaced) {
      // eager-prune mode: displaced dirs go away, so the older snapshots
      // that reference them would dangle — expire them in the same breath
      // (pruneDisplaced = false is the time-travel mode that keeps both).
      // Set membership: Seq.contains here is O(dirs^2) at high dir counts
      val f = fs(spark, root)
      val nameSet = names.toSet
      // EXTERNAL (shallow-clone) references are never deleted — the
      // clone doesn't own them; the source table's retention does
      prev.foreach(_.dirs.filterNot(nameSet)
        .filterNot(isExternal(root, _)).foreach { d =>
          f.delete(new Path(root, d), true)
        })
      // displaced deletion-vector files go with their generation; DV
      // "files" are single-part parquet DIRECTORIES (deleteWhere writes
      // them via coalesce(1).write.parquet), so the delete must be
      // recursive — the same contract expireSnapshots and pruneOrphans
      // already apply to them
      prev.foreach(_.dvs.values.toSeq.distinct
        .filterNot(m.dvs.values.toSet)
        .filterNot(isExternal(root, _)).foreach { v =>
          f.delete(new Path(root, v), true)
        })
      snapshotGens(spark, root).filter(_ < m.gen).foreach { g =>
        f.delete(snapshotPath(root, g), false)
        resolveCache.remove(cacheKey(root, g)) // expired gens must not resolve
      }
    }
    m
  }

  /** REBASING replace-family commit (the public Delta-style logical
    * conflict reconciliation): the commit is described as a DELTA against
    * the generation the writer READ (`base`), not as an absolute dir set,
    * so a concurrent commit landing in between no longer dooms it — the
    * delta is re-applied ("rebased") onto the CURRENT generation when the
    * two provably commute. The reference never surfaces this because
    * ClickHouse merges parts server-side; an optimistic-concurrency
    * lakehouse must reconcile or it serializes every writer through
    * caller-side retries (`tools/ingest_runner.py`'s swap has the same
    * blindness — any interleaved write wins or loses wholesale).
    *
    *   - `displaced`: dirs this commit consumes (leave the live set);
    *   - `added` (+ `addedStats`): new immutable dirs it installs;
    *   - `dvUpdates`: deletion-vector (re)points on surviving dirs;
    *   - `pinned`: every dir whose CONTENT the writer read — the commit's
    *     read set. Rebase requires each pinned dir to still be live with
    *     an UNCHANGED deletion vector (a concurrent rewrite/delete of a
    *     dir we read means our outputs were derived from stale rows);
    *   - `disjoint(dir, stats)`: proof obligation for dirs ADDED
    *     concurrently — true when the new dir provably holds no row this
    *     commit's logical predicate touches (merge/delete pass a
    *     stats-range check on the key column; row-preserving re-layouts
    *     like OPTIMIZE/compaction pass `AlwaysDisjoint`, since appends
    *     commute with them by construction).
    *
    * When every check passes, the final live set is the CURRENT
    * generation's dirs minus `displaced` plus `added` — concurrent
    * appends' dirs, stats, and DV repoints on non-pinned dirs all carry
    * through. Irreconcilable interleaves (pinned dir rewritten, possibly-
    * overlapping concurrent dir, concurrent schema change) throw
    * [[ConcurrentCommitException]]: the caller re-reads and re-runs the
    * whole operation — correctness never depends on the rebase firing.
    *
    * Serializability argument: rebasing commit C over concurrent commit
    * K yields the state of serial K→C whenever C's read set is untouched
    * by K (pinned checks) and K's additions are outside C's predicate
    * (disjoint check) — under those conditions C's outputs are identical
    * in both orders, so the grafted manifest IS the serial result.
    * History (`pruneDisplaced = false` semantics — rebasing callers all
    * retain snapshots) and writer-txn state follow the current
    * generation. */
  val AlwaysDisjoint: (String, Seq[ColStats]) => Boolean = (_, _) => true

  /** `statUpdates` re-states the stats of SURVIVING dirs (the DV-dead
    * counter rides a dv repoint this way); such dirs must be in
    * `pinned` — the rebase check that their content and dv are
    * unchanged is what keeps a re-stated stat truthful. */
  def commitReconciled(spark: SparkSession, root: String,
      base: Manifest,
      displaced: Seq[String],
      added: Seq[String],
      addedStats: Map[String, Seq[ColStats]] = Map.empty,
      dvUpdates: Map[String, String] = Map.empty,
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      op: String = "replace",
      pinned: Set[String] = Set.empty,
      disjoint: (String, Seq[ColStats]) => Boolean = AlwaysDisjoint,
      statUpdates: Map[String, Seq[ColStats]] = Map.empty,
      expectedChecks: Option[Map[String, String]] = None): Manifest =
      commitLock(root).synchronized {
    def name(d: String) = entryName(root)(d)
    val dispN = displaced.map(name).toSet
    val addN = added.map(name)
    val cur = readManifest(spark, root).getOrElse(throw new IllegalStateException(
      s"$root: commitReconciled on a table with no manifest"))
    checkConstraintCas(root, cur.checks, expectedChecks)
    if (cur.gen != base.gen) {
      // ---- rebase path: verify the delta commutes with what interleaved
      // (set-indexed lookups: a full-rewrite op pins EVERY dir, so
      // Seq.contains would make this loop O(dirs^2) at high dir counts)
      if (cur.tableSchema.map(_.json) != base.tableSchema.map(_.json))
        throw new ConcurrentCommitException(
          s"$root: schema changed concurrently (gen ${base.gen} -> ${cur.gen}); " +
            "re-read and retry")
      val curSet = cur.dirs.toSet
      val baseSet = base.dirs.toSet
      (pinned.map(name(_)) ++ dispN).foreach { d =>
        if (!curSet.contains(d))
          throw new ConcurrentCommitException(
            s"$root: dir $d in this commit's read set was rewritten by a " +
              s"concurrent commit (gen ${base.gen} -> ${cur.gen}); re-read and retry")
        if (cur.dvs.get(d) != base.dvs.get(d))
          throw new ConcurrentCommitException(
            s"$root: dir $d in this commit's read set had its deletion " +
              "vector repointed concurrently; re-read and retry")
      }
      cur.dirs.filterNot(baseSet).foreach { d =>
        if (!disjoint(d, cur.stats.getOrElse(d, Nil)))
          throw new ConcurrentCommitException(
            s"$root: concurrently-added dir $d cannot be proven disjoint " +
              "from this commit's predicate; re-read and retry")
      }
    }
    val m = Manifest(
      cur.gen + 1,
      cur.dirs.filterNot(dispN) ++ addN,
      (cur.stats -- dispN) ++ addedStats.map { case (d, cs) => name(d) -> cs } ++
        statUpdates.map { case (d, cs) => name(d) -> cs },
      schema,
      Some(op),
      (cur.dvs -- dispN) ++ dvUpdates.map { case (d, f) => name(d) -> f },
      cur.txns, cur.slice, cur.checks, cur.colmap, cur.deadCols)
    guardPhysicalNames(spark, root, m, cur.dirs.toSet)
    writeManifest(spark, root, m, Some(cur))
    m
  }

  /** Snapshot retention: keep the newest `keepLast` generations (always
    * including the current pointer), delete older snapshot files, then
    * delete data dirs referenced ONLY by the expired generations. Dirs in
    * any retained generation survive; dirs in NO generation (an in-flight
    * writer's uncommitted dir) are not this method's business — that is
    * `pruneOrphans`' freshness-guarded job. Returns deleted paths. */
  def expireSnapshots(spark: SparkSession, root: String,
      keepLast: Int = 2, dryRun: Boolean = false): Seq[String] = {
    require(keepLast >= 1, "must retain at least the current generation")
    expireWhere(spark, root, keepLast,
      (_, _) => true, dryRun) // count-based: everything beyond keepLast expires
  }

  /** TIME-based retention (the public `RETAIN N HOURS` / TTL shape):
    * expire generations whose record is older than `maxAgeMs` by file
    * mtime, always keeping at least the newest `keepLast` however old.
    * Count-based [[expireSnapshots]] is this with an always-true age
    * test; both share the checkpoint-materialization discipline. */
  def expireSnapshotsOlderThan(spark: SparkSession, root: String,
      maxAgeMs: Long, keepLast: Int = 1,
      dryRun: Boolean = false): Seq[String] = {
    require(keepLast >= 1, "must retain at least the current generation")
    val cutoff = System.currentTimeMillis() - maxAgeMs
    expireWhere(spark, root, keepLast, (f, p) =>
      f.getFileStatus(p).getModificationTime < cutoff, dryRun)
  }

  private def expireWhere(spark: SparkSession, root: String, keepLast: Int,
      expiresToo: (org.apache.hadoop.fs.FileSystem, Path) => Boolean,
      dryRun: Boolean = false): Seq[String] =
      commitLock(root).synchronized {
    // the commit lock serializes the sweep against same-process commits
    // (an eager-prune replace deleting records this sweep is reading) —
    // cross-process readers are covered by readManifest's bounded retry
    val gens = snapshotGens(spark, root)
    if (gens.isEmpty) return Nil
    val fsys = fs(spark, root)
    val (candidates, keptTail) = gens.splitAt(math.max(0, gens.size - keepLast))
    // age test applies to a PREFIX only: expiring gen G but keeping an
    // OLDER gen would leave history with holes the delta-chain and
    // readAt contracts don't model, so the first too-young gen ends the
    // expired prefix
    val expired = candidates.takeWhile(g =>
      expiresToo(fsys, snapshotPath(root, g)))
    val kept = candidates.drop(expired.size) ++ keptTail
    if (expired.isEmpty) return Nil
    val keptMs = kept.flatMap(g => readManifestAt(spark, root, g)) ++
      readManifest(spark, root).toSeq
    val keptDirs = keptMs.flatMap(_.dirs).toSet
    val keptDvs = keptMs.flatMap(_.dvs.values).toSet
    val f = fs(spark, root)
    val expiredMs = expired.flatMap(g => readManifestAt(spark, root, g))
    // external (shallow-clone) references are not this table's to delete
    val deadDirs = expiredMs.flatMap(_.dirs).distinct
      .filterNot(keptDirs.contains).filterNot(isExternal(root, _))
    val deadDvs = expiredMs.flatMap(_.dvs.values).distinct
      .filterNot(keptDvs.contains).filterNot(isExternal(root, _))
    // the oldest RETAINED generation must stay self-contained: if its
    // record is a delta, its chain reaches into the generations being
    // expired — materialize it as a full checkpoint (byte-different,
    // semantically identical; the resolve cache stays valid) BEFORE any
    // record it transitively depends on is deleted
    kept.headOption.filter(_ => !dryRun).foreach { g =>
      if (readRaw(spark, root, snapshotPath(root, g)).exists(_.deltaBase.isDefined))
        readManifestAt(spark, root, g).foreach { m =>
          // the record's mtime IS the generation's commit timestamp
          // (commitTimestamps / TIMESTAMP AS OF) — materializing the
          // checkpoint must not re-date the commit to sweep time, which
          // would collapse every retained generation's instant (the
          // monotonic adjustment propagates) and break timestamp travel
          // for the whole retained window
          val p = snapshotPath(root, g)
          val mtime = f.getFileStatus(p).getModificationTime
          writeFileAtomic(spark, root, p, renderFull(m))
          f.setTimes(p, mtime, -1L)
        }
    }
    val deleted =
      expired.map(g => snapshotPath(root, g)) ++
        (deadDirs ++ deadDvs).map(new Path(root, _))
    // DRY RUN (the Delta VACUUM DRY RUN surface): report what WOULD go,
    // touch nothing — no deletes, and the oldest-kept checkpoint
    // materialization above is skipped too (a preview must not write)
    if (dryRun) return deleted.map(_.toString)
    deleted.foreach(p => f.delete(p, true))
    expired.foreach(g => resolveCache.remove(cacheKey(root, g))) // must not resolve
    deleted.map(_.toString)
  }

  /** ReplacingMergeTree INSERT analogue: add one delta dir to the live
    * set (existing dirs keep their stats). */
  /** `txn = Some((writerId, version))` makes the append IDEMPOTENT: if
    * this writer already committed this (or a later) version, the call
    * is a no-op — the staged `dir` is deleted and the CURRENT manifest
    * returned unchanged. A checkpointed streaming sink passes its
    * checkpoint path as writerId and the micro-batch id as version, so
    * a crash-replay of a committed batch cannot double-append. */
  def commitAppend(spark: SparkSession, root: String, dir: String,
      stats: Seq[ColStats] = Nil,
      expectedGen: Option[Long] = None,
      op: String = "append",
      txn: Option[(String, Long)] = None,
      expectedChecks: Option[Map[String, String]] = None,
      schema: Option[org.apache.spark.sql.types.StructType] = None): Manifest =
    commitAppendMulti(spark, root, Seq(dir -> stats), expectedGen, op,
      txn, expectedChecks, schema)

  /** Multi-dir append in ONE generation — the sliced-write shape of
    * [[commitAppend]]: a batch that `writeSliced` laid out as N slice
    * dirs commits atomically (a reader never sees a partial batch), the
    * writer-txn ledger covers the WHOLE batch (a crash-replay after this
    * commit drops every staged dir, not just one), and history stays one
    * generation per logical write instead of N. */
  def commitAppendMulti(spark: SparkSession, root: String,
      dirs: Seq[(String, Seq[ColStats])],
      expectedGen: Option[Long] = None,
      op: String = "append",
      txn: Option[(String, Long)] = None,
      expectedChecks: Option[Map[String, String]] = None,
      // VOID-FILLING only: recorded iff the table has no schema yet
      // (the first append to a fresh table — e.g. a rollup's first
      // state part). A recorded schema always wins; appends never
      // change schema. Spares every later read the mergeSchema footer
      // sweep a schemaless table pays (r19).
      schema: Option[org.apache.spark.sql.types.StructType] = None): Manifest =
      commitLock(root).synchronized {
    val prev = readManifest(spark, root)
    // the txn replay check runs FIRST: a replayed batch's rows are
    // ALREADY committed (and were re-validated by any constraint ADDed
    // since — setCheck scans existing rows), so absorbing it as a no-op
    // is correct under any constraint set; failing its CAS would turn a
    // routine crash-replay into a spurious conflict
    txn.foreach { case (writer, ver) =>
      prev.foreach { p =>
        if (p.txns.get(writer).exists(_ >= ver)) {
          // replayed batch: drop every staged dir, serve the current gen
          dirs.foreach { case (d, _) => fs(spark, root).delete(new Path(d), true) }
          return p
        }
      }
    }
    checkConstraintCas(root, prev.map(_.checks).getOrElse(Map.empty),
      expectedChecks)
    checkCas(root, prev, expectedGen)
    val named = dirs.map { case (d, cs) => entryName(root)(d) -> cs }
    // appends inherit the recorded schema: an append adds rows, not
    // columns (schema-changing writes go through commitReplace/merge)
    val m = Manifest(
      prev.map(_.gen + 1).getOrElse(1L),
      prev.map(_.dirs).getOrElse(Nil) ++ named.map(_._1),
      prev.map(_.stats).getOrElse(Map.empty) ++
        named.collect { case (n, cs) if cs.nonEmpty => n -> cs },
      prev.flatMap(_.tableSchema).orElse(schema), Some(op),
      prev.map(_.dvs).getOrElse(Map.empty),
      prev.map(_.txns).getOrElse(Map.empty) ++ txn,
      prev.flatMap(_.slice),
      prev.map(_.checks).getOrElse(Map.empty),
      prev.map(_.colmap).getOrElse(Map.empty),
      prev.map(_.deadCols).getOrElse(Nil))
    guardPhysicalNames(spark, root, m, prev.map(_.dirs.toSet).getOrElse(Set.empty))
    writeManifest(spark, root, m, prev)
    m
  }

  /** Commit provenance over the RETAINED history (DESCRIBE HISTORY,
    * from the public Delta/Iceberg idea): one row per retained
    * generation — operation label, live-dir count, and the dir-level
    * delta vs the previous retained generation. Footer-free: reads only
    * the small snapshot manifests, never data. Expired generations are
    * simply absent (their window of dirs-added/removed is folded into
    * the oldest retained step's `dirs_added` being vs-nothing). */
  def history(spark: SparkSession, root: String): DataFrame = {
    val gens = snapshotGens(spark, root)
    val ms = gens.flatMap(g => readManifestAt(spark, root, g))
    val rows = ms.zipWithIndex.map { case (m, i) =>
      val prevDirs: Set[String] =
        if (i == 0) Set.empty else ms(i - 1).dirs.toSet
      val curDirs = m.dirs.toSet // Seq.contains would be O(dirs^2) per step
      org.apache.spark.sql.Row(
        m.gen, m.op.getOrElse(""), m.dirs.size,
        m.dirs.count(!prevDirs.contains(_)).toLong,
        prevDirs.count(d => !curDirs.contains(d)).toLong,
        m.tableSchema.isDefined)
    }
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        java.util.Arrays.asList(rows: _*)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("gen",
          org.apache.spark.sql.types.LongType, false),
        org.apache.spark.sql.types.StructField("operation",
          org.apache.spark.sql.types.StringType, false),
        org.apache.spark.sql.types.StructField("n_dirs",
          org.apache.spark.sql.types.IntegerType, false),
        org.apache.spark.sql.types.StructField("dirs_added",
          org.apache.spark.sql.types.LongType, false),
        org.apache.spark.sql.types.StructField("dirs_removed",
          org.apache.spark.sql.types.LongType, false),
        org.apache.spark.sql.types.StructField("schema_recorded",
          org.apache.spark.sql.types.BooleanType, false))))
  }

  /** A concurrent writer committed since this writer read the table —
    * the optimistic-concurrency conflict (re-read, re-validate, retry). */
  final class ConcurrentCommitException(msg: String)
      extends RuntimeException(msg)

  /** Optimistic concurrency: the caller's `expectedGen` (the generation
    * it READ before staging its write; None/0 = expects a fresh table)
    * must still be current at commit time. Locally this is check-then-
    * rename — a narrowed, not closed, race window; on an object store
    * the manifest PUT carries If-Match on the read ETag, which closes it
    * (the single-mutable-file design exists exactly so the store's
    * conditional write can arbitrate writers). */
  /** A writer that VALIDATED its rows against one constraint set must
    * not commit under another — a concurrent ADD CONSTRAINT between the
    * writer's read and its commit would otherwise land rows no one
    * proved (the same class of conflict as a concurrent schema change).
    * Callers pass the checks they enforced; None skips the guard
    * (non-enforcing internal writers). */
  private def checkConstraintCas(root: String, current: Map[String, String],
      expected: Option[Map[String, String]]): Unit =
    expected.foreach { e =>
      if (e != current) throw new ConcurrentCommitException(
        s"$root: CHECK constraints changed concurrently (validated " +
          s"against ${e.keys.toSeq.sorted.mkString(",")}; table now has " +
          s"${current.keys.toSeq.sorted.mkString(",")}) — re-read and retry")
    }

  /** Under an active column mapping, every NEW local dir must carry
    * PHYSICAL names — a writer that missed [[toPhysicalNames]] would
    * otherwise land files whose mapped columns read as null (silent
    * data loss). One footer read per new dir, only when a mapping
    * exists; external (clone) refs are the source's responsibility. */
  private def guardPhysicalNames(spark: SparkSession, root: String,
      m: Manifest, prevDirs: Set[String]): Unit =
    if (m.colmap.exists { case (l, p) => l != p }) {
      val mappedLogical =
        m.colmap.collect { case (l, p) if l != p => l }.toSet
      m.dirs.filterNot(prevDirs).filterNot(isExternal(root, _)).foreach { d =>
        val cols = scala.util.Try(
          spark.read.parquet(dirAbs(root, d)).schema.fieldNames.toSeq)
          .getOrElse(Nil)
        val bad = cols.filter(mappedLogical)
        require(bad.isEmpty,
          s"$root: staged dir $d carries LOGICAL column name(s) " +
            s"${bad.mkString(", ")} under an active column mapping — " +
            "the writer must land physical names (route the write " +
            "through ManifestCommit.toPhysicalNames)")
      }
    }

  private def checkCas(root: String, prev: Option[Manifest],
      expectedGen: Option[Long]): Unit =
    expectedGen.foreach { eg =>
      val cur = prev.map(_.gen).getOrElse(0L)
      if (cur != eg)
        throw new ConcurrentCommitException(
          s"$root: expected generation $eg but found $cur — " +
            "a concurrent writer committed; re-read and retry")
    }

  /** Fixed-width canonical rendering for temporal stats values so the
    * lexicographic "str" comparison is exact: `LocalDateTime.toString`
    * DROPS zero seconds ("…T00:00"), which makes bound formatting a
    * correctness hazard (a mis-formatted bound could prune a dir that
    * holds matching rows). Timestamps always render
    * `uuuu-MM-dd'T'HH:mm:ss.SSS`; dates `uuuu-MM-dd`. Bounds passed to
    * `resolvePruned` for temporal columns should go through
    * [[temporalBound]] to get the identical rendering. */
  private val TsFormat =
    java.time.format.DateTimeFormatter.ofPattern("uuuu-MM-dd'T'HH:mm:ss.SSS")

  private def renderStatValue(v: Any): String = v match {
    case t: java.sql.Timestamp => t.toLocalDateTime.format(TsFormat)
    case t: java.time.LocalDateTime => t.format(TsFormat)
    case t: java.time.Instant =>
      java.time.LocalDateTime.ofInstant(t, java.time.ZoneOffset.UTC).format(TsFormat)
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case other => other.toString
  }

  /** Normalize a user-supplied temporal bound ("1996-01-01",
    * "1996-01-01T12:30", …) to the stats rendering. */
  def temporalBound(s: String): String = {
    val t = s.trim
    if (t.length == 10) s"${t}T00:00:00.000"
    else java.time.LocalDateTime.parse(t).format(TsFormat)
  }

  /** Commit-time stats for `dir`: [[dirStatsBatch]]'s one-dir case (one
    * ungrouped aggregate pass over the just-written parquet). Columns
    * that come back all-null (including the empty-dir case) carry no
    * min/max: no stats = never pruned, the safe default. */
  def dirStats(spark: SparkSession, dir: String,
      cols: Seq[String],
      colmap: Map[String, String] = Map.empty,
      // PHYSICAL on-disk schema, when the caller knows it (a writer
      // metering its own output, a rewrite loop over a schema-carrying
      // manifest): skips parquet schema INFERENCE — a distributed
      // footer-read job per call on the default path (r19). None keeps
      // the inferring read for callers without one.
      schema: Option[org.apache.spark.sql.types.StructType] = None): Seq[ColStats] =
    dirStatsBatch(spark, Seq(dir), cols, colmap, schema)(dir)

  /** A stat "column" may be a plain column name OR a slice-component
    * EXPRESSION text (`pmod(hash(domain), 4)` — [[sliceExprStatCols]]):
    * plain names resolve positionally (any character legal), expression
    * texts re-parse with `expr` against the frame's columns. */
  private def statCol(df: DataFrame, c: String): org.apache.spark.sql.Column =
    if (df.columns.contains(c)) df(c)
    else org.apache.spark.sql.functions.expr(c)

  /** The ONE stats aggregate every producer meters with: min, max and
    * NON-NULL count per real stat column (the count is what IS NULL
    * skipping, metadata COUNT(c) and predicate DML's no-nulls witness
    * read — see [[NullCountPrefix]]), then the row count that serves
    * [[RowCountStat]] (a PSEUDO-column no data column backs). `written`
    * restricts every aggregate to the rows that land in the dir (MERGE
    * meters its output, not the deleted rows it also passes through).
    * [[renderStats]] reads a row laid out this way. */
  private def statAggs(df: DataFrame, real: Seq[String],
      written: Option[org.apache.spark.sql.Column] = None)
      : Seq[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{count, lit, max, min, when}
    def w(c: org.apache.spark.sql.Column) = written.fold(c)(when(_, c))
    real.flatMap { c =>
      val v = w(statCol(df, c))
      Seq(min(v), max(v), count(v))
    } :+ count(w(lit(1)))
  }

  /** Stat value types, resolved analysis-only (no job). */
  private def statTypes(df: DataFrame, real: Seq[String])
      : Seq[org.apache.spark.sql.types.DataType] =
    real.map(c => df.select(statCol(df, c)).schema.head.dataType)

  /** The ONE stats renderer: the ColStats of one [[statAggs]] row (value
    * `i` of the layout at `v(i)`) for the request `cols`. Exact on-disk
    * bytes ride every metered dir (one driver-side content walk, no data
    * I/O — see [[BytesStat]]) only ALONGSIDE other stats, so an
    * empty/all-null dir keeps the "no stats = never pruned" shape; a
    * PSEUDO-ONLY request (statCols inherited from a dir whose only
    * recorded stat is __bytes) serves the byte meter alone. */
  private def renderStats(cols: Seq[String],
      dts: Seq[org.apache.spark.sql.types.DataType], v: Int => Any,
      bytes: => ColStats): Seq[ColStats] = {
    def num(c: String, n: Any) = ColStats(c, "num", n.toString, n.toString)
    val real = cols.filterNot(isPseudoStat)
    val base = real.indices.flatMap { i =>
      colStatsOf(real(i), dts(i), v(3 * i), v(3 * i + 1)).toSeq :+
        num(nnStat(real(i)), v(3 * i + 2))
    } ++ (if (cols.contains(RowCountStat)) Seq(num(RowCountStat, v(3 * real.size)))
          else Nil)
    if (base.nonEmpty || cols.contains(BytesStat)) base :+ bytes else Nil
  }

  /** One ColStats from aggregated min/max values, rendered canonically
    * (numeric columns compare as numbers, everything else — dates and
    * timestamps in the fixed rendering above — as strings). None when
    * either bound is null (all-null column / empty dir) — no stats =
    * never pruned, the safe default. */
  private[ingest] def colStatsOf(name: String,
      dt: org.apache.spark.sql.types.DataType,
      mn: Any, mx: Any): Option[ColStats] =
    if (mn == null || mx == null) None
    else {
      val kind = dt match {
        case _: org.apache.spark.sql.types.NumericType => "num"
        case _ => "str"
      }
      Some(ColStats(name, kind, renderStatValue(mn), renderStatValue(mx)))
    }

  /** Write `df` to `dir` (physical-named under the table's column
    * mapping) with the per-dir stats metered ON the write pass itself
    * via `observe` — no read-back of the bytes just written (at 100 TB
    * an INSERT would pay double I/O, and locally ~3 extra
    * scheduler-latency jobs). Stats are observed on the LOGICAL frame,
    * so keys come out logical with no colmap back-rename. `cols` may
    * include [[RowCountStat]] and [[BytesStat]]. */
  def writeDirWithStats(spark: SparkSession, root: String, df: DataFrame,
      dir: String, cols: Seq[String]): Seq[ColStats] =
    writeDirWithStats(spark, root, df, dir, cols, None, Nil)._1

  /** The full observe-on-write producer: only the rows `written` keeps
    * land in `dir` and are metered; every row of `df` feeds `counters`
    * (aggregate columns, returned by alias), all on the one write pass.
    * Engine helper columns (`__graft_` prefix) never land in `dir`. */
  private[ingest] def writeDirWithStats(spark: SparkSession, root: String,
      df: DataFrame, dir: String, cols: Seq[String],
      written: Option[org.apache.spark.sql.Column],
      counters: Seq[org.apache.spark.sql.Column])
      : (Seq[ColStats], Map[String, Any]) = {
    val real = cols.filterNot(isPseudoStat)
    val aggs = statAggs(df, real, written).zipWithIndex
      .map { case (a, i) => a.as(s"__stat$i") } ++ counters
    val obs = org.apache.spark.sql.Observation()
    val observed = df.observe(obs, aggs.head, aggs.tail: _*)
    val out = written.fold(observed)(observed.filter)
    toPhysicalNames(spark, root,
      out.drop(df.columns.filter(_.startsWith("__graft_")).toSeq: _*))
      .write.parquet(dir)
    val row = obs.get
    (renderStats(cols, statTypes(df, real), i => row(s"__stat$i"),
      dirBytesStat(spark, dir)), row)
  }

  /** Per-dir stats for MANY dirs in ONE aggregate pass — the ONE
    * read-back producer. Several dirs group on the owning dir's basename
    * via `input_file_name()` (rewrite loops: zorder promotion,
    * REPLACE-WHERE survivors, sliced writes): N dirs cost one scan + one
    * exchange instead of N schema-inference jobs + N aggregates, a pure
    * driver-latency wall at high dir counts. One dir is an ungrouped
    * aggregate ([[dirStats]]). Callers must pass dirs written by the
    * SAME writer (one schema) — the single parquet read resolves one
    * schema for all of them. Under a column mapping the dirs carry
    * PHYSICAL names while `cols` are logical — the frame is projected
    * back before aggregating so stat keys stay logical. A dir missing
    * from the grouped result (empty dir, or a basename-extraction
    * surprise) falls back to its own one-dir pass — correctness of the
    * stats contract over speed. */
  def dirStatsBatch(spark: SparkSession, dirs: Seq[String],
      cols: Seq[String],
      colmap: Map[String, String] = Map.empty,
      // PHYSICAL on-disk schema when known (see [[dirStats]]): the
      // default inferring read costs a distributed footer-read job
      // (one task per file) before the aggregate — pure scheduler
      // latency the caller usually already paid to write those bytes.
      schema: Option[org.apache.spark.sql.types.StructType] = None): Map[String, Seq[ColStats]] = {
    import org.apache.spark.sql.functions.{element_at, input_file_name, split}
    if (dirs.isEmpty) return Map.empty
    val real = cols.filterNot(isPseudoStat)
    // a pseudo-only request reads no data
    if (real.isEmpty && !cols.contains(RowCountStat))
      return dirs.map(d => d -> renderStats(cols, Nil, _ => null,
        dirBytesStat(spark, d))).toMap
    val df0 = schema match {
      case Some(s) => spark.read.schema(s).parquet(dirs: _*)
      case None => spark.read.parquet(dirs: _*)
    }
    val df = colmap.foldLeft(df0) { case (d, (log, phys)) =>
      if (log != phys) d.withColumnRenamed(phys, log) else d
    }
    val aggs = statAggs(df, real)
    val dts = statTypes(df, real)
    def render(d: String, r: org.apache.spark.sql.Row, at: Int) =
      d -> renderStats(cols, dts, i => r.get(at + i), dirBytesStat(spark, d))
    if (dirs.size == 1)
      return Map(render(dirs.head, df.agg(aggs.head, aggs.tail: _*).collect()(0), 0))
    // basenames are globally unique (newDataDir embeds a UUID) — the
    // group key needs no root-path normalization
    val byName = dirs.map(d => new org.apache.hadoop.fs.Path(d).getName -> d).toMap
    val grouped = df
      .groupBy(element_at(split(input_file_name(), "/"), -2).as("__dir"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
      .flatMap(r => byName.get(r.getString(0)).map(render(_, r, 1)))
      .toMap
    grouped ++ dirs.filterNot(grouped.contains).map { d =>
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"dirStatsBatch: dir $d missed the grouped key — metering it " +
          "with its own per-dir pass")
      d -> dirStats(spark, d, cols, colmap, schema)
    }
  }

  /** SQL text of a slicing Column, for recording in the manifest
    * (`commitReplace(slice = Some(...))`); writers that later receive an
    * arbitrary row set (SQL INSERT) re-derive the Column with `expr(...)`
    * against their own frame — name-resolved, so it survives the round
    * trip as long as it references only table columns. */
  def sliceSql(c: org.apache.spark.sql.Column): String =
    org.apache.spark.sql.graftbridge.ColumnBridge.expression(c).sql

  /** COMPOSITE slicing (Iceberg's multi-transform partition spec, e.g.
    * `PARTITIONED BY (days(ts), bucket(4, domain))`): the component
    * expressions compose into ONE slicing expression —
    * `concat_ws('|', c1, c2, …)` — so the whole manifest machinery
    * (one dir per distinct slice value, slice-tight stats, rebase,
    * RESTORE) is unchanged; only stats metering and pruning need to see
    * the components individually. These two functions are exact
    * inverses for the texts [[compositeSlice]] produces. */
  def compositeSlice(components: Seq[String]): String =
    s"concat_ws('|', ${components.mkString(", ")})"

  /** The component expressions of a slicing text: the `concat_ws('|',…)`
    * arguments split at top-level commas for a composite slice, the text
    * itself otherwise. */
  def sliceComponents(slice: String): Seq[String] = {
    val t = slice.trim
    val Prefix = "concat_ws('|', "
    if (!(t.startsWith(Prefix) && t.endsWith(")"))) return Seq(slice)
    val inner = t.substring(Prefix.length, t.length - 1)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var depth = 0; var start = 0; var inStr = false
    var i = 0
    while (i < inner.length) {
      inner.charAt(i) match {
        case '\'' => inStr = !inStr
        case '(' if !inStr => depth += 1
        case ')' if !inStr => depth -= 1
        case ',' if !inStr && depth == 0 =>
          out += inner.substring(start, i).trim; start = i + 1
        case _ => ()
      }
      i += 1
    }
    out += inner.substring(start).trim
    out.toSeq
  }

  /** Component expressions worth their OWN per-dir stats entry — the
    * non-identity components (an identity component's pruning rides the
    * column's ordinary min/max stats). Within one sliced dir every
    * component is CONSTANT (the dir is one distinct composite value), so
    * each costs one min/max pair in the shared aggregate pass and gives
    * EXACT dimension pruning (min == max == the dir's partition value —
    * the Iceberg per-file partition-tuple idea through the ordinary
    * stats channel, no format change). */
  def sliceExprStatCols(slice: String, fieldNames: Seq[String]): Seq[String] =
    sliceComponents(slice)
      .filterNot(c => fieldNames.exists(_.equalsIgnoreCase(c)))

  private val BucketComponent = """pmod\(hash\((\w+)\), (\d+)\)""".r

  /** Stats bounds a point predicate implies on BUCKET slice components:
    * `domain = v` against a slice component `pmod(hash(domain), n)`
    * pins that component to `pmod(hash(v), n)` — evaluated here with
    * the same Catalyst Murmur3 hash the write side used, so the bound
    * compares exactly against the recorded component stat.
    *
    * TYPE-EXACT by coercion, not assumption: Murmur3 is width-sensitive
    * (hash(5: int) != hash(5L)), and while the ANALYZED SQL path always
    * hands over literals of the column's own type (the analyzer casts
    * mismatches, and a cast wrapper extracts no point), the programmatic
    * DML path (`deleteRows(col("k") === 5)`) extracts from UNRESOLVED
    * expressions where the literal keeps whatever width the caller
    * typed. `colType` (the table schema's type for a column) drives a
    * lossless coercion of the literal to the column's type before
    * hashing; a value that cannot be represented exactly — or an
    * unknown column — contributes NO bound (skipping stays an
    * optimization, never a wrong filter). */
  /** LOSSLESS coercion of a caller-typed probe value to the COLUMN's own
    * type — shared by bucket-component pinning and bloom probing, both
    * of which are TYPE-SENSITIVE (Murmur3 is width-sensitive; a bloom
    * built from a long column answers `mightContainLong`, so probing it
    * with the String "1" reads false and would WRONGLY prune the owning
    * dir — the skipping-as-filter failure mode). The analyzed SQL path
    * always hands over literals of the column's type, but programmatic
    * DML (`deleteRows(col("k").isin("1", "2"))`) extracts from
    * UNRESOLVED expressions where the literal keeps whatever the caller
    * typed. A value that cannot be represented exactly — numeric string
    * to integral included (SQL coerces `longcol = '1'` to a numeric
    * compare) — or an unknown column yields None: the caller SKIPS the
    * probe, dirs stay, correctness is untouched. */
  def coerceExact(v: Any, dt: org.apache.spark.sql.types.DataType): Option[Any] = {
    import org.apache.spark.sql.types._
    def num(n: => BigDecimal): Option[BigDecimal] = scala.util.Try(n).toOption
    val asNum: Option[BigDecimal] = v match {
      case n: Number => num(BigDecimal(n.toString))
      case s: String => num(BigDecimal(s.trim))
      case _ => None
    }
    dt match {
      case StringType => v match {
        case s: String => Some(s)
        case _ => None // a bloom over strings never saw numeric probes
      }
      case LongType => asNum.filter(_.isValidLong).map(_.longValue)
      case IntegerType => asNum.filter(_.isValidInt).map(_.intValue)
      case ShortType => asNum.filter(_.isValidShort).map(_.shortValue)
      case ByteType => asNum.filter(_.isValidByte).map(_.byteValue)
      case _ => None
    }
  }

  def bucketBoundsOf(slice: Option[String], points: Seq[(String, Any)],
      colType: String => Option[org.apache.spark.sql.types.DataType])
      : Seq[(String, Option[String], Option[String])] = {
    def coerce(v: Any, dt: org.apache.spark.sql.types.DataType): Option[Any] =
      coerceExact(v, dt)
    slice.toSeq.flatMap(sliceComponents).flatMap {
      case comp @ BucketComponent(col, n) =>
        points.filter(_._1.equalsIgnoreCase(col)).flatMap { case (_, v) =>
          colType(col).flatMap(dt => coerce(v, dt)).map { cv =>
            val h = new org.apache.spark.sql.catalyst.expressions.Murmur3Hash(
              Seq(org.apache.spark.sql.catalyst.expressions.Literal(cv)))
              .eval(null).asInstanceOf[Int]
            val nn = n.toInt
            val b = ((h % nn) + nn) % nn
            (comp, Some(b.toString), Some(b.toString))
          }
        }
      case _ => Nil
    }
  }

  /** Write `df` as one immutable data dir per distinct value of `slice`
    * in a SINGLE write job (hive-style staging layout, then each
    * partition dir promoted to a `data_*` dir), with per-dir stats on
    * `statCols` read back in ONE grouped pass over the promoted dirs
    * ([[dirStatsBatch]]) — the setup that writes N key-range dirs costs
    * the same few jobs as one dir, not a pass per dir. `slice` must be
    * deterministic (a null value lands in its own dir). Returns
    * (absolute dir, stats) pairs ready for `commitReplace`. The
    * promotion is a local/HDFS rename; an object-store deployment
    * writes final dirs directly via its committer — the manifest
    * protocol above is unchanged. */
  def writeSliced(spark: SparkSession, root: String, df: DataFrame,
      slice: org.apache.spark.sql.Column,
      statCols: Seq[String]): Seq[(String, Seq[ColStats])] = {
    val staging =
      s"$root/._sliced_staging_${java.util.UUID.randomUUID().toString.take(8)}"
    // the slice value is computed over LOGICAL names, the files land
    // under PHYSICAL names (no-op without a column mapping).
    // HASH-DISTRIBUTE by slice before the partitioned write (Iceberg's
    // write.distribution-mode=hash, r19): without it every map task
    // writes a file into EVERY slice dir — M tasks × N slices small
    // files at scale, and a near-serial write when the input arrives in
    // few splits. One shuffle clusters each slice into one task → one
    // file per dir. The partition count is SIZE-ADAPTIVE from the
    // optimizer's estimate (driver-side, no job): a KB-sized delta
    // write must not pay a cores-wide shuffle of empty tasks, a
    // multi-GB write must not serialize through one — capped at the
    // cluster's cores, ~512 KB of ESTIMATED bytes per write task below
    // that (plan estimates are parquet file sizes, several× smaller
    // than the in-memory rows a write task processes). At scale the
    // cores cap dominates — the Iceberg hash-mode shape. Explicit count
    // because AQE would coalesce the whole staging write back to one
    // serial task at its 64 MB advisory size.
    val estBytes = scala.util.Try(
      df.queryExecution.optimizedPlan.stats.sizeInBytes
        .min(BigInt(Long.MaxValue)).toLong).getOrElse(Long.MaxValue)
    val nWrite = math.max(1, math.min(
      spark.sparkContext.defaultParallelism,
      (estBytes / (512L << 10) + 1L).toInt))
    val staged = toPhysicalNames(spark, root, df.withColumn("__slice", slice))
    staged
      .repartition(nWrite, org.apache.spark.sql.functions.col("__slice"))
      .write.partitionBy("__slice").parquet(staging)
    // the promoted dirs' on-disk schema is the staged frame's minus the
    // partition column — known here, so the stats read-back below skips
    // schema inference (a one-task-per-file footer job at high dir/file
    // counts, pure scheduler latency on every sliced write)
    val stagedSchema = org.apache.spark.sql.types.StructType(
      staged.schema.fields.filterNot(_.name == "__slice"))
    val dirColmap = readManifest(spark, root).map(_.colmap).getOrElse(Map.empty)
    val f = fs(spark, root)
    val parts = f.listStatus(new Path(staging)).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("__slice="))
      .sortBy(_.getPath.getName)
    val newDirs = parts.map { st =>
      val d = newDataDir(root)
      f.rename(st.getPath, new Path(d))
      d
    }
    f.delete(new Path(staging), true)
    // Per-dir stats in ONE read-back grouped pass over the promoted
    // dirs (r19, [[dirStatsBatch]]). The previous shape re-aggregated
    // the SOURCE frame grouped by the slice's cast-to-string rendering:
    // that recomputed the input lineage a SECOND time (for a sliced
    // MERGE rewrite, the whole join — a doubled pass at any scale) and
    // matched dirs by hive-escaped value rendering, a seam that needed
    // its own unescape rules and a warned per-dir fallback. The
    // read-back scans only the just-written bytes and keys on dir
    // BASENAMES — rendering-proof by construction.
    val statsOf = dirStatsBatch(spark, newDirs, statCols, colmap = dirColmap,
      schema = Some(stagedSchema))
    newDirs.map(d => d -> statsOf(d))
  }

  /** Hive's directory name for a null partition value. */
  private[ingest] val NullSliceDir = "__HIVE_DEFAULT_PARTITION__"

  /** Decode one hive dir-name VALUE: percent-unescape, the null marker
    * → null. The single definition every consumer of hive-rendered
    * values shares — stats keys (writeSliced), grouped-convert keys and
    * per-dir injection values must agree byte-for-byte, so the decoding
    * rules live in exactly one place. */
  private[graft] def unescapeSegValue(raw: String): String =
    if (raw == NullSliceDir) null
    else org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .unescapePathName(raw)

  /** The decoded value of each `k=v` segment of a hive suffix (one per
    * partition level, in path order). */
  private[graft] def unescapeSuffixValues(sfx: String): Seq[String] =
    sfx.split('/').toSeq.map(seg =>
      unescapeSegValue(seg.drop(seg.indexOf('=') + 1)))

  /** Data-skipping resolve: live dirs whose `col` stats can overlap
    * [lo, hi] (either bound optional). Dirs without stats for `col` are
    * kept — skipping is an optimization, never a filter; callers still
    * apply the real predicate. Returns (kept absolute paths, total live
    * dirs) so callers can surface the pruning ratio.
    *
    * Raw-path contract, ENFORCED: a kept dir carrying a deletion vector
    * cannot be served as a raw path (reading it directly would resurrect
    * deleted rows), so this throws `IllegalStateException` on that case —
    * use [[readPruned]] (DV-aware DataFrame) or [[readDirsOf]] instead.
    * Same enforcement in [[resolveBloom]] and
    * `Optimize.resolvePrunedMulti`. */
  def resolvePruned(spark: SparkSession, root: String, col: String,
      lo: Option[String], hi: Option[String]): (Seq[String], Int) =
    readManifest(spark, root) match {
      case Some(m) =>
        val kept = prunedNames(m, col, lo, hi)
        requireNoDvs(m, kept, "resolvePruned")
        (kept.map(dirAbs(root, _)), m.dirs.size)
      case None => (Seq(root), 1)
    }

  private def prunedNames(m: Manifest, col: String,
      lo: Option[String], hi: Option[String]): Seq[String] =
    m.dirs.filter { d =>
      m.stats.getOrElse(d, Nil).find(_.col == col).forall(_.overlaps(lo, hi))
    }

  private[ingest] def requireNoDvs(m: Manifest, kept: Seq[String],
      who: String): Unit = {
    val dvd = kept.filter(m.dvs.contains)
    if (dvd.nonEmpty) throw new IllegalStateException(
      s"$who: kept dirs ${dvd.mkString(",")} carry deletion vectors; " +
        "reading their raw paths would resurrect deleted rows — use the " +
        "DV-aware readPruned/readBloom/readDirsOf instead")
  }

  /** DV-safe data-skipping read: [[resolvePruned]]'s kept set, read
    * through the manifest so deletion vectors and the recorded schema
    * apply. Returns (frame, kept dirs, total live dirs). */
  def readPruned(spark: SparkSession, root: String, col: String,
      lo: Option[String], hi: Option[String]): (DataFrame, Int, Int) =
    readManifest(spark, root) match {
      case Some(m) =>
        val kept = prunedNames(m, col, lo, hi)
        (readDirsOf(spark, root, m, kept), kept.size, m.dirs.size)
      case None =>
        (spark.read.option("mergeSchema", "true").parquet(root), 1, 1)
    }

  /** Pseudo-column carrying a dir's exact ROW COUNT through the ordinary
    * stats channel (min == max == count; no format change, old parsers
    * indifferent). Written at commit time, it makes `COUNT(*)` — the
    * single most common audit/BI probe — answerable from the manifest
    * alone: zero data I/O, zero footer reads, zero Spark jobs. */
  val RowCountStat = "__rows"

  /** Pseudo-column carrying a dv'd dir's exact DEAD-ROW count (the dv's
    * cardinality in rows of this dir): live = [[RowCountStat]] − this.
    * Recorded by the delete path at each dv (re)point, so COUNT(*)
    * stays manifest-only THROUGH merge-on-read deletes — the public
    * Delta/Iceberg numRecords + DV-cardinality idea. */
  val DvDeadStat = "__dv_dead"

  /** Pseudo-stat marking a HIVE-NESTED data dir (a `convertToGraft` of a
    * hive-partitioned layout moves each leaf dir WHOLE, so the dir holds
    * one `col=value/` subtree and the partition column lives in the path,
    * not the files): min == max == the dir's partition suffix
    * (`month=202401`). Readers group these dirs into their own scan —
    * Spark's native partition discovery serves the column — because one
    * scan mixing hive-nested and flat roots raises "conflicting
    * directory structures". Never inherited into rewrites: a rewrite
    * materializes the column into the files and the marker must die
    * with the nesting ([[PseudoStats]] membership does that). */
  val PartStat = "__part"

  /** Pseudo-stat carrying a dir's exact ON-DISK BYTE TOTAL (min == max ==
    * bytes of its data files). Metered at commit time by the writers
    * (one driver-side content walk per new immutable dir, paid once):
    * `GraftRelation.computeStats` serves `sum(__bytes)` as an EXACT
    * `sizeInBytes` — rows × schema defaultSize underestimates wide
    * string/binary corpora (the LLM-pipeline case) by 10×+ — and
    * OPTIMIZE's small-dir selection reads it instead of probing the
    * filesystem per dir. Old manifests without it fall back to the
    * estimate / the FS probe. Never inherited as a data stat column. */
  val BytesStat = "__bytes"

  /** One [[BytesStat]] entry for a freshly written dir (driver-side
    * content summary — no Spark job, no data read). */
  def dirBytesStat(spark: SparkSession, dir: String): ColStats = {
    val p = new Path(dir)
    val len = fs(spark, dir).getContentSummary(p).getLength
    ColStats(BytesStat, "num", len.toString, len.toString)
  }

  /** Exact live-table byte total: Some(sum) when EVERY live dir carries
    * a [[BytesStat]] — else None (old manifests, partial coverage) and
    * the caller estimates. DV'd dirs count their FULL bytes (the files
    * are what a scan reads; conservative for planning). */
  def tableBytesOf(m: Manifest): Option[Long] = {
    val per = m.dirs.map(d =>
      m.stats.getOrElse(d, Nil).find(_.col == BytesStat).map(_.min.toLong))
    if (per.forall(_.isDefined)) Some(per.flatten.sum) else None
  }

  /** Pseudo-stat recording WHICH columns an `ANALYZE TABLE` pass already
    * examined on this dir (min == max == sorted comma-joined logical
    * names). An all-null / absent column legitimately yields NO min/max
    * entry ("no stats = never pruned"), so without this marker every
    * re-ANALYZE would re-scan the dir and commit a fresh generation on
    * an otherwise fully-metered table — the marker is what makes
    * `analyzeStats` idempotent. Never prunes (no predicate references
    * it), never inherited into rewrites (PseudoStats membership). */
  val AnalyzedStat = "__analyzed"

  /** Stat pseudo-columns no data column backs — every consumer that
    * derives stat columns from a manifest must filter these before
    * touching the data (inheriting one into an aggregate was a real
    * crash class, caught in round-9 review). */
  val PseudoStats: Set[String] = Set(RowCountStat, DvDeadStat, PartStat,
    BytesStat, AnalyzedStat)

  /** Per-column NON-NULL COUNT stats (round 18, the Delta/Iceberg
    * nullCount idea): every metered column `c` records a companion
    * `__nn_c` entry (min == max == exact non-null count, same aggregate
    * pass as min/max, so the cost is a column in an existing job). What
    * it arms — none of which min/max can serve:
    *  - `c IS NULL` prunes dirs whose non-null count equals their row
    *    count (no nulls there); `c IS NOT NULL` prunes all-null dirs;
    *  - metadata-only `COUNT(c)` (sum of non-null counts, zero scan);
    *  - the NO-NULLS witness predicate DML needs to prove "every row in
    *    this dir satisfies the predicate" — min/max bounds only speak
    *    for non-null values, so without `__nn_c == __rows` a whole-dir
    *    drop could destroy rows where the predicate evaluates NULL. */
  val NullCountPrefix = "__nn_"
  def nnStat(c: String): String = NullCountPrefix + c

  /** A stat entry name that is NOT a data column (fixed pseudo names or
    * a per-column non-null counter). */
  def isPseudoStat(c: String): Boolean =
    PseudoStats(c) || c.startsWith(NullCountPrefix)

  /** The data column a recorded stat entry meters: `__nn_x` -> `x`,
    * fixed pseudo names and plain columns unchanged — stat-column
    * INHERITANCE derives its request from recorded entry names, and a
    * dropped `__nn_x` must re-request `x`, not vanish. */
  def baseStatCol(c: String): String =
    if (c.startsWith(NullCountPrefix)) c.stripPrefix(NullCountPrefix) else c

  /** The dir's hive partition suffix when it is a hive-nested convert
    * ([[PartStat]]), None for ordinary flat dirs. */
  def partSuffixOf(m: Manifest, dir: String): Option[String] =
    m.stats.getOrElse(dir, Nil).find(_.col == PartStat).map(_.min)

  /** Column expression identifying the owning DATA DIR (or DV dir) of
    * each scanned file: the LAST path segment named like one — robust
    * to hive-nested converts, where the file's immediate parent is the
    * `col=value` segment, not the data dir. Basename-keyed like every
    * dir-identity join (UUID names are unique across roots, so clones'
    * absolute external entries resolve exactly). Derived from the
    * DETERMINISTIC `_metadata.file_path` scan attribute, NOT
    * `input_file_name()` — a nondeterministic projection blocks
    * predicate pushdown through it, which would strip PushedFilters
    * from every DV-subtracted or nested read. Two trap families are
    * excluded from matching: the file BASENAME (the last segment —
    * convertToGraft preserves arbitrary source file names, so a
    * converted file named `data_2024.parquet` must not become its own
    * dir id) and hive `k=v` segments (a converted layout whose
    * partition COLUMN is named e.g. `data_source` keeps
    * `data_source=web/` segments under the data dir — dir names are
    * UUID-suffixed and never contain '='). */
  def dirIdCol: org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.expr(
      "element_at(filter(" +
        "slice(split(_metadata.file_path, '/'), 1, " +
        "size(split(_metadata.file_path, '/')) - 1), " +
        "x -> (startswith(x, 'data_') OR startswith(x, '_dv_')) " +
        "AND NOT contains(x, '=')), -1)")

  /** ONE scan over HIVE-NESTED converted dirs, given (absolute data dir,
    * partition suffix) pairs — the suffix is the leaf's full relative
    * `k=v` path, one segment per partition LEVEL (`month=202401`, or
    * `year=2024/month=01` for a multi-level convert): the LEAF paths
    * are scanned directly — they hold plain files, so no partition
    * discovery runs and no "conflicting directory structures" can arise
    * across many roots — and every level's partition column is INJECTED
    * per dir from the manifest-recorded suffix through one tiny
    * broadcast lookup (the Delta partitionValues idea), cast to the
    * recorded schema's type. Data-column filters still push down to the
    * scan below the broadcast join; the partition columns are constant
    * per dir, so their pruning already happened at the manifest level.
    * `keepDirId` adds a `__dir` column (the data dir's basename) for
    * callers that need per-dir identity (DML witness, DV subtraction,
    * stream versioning). All pairs in one call must share one column
    * path (callers group by [[partColsOf]]-style keys). */
  private[graft] def readNestedPaths(spark: SparkSession,
      pairs: Seq[(String, String)],
      schema: Option[org.apache.spark.sql.types.StructType],
      keepDirId: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col}
    require(pairs.nonEmpty, "readNestedPaths: empty dir set")
    val partCols: Seq[String] =
      pairs.head._2.split('/').toSeq.map(_.takeWhile(_ != '='))
    val canonicals = partCols.map(c => schema.flatMap(_.fields
      .find(_.name.equalsIgnoreCase(c)).map(_.name)).getOrElse(c))
    val partTypes = partCols.map(c => schema.flatMap(_.fields
      .find(_.name.equalsIgnoreCase(c)).map(_.dataType))
      .getOrElse(org.apache.spark.sql.types.StringType: org.apache.spark.sql.types.DataType))
    val dataSchema = schema.map(s => org.apache.spark.sql.types.StructType(
      s.fields.filterNot(x => partCols.exists(_.equalsIgnoreCase(x.name)))))
    val leafPaths = pairs.map { case (d, sfx) => s"$d/$sfx" }
    val base = dataSchema match {
      case Some(s) => spark.read.schema(s).parquet(leafPaths: _*)
      case None =>
        spark.read.option("mergeSchema", "true").parquet(leafPaths: _*)
    }
    val lookupRows = pairs.map { case (d, sfx) =>
      org.apache.spark.sql.Row.fromSeq(
        new Path(d).getName +: unescapeSuffixValues(sfx))
    }
    val rawNames = partCols.indices.map(i => s"__p_raw$i")
    val lookup = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        java.util.Arrays.asList(lookupRows: _*)),
      org.apache.spark.sql.types.StructType(
        org.apache.spark.sql.types.StructField("__p_dir",
          org.apache.spark.sql.types.StringType, false) +:
          rawNames.map(n => org.apache.spark.sql.types.StructField(n,
            org.apache.spark.sql.types.StringType, true))))
    val joined0 = base.withColumn("__p_dir", dirIdCol)
      .join(broadcast(lookup), "__p_dir")
    val joined = canonicals.zipWithIndex.foldLeft(joined0) {
      case (d, (cn, i)) => d.withColumn(cn, col(rawNames(i)).cast(partTypes(i)))
    }
    val outCols: Seq[String] = schema match {
      case Some(s) => s.fieldNames.toSeq
      case None => base.columns.toSeq ++ canonicals
    }
    val out = joined.select((outCols ++
      (if (keepDirId) Seq("__p_dir") else Nil)).map(col): _*)
    if (keepDirId) out.withColumnRenamed("__p_dir", "__dir") else out
  }

  /** Count `dir`'s rows (one footer-only job at write time — parquet
    * aggregate pushdown — paid once per immutable dir) as a stats entry
    * to pass alongside `dirStats`. */
  def rowCountStat(spark: SparkSession, dir: String): ColStats = {
    val n = spark.read.parquet(dir).count()
    ColStats(RowCountStat, "num", n.toString, n.toString)
  }

  /** Footer-free table row count: Some(total) when EVERY live dir
    * carries a [[RowCountStat]] and every dv'd dir carries a
    * [[DvDeadStat]] (live = rows − dead; the delete path records the
    * dv's exact cardinality at each repoint) — else None, and the
    * caller counts the ordinary way. A dv written before the dead-count
    * feature (dv present, no DvDeadStat) degrades to None, never to a
    * wrong number. Reads ONLY the manifest (pointer + cached/chained
    * metadata records): no Spark job, no data or footer I/O
    * (spec-asserted). */
  def tableRowCount(spark: SparkSession, root: String): Option[Long] =
    readManifest(spark, root).flatMap(tableRowCountOf)

  /** [[tableRowCount]] against an already-resolved (possibly pinned)
    * manifest — the SQL layer answers COUNT(*) for the exact generation
    * a query resolved, so a concurrent commit between resolution and
    * execution cannot skew the answer. */
  def tableRowCountOf(m: Manifest): Option[Long] = {
    def stat(d: String, c: String): Option[Long] =
      m.stats.getOrElse(d, Nil).find(_.col == c).map(_.min.toLong)
    val rows = m.dirs.map(stat(_, RowCountStat))
    val dead = m.dirs.map(d =>
      if (m.dvs.contains(d)) stat(d, DvDeadStat) else Some(0L))
    if (rows.forall(_.isDefined) && dead.forall(_.isDefined))
      Some(rows.flatten.sum - dead.flatten.sum)
    else None
  }

  /** Pinned-manifest data skipping over a CONJUNCTION of per-column
    * bounds: live dirs whose stats can satisfy EVERY `(col, lo, hi)`
    * constraint simultaneously. Same keep-on-missing-stats contract as
    * [[resolvePruned]] (skipping is an optimization, never a filter);
    * callers read the kept set DV-aware via [[readDirsOf]]. */
  def prunedDirsOf(m: Manifest,
      bounds: Seq[(String, Option[String], Option[String])],
      orGroups: Seq[Seq[Seq[(String, Option[String], Option[String])]]] = Nil,
      extraOff: Seq[ColStats] => Boolean = _ => false)
      : Seq[String] =
    m.dirs.filter { d =>
      val st = m.stats.getOrElse(d, Nil)
      def ov(b: (String, Option[String], Option[String])): Boolean =
        st.find(_.col == b._1).forall(_.overlaps(b._2, b._3))
      // conjunctive bounds AND, per OR group, at least one branch whose
      // bounds all overlap (StatsPredicate.Extracted.orGroups — the
      // disjunctive-skipping shape `x < 5 OR x > 20` that no single
      // envelope can serve); `extraOff` disproves on the full stat list
      // (nullness conjuncts against the per-column non-null counters)
      bounds.forall(ov) && orGroups.forall(g => g.exists(_.forall(ov))) &&
        !extraOff(st)
    }

  /** Pinned-manifest bloom point-lookup: [[resolveBloom]]'s kept NAMES
    * for an already-resolved manifest, without the raw-path contract
    * (callers read DV-aware via [[readDirsOf]]). */
  def bloomDirsOf(spark: SparkSession, root: String, m: Manifest,
      col: String, value: Any): Seq[String] =
    bloomNames(spark, root, m, col, value)

  /** Render a value in the manifest's stats format (the exact
    * [[dirStats]] rendering, so caller-supplied literals compare
    * consistently against recorded min/max). */
  def renderBound(v: Any): String = renderStatValue(v)

  /** Inverse of [[renderBound]]: a recorded stat string back to the
    * EXTERNAL value of `dt` (the shape `CatalystTypeConverters`
    * accepts), or None when the type isn't exactly round-trippable —
    * the manifest-only MIN/MAX read path must then fall back to a scan.
    * Numerics, strings and the zone-free temporal types (date, ntz)
    * round-trip always (Java guarantees toString→parse exactness for
    * float/double); zoned TIMESTAMP only under a UTC JVM zone, because
    * [[renderStatValue]] renders `java.sql.Timestamp` through the JVM
    * default zone and a DST zone's fall-back hour makes the wall text
    * ambiguous (the injectivePair precedent in Optimize.whereScope). */
  private def utcJvmZone: Boolean = {
    val r = java.time.ZoneId.systemDefault().getRules
    r.isFixedOffset && r.getOffset(java.time.Instant.EPOCH).getTotalSeconds == 0
  }

  def parseStatValue(s: String, dt: org.apache.spark.sql.types.DataType): Option[Any] = {
    import org.apache.spark.sql.types._
    def utcJvm: Boolean = utcJvmZone
    val parse: Option[() => Any] = dt match {
      case ByteType => Some(() => s.toByte)
      case ShortType => Some(() => s.toShort)
      case IntegerType => Some(() => s.toInt)
      case LongType => Some(() => s.toLong)
      case FloatType => Some(() => s.toFloat)
      case DoubleType => Some(() => s.toDouble)
      case _: DecimalType => Some(() => new java.math.BigDecimal(s))
      case StringType => Some(() => s)
      case DateType => Some(() => java.time.LocalDate.parse(s))
      case TimestampNTZType => Some(() => java.time.LocalDateTime.parse(s, TsFormat))
      case TimestampType if utcJvm =>
        Some(() => java.time.LocalDateTime.parse(s, TsFormat)
          .toInstant(java.time.ZoneOffset.UTC))
      case _ => None
    }
    parse.flatMap(p => scala.util.Try(p()).toOption)
  }

  /** Whether [[parseStatValue]] can round-trip `dt` at all (the
    * eligibility probe the manifest-aggregate rewrite runs before
    * trusting stats for a column). */
  def statParseable(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType | FloatType |
           DoubleType | StringType | DateType | TimestampNTZType => true
      case _: DecimalType => true
      case TimestampType => utcJvmZone
      case _ => false
    }
  }

  /** The columns an ANALYZE pass has EXAMINED on `dir` even when they
    * yielded no min/max bound (all-null / absent under evolution) — the
    * [[AnalyzedStat]] marker's decoded set. Lets metadata-only readers
    * distinguish "looked and found no values" (contributes nothing to a
    * MIN/MAX) from "never metered" (must scan). */
  def analyzedColsOf(m: Manifest, dir: String): Set[String] =
    m.stats.getOrElse(dir, Nil)
      .find(_.col == AnalyzedStat)
      .map(_.min.split(",").filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)

  /** Build and store a per-dir bloom filter for `col`, as a HIDDEN side
    * file `_bloom_<col>` INSIDE the dir it describes (underscore-prefixed
    * files are invisible to parquet scans, and the bloom's lifetime is
    * automatically the dir's — dir deletion reclaims it, immutability is
    * inherited). This is the point-lookup half of data skipping (public
    * Delta bloom-index / Iceberg puffin idea): min/max stats prune RANGE
    * predicates but are useless for `key = x` on layouts where every dir
    * spans the full key range; a bloom answers "definitely not here" per
    * dir from a few KB, no data I/O. Size the filter to the dir's
    * distinct count: bits ≈ -n·ln(fpp)/ln(2)², ~1.2 KB per 1k keys at
    * 1% fpp. */
  def writeDirBloom(spark: SparkSession, dir: String, col: String,
      expectedItems: Long, fpp: Double = 0.01): Unit =
    installDirBloom(spark, dir, col,
      spark.read.parquet(dir).stat.bloomFilter(col, expectedItems, fpp))

  /** Install an ALREADY-BUILT bloom as `dir`'s `_bloom_<col>` side file
    * (tmp + rename: ANALYZE retrofits blooms onto LIVE dirs — readers
    * may probe concurrently, and a truncated bloom would crash
    * BloomFilter.readFrom mid-query). The batched ANALYZE bloom pass
    * builds many dirs' filters in one job and installs each here. */
  def installDirBloom(spark: SparkSession, dir: String, col: String,
      bf: org.apache.spark.util.sketch.BloomFilter): Unit = {
    val f = fs(spark, dir)
    val tmp = new Path(dir,
      s"._bloom_tmp_${java.util.UUID.randomUUID().toString.take(8)}")
    val out = f.create(tmp, true)
    try bf.writeTo(out) finally out.close()
    if (!f.rename(tmp, new Path(dir, s"_bloom_$col"))) {
      f.delete(new Path(dir, s"_bloom_$col"), false)
      if (!f.rename(tmp, new Path(dir, s"_bloom_$col")))
        throw new java.io.IOException(s"cannot install _bloom_$col in $dir")
    }
  }

  /** Point-lookup resolve: live dirs whose `col` bloom might contain
    * `value`. Dirs without a bloom side file are kept (skipping is an
    * optimization, never a filter — the `resolvePruned` contract).
    * False positives only cost an extra dir scan; a bloom's "definitely
    * absent" is exact, so callers still apply the real predicate but
    * never miss rows. Returns (kept absolute paths, total live dirs).
    * Raw-path contract enforced as in [[resolvePruned]] — DV-carrying
    * kept dirs throw; use [[readBloom]]. */
  def resolveBloom(spark: SparkSession, root: String, col: String,
      value: Any): (Seq[String], Int) =
    readManifest(spark, root) match {
      case Some(m) =>
        val kept = bloomNames(spark, root, m, col, value)
        requireNoDvs(m, kept, "resolveBloom")
        (kept.map(dirAbs(root, _)), m.dirs.size)
      case None => (Seq(root), 1)
    }

  /** The probe loop runs on CONCURRENT threads: each dir's check is an
    * independent open + deserialize of a few-KB side file, so at high
    * dir counts a sequential loop pays one filesystem round-trip per dir
    * end to end — the driver-side latency wall, not a data-size cost.
    * Probe order doesn't matter; the kept set preserves manifest order. */
  private def bloomNames(spark: SparkSession, root: String, m: Manifest,
      col: String, value: Any): Seq[String] =
    bloomNamesAny(spark, root, m, col, Seq(value))

  /** Multi-value disjunctive probe (IN-lists): keep a dir iff its bloom
    * might contain ANY of `values` — ONE open + deserialize per dir for
    * the whole list, not one per value (a 16-value IN over 1000 dirs is
    * 1000 file round-trips, not 16,000). */
  def bloomDirsOfAny(spark: SparkSession, root: String, m: Manifest,
      col: String, values: Seq[Any]): Seq[String] =
    bloomNamesAny(spark, root, m, col, values)

  private def bloomNamesAny(spark: SparkSession, root: String, m: Manifest,
      col: String, values: Seq[Any]): Seq[String] = {
    val f = fs(spark, root)
    // under a column mapping, dirs written before the rename carry their
    // bloom under the PHYSICAL name — probe it when the logical file is
    // absent, so point-lookup skipping survives a rename
    val physCol = m.physNameOf(col)
    def probe(d: String): Boolean = {
      val p = new Path(dirAbs(root, d), s"_bloom_$col")
      val pp = new Path(dirAbs(root, d), s"_bloom_$physCol")
      val hit = if (f.exists(p)) Some(p)
        else if (physCol != col && f.exists(pp)) Some(pp)
        else None
      hit match {
        case None => true
        case Some(path) =>
          val in = f.open(path)
          val bf = try org.apache.spark.util.sketch.BloomFilter.readFrom(in)
                   finally in.close()
          values.exists(bf.mightContain)
      }
    }
    val flags = concurrently(m.dirs, 32)(probe)
    m.dirs.zip(flags).collect { case (d, true) => d }
  }

  /** DV-safe point-lookup read: [[resolveBloom]]'s kept set, read
    * through the manifest so deletion vectors and the recorded schema
    * apply. Returns (frame, kept dirs, total live dirs). */
  def readBloom(spark: SparkSession, root: String, col: String,
      value: Any): (DataFrame, Int, Int) =
    readManifest(spark, root) match {
      case Some(m) =>
        val kept = bloomNames(spark, root, m, col, value)
        (readDirsOf(spark, root, m, kept), kept.size, m.dirs.size)
      case None =>
        (spark.read.option("mergeSchema", "true").parquet(root), 1, 1)
    }

  /** Delete `data_*` dirs that no generation references — crash leftovers
    * (written but never committed) and displaced dirs a crashed
    * `commitReplace` didn't get to prune. Guarded by the same recursive
    * newest-mtime freshness check as `Maintenance.vacuumScratch`: an
    * uncommitted dir an ACTIVE writer is still filling must survive. */
  def pruneOrphans(spark: SparkSession, root: String,
      minAgeMs: Long = 15 * 60 * 1000L,
      dryRun: Boolean = false): Seq[String] = {
    val f = fs(spark, root)
    val rootP = new Path(root)
    if (!f.exists(rootP)) return Nil
    // live = current generation plus every retained historical snapshot —
    // a time-travel table's old generations are reachable, not orphans
    val ms = readManifest(spark, root).toSeq ++
      snapshotGens(spark, root).flatMap(g => readManifestAt(spark, root, g))
    val live = ms.flatMap(_.dirs).toSet
    val liveDvs = ms.flatMap(_.dvs.values).toSet
    val cutoff = System.currentTimeMillis() - minAgeMs
    def newestMtime(p: Path): Long = {
      var newest = f.getFileStatus(p).getModificationTime
      if (f.getFileStatus(p).isDirectory) {
        val it = f.listFiles(p, true)
        while (it.hasNext) newest = math.max(newest, it.next().getModificationTime)
      }
      newest
    }
    // data dirs and DELETION-VECTOR dirs share the orphan contract:
    // written before a commit names them, so a crashed writer leaves
    // either kind unreferenced (a deleteWhere that wrote its _dv_*
    // but never committed is the DV case of the mid-batch crash)
    val candidates = f.listStatus(rootP).toSeq.filter { st =>
      val name = st.getPath.getName
      (name.startsWith("data_") && !live.contains(name)) ||
        (name.startsWith("_dv_") && !liveDvs.contains(name)) ||
        // crashed-commit tmp files (and pre-round-10 checksum sidecars
        // for them) — never referenced by anything once the commit's
        // rename didn't happen, same age guard as the data dirs
        name.startsWith("._manifest_tmp_") ||
        name.startsWith(".._manifest_tmp_")
    }
    // each candidate's freshness check is an independent recursive
    // listing — one filesystem round-trip chain per orphan, so a
    // sequential loop is driver latency linear in garbage (the
    // resolveBloom/compactSmall wall); probe on a pool, delete serially
    val stale = concurrently(candidates, 32)(st => newestMtime(st.getPath) <= cutoff)
    candidates.zip(stale).collect { case (st, true) =>
      if (!dryRun) f.delete(st.getPath, true)
      st.getPath.toString
    }
  }
}
