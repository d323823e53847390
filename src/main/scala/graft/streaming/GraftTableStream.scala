package graft.streaming

import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset, Sink, Source}
import org.apache.spark.sql.functions.{broadcast, col, lit}
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.ingest.{ChangeFeed, ManifestCommit}

/** Structured Streaming over manifest-committed ("graft") tables — the
  * public lakehouse table-as-a-stream shape (Delta's streaming source /
  * sink, Iceberg incremental reads), and the streaming face of the
  * reference's CDC topology (tools/kafka_to_clickhouse.py consumes a
  * broker; a graft table needs no broker — its commit log IS the
  * stream):
  *
  * {{{
  * spark.readStream.format("graft-table").load(root)        // appends
  *   .writeStream.format("graft-table")
  *   .option("txnAppId", "rep1").start(replicaRoot)   // exactly-once
  * }}}
  *
  * SOURCE offsets are manifest GENERATIONS (one long — the same cursor
  * vocabulary as [[graft.ingest.ChangeFeed]]); each micro-batch reads
  * only the dirs the covered commits appended, never the table, so a
  * tailing stream is O(new data) per trigger at any table size. Options:
  *
  *  - (none): first batch = the full current snapshot (pinned to the
  *    generation the offset records), then the append tail — Delta's
  *    default initial-snapshot contract.
  *  - `startingVersion=<gen>`: no snapshot; deliver changes committed
  *    AFTER generation gen. `startingVersion=latest`: only commits after
  *    stream start.
  *  - `maxGensPerTrigger=<n>`: rate limit — at most n commits per batch.
  *    DEFAULTS to 256 (the Delta maxFilesPerTrigger idea): a replica
  *    recovering from a long outage must drain its backlog in bounded
  *    batches, not plan one batch with O(backlog) children. Set
  *    `maxGensPerTrigger=none` to disable. For run-and-stop jobs use
  *    `Trigger.AvailableNow`: the source implements
  *    `SupportsTriggerAvailableNow`, so the drain-to generation is
  *    PINNED at query start and the engine runs as many rate-capped
  *    batches as it takes to reach it — full catch-up, never a single
  *    truncated batch (the deprecated `Trigger.Once` still processes
  *    exactly one capped batch and stops short).
  *  - `maxRowsPerTrigger=<n>`: volume-based rate limit (the Delta
  *    maxBytesPerTrigger idea, in this format's row vocabulary): the
  *    tail batch stops before the commit that would push the batch past
  *    n rows, judged from the manifest's per-dir `__rows` stats — zero
  *    data I/O, always at least one commit per batch; a commit whose
  *    dirs predate the row counter is treated as unbounded and lands
  *    alone. Composes with `maxGensPerTrigger` (both caps apply); the
  *    initial snapshot batch is not limited (the Delta v1 contract).
  *  - `skipChangeCommits=true`: skip non-append commits (merge/delete/
  *    update rewrites) instead of failing the stream. Compaction commits
  *    (`compact*`/`zorder` — same rows, new layout) are always skipped:
  *    they are the dataChange=false of this format.
  *  - `readChangeFeed=true` with `keys=<k1,k2>`: CDF mode — emit
  *    row-level changes per commit in the Delta CDF vocabulary
  *    (`_change_type` ∈ insert/delete/update_preimage/update_postimage
  *    plus `_commit_version`), derived per generation from the dir
  *    symmetric difference ([[ChangeFeed.diff]]), so merges and DV
  *    deletes stream as retraction pairs instead of failing.
  *
  * The read schema is PINNED at stream start (restart to pick up an
  * evolved schema — the Delta contract); later-evolved columns are
  * invisible to a running stream, and pre-evolution dirs null-fill.
  *
  * SINK: each `addBatch` lands in the target's ESTABLISHED layout — a
  * table with a recorded slicing expression gets one dir per slice
  * value with slice-tight stats (the `writeData` path SQL INSERT
  * takes, so a mixed-slice batch keeps month-granular pruning instead
  * of one dir whose stats span months), an unsliced table gets one dir
  * — committed as ONE generation via an O(changes) append carrying
  * `txn=(txnAppId, batchId)`: a replayed batch (post-crash re-delivery)
  * is recognized from the manifest's writer ledger and dropped whole,
  * so replica CONTENTS are exactly-once while delivery stays
  * at-least-once. Stat columns are inherited from the target's recorded
  * stats (or seeded from its slicing expression), so skipping and
  * manifest-only COUNT(*) stay armed under streaming writes. */
class GraftTableProvider extends StreamSourceProvider
    with StreamSinkProvider with DataSourceRegister {

  override def shortName(): String = "graft-table"

  override def sourceSchema(ctx: SQLContext, schema: Option[StructType],
      providerName: String, parameters: Map[String, String])
      : (String, StructType) =
    (shortName(), GraftTableSource.sourceSchema(
      ctx.sparkSession, parameters))

  override def createSource(ctx: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source =
    new GraftTableSource(ctx.sparkSession, parameters, Some(metadataPath))

  override def createSink(ctx: SQLContext, parameters: Map[String, String],
      partitionColumns: Seq[String], outputMode: OutputMode): Sink = {
    require(outputMode == OutputMode.Append(),
      s"graft sink supports Append output mode only (got $outputMode) — " +
        "aggregate with watermarks or use foreachBatch+merge for upserts")
    // silently dropping a layout request would be worse than refusing it
    require(partitionColumns.isEmpty,
      "graft sink: .partitionBy() is not supported — layout is governed " +
        "by the target table's manifest-recorded slicing expression " +
        "(CREATE TABLE ... PARTITIONED BY)")
    new GraftTableSink(ctx.sparkSession, parameters)
  }
}

private[streaming] object GraftTableSource {
  /** Generation offset: `json` is the bare number, so checkpointed
    * offsets restore through SerializedOffset with a plain parse. */
  final case class GenOffset(gen: Long) extends Offset {
    override def json: String = gen.toString
  }
  def genOf(o: Offset): Long = o match {
    case GenOffset(g) => g
    case other => other.json.trim.toLong
  }

  /** Rewrites identical rows into a new layout — never delivered. */
  private[streaming] val CompactOps =
    Set("compact", "compact_minor", "compact_months", "zorder")

  /** Default commits-per-batch rate limit (Delta defaults
    * maxFilesPerTrigger=1000; a graft commit is typically one dir). */
  private[streaming] val DefaultMaxGensPerTrigger = 256L

  def rootOf(spark: SparkSession, params: Map[String, String]): String =
    params.get("path").orElse(params.get("table").map { n =>
      graft.sql.GraftSql.rootOf(n).getOrElse(throw
        new IllegalArgumentException(s"graft stream: no table registered as $n"))
    }).getOrElse(throw new IllegalArgumentException(
      "graft stream: set .load(<table root>) or .option(\"table\", <registered name>)"))

  def tableSchema(spark: SparkSession, root: String): StructType = {
    val m = ManifestCommit.requireManifest(spark, root, "graft stream: ")
    val base = m.tableSchema.getOrElse(ManifestCommit.read(spark, root).schema)
    StructType(base.fields.map(_.copy(nullable = true)))
  }

  def sourceSchema(spark: SparkSession, params: Map[String, String]): StructType = {
    val base = tableSchema(spark, rootOf(spark, params))
    if (params.get("readChangeFeed").exists(_.toBoolean))
      StructType(base.fields :+
        StructField(ChangeFeed.ChangeType, StringType, nullable = false) :+
        StructField("_commit_version", LongType, nullable = false))
    else base
  }
}

class GraftTableSource(spark: SparkSession, params: Map[String, String],
    metadataPath: Option[String] = None)
    extends Source
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import GraftTableSource._

  private val root = rootOf(spark, params)
  private val cdf = params.get("readChangeFeed").exists(_.toBoolean)
  private val keys: Seq[String] = params.get("keys")
    .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
  require(!cdf || keys.nonEmpty,
    "graft stream: readChangeFeed=true requires keys=<k1,k2,...> " +
      "(the row identity the feed diffs on)")
  private val skipChange = params.get("skipChangeCommits").exists(_.toBoolean)
  /** Skip the CDF key-uniqueness guard for feeds unique by construction
    * (see [[ChangeFeed.diff]]'s assumeUnique) — defaults to GUARDED. */
  private val assumeUnique = params.get("assumeUnique").exists(_.toBoolean)
  private val maxGens: Option[Long] =
    params.get("maxGensPerTrigger").map(_.trim) match {
      case Some(v) if v.equalsIgnoreCase("none") =>
        None // explicit opt-out: unbounded batches
      case Some(v) =>
        val m = scala.util.Try(v.toLong).getOrElse(throw
          new IllegalArgumentException(
            s"maxGensPerTrigger must be a positive number or 'none' (got $v)"))
        require(m > 0, s"maxGensPerTrigger must be > 0 (got $v)")
        Some(m)
      case None => Some(GraftTableSource.DefaultMaxGensPerTrigger)
    }
  private val maxRows: Option[Long] =
    params.get("maxRowsPerTrigger").map(_.trim) match {
      case Some(v) if v.equalsIgnoreCase("none") => None
      case Some(v) =>
        val m = scala.util.Try(v.toLong).getOrElse(throw
          new IllegalArgumentException(
            s"maxRowsPerTrigger must be a positive number or 'none' (got $v)"))
        require(m > 0, s"maxRowsPerTrigger must be > 0 (got $v)")
        Some(m)
      case None => None
    }

  private val liveAtStart: Long =
    ManifestCommit.requireManifest(spark, root, "graft stream: ").gen

  require(!(params.contains("startingVersion") &&
    params.contains("startingTimestamp")),
    "graft stream: startingVersion and startingTimestamp are mutually exclusive")

  // metadata files live in the CHECKPOINT's filesystem, which need not
  // be the table's (s3a table, hdfs checkpoint) — resolve each path's FS
  private def fsOf(p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def readMetaLong(p: org.apache.hadoop.fs.Path): Option[Long] = {
    val f = fsOf(p)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      // a crash between create and write leaves an empty/garbled file —
      // treated as absent, never as a stream-killing parse error
      try scala.util.Try(new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8).trim.toLong).toOption
      finally in.close()
    }
  }
  private def writeMetaLong(p: org.apache.hadoop.fs.Path, v: Long): Unit = {
    // stage-then-rename: the destination is never left mid-write
    val f = fsOf(p)
    val tmp = new org.apache.hadoop.fs.Path(
      p.getParent, s".${p.getName}.tmp")
    val out = f.create(tmp, true)
    try out.write(v.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (f.exists(p)) f.delete(p, false)
    f.rename(tmp, p)
    ()
  }

  /** Deliver changes committed strictly AFTER this generation; None =
    * initial-snapshot mode (the first batch is the full snapshot).
    * `latest` is resolved ONCE, on the stream's FIRST start, and pinned
    * into the source's metadata dir — a restarted query must deliver the
    * commits that landed while it was down, not re-resolve "latest" to
    * restart time and silently skip them (numeric versions and snapshot
    * mode are deterministic and need no pin). */
  private val startAfter: Option[Long] = params.get("startingVersion").map {
    case "latest" =>
      metadataPath.map(m => new org.apache.hadoop.fs.Path(m, "graft-origin"))
        .map { p =>
          readMetaLong(p).getOrElse { writeMetaLong(p, liveAtStart); liveAtStart }
        }.getOrElse(liveAtStart)
    case v => val g = v.trim.toLong - 1
      require(g >= 0, s"startingVersion must be >= 1 (got $v)"); g
  }

  /** `startingTimestamp`: deliver every commit at or after the instant
    * (epoch millis, or a literal interpreted in the SESSION timezone —
    * the same instant a `TIMESTAMP AS OF` SELECT of it showed). Resolved
    * LAZILY against the live history and only cached once a commit
    * reaches the instant: a future instant delivers nothing — not
    * everything-from-now — and commits landed while the query was down
    * still satisfy the predicate on restart, so the option is
    * deterministic without a pin. */
  private val startingTsMs: Option[Long] =
    params.get("startingTimestamp").map(graft.sql.GraftSql.parseTsMillis(spark, _))
  private val tsResolved = new java.util.concurrent.atomic.AtomicLong(Long.MinValue)
  private def tsStartAfter(): Option[Long] = startingTsMs.flatMap { ms =>
    if (tsResolved.get != Long.MinValue) Some(tsResolved.get)
    else {
      val ts = ManifestCommit.commitTimestamps(spark, root)
      ts.find(_._2 >= ms).map { case (g, _) =>
        // delivering commit g needs g-1's manifest for the dir diff — if
        // retention already expired it, the window cannot be rebuilt
        if (g == ts.headOption.map(_._1).getOrElse(1L) && g > 1)
          throw new IllegalArgumentException(
            s"graft stream: startingTimestamp $ms reaches back to the " +
              s"earliest RETAINED commit of $root (generation $g) whose " +
              "predecessor has been expired — the incremental window is " +
              "lost; start from a snapshot instead (omit " +
              "startingTimestamp) or widen retention")
        tsResolved.set(g - 1); g - 1
      }
    }
  }
  private def effectiveStartAfter(): Option[Long] =
    if (startingTsMs.isDefined) tsStartAfter() else startAfter

  private val readSchema: StructType = tableSchema(spark, root)
  /** COLUMN MAPPING pinned at stream start, like the schema: data files
    * carry PHYSICAL names, so the source's own batched scans read the
    * physical schema and alias to the pinned logical names. A RENAME
    * COLUMN landing mid-stream is schema evolution under the pinned-
    * schema contract: BOTH paths keep delivering real values under the
    * pinned name (physical names are stable across a rename — appends
    * read physically, and the CDF path's `cut` resolves each pinned
    * name through its physical name to the commit's current logical
    * name). An ALTER COLUMN TYPE widen mid-stream fails the CDF path
    * crisply (post-widen values may not fit the pinned narrow type);
    * a genuine DROP null-fills. Restart the stream to adopt new
    * names/types. */
  private val pinnedColmap: Map[String, String] =
    ManifestCommit.readManifest(spark, root).map(_.colmap).getOrElse(Map.empty)
  private val effMap: Map[String, String] = readSchema.fieldNames.toSeq
    .flatMap(n => pinnedColmap.get(n).filter(_ != n).map(n -> _)).toMap
  private val physReadSchema: StructType =
    if (effMap.isEmpty) readSchema
    else StructType(readSchema.fields.map(f =>
      f.copy(name = effMap.getOrElse(f.name, f.name))))
  private def physToLogical(df: DataFrame,
      extra: Seq[String] = Nil): DataFrame =
    if (effMap.isEmpty) df
    else df.select((readSchema.fields.toIndexedSeq.map(f =>
      col(effMap.getOrElse(f.name, f.name)).as(f.name)) ++
      extra.map(col)): _*)
  override val schema: StructType =
    if (cdf) StructType(readSchema.fields :+
      StructField(ChangeFeed.ChangeType, StringType, nullable = false) :+
      StructField("_commit_version", LongType, nullable = false))
    else readSchema

  // Rate-limit floor. Correct RESTARTS ride the engine's offset log, but
  // the v1 getOffset contract gives a source no view of it — so the last
  // COMMITTED generation is persisted in the source's own metadataPath
  // (the FileStreamSource pattern) and seeds the floor here. Without the
  // seed, a restarted maxGensPerTrigger stream would floor on
  // startingVersion and OFFER an offset below the checkpointed progress
  // (re-delivery), and a restarted startingVersion=latest stream would
  // re-resolve "latest" to restart time and silently skip every commit
  // that landed while it was down.
  private val progressPath: Option[org.apache.hadoop.fs.Path] =
    metadataPath.map(m => new org.apache.hadoop.fs.Path(m, "graft-progress"))
  private var highWater: Option[Long] = progressPath.flatMap(readMetaLong)
  private val warnedTruncation = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Drain-to generation pinned by [[prepareForTriggerAvailableNow]]:
    * under `Trigger.AvailableNow` the engine keeps planning rate-capped
    * batches until the offsets stop advancing, so capping every offer at
    * the generation that was live at query START makes the run terminate
    * exactly at full catch-up — a >maxGens backlog drains in ⌈backlog/
    * maxGens⌉ batches instead of one truncated batch, and commits landing
    * DURING the drain wait for the next run (the AvailableNow contract). */
  @volatile private var availableNowEnd: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit = {
    availableNowEnd = Some(
      ManifestCommit.readManifest(spark, root).map(_.gen).getOrElse(0L))
  }

  /** Rate limiting stays INTERNAL (maxGensPerTrigger/maxRowsPerTrigger
    * options applied in [[nextOffset]]) — the engine-side ReadLimit
    * vocabulary (files/rows) doesn't speak generations. */
  override def getDefaultReadLimit
      : org.apache.spark.sql.connector.read.streaming.ReadLimit =
    org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()

  /** Admission-control face of [[getOffset]]: once a source implements
    * `SupportsAdmissionControl` (which `SupportsTriggerAvailableNow`
    * extends), MicroBatchExecution plans EVERY trigger through this
    * method, passing its own checkpointed start — merged with the
    * source-side floor, so neither a restart nor a rate-limit seed can
    * offer an offset below committed progress. */
  override def latestOffset(
      start: org.apache.spark.sql.connector.read.streaming.Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit)
      : org.apache.spark.sql.connector.read.streaming.Offset =
    nextOffset(Option(start).map(genOfV2)).orNull

  /** The true (uncapped) latest generation, for progress reporting. */
  override def reportLatestOffset()
      : org.apache.spark.sql.connector.read.streaming.Offset =
    ManifestCommit.readManifest(spark, root).map(m => GenOffset(m.gen)).orNull

  private def genOfV2(
      o: org.apache.spark.sql.connector.read.streaming.Offset): Long =
    o match {
      case GenOffset(g) => g
      case other => other.json.trim.toLong
    }

  override def getOffset: Option[Offset] = nextOffset(None)

  private def nextOffset(engineStart: Option[Long]): Option[GenOffset] =
    synchronized {
    val liveNow = ManifestCommit.readManifest(spark, root) match {
      case Some(m) => m.gen
      case None => return None
    }
    // the AvailableNow pin: never offer past the generation live at
    // query start (0 = table didn't exist then → nothing to offer)
    val live = availableNowEnd.map(math.min(liveNow, _)).getOrElse(liveNow)
    if (availableNowEnd.isDefined && live <= 0) return None
    val sa = effectiveStartAfter()
    // timestamp mode before any commit reached the instant: nothing to
    // deliver (and the snapshot path must not be entered by accident)
    if (startingTsMs.isDefined && sa.isEmpty && highWater.isEmpty &&
      engineStart.isEmpty) return None
    val floor: Option[Long] =
      (engineStart.toSeq ++ highWater.toSeq).maxOption.orElse(sa)
    val capped = (floor, maxGens) match {
      case (Some(f), Some(mx)) => math.min(live, f + mx)
      case _ => live
    }
    // volume cap: walk the candidate window's commits, summing each
    // one's appended rows from the manifest's __rows stats (cached
    // metadata resolves — zero data I/O), and stop BEFORE the commit
    // that would push the batch past the cap. Always at least one
    // commit; snapshot mode (no floor) is never volume-limited.
    val rowCapped = (floor, maxRows) match {
      case (Some(f), Some(mr)) if capped > f + 1 =>
        def rowsAt(g: Long): Long = {
          val prev = maniAt(g - 1); val cur = maniAt(g)
          if (CompactOps(cur.op.getOrElse(""))) 0L
          else {
            def ident(m: ManifestCommit.Manifest)(d: String) = (d, m.dvs.get(d))
            val prevSet = prev.dirs.map(ident(prev)).toSet
            cur.dirs.filterNot(d => prevSet(ident(cur)(d))).map { d =>
              ManifestCommit.statLong(cur, d, ManifestCommit.RowCountStat)
                .getOrElse(Long.MaxValue / 4) // unknown
            }.foldLeft(0L)((a, b) => math.min(Long.MaxValue / 2, a + b))
          }
        }
        var end = f + 1
        var cum = rowsAt(end)
        var grow = true
        while (grow && end < capped) {
          val next = rowsAt(end + 1) // probed once, reused (driver latency)
          if (cum + next <= mr) { end += 1; cum += next } else grow = false
        }
        end
      case _ => capped
    }
    // the DEFAULT commit cap truncating a batch deserves one loud line:
    // a Trigger.Once run-and-stop job that predates the default would
    // previously have drained everything and can misread one truncated
    // batch as "caught up" — name the backlog and the outs
    if (rowCapped < live && !params.contains("maxGensPerTrigger") &&
        !warnedTruncation.getAndSet(true))
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"graft stream over $root: the DEFAULT rate limit " +
          s"(maxGensPerTrigger=$DefaultMaxGensPerTrigger) truncated this " +
          s"batch at generation $rowCapped of $live — a Trigger.Once run " +
          "stops short of catching up. Use Trigger.AvailableNow to drain " +
          "in rate-limited batches, or set maxGensPerTrigger=none for " +
          "one unbounded batch")
    if (floor.exists(_ >= rowCapped))
      // nothing new past the floor: no batch on a fresh latest/
      // startingVersion stream, the unchanged offset on a running one
      // (the engine reads an echo of its own start as "no new data")
      if (highWater.isEmpty && engineStart.isEmpty) None
      else floor.map(GenOffset(_))
    else { highWater = Some(rowCapped); Some(GenOffset(rowCapped)) }
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val endGen = genOf(end)
    synchronized {
      highWater = Some(math.max(endGen, highWater.getOrElse(0L)))
      // persist HERE, not in commit(): the engine offset-logs `end`
      // BEFORE calling getBatch but defers commit() by one batch, so a
      // stop after a single batch would leave no floor at all and a
      // restarted rate-limited stream could offer (and the engine then
      // commit) an offset BELOW its own committed progress. endGen is
      // always ≥ the engine's committed offset and ≤ its offset log, so
      // seeding from it can neither skip nor re-deliver.
      progressPath.foreach(writeMetaLong(_, highWater.get))
    }
    val out = start.map(genOf).orElse(effectiveStartAfter()) match {
      case None => // initial snapshot, PINNED to the offset's generation
        val snap = align(ManifestCommit.readAt(spark, root, endGen))
        if (cdf) snap
          .withColumn(ChangeFeed.ChangeType, lit("insert"))
          .withColumn("_commit_version", lit(endGen))
        else snap
      case Some(s) if s >= endGen => emptyBatch
      case Some(s) if cdf => cdfBetween(s, endGen)
      case Some(s) => appendsBetween(s, endGen)
    }
    org.apache.spark.sql.graftbridge.DatasetBridge.asStreaming(
      out.select(schema.fieldNames.map(col).toIndexedSeq: _*))
  }

  /** Per-commit CDF for (from, to] — one [[ChangeFeed.diff]] per
    * generation (a key inserted then deleted inside the window must emit
    * both events), each cut to the stream's PINNED columns: a gen that
    * predates an evolved column null-fills it, a gen that added one
    * hides it (restart the stream to widen — the Delta contract).
    * Compaction generations (same rows, new layout) emit nothing and
    * are skipped BEFORE planning — a routine OPTIMIZE inside the window
    * must not cost two table-wide scans that diff to zero rows.
    * Generation 1 has no predecessor: its "diff" is the first commit's
    * content as inserts. */
  private def cdfBetween(from: Long, to: Long): DataFrame = {
    // Align a diff frame (emitted under generation `cur`'s names/types)
    // to the stream's PINNED schema. A column RENAMED since the stream
    // started resolves through its stable PHYSICAL name to the current
    // logical name — the feed keeps delivering REAL values under the
    // pinned name, exactly like the appends path (null-filling it, the
    // pre-round-17 contract, was silently degraded data for every
    // merge/delete commit after a rename while appends kept working).
    // A column WIDENED since the stream started fails CRISPLY: its
    // post-widen values may not fit the pinned narrow type, and a
    // narrowing cast would either corrupt or fail mid-write — restart
    // the stream to adopt the wide type. Only a genuinely DROPPED (or
    // pre-evolution) column null-fills.
    def cut(d: DataFrame, cur: ManifestCommit.Manifest): DataFrame = {
      val have = d.columns.toSet
      d.select((readSchema.fields.toIndexedSeq.map { f =>
        val srcName =
          if (have(f.name)) Some(f.name)
          else {
            val pinnedPhys = pinnedColmap.getOrElse(f.name, f.name)
            cur.tableSchema.map(_.fieldNames.toSeq).getOrElse(Nil)
              .find(l => cur.colmap.getOrElse(l, l)
                .equalsIgnoreCase(pinnedPhys)).filter(have)
          }
        srcName match {
          case Some(n) =>
            val dt = d.schema(d.schema.fieldIndex(n)).dataType
            if (dt != f.dataType) throw new IllegalStateException(
              s"graft CDF stream over $root: column ${f.name} was " +
                s"ALTERed from ${f.dataType.sql} to ${dt.sql} after this " +
                "stream started; its post-widen values may not fit the " +
                "stream's pinned type. Remedy: restart the stream from a " +
                "fresh checkpoint to adopt the widened schema")
            col(n).as(f.name)
          case None => lit(null).cast(f.dataType).as(f.name)
        }
      } :+ col(ChangeFeed.ChangeType)): _*)
    }
    // Append-only commits need NO diff join — their changes ARE the
    // appended dirs as inserts. Consecutive runs of them COALESCE into
    // one scan over all their dirs (recovery from an N-append backlog is
    // one batched read, not N sequential plans); each row's
    // _commit_version comes back from its file path's dir segment via a
    // tiny broadcast lookup. Only data-changing commits (merge/delete —
    // rare next to appends) pay a per-generation ChangeFeed.diff.
    val frames = scala.collection.mutable.ArrayBuffer[DataFrame]()
    val pending =
      scala.collection.mutable.ArrayBuffer[(String, Long, Option[String])]()
    var pendingNested = false
    def flush(): Unit = if (pending.nonEmpty) {
      // keyed on data-dir BASENAMES ([[ManifestCommit.dirIdCol]],
      // nesting-proof): a clone's external entries are absolute strings
      // that would never match; UUID dir names are unique across roots
      val lookupRows = pending.toSeq.map { case (d, g, _) =>
        org.apache.spark.sql.Row(new org.apache.hadoop.fs.Path(
          ManifestCommit.dirAbs(root, d)).getName, g) }
      val lookup = spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          java.util.Arrays.asList(lookupRows: _*)),
        StructType(Seq(StructField("__g_dir", StringType, false),
          StructField("__g_gen", LongType, false))))
      val scan = physToLogical(
        if (pendingNested)
          ManifestCommit.readNestedPaths(spark,
            pending.toSeq.map { case (d, _, sfx) =>
              ManifestCommit.dirAbs(root, d) -> sfx.get },
            Some(physReadSchema), keepDirId = true)
            .withColumnRenamed("__dir", "__g_dir")
        else spark.read.schema(physReadSchema)
          .parquet(pending.toSeq.map { case (d, _, _) =>
            ManifestCommit.dirAbs(root, d) }: _*)
          .withColumn("__g_dir", ManifestCommit.dirIdCol),
        extra = Seq("__g_dir"))
      frames += scan
        .join(broadcast(lookup), "__g_dir")
        .withColumn(ChangeFeed.ChangeType, lit("insert"))
        .withColumnRenamed("__g_gen", "_commit_version")
        .drop("__g_dir")
      pending.clear()
    }
    // hive-nested converted dirs coalesce apart from flat dirs: the two
    // layouts read through different scan shapes (leaf-path injection
    // vs plain multi-root)
    def enqueue(cur: ManifestCommit.Manifest, d: String, g: Long): Unit = {
      val sfx = ManifestCommit.partSuffixOf(cur, d)
      if (pending.nonEmpty && sfx.isDefined != pendingNested) flush()
      pendingNested = sfx.isDefined
      pending += ((d, g, sfx))
    }
    (from + 1).to(to).foreach { g =>
      val cur = maniAt(g)
      if (!CompactOps(cur.op.getOrElse(""))) {
        val prev = maniAt(g - 1)
        def ident(m: ManifestCommit.Manifest)(d: String) = (d, m.dvs.get(d))
        val prevSet = prev.dirs.map(ident(prev)).toSet
        val added = cur.dirs.filterNot(d => prevSet(ident(cur)(d)))
        val curSet = cur.dirs.map(ident(cur)).toSet
        val removed = prev.dirs.filterNot(d => curSet(ident(prev)(d)))
        val (dvd, plain) = added.partition(cur.dvs.contains)
        if (removed.isEmpty && dvd.isEmpty) plain.foreach(enqueue(cur, _, g))
        else {
          flush()
          val changes =
            if (g == 1) ManifestCommit.readAt(spark, root, 1L)
              .withColumn(ChangeFeed.ChangeType, lit("insert"))
            else ChangeFeed.diff(spark, root, g - 1, g, keys, assumeUnique)
          frames += cut(changes, cur).withColumn("_commit_version", lit(g))
        }
      }
    }
    flush()
    unionBounded(frames.toSeq)
  }

  /** Union in bounded groups rather than one flat left-deep reduce: a
    * backlog batch with many per-generation frames must not build a
    * plan whose analysis recurses linearly in backlog length. */
  private val UnionGroup = 32
  private def unionBounded(frames: Seq[DataFrame]): DataFrame =
    if (frames.isEmpty) emptyBatch
    else if (frames.size == 1) frames.head
    else frames.grouped(UnionGroup).map(_.reduce(_.unionByName(_)))
      .reduce(_.unionByName(_))

  /** Generation g's manifest; g = 0 (the `startingVersion=1` floor) is
    * the empty pre-history — gen 1's predecessor — so "everything from
    * the first commit" works without a phantom generation on disk. */
  private def maniAt(g: Long): ManifestCommit.Manifest =
    if (g == 0) ManifestCommit.Manifest(0L, Nil)
    else ManifestCommit.readManifestAt(spark, root, g)
      .getOrElse(throw new IllegalStateException(
        s"graft stream over $root: generation $g is no longer retained " +
          "(snapshot retention expired the stream's window). Remedy: " +
          "restart the stream from a fresh checkpoint (re-snapshot), and " +
          "size expireSnapshots keepLast to cover the slowest stream's lag"))

  /** The appended dirs of each commit in (from, to], read under the
    * stream's pinned schema. Dir identity includes the deletion vector
    * (as [[ChangeFeed.diff]]): a DV-only delete is a data change, not an
    * append. */
  private def appendsBetween(from: Long, to: Long): DataFrame = {
    // DV-free appended dirs COALESCE across generations into one scan
    // (recovery from an N-append backlog plans one batched read, not N
    // sequential per-generation reads); the rare appended dir that
    // already carries a deletion vector reads DV-aware on its own.
    val frames = scala.collection.mutable.ArrayBuffer[DataFrame]()
    val pending =
      scala.collection.mutable.ArrayBuffer[(String, Option[String])]()
    var pendingNested = false
    def flush(): Unit = if (pending.nonEmpty) {
      frames += physToLogical(
        if (pendingNested)
          ManifestCommit.readNestedPaths(spark,
            pending.toSeq.map { case (d, sfx) =>
              ManifestCommit.dirAbs(root, d) -> sfx.get },
            Some(physReadSchema))
        else spark.read.schema(physReadSchema)
          .parquet(pending.toSeq.map(p =>
            ManifestCommit.dirAbs(root, p._1)): _*))
      pending.clear()
    }
    // hive-nested converted dirs scan apart from flat dirs (see the
    // change-feed path's enqueue)
    def enqueue(cur: ManifestCommit.Manifest, d: String): Unit = {
      val sfx = ManifestCommit.partSuffixOf(cur, d)
      if (pending.nonEmpty && sfx.isDefined != pendingNested) flush()
      pendingNested = sfx.isDefined
      pending += ((d, sfx))
    }
    (from + 1).to(to).foreach { g =>
      val prev = maniAt(g - 1); val cur = maniAt(g)
      def ident(m: ManifestCommit.Manifest)(d: String) = (d, m.dvs.get(d))
      val prevSet = prev.dirs.map(ident(prev)).toSet
      val added = cur.dirs.filterNot(d => prevSet(ident(cur)(d)))
      val curSet = cur.dirs.map(ident(cur)).toSet
      val removed = prev.dirs.filterNot(d => curSet(ident(prev)(d)))
      if (removed.isEmpty) {
        val (dvd, plain) = added.partition(cur.dvs.contains)
        plain.foreach(enqueue(cur, _))
        if (dvd.nonEmpty) {
          flush()
          // DV'd dirs must resolve physical names with the SAME pinned
          // mapping as the plain-append scans: if a second rename lands
          // mid-stream, cur.colmap no longer keys the pinned logical
          // name and this path would silently null-fill while the
          // plain-append path kept delivering (physical names are
          // stable, so the pinned mapping resolves any generation)
          frames += align(
            ManifestCommit.readDirsOf(spark, root, cur, dvd, Some(readSchema),
              colmapOverride = Some(pinnedColmap)))
        }
      } else if (CompactOps(cur.op.getOrElse("")) || skipChange) ()
      else throw new IllegalStateException(
        s"graft stream over $root: generation $g is a data-changing " +
          s"commit (op=${cur.op.getOrElse("?")}, ${removed.size} dirs " +
          "dropped or DV'd). A plain streaming read requires appends " +
          "only; set skipChangeCommits=true to skip such commits, or " +
          "readChangeFeed=true with keys=... to consume row-level changes")
    }
    flush()
    unionBounded(frames.toSeq.map(align))
  }

  private def align(df: DataFrame): DataFrame =
    df.select(readSchema.fieldNames.map(col).toIndexedSeq: _*)

  private def emptyBatch: DataFrame =
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
      schema)

  override def commit(end: Offset): Unit = {
    val g = genOf(end)
    synchronized { highWater = Some(math.max(g, highWater.getOrElse(0L))) }
  }
  override def stop(): Unit = ()
  override def toString: String = s"GraftTableSource[$root]"
}

/** `writeStream.format("graft-table")`: append-mode streaming writes landing
  * through the CAS commit protocol with writer-ledger idempotence. */
class GraftTableSink(spark: SparkSession, params: Map[String, String])
    extends Sink {
  private val root = GraftTableSource.rootOf(spark, params)
  private val appId = params.get("txnAppId")
    .orElse(params.get("checkpointLocation")).getOrElse(
      throw new IllegalArgumentException(
        "graft sink: set option txnAppId (a stable writer identity — " +
          "exactly-once replay detection is keyed on it)"))

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val df = org.apache.spark.sql.graftbridge.DatasetBridge.asBatch(data)
    val prev = ManifestCommit.readManifest(spark, root)
    // fast replay check before any write work (commitAppend re-checks
    // under the commit lock — this just skips staging a doomed dir)
    if (prev.exists(_.txns.get(appId).exists(_ >= batchId))) return
    val aligned = prev.flatMap(_.tableSchema) match {
      case Some(s) =>
        val conf = spark.sessionState.conf
        val out = s.fields.map { f =>
          val src = df.schema.fields.find(x => conf.resolver(x.name, f.name))
            .getOrElse(throw new IllegalArgumentException(
              s"graft sink: stream is missing target column ${f.name}"))
          if (src.dataType == f.dataType) col(src.name).as(f.name)
          else {
            // store-assignment casts, the GraftInsert contract: under the
            // default ANSI policy an overflowing value FAILS the write
            // even with spark.sql.ansi.enabled=false
            import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, UpCast}
            import org.apache.spark.sql.graftbridge.ColumnBridge
            import org.apache.spark.sql.internal.SQLConf.StoreAssignmentPolicy
            val in = ColumnBridge.expression(col(src.name))
            val cast = conf.storeAssignmentPolicy match {
              case StoreAssignmentPolicy.STRICT => UpCast(in, f.dataType)
              case StoreAssignmentPolicy.LEGACY =>
                Cast(in, f.dataType, Some(conf.sessionLocalTimeZone), EvalMode.LEGACY)
              case _ =>
                Cast(in, f.dataType, Some(conf.sessionLocalTimeZone), EvalMode.ANSI)
            }
            ColumnBridge.column(cast).as(f.name)
          }
        }
        df.select(out.toIndexedSeq: _*)
      case None => df
    }
    val checks = prev.map(_.checks).getOrElse(Map.empty)
    if (prev.isEmpty)
      ManifestCommit.commitReplace(spark, root, Nil, pruneDisplaced = false,
        schema = Some(StructType(df.schema.fields.map(_.copy(nullable = true)))),
        op = "create")
    // stat inheritance, the GraftInsertExec contract: meter what the
    // table already meters — or, on a freshly DDL-created sliced table
    // with no dirs yet, seed from the slicing expression's referenced
    // columns so the FIRST streamed batch already arms pruning and
    // manifest-only COUNT(*)
    val sliceComps = prev.flatMap(_.slice)
      .map(ManifestCommit.sliceComponents(_).toSet).getOrElse(Set.empty)
    val recorded = prev
      .map(_.stats.values.flatten.map(s => ManifestCommit.baseStatCol(s.col)).toSeq.distinct).getOrElse(Nil)
      .filter(c => c == ManifestCommit.RowCountStat ||
        (!ManifestCommit.PseudoStats(c) &&
          (aligned.columns.contains(c) || sliceComps(c))))
    // the CURRENT slice's columns union in even when stats inherit:
    // after PARTITION EVOLUTION the new key must be metered on every
    // new dir or pruning on the evolved layout never arms (same rule
    // as the INSERT path)
    val sliceSeed = prev.flatMap(_.slice).map(s =>
      graft.sql.GraftWriteUtil.sliceRefCols(s, aligned.columns.toSeq) ++
        ManifestCommit.sliceExprStatCols(s, aligned.columns.toSeq))
      .getOrElse(Nil)
    val statCols =
      if (recorded.nonEmpty) (recorded ++ sliceSeed).distinct
      else if (sliceSeed.nonEmpty)
        (sliceSeed :+ ManifestCommit.RowCountStat).distinct
      else Nil
    // A table that records a slicing expression gets the batch in its
    // established layout — one dir PER SLICE VALUE with slice-tight
    // stats, exactly what the same rows through INSERT get — instead
    // of one batch-granular dir whose slice-column min/max can span
    // months (a backfill replayed through the replication path, an
    // out-of-order CDC feed) and silently degrade the pruning the
    // table was DDL'd for. All of the batch's dirs commit in ONE
    // generation carrying the batch txn, so exactly-once replay
    // detection covers the whole batch.
    val dirs = ManifestCommit.writeData(spark, root, aligned,
      prev.flatMap(_.slice), statCols)
    // CHECK constraints proven on the staged dirs before commit (the
    // validated bytes are the served bytes); violation deletes them
    // and fails the batch — the stream stops, never lands bad rows
    ManifestCommit.validateWrittenChecks(spark, root, checks,
      dirs.map(_._1), "streaming append")
    // Some even when empty: a concurrent ADD CONSTRAINT landing
    // between this batch's validation and its commit must fail the
    // CAS (and the engine retries the batch), never silently govern
    // unproven rows
    ManifestCommit.commitAppendMulti(spark, root, dirs,
      op = "stream_append", txn = Some(appId -> batchId),
      expectedChecks = Some(checks))
    ()
  }

  override def toString: String = s"GraftTableSink[$root]"
}
