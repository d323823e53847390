package graft.ingest

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.Files

/** Seeded random LIFECYCLE fuzz over one manifest table: a sequence of
  * appends, merges (updates/deletes/inserts), deletion-vector deletes,
  * schema-evolving merges, minor compactions, z-order rewrites, and
  * snapshot expirations — after EVERY step the live table must equal an
  * independently-maintained in-memory model, and time travel to any
  * retained generation must equal that generation's model snapshot.
  * This is the net that catches cross-feature interactions no single
  * gate exercises (DV + evolution + compaction compositions, retention
  * over dv files, stats after rewrites). Deterministic: fixed seed. */
class LifecycleFuzzSpec extends SparkSpec {

  private case class ModelRow(v: String, amt: Double, tag: Option[String])

  private val baseSchema = StructType(Seq(
    StructField("id", LongType, false),
    StructField("v", StringType, true),
    StructField("amt", DoubleType, true)))
  private val evolvedSchema = baseSchema.add(StructField("tag", StringType, true))

  private def df(evolved: Boolean, rows: (Long, ModelRow)*): DataFrame = {
    val rs = rows.map { case (id, m) =>
      if (evolved) Row(id, m.v, m.amt, m.tag.orNull) else Row(id, m.v, m.amt)
    }
    mkDf(if (evolved) evolvedSchema else baseSchema, rs: _*)
  }

  private def snapshot(root: String): Map[Long, ModelRow] =
    ManifestCommit.read(spark, root).collect().map { r =>
      val tag = if (r.schema.fieldNames.contains("tag"))
        Option(r.getAs[String]("tag")) else None
      r.getAs[Long]("id") -> ModelRow(r.getAs[String]("v"), r.getAs[Double]("amt"), tag)
    }.toMap

  /** Change-feed COMPLETENESS over the fuzzed history: folding the
    * per-generation diffs (the exact stream the `graft-table` CDF
    * source emits) from the oldest retained snapshot must land exactly
    * on the live table — whatever mix of merges, DV deletes,
    * compactions, z-orders, evolution and retention produced it. */
  private def assertFeedRebuilds(root: String): Unit = {
    def stateOf(df: DataFrame): Map[Long, ModelRow] = df.collect().map { r =>
      val tag = if (r.schema.fieldNames.contains("tag"))
        Option(r.getAs[String]("tag")) else None
      r.getAs[Long]("id") -> ModelRow(r.getAs[String]("v"), r.getAs[Double]("amt"), tag)
    }.toMap
    val gens = ManifestCommit.snapshotGens(spark, root).sorted
    var state = stateOf(ManifestCommit.readAt(spark, root, gens.head))
    gens.sliding(2).foreach {
      case Seq(a, b) =>
        ChangeFeed.diff(spark, root, a, b, Seq("id")).collect().foreach { r =>
          val id = r.getAs[Long]("id")
          r.getAs[String](ChangeFeed.ChangeType) match {
            case "delete" => state -= id
            case "insert" | "update_postimage" =>
              val tag = if (r.schema.fieldNames.contains("tag"))
                Option(r.getAs[String]("tag")) else None
              state += id -> ModelRow(
                r.getAs[String]("v"), r.getAs[Double]("amt"), tag)
            case _ => () // update_preimage: superseded by its postimage
          }
        }
      case _ => () // single retained generation: nothing to fold
    }
    assert(state === stateOf(ManifestCommit.read(spark, root)),
      s"change-feed fold over retained gens $gens != live table")
  }

  for (seed <- Seq(4242, 90210, 31337))
  test(s"random op sequence (seed $seed): live == model, time travel == history") {
    var root = Files.createTempDirectory("fuzz_spec_").toString + "/t"
    // sources abandoned at a clone-fork, with the model frozen at fork
    // time — the fork must never touch them (external-ref ownership)
    var frozen = List.empty[(String, Map[Long, ModelRow])]
    val rnd = new scala.util.Random(seed)
    var model = Map.empty[Long, ModelRow]
    var nextId = 0L
    var evolved = false
    // model snapshot per generation, for time-travel checks
    var history = Map.empty[Long, Map[Long, ModelRow]]

    def fresh(n: Int): Seq[(Long, ModelRow)] = (1 to n).map { _ =>
      nextId += 1
      nextId -> ModelRow(s"v$nextId-0", rnd.nextInt(1000).toDouble, None)
    }
    def liveKeys: Seq[Long] = model.keys.toSeq.sorted
    def sample(k: Int): Seq[Long] =
      rnd.shuffle(liveKeys).take(k.min(liveKeys.size))

    // op 0: initial commit
    locally {
      val rows = fresh(20)
      val d = ManifestCommit.newDataDir(root)
      df(evolved, rows: _*).write.parquet(d)
      // __rows from generation 1 arms the manifest-only COUNT(*) — every
      // downstream path (merge observe metering, deleteWhere dead
      // counters, compaction/z-order priorRows) must then MAINTAIN it,
      // which invariant 1c checks after every step
      ManifestCommit.commitReplace(spark, root, Seq(d),
        pruneDisplaced = false,
        stats = Map(d -> (ManifestCommit.dirStats(spark, d, Seq("id")) :+
          ManifestCommit.rowCountStat(spark, d))))
      model = rows.toMap
    }

    // LIVE TAILING REPLICA (seed 4242 only — bounds suite runtime): a
    // checkpointed `graft-table` CDF stream rides the WHOLE op mix —
    // its offsets cross merge/DV-delete/compaction/z-order/retention/
    // RESTORE/clone-fork boundaries, and every quiesce point drains it
    // through a FRESH AvailableNow run from the same checkpoint (a
    // restart per step: offsets must survive checkpoint boundaries,
    // and each run re-pins the live schema so evolution flows through).
    // Changes apply to a replica graft table in commit order; invariant
    // 5 then demands replica == model at every quiesce point.
    val tailing = seed == 4242
    val replicaRoot =
      Files.createTempDirectory("fuzz_replica_").toString + "/r"
    var ckpt = Files.createTempDirectory("fuzz_replica_ck_").toString
    def applyBatch(batch: DataFrame, id: Long): Unit = {
      val b = batch.persist()
      try {
        b.select("_commit_version").distinct().collect().map(_.getLong(0))
          .sorted.foreach { v =>
            val of = b.filter(col("_commit_version") === v)
            if (!ManifestCommit.isManifestTable(spark, replicaRoot)) {
              val ups = of.filter(col(ChangeFeed.ChangeType)
                .isin("insert", "update_postimage"))
                .drop(ChangeFeed.ChangeType, "_commit_version")
              val d = ManifestCommit.newDataDir(replicaRoot)
              ups.write.parquet(d)
              ManifestCommit.commitReplace(spark, replicaRoot, Seq(d),
                pruneDisplaced = false, schema = Some(ups.schema))
            } else
              // the canonical ONE-merge apply (upserts + deletes fold,
              // preimages dropped, bookkeeping columns never land)
              ChangeFeed.applyTo(spark, replicaRoot, of, Seq("id"),
                evolveSchema = true)
          }
      } finally { b.unpersist(); () }
    }
    def drainReplica(): Unit = if (tailing) {
      val q = spark.readStream.format("graft-table")
        .option("path", root)
        .option("readChangeFeed", "true").option("keys", "id")
        .option("startingVersion", "latest")
        .load()
        .writeStream
        .foreachBatch(applyBatch _)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // first run pins `latest` to generation 1 — the replica then sees
    // every later commit; seed its snapshot to match
    if (tailing) {
      val d = ManifestCommit.newDataDir(replicaRoot)
      ManifestCommit.read(spark, root).write.parquet(d)
      ManifestCommit.commitReplace(spark, replicaRoot, Seq(d),
        pruneDisplaced = false)
      drainReplica()
    }

    (1 to 30).foreach { step =>
      rnd.nextInt(8) match {
        case 0 => // append a fresh batch, with a point-lookup bloom
          val rows = fresh(1 + rnd.nextInt(8))
          val d = ManifestCommit.newDataDir(root)
          df(evolved, rows: _*).write.parquet(d)
          ManifestCommit.writeDirBloom(spark, d, "id", rows.size.toLong.max(8L))
          ManifestCommit.commitAppend(spark, root, d,
            stats = ManifestCommit.dirStats(spark, d, Seq("id")) :+
              ManifestCommit.rowCountStat(spark, d))
          model ++= rows
        case 1 => // merge: updates + deletes + inserts
          val upd = sample(3).map(id => id ->
            model(id).copy(v = s"v$id-u$step", amt = model(id).amt + 1))
          val del = sample(2).filterNot(upd.map(_._1).contains)
          val ins = fresh(2)
          val srcRows = upd ++ del.map(id => id -> model(id)) ++ ins
          if (srcRows.nonEmpty) {
            val src = df(evolved, srcRows: _*)
              .withColumn("__kill", col("id").isin(del: _*))
            MergeInto.merge(spark, root, src, Seq("id"),
              deleteWhen = Some(col("__kill") === true))
            model = model -- del ++ upd ++ ins
          }
        case 2 => // deletion-vector sparse delete
          val del = sample(1 + rnd.nextInt(3))
          if (del.nonEmpty) {
            MergeInto.deleteWhere(spark, root, mkDf(
              StructType(Seq(StructField("id", LongType, false))),
              del.map(Row(_)): _*))
            model --= del
          }
        case 3 if !evolved => // schema evolution: one merge carries `tag`
          val upd = sample(2).map(id => id ->
            model(id).copy(v = s"v$id-e", tag = Some(s"t$step")))
          if (upd.nonEmpty) {
            evolved = true
            MergeInto.merge(spark, root, df(evolved, upd: _*), Seq("id"),
              evolveSchema = true)
            // evolution null-fills every pre-existing row
            model = model.view.mapValues(m => m).toMap ++ upd
          }
        case 3 => // already evolved: plain update merge with tags
          val upd = sample(2).map(id => id ->
            model(id).copy(tag = Some(s"t$step")))
          if (upd.nonEmpty) {
            MergeInto.merge(spark, root, df(evolved, upd: _*), Seq("id"))
            model ++= upd
          }
        case 4 => // minor compaction
          Optimize.compactSmall(spark, root, smallBytes = 1L << 20)
        case 5 => // z-order rewrite on (id, amt-as-long)
          if (model.nonEmpty)
            Optimize.zorderCompactN(spark, root, Seq("id", "amt"),
              targetDirs = 1 + rnd.nextInt(3))
        case 6 => // retention sweep
          ManifestCommit.expireSnapshots(spark, root, keepLast = 2)
        case 7 => // RESTORE: rollback to a random retained generation
          val targets = ManifestCommit.snapshotGens(spark, root)
            .filter(history.contains)
          if (targets.nonEmpty) {
            val g = targets(rnd.nextInt(targets.size))
            ManifestCommit.restore(spark, root, g)
            model = history(g)
            // the restored schema may predate the evolution flip
            evolved = ManifestCommit.readManifest(spark, root).get
              .tableSchema.exists(_.fieldNames.contains("tag"))
          }
      }
      // invariant 0 (delta log): every check below must resolve from DISK
      // alone — a step that left a delta record chained to a deleted or
      // never-written base would pass on the warm cache and break the
      // next cold process, so the cache is dropped before every assert
      ManifestCommit.clearResolveCache()
      // invariant 1: live read equals the model
      assert(snapshot(root) === model, s"live mismatch after step $step")
      // invariant 1c: the manifest-only COUNT(*) — when the stats chain
      // answers, it must equal the model EXACTLY, whatever mix of merge
      // metering, dv dead counters, compaction and z-order priorRows
      // maintained it; silently losing __rows (count degrades to None
      // forever) is also a failure
      locally {
        val n = ManifestCommit.tableRowCount(spark, root)
        assert(n.isDefined, s"manifest-only count lost after step $step")
        assert(n.get === model.size.toLong,
          s"manifest-only count ${n.get} != model ${model.size} after step $step")
      }
      // invariant 1b: bloom-resolved point probes agree with the model —
      // for a live key the probe finds exactly its row (DV-aware reread
      // of the kept dirs), and a key deleted this run resolves to nothing
      locally {
        def probe(id: Long): Seq[Row] = {
          val (df, kept, _) = ManifestCommit.readBloom(spark, root, "id", id)
          if (kept == 0) Nil
          else df.filter(col("id") === id).collect().toSeq
        }
        sample(1).foreach { id =>
          val got = probe(id)
          assert(got.size === 1 && got.head.getAs[String]("v") === model(id).v,
            s"live probe $id mismatch after step $step")
        }
        val dead = (1L to nextId).find(!model.contains(_))
        dead.foreach { id =>
          assert(probe(id).isEmpty, s"deleted probe $id found rows after step $step")
        }
      }
      val gen = ManifestCommit.readManifest(spark, root).get.gen
      history += gen -> model
      // invariant 2: every retained generation equals its model snapshot
      // (generations before the evolution flip lack `tag`, which the
      // history recorded at their time)
      ManifestCommit.snapshotGens(spark, root).foreach { g =>
        history.get(g).foreach { snap =>
          val got = ManifestCommit.readAt(spark, root, g).collect().map { r =>
            val tag = if (r.schema.fieldNames.contains("tag"))
              Option(r.getAs[String]("tag")) else None
            r.getAs[Long]("id") ->
              ModelRow(r.getAs[String]("v"), r.getAs[Double]("amt"), tag)
          }.toMap
          assert(got === snap, s"time travel to gen $g mismatch after step $step")
        }
      }
      // invariant 5 (seed 4242): the tailing replica, drained through a
      // fresh AvailableNow run from its checkpoint, equals the model
      if (tailing) {
        drainReplica()
        assert(snapshot(replicaRoot) === model,
          s"tailing replica diverged from model after step $step")
      }
      // FORK: at two fixed steps the fuzz CONTINUES ON A SHALLOW CLONE
      // of the table — every later op (merge, DV delete, compaction,
      // z-order, retention, restore, bloom probes, manifest COUNT) then
      // runs over external references; the abandoned source must come
      // out untouched (the clone-ownership contract, under the full mix)
      if (step == 10 || step == 20) {
        val fork = Files.createTempDirectory("fuzz_clone_").toString + "/t"
        ManifestCommit.shallowClone(spark, root, fork)
        frozen ::= ((root, model))
        root = fork
        history = Map(ManifestCommit.readManifest(spark, fork).get.gen -> model)
        // the replica follows the fork: a fresh checkpoint against the
        // clone, pinned NOW (`latest` = the fork generation) so the next
        // drain delivers exactly the post-fork commits — the replica is
        // already at the fork state, nothing is missed or re-applied
        if (tailing) {
          ckpt = Files.createTempDirectory("fuzz_replica_ck_").toString
          drainReplica()
          assert(snapshot(replicaRoot) === model,
            s"tailing replica diverged at the step-$step fork")
        }
      }
    }
    // final hygiene: orphan prune finds nothing to reclaim mid-lifecycle
    assert(ManifestCommit.pruneOrphans(spark, root, minAgeMs = 0L).isEmpty)
    // invariant 3: the change feed over the retained window rebuilds live
    assertFeedRebuilds(root)
    // invariant 4: the fork never mutated the sources it referenced
    frozen.foreach { case (r, m) =>
      ManifestCommit.clearResolveCache()
      assert(snapshot(r) === m, s"fork mutated its abandoned source $r")
    }
  }

  test("SQL verb fuzz (seed 5555): INSERT/UPDATE/DELETE/MERGE from SQL text, live == model") {
    // Every mutation arrives as SQL TEXT through the injected rules
    // (GraftResolveRelations → GraftWriteStrategy), mixed with
    // programmatic DV deletes, compaction, z-order and retention — the
    // rule-injection interaction net (skipping rule × DV × time travel ×
    // checkpoint boundaries × sliced INSERT) the single-verb gates don't
    // exercise. Invariants after every step: the SQL read equals the
    // model, COUNT(*) parity, and SQL `@v` time travel equals history.
    var root = Files.createTempDirectory("fuzz_sql_").toString + "/t"
    var frozen = List.empty[(String, Map[Long, ModelRow])]
    val name = s"fuzz_sql_${java.util.UUID.randomUUID().toString.replace("-", "").take(8)}"
    graft.sql.GraftSql.register(name, root)
    val rnd = new scala.util.Random(5555)
    var model = Map.empty[Long, ModelRow]
    var nextId = 0L
    var history = Map.empty[Long, Map[Long, ModelRow]]
    def fresh(n: Int): Seq[(Long, ModelRow)] = (1 to n).map { _ =>
      nextId += 1
      nextId -> ModelRow(s"v$nextId-0", rnd.nextInt(1000).toDouble, None)
    }
    def sample(k: Int): Seq[Long] =
      rnd.shuffle(model.keys.toSeq.sorted).take(k.min(model.size))

    locally { // sliced creation: SQL INSERTs must land in this layout
      val rows = fresh(24)
      val slice = floor(col("id") / lit(8))
      val dirs = ManifestCommit.writeSliced(spark, root, df(false, rows: _*),
        slice, Seq("id", ManifestCommit.RowCountStat))
      ManifestCommit.commitReplace(spark, root, dirs.map(_._1),
        pruneDisplaced = false, stats = dirs.toMap,
        schema = Some(StructType(baseSchema.fields.map(_.copy(nullable = true)))),
        slice = Some(ManifestCommit.sliceSql(slice)))
      model = rows.toMap
    }
    // a standing CHECK constraint every verb must carry and honor: the
    // fuzz only ever writes non-negative amounts, so enforcement must
    // never fire — but the constraint must SURVIVE every op (merge
    // rewrites, compaction, z-order, vacuum, restore) and still refuse
    // a violating insert at the end
    spark.sql(s"ALTER TABLE graft.$name ADD CONSTRAINT amt_nonneg CHECK (amt >= 0)")

    (1 to 24).foreach { step =>
      rnd.nextInt(10) match {
        case 9 => // stats retrofit as SQL TEXT (r19): ANALYZE [WITH
          // BLOOMS] interleaves with every mutating verb — the
          // idempotency marker, nn-counter backfill and bloom side
          // files must never desync the fold/scan equivalence below
          if (rnd.nextBoolean())
            spark.sql(s"ANALYZE TABLE graft.$name COMPUTE STATISTICS " +
              "FOR COLUMNS id, amt")
          else
            spark.sql(s"ANALYZE TABLE graft.$name COMPUTE STATISTICS " +
              "FOR COLUMNS id WITH BLOOMS (id)")
        case 8 => // SQL REPLACE WHERE: re-land an id range in ONE commit
          val lo = 1L + rnd.nextInt(nextId.toInt.max(1))
          val hi = lo + rnd.nextInt(8)
          val repl = (lo to hi).filter(model.contains).map { id =>
            id -> model(id).copy(v = s"v$id-r$step")
          }
          if (repl.nonEmpty) {
            val values = repl.map { case (id, m) =>
              s"($id, '${m.v}', ${m.amt})" }.mkString(", ")
            spark.sql(s"INSERT INTO graft.$name REPLACE WHERE " +
              s"id >= $lo AND id <= $hi VALUES $values")
            model = model.filterNot { case (id, _) =>
              id >= lo && id <= hi } ++ repl
          }
        case 0 => // SQL INSERT VALUES — fresh ids span multiple slices
          val rows = fresh(1 + rnd.nextInt(10))
          val values = rows.map { case (id, m) =>
            s"($id, '${m.v}', ${m.amt})" }.mkString(", ")
          spark.sql(s"INSERT INTO graft.$name VALUES $values")
          model ++= rows
        case 1 => // SQL DELETE
          val del = sample(1 + rnd.nextInt(3))
          if (del.nonEmpty) {
            spark.sql(s"DELETE FROM graft.$name WHERE id IN (${del.mkString(",")})")
            model --= del
          }
        case 2 => // SQL UPDATE (RHS over the pre-update row)
          val upd = sample(1 + rnd.nextInt(3))
          if (upd.nonEmpty) {
            spark.sql(s"UPDATE graft.$name SET v = concat(v, '-u$step'), " +
              s"amt = amt + 1 WHERE id IN (${upd.mkString(",")})")
            model ++= upd.map(id => id -> model(id).copy(
              v = model(id).v + s"-u$step", amt = model(id).amt + 1))
          }
        case 3 => // SQL MERGE: conditional DELETE + UPDATE SET * + INSERT *
          val upd = sample(3).map(id => id ->
            model(id).copy(v = s"v$id-m$step", amt = model(id).amt + 2))
          val del = sample(5).filterNot(upd.map(_._1).contains).take(2)
          val ins = fresh(2)
          val srcRows = upd ++ del.map(id => id -> model(id)) ++ ins
          df(false, srcRows: _*).withColumn("__kill", col("id").isin(del: _*))
            .createOrReplaceTempView("fuzz_sql_src")
          spark.sql(
            s"""MERGE INTO graft.$name t USING fuzz_sql_src s ON t.id = s.id
               |WHEN MATCHED AND s.__kill THEN DELETE
               |WHEN MATCHED THEN UPDATE SET *
               |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
          model = model -- del ++ upd ++ ins
        case 4 => // programmatic DV delete — SQL reads must subtract it
          val del = sample(1 + rnd.nextInt(2))
          if (del.nonEmpty) {
            MergeInto.deleteWhere(spark, root, mkDf(
              StructType(Seq(StructField("id", LongType, false))),
              del.map(Row(_)): _*))
            model --= del
          }
        case 5 => // maintenance as SQL TEXT too (OPTIMIZE [ZORDER BY])
          if (rnd.nextBoolean()) spark.sql(s"OPTIMIZE graft.$name")
          else if (model.nonEmpty)
            spark.sql(s"OPTIMIZE graft.$name ZORDER BY (id, amt)")
        case 6 => // retention as SQL TEXT (VACUUM RETAIN n GENERATIONS)
          spark.sql(s"VACUUM graft.$name RETAIN 3 GENERATIONS")
          history = history.filter { case (g, _) =>
            ManifestCommit.readManifestAt(spark, root, g).isDefined }
        case 7 => // rollback as SQL TEXT
          val targets = ManifestCommit.snapshotGens(spark, root)
            .filter(history.contains)
          if (targets.nonEmpty) {
            val g = targets(rnd.nextInt(targets.size))
            spark.sql(s"RESTORE TABLE graft.$name TO VERSION AS OF $g")
            model = history(g)
          }
      }
      ManifestCommit.clearResolveCache() // cold delta-log resolve each step
      val got = spark.sql(s"SELECT id, v, amt FROM graft.$name").collect()
        .map(r => r.getLong(0) -> ModelRow(r.getString(1), r.getDouble(2), None))
        .toMap
      assert(got === model, s"SQL live mismatch after step $step")
      assert(spark.sql(s"SELECT count(*) FROM graft.$name")
        .collect()(0).getLong(0) === model.size.toLong,
        s"SQL COUNT(*) parity broken after step $step")
      // METADATA-FOLD parity (r19): whatever the interleaving did to
      // stats / counters / DVs / blooms, the zero-job aggregate paths
      // must EQUAL the model — they may fall back to the scan (then
      // equality is trivial) but must never serve a wrong answer
      locally {
        val f = spark.sql(s"SELECT count(*) AS n, count(amt) AS nc, " +
          s"min(id) AS mn, max(id) AS mx FROM graft.$name").collect()(0)
        assert(f.getLong(0) === model.size.toLong &&
          f.getLong(1) === model.size.toLong,
          s"metadata COUNT fold wrong after step $step")
        if (model.nonEmpty) {
          assert(f.getLong(2) === model.keys.min &&
            f.getLong(3) === model.keys.max,
            s"metadata MIN/MAX fold wrong after step $step")
        } else assert(f.isNullAt(2) && f.isNullAt(3))
        val lo = 1L + rnd.nextInt(nextId.toInt.max(1))
        val hi = lo + rnd.nextInt(16)
        val fc = spark.sql(s"SELECT count(*) AS n FROM graft.$name " +
          s"WHERE id >= $lo AND id <= $hi").collect()(0).getLong(0)
        assert(fc === model.keys.count(id => id >= lo && id <= hi).toLong,
          s"filtered fold [$lo,$hi] wrong after step $step")
      }
      val gen = ManifestCommit.readManifest(spark, root).get.gen
      history += gen -> model
      val gens = ManifestCommit.snapshotGens(spark, root).filter(history.contains)
      if (gens.nonEmpty) {
        val g = gens(rnd.nextInt(gens.size))
        val tt = spark.sql(s"SELECT id, v, amt FROM graft.`$name@v$g`").collect()
          .map(r => r.getLong(0) -> ModelRow(r.getString(1), r.getDouble(2), None))
          .toMap
        assert(tt === history(g), s"SQL time travel to gen $g mismatch after step $step")
      }
      // FORK onto a shallow clone mid-run: the registry repoints, every
      // later SQL verb (sliced INSERT, UPDATE, MERGE, OPTIMIZE, VACUUM,
      // RESTORE — plus the standing CHECK constraint, which rides the
      // clone) runs over external references, and the abandoned source
      // must come out untouched
      if (step == 8 || step == 16) {
        val fork = Files.createTempDirectory("fuzz_sql_clone_").toString + "/t"
        ManifestCommit.shallowClone(spark, root, fork)
        frozen ::= ((root, model))
        root = fork
        graft.sql.GraftSql.register(name, fork)
        history = Map(ManifestCommit.readManifest(spark, fork).get.gen -> model)
      }
    }
    // change-feed completeness across the SQL-verb history too
    assertFeedRebuilds(root)
    // the fork never mutated the sources it referenced
    frozen.foreach { case (r, m) =>
      ManifestCommit.clearResolveCache()
      assert(snapshot(r) === m, s"fork mutated its abandoned source $r")
    }
    // the constraint survived the whole op mix and still enforces
    assert(ManifestCommit.readManifest(spark, root).get.checks
      .contains("amt_nonneg"), "constraint lost somewhere in the op mix")
    val eCk = intercept[Exception] {
      spark.sql(s"INSERT INTO graft.$name VALUES (999999, 'bad', -1.0)")
    }
    assert(eCk.getMessage.contains("amt_nonneg"), eCk.getMessage)
    graft.sql.GraftSql.unregister(name)
  }

  for (evoSeed <- Seq(6161, 7272))
  test(s"partition-evolution fuzz (seed $evoSeed): re-slicing rides the " +
      "full SQL op mix — RESTORE reverts the slice, the clone inherits " +
      "it, OPTIMIZE migrates stale layouts, reads stay exact") {
    // Every individual composition (evolution × OPTIMIZE migration,
    // evolution × streaming sink, guard refusals) is spec'd in
    // PartitionEvolutionSpec; this is the INTERLEAVING net — ≥3
    // evolutions (month → day → composite bucket → none) mixed with
    // INSERT/UPDATE/DELETE/MERGE, scoped and plain OPTIMIZE, ZORDER,
    // VACUUM, RESTORE and a mid-run shallow-clone fork.
    var root = Files.createTempDirectory("fuzz_evo_").toString + "/t"
    var frozen = List.empty[(String, Map[Long, (String, Int, Double)])]
    val name = s"fuzz_evo_${java.util.UUID.randomUUID().toString.replace("-", "").take(8)}"
    graft.sql.GraftSql.register(name, root)
    val rnd = new scala.util.Random(evoSeed)
    val stE = StructType(Seq(
      StructField("id", LongType, false),
      StructField("ts", TimestampType, false),
      StructField("amt", DoubleType, true)))
    val monthsPool = Seq("2024-01", "2024-02", "2024-03")
    // model: id -> (month, day, amt)
    var model = Map.empty[Long, (String, Int, Double)]
    var nextId = 0L
    def fresh(n: Int): Seq[(Long, (String, Int, Double))] = (1 to n).map { _ =>
      nextId += 1
      nextId -> ((monthsPool(rnd.nextInt(monthsPool.size)),
        1 + rnd.nextInt(27), rnd.nextInt(100).toDouble))
    }
    def sample(k: Int): Seq[Long] =
      rnd.shuffle(model.keys.toSeq.sorted).take(k.min(model.size))
    def tsOf(mo: String, day: Int) =
      java.sql.Timestamp.valueOf(s"$mo-${f"$day%02d"} 12:00:00")

    locally { // initial layout: months(ts)
      val rows = fresh(24)
      val slice = expr("date_format(ts, 'yyyyMM')")
      val dirs = ManifestCommit.writeSliced(spark, root,
        mkDf(stE, rows.map { case (id, (mo, day, amt)) =>
          Row(id, tsOf(mo, day), amt) }: _*),
        slice, Seq("ts", "id", ManifestCommit.RowCountStat))
      ManifestCommit.commitReplace(spark, root, dirs.map(_._1),
        pruneDisplaced = false, stats = dirs.toMap,
        schema = Some(StructType(stE.fields.map(_.copy(nullable = true)))),
        slice = Some("date_format(ts, 'yyyyMM')"))
      model = rows.toMap
    }
    var expectedSlice: Option[String] = Some("date_format(ts, 'yyyyMM')")
    // (model, slice) per generation — RESTORE must revert BOTH
    var history = Map.empty[Long, (Map[Long, (String, Int, Double)], Option[String])]
    val evolutions = scala.collection.mutable.Queue[(String, Option[String])](
      (s"ALTER TABLE graft.$name SET PARTITIONED BY (days(ts))",
        Some("date_format(ts, 'yyyyMMdd')")),
      (s"ALTER TABLE graft.$name SET PARTITIONED BY (months(ts), bucket(4, id))",
        Some(ManifestCommit.compositeSlice(Seq(
          "date_format(ts, 'yyyyMM')", "pmod(hash(id), 4)")))),
      (s"ALTER TABLE graft.$name DROP PARTITIONING", None))

    (1 to 27).foreach { step =>
      if (step % 8 == 4 && evolutions.nonEmpty) {
        // deterministic evolution points (steps 4, 12, 20) so every seed
        // drives all three re-slicings whatever the random mix does
        val (ddl, slice) = evolutions.dequeue()
        spark.sql(ddl)
        expectedSlice = slice
      } else rnd.nextInt(7) match {
        case 0 => // INSERT lands under the CURRENT slice
          val rows = fresh(1 + rnd.nextInt(6))
          val values = rows.map { case (id, (mo, day, amt)) =>
            s"($id, TIMESTAMP '$mo-${f"$day%02d"} 12:00:00', $amt)"
          }.mkString(", ")
          spark.sql(s"INSERT INTO graft.$name VALUES $values")
          model ++= rows
        case 1 => // DELETE
          val del = sample(1 + rnd.nextInt(3))
          if (del.nonEmpty) {
            spark.sql(
              s"DELETE FROM graft.$name WHERE id IN (${del.mkString(",")})")
            model --= del
          }
        case 2 => // UPDATE
          val upd = sample(1 + rnd.nextInt(3))
          if (upd.nonEmpty) {
            spark.sql(s"UPDATE graft.$name SET amt = amt + 1 " +
              s"WHERE id IN (${upd.mkString(",")})")
            model ++= upd.map(id => id -> model(id)
              .copy(_3 = model(id)._3 + 1))
          }
        case 3 => // MERGE: update + insert
          val upd = sample(2).map(id => id -> model(id)
            .copy(_3 = model(id)._3 + 2))
          val ins = fresh(2)
          val srcRows = upd ++ ins
          mkDf(stE, srcRows.map { case (id, (mo, day, amt)) =>
            Row(id, tsOf(mo, day), amt) }: _*)
            .createOrReplaceTempView("fuzz_evo_src")
          spark.sql(
            s"""MERGE INTO graft.$name t USING fuzz_evo_src s ON t.id = s.id
               |WHEN MATCHED THEN UPDATE SET *
               |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
          model = model ++ upd ++ ins
        case 4 => // maintenance: plain fold (migrates stale layouts),
          // scoped fold, or scoped zorder
          rnd.nextInt(3) match {
            case 0 => spark.sql(s"OPTIMIZE graft.$name")
            case 1 => spark.sql(s"OPTIMIZE graft.$name WHERE " +
              s"ts >= TIMESTAMP '2024-02-01 00:00:00'")
            case 2 => if (model.nonEmpty)
              spark.sql(s"OPTIMIZE graft.$name ZORDER BY (id, amt)")
          }
        case 5 => // retention
          spark.sql(s"VACUUM graft.$name RETAIN 4 GENERATIONS")
          history = history.filter { case (g, _) =>
            ManifestCommit.readManifestAt(spark, root, g).isDefined }
        case 6 => // RESTORE — the slice is part of the restored identity
          val targets = ManifestCommit.snapshotGens(spark, root)
            .filter(history.contains)
          if (targets.nonEmpty) {
            val g = targets(rnd.nextInt(targets.size))
            spark.sql(s"RESTORE TABLE graft.$name TO VERSION AS OF $g")
            val (mdl, sl) = history(g)
            model = mdl
            expectedSlice = sl
          }
      }
      ManifestCommit.clearResolveCache()
      val m = ManifestCommit.readManifest(spark, root).get
      // invariant 1: the recorded slice is exactly what the DDL/RESTORE
      // history implies
      assert(m.slice === expectedSlice,
        s"slice drifted after step $step: ${m.slice} != $expectedSlice")
      // invariant 2: live read == model
      val got = spark.sql(s"SELECT id, ts, amt FROM graft.$name").collect()
        .map { r =>
          val ldt = r.getTimestamp(1).toLocalDateTime
          r.getLong(0) -> ((f"${ldt.getYear}%04d-${ldt.getMonthValue}%02d",
            ldt.getDayOfMonth, r.getDouble(2)))
        }.toMap
      assert(got === model, s"live mismatch after step $step")
      // invariant 3: manifest-only COUNT(*) parity
      assert(spark.sql(s"SELECT count(*) FROM graft.$name")
        .collect()(0).getLong(0) === model.size.toLong,
        s"COUNT(*) parity broken after step $step")
      // invariant 4: a month probe through stats skipping == the model's
      // month slice, whatever mix of layouts the dirs carry right now
      val mo = monthsPool(rnd.nextInt(monthsPool.size))
      val (pdf, keptN, _) = ManifestCommit.readPruned(spark, root, Seq(("ts",
        Some(ManifestCommit.temporalBound(s"$mo-01")),
        Some(s"$mo-31T23:59:59.999"))))
      val gotMo =
        if (keptN == 0) Set.empty[Long]
        else pdf.filter(date_format(col("ts"), "yyyy-MM") === mo)
          .select("id").collect().map(_.getLong(0)).toSet
      assert(gotMo === model.collect {
        case (id, (m2, _, _)) if m2 == mo => id }.toSet,
        s"month probe mismatch for $mo after step $step")
      history += m.gen -> ((model, expectedSlice))
      // FORK at step 14: the clone must inherit the CURRENT slice and
      // every later op (incl. the remaining evolutions) runs on it
      if (step == 14) {
        val fork = Files.createTempDirectory("fuzz_evo_clone_").toString + "/t"
        ManifestCommit.shallowClone(spark, root, fork)
        assert(ManifestCommit.readManifest(spark, fork).get.slice
          === expectedSlice, "clone must inherit the slicing expression")
        frozen ::= ((root, model))
        root = fork
        graft.sql.GraftSql.register(name, fork)
        history = Map(ManifestCommit.readManifest(spark, fork).get.gen
          -> ((model, expectedSlice)))
      }
    }
    assert(evolutions.isEmpty, "all three evolutions must have run")
    // deterministic pin (random RESTOREs may never have crossed one):
    // restoring across a slice boundary reverts the slicing expression
    val cross = history.toSeq
      .filter { case (g, (_, sl)) => sl != expectedSlice &&
        ManifestCommit.readManifestAt(spark, root, g).isDefined }
      .sortBy(_._1).lastOption
    cross.foreach { case (g, (mdl, sl)) =>
      spark.sql(s"RESTORE TABLE graft.$name TO VERSION AS OF $g")
      val m2 = ManifestCommit.readManifest(spark, root).get
      assert(m2.slice === sl,
        s"RESTORE to gen $g must revert the slice: ${m2.slice} != $sl")
      assert(spark.sql(s"SELECT count(*) FROM graft.$name")
        .collect()(0).getLong(0) === mdl.size.toLong)
    }
    // the fork never mutated its abandoned source
    frozen.foreach { case (r, mdl) =>
      ManifestCommit.clearResolveCache()
      assert(ManifestCommit.read(spark, r).collect().map { x =>
        val ldt = x.getTimestamp(1).toLocalDateTime
        x.getLong(0) -> ((f"${ldt.getYear}%04d-${ldt.getMonthValue}%02d",
          ldt.getDayOfMonth, x.getDouble(2)))
      }.toMap === mdl, s"fork mutated its abandoned source $r")
    }
    graft.sql.GraftSql.unregister(name)
  }

  test("concurrent-writer fuzz (seed 1337): appends race every maintenance op, nothing lost") {
    // Every step races a REAL concurrent append (its own thread) against
    // a maintenance/mutation op on the same table. Fresh-id appends are
    // provably disjoint from every merge/delete predicate (ids only grow),
    // so the rebasing commits must graft them — both writers land, no
    // caller retry, and the model stays exact whatever interleave the
    // scheduler produced. This is the fuzz-level evidence for
    // commitReconciled: 20 steps x {merge, dv-delete, compactSmall,
    // zorder} each racing an append.
    val root = Files.createTempDirectory("fuzz_conc_").toString + "/t"
    val rnd = new scala.util.Random(1337)
    var model = Map.empty[Long, ModelRow]
    val nextId = new java.util.concurrent.atomic.AtomicLong(0L)

    def fresh(n: Int): Seq[(Long, ModelRow)] = (1 to n).map { _ =>
      val id = nextId.incrementAndGet()
      id -> ModelRow(s"v$id-0", (id % 1000).toDouble, None)
    }
    locally {
      val rows = fresh(20)
      val d = ManifestCommit.newDataDir(root)
      df(false, rows: _*).write.parquet(d)
      ManifestCommit.commitReplace(spark, root, Seq(d),
        pruneDisplaced = false,
        stats = Map(d -> ManifestCommit.dirStats(spark, d, Seq("id"))))
      model = rows.toMap
    }

    (1 to 20).foreach { step =>
      // sample/plan from the model BEFORE the race so the maintenance op
      // is independent of the appender's timing
      val live = model.keys.toSeq.sorted
      val appendRows = fresh(1 + rnd.nextInt(4))
      val appender = new Thread(() => {
        val d = ManifestCommit.newDataDir(root)
        df(false, appendRows: _*).write.parquet(d)
        ManifestCommit.commitAppend(spark, root, d,
          stats = ManifestCommit.dirStats(spark, d, Seq("id")))
      })
      appender.start()
      rnd.nextInt(4) match {
        case 0 => // merge: updates + deletes on pre-race keys
          val upd = rnd.shuffle(live).take(3).map(id => id ->
            model(id).copy(v = s"v$id-u$step", amt = model(id).amt + 1))
          val del = rnd.shuffle(live).filterNot(upd.map(_._1).contains).take(2)
          val srcRows = upd ++ del.map(id => id -> model(id))
          if (srcRows.nonEmpty) {
            val src = df(false, srcRows: _*)
              .withColumn("__kill", col("id").isin(del: _*))
            MergeInto.merge(spark, root, src, Seq("id"),
              deleteWhen = Some(col("__kill") === true))
            model = model -- del ++ upd
          }
        case 1 => // deletion-vector sparse delete
          val del = rnd.shuffle(live).take(1 + rnd.nextInt(3))
          if (del.nonEmpty) {
            MergeInto.deleteWhere(spark, root, mkDf(
              StructType(Seq(StructField("id", LongType, false))),
              del.map(Row(_)): _*))
            model --= del
          }
        case 2 =>
          Optimize.compactSmall(spark, root, smallBytes = 1L << 20)
        case 3 =>
          if (model.nonEmpty)
            Optimize.zorderCompactN(spark, root, Seq("id", "amt"),
              targetDirs = 1 + rnd.nextInt(3))
      }
      appender.join(120000)
      assert(!appender.isAlive, s"appender hung at step $step")
      model ++= appendRows
      assert(snapshot(root) === model,
        s"live mismatch after concurrent step $step — a writer was lost")
    }
  }

  test("standing-rollup fuzz (seed 2718): change-feed maintenance with min/max stays exact through every op mix") {
    // A rollup (count/sum + MIN/MAX) maintained ONLY through
    // ChangeFeed.diff + IncrementalAgg.applyChangesExact while the base
    // table goes through the full lifecycle — merges that move rows
    // between groups, DV deletes, minor compaction, z-order rewrites,
    // retention sweeps. Invariant after every step: the finalized rollup
    // equals a from-scratch aggregate of the in-memory model. This is
    // the interaction net for the q126 machinery: row-identical rewrites
    // must feed NOTHING, deletes must dirty exactly their groups, and
    // group-movers must retract from the old group while the new group's
    // min/max moves monotonically.
    import IncrementalAgg.Measure
    val root = Files.createTempDirectory("fuzz_roll_").toString + "/t"
    val rollup = Files.createTempDirectory("fuzz_roll_").toString + "/r"
    val rnd = new scala.util.Random(2718)
    val st = StructType(Seq(
      StructField("id", LongType, false),
      StructField("g", StringType, false),
      StructField("x", LongType, false)))
    val groups = Seq("a", "b", "c", "d")
    // model: id -> (group, x)
    var model = Map.empty[Long, (String, Long)]
    var nextId = 0L
    def fresh(n: Int): Seq[(Long, (String, Long))] = (1 to n).map { _ =>
      nextId += 1
      nextId -> ((groups(rnd.nextInt(groups.size)), rnd.nextInt(1000).toLong))
    }
    def df(rows: Seq[(Long, (String, Long))]) =
      mkDf(st, rows.map { case (id, (g, x)) => Row(id, g, x) }: _*)

    locally {
      val rows = fresh(24)
      val d = ManifestCommit.newDataDir(root)
      df(rows).write.parquet(d)
      ManifestCommit.commitReplace(spark, root, Seq(d),
        pruneDisplaced = false,
        stats = Map(d -> ManifestCommit.dirStats(spark, d, Seq("id"))),
        schema = Some(StructType(st.fields.map(_.copy(nullable = true)))))
      model = rows.toMap
    }
    val measures = Seq(
      Measure("cnt", "*", "count"),
      Measure("x_sum", "x", "sum_long"),
      Measure("x_min", "x", "min"),
      Measure("x_max", "x", "max"))
    IncrementalAgg.appendBatch(spark, rollup,
      ManifestCommit.read(spark, root), Seq("g"), measures)
    var lastGen = ManifestCommit.readManifest(spark, root).get.gen

    def expected(): Map[String, (Long, Long, Long, Long)] =
      model.values.groupBy(_._1).map { case (g, vs) =>
        val xs = vs.map(_._2)
        g -> ((xs.size.toLong, xs.sum, xs.min, xs.max))
      }
    def actual(): Map[String, (Long, Long, Long, Long)] =
      IncrementalAgg.finalizeState(spark, rollup, Seq("g"), measures,
        dropEmptyGroups = true)
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap

    (1 to 14).foreach { step =>
      val live = model.keys.toSeq.sorted
      rnd.nextInt(5) match {
        case 0 => // merge: group-moving updates + deletes + inserts
          val upd = rnd.shuffle(live).take(3).map { id =>
            val (_, x) = model(id)
            id -> ((groups(rnd.nextInt(groups.size)), x + 7))
          }
          val del = rnd.shuffle(live).filterNot(upd.map(_._1).contains).take(2)
          val ins = fresh(2)
          val srcRows = upd ++ del.map(id => id -> model(id)) ++ ins
          val src = df(srcRows).withColumn("__kill", col("id").isin(del: _*))
          MergeInto.merge(spark, root, src, Seq("id"),
            deleteWhen = Some(col("__kill") === true))
          model = model -- del ++ upd ++ ins
        case 1 => // DV sparse delete — dirties exactly the victims' groups
          val del = rnd.shuffle(live).take(1 + rnd.nextInt(3))
          if (del.nonEmpty) {
            MergeInto.deleteWhere(spark, root, mkDf(
              StructType(Seq(StructField("id", LongType, false))),
              del.map(Row(_)): _*))
            model --= del
          }
        case 2 => Optimize.compactSmall(spark, root, smallBytes = 1L << 20)
        case 3 => if (model.nonEmpty)
          Optimize.zorderCompactN(spark, root, Seq("id", "x"),
            targetDirs = 1 + rnd.nextInt(2))
        case 4 => ManifestCommit.expireSnapshots(spark, root,
          // the un-maintained window [lastGen, current] must stay
          // retained for the next diff
          keepLast = math.max(2,
            (ManifestCommit.readManifest(spark, root).get.gen - lastGen + 1).toInt))
      }
      val cur = ManifestCommit.readManifest(spark, root).get.gen
      if (cur != lastGen) {
        val feed = ChangeFeed.diff(spark, root, lastGen, cur, Seq("id"))
        IncrementalAgg.applyChangesExact(spark, rollup, feed,
          ManifestCommit.read(spark, root), Seq("g"), measures)
        lastGen = cur
      }
      ManifestCommit.clearResolveCache() // cold delta-log resolve each step
      assert(actual() === expected(), s"rollup mismatch after step $step")
    }
  }

  test("month lifecycle fuzz: collapse x z-order x DV interplay, pruned reads stay exact") {
    val root = Files.createTempDirectory("fuzz_mo_").toString + "/t"
    val rnd = new scala.util.Random(777)
    val st = StructType(Seq(
      StructField("id", LongType, false),
      StructField("ts", TimestampType, false),
      StructField("v", LongType, false),
      StructField("amt", DoubleType, true)))
    val monthsPool = Seq("2024-01", "2024-02", "2024-03", "2024-04")
    def tsOf(mo: String, day: Int) =
      java.sql.Timestamp.valueOf(s"$mo-${f"$day%02d"} 12:00:00")
    // model: id -> (month, day, version, amt)
    var model = Map.empty[Long, (String, Int, Long, Double)]
    var nextId = 0L
    var ver = 0L

    def write(rows: Seq[(Long, (String, Int, Long, Double))]): String = {
      val d = ManifestCommit.newDataDir(root)
      mkDf(st, rows.map { case (id, (mo, day, v, amt)) =>
        Row(id, tsOf(mo, day), v, amt)
      }: _*).write.parquet(d)
      d
    }
    // the LOGICAL table of a Replacing target is latest-per-key: between
    // collapses the physical read legitimately holds several versions of
    // an id, so the snapshot collapses by max v (ver strictly increases,
    // so ties are impossible)
    def liveSnapshot(): Map[Long, (String, Int, Long, Double)] =
      ManifestCommit.read(spark, root).collect().map { r =>
        val ldt = r.getTimestamp(1).toLocalDateTime
        r.getLong(0) -> ((f"${ldt.getYear}%04d-${ldt.getMonthValue}%02d",
          ldt.getDayOfMonth, r.getLong(2), r.getDouble(3)))
      }.groupBy(_._1).map { case (id, vs) => id -> vs.map(_._2).maxBy(_._3) }

    // initial: one dir per month
    val init = monthsPool.map { mo =>
      val rows = (1 to 5).map { _ =>
        nextId += 1
        nextId -> ((mo, 1 + rnd.nextInt(27), 0L, rnd.nextInt(100).toDouble))
      }
      model ++= rows
      val d = write(rows)
      d -> ManifestCommit.dirStats(spark, d, Seq("ts", "id"))
    }
    ManifestCommit.commitReplace(spark, root, init.map(_._1),
      pruneDisplaced = false, stats = init.toMap)

    (1 to 25).foreach { step =>
      rnd.nextInt(5) match {
        case 0 => // version batch across 1-2 random months (new + updated rows)
          ver += 1
          val mos = rnd.shuffle(monthsPool).take(1 + rnd.nextInt(2))
          val upd = rnd.shuffle(model.keys.toSeq.sorted)
            .filter(id => mos.contains(model(id)._1)).take(3)
            .map { id =>
              val (mo, day, _, amt) = model(id)
              id -> ((mo, day, ver, amt + 1))
            }
          val ins = mos.map { mo =>
            nextId += 1
            nextId -> ((mo, 1 + rnd.nextInt(27), ver, rnd.nextInt(100).toDouble))
          }
          val rows = upd ++ ins
          val d = write(rows)
          ManifestCommit.commitAppend(spark, root, d,
            stats = ManifestCommit.dirStats(spark, d, Seq("ts", "id")))
          model ++= rows
        case 1 => // per-partition collapse
          Optimize.compactMonths(spark, root, "ts", Seq("id"), Some("v"))
        case 2 => // z-order rewrite — destroys month purity on purpose;
          // a later compactMonths must treat the z-dirs as deltas and
          // re-partition them by month
          Optimize.zorderCompactN(spark, root, Seq("id", "v"), targetDirs = 2,
            extraStatCols = Seq("ts"))
        case 3 => // DV sparse delete
          val del = rnd.shuffle(model.keys.toSeq.sorted).take(2)
          if (del.nonEmpty) {
            MergeInto.deleteWhere(spark, root, mkDf(
              StructType(Seq(StructField("id", LongType, false))),
              del.map(Row(_)): _*))
            model --= del
          }
        case 4 =>
          ManifestCommit.expireSnapshots(spark, root, keepLast = 2)
      }
      // cold-resolve: the delta-log chain must reconstruct from disk alone
      ManifestCommit.clearResolveCache()
      // invariant 1: live == model (latest version per id, deletes applied)
      assert(liveSnapshot() === model, s"live mismatch after step $step")
      // invariant 2: a month-pruned read + residual filter == the model's
      // month slice, whatever the current physical layout (z-ordered,
      // delta-ridden, dv'd — skipping must never change an answer)
      val mo = monthsPool(rnd.nextInt(monthsPool.size))
      // DV-safe skipping read: deletion vectors apply inside the helper
      val (prunedDf, keptN, _) = ManifestCommit.readPruned(spark, root, Seq(("ts",
        Some(ManifestCommit.temporalBound(s"$mo-01")),
        Some(s"$mo-31T23:59:59.999"))))
      val got =
        if (keptN == 0) Set.empty[Long]
        else prunedDf
          .filter(date_format(col("ts"), "yyyy-MM") === mo)
          .collect().map(_.getLong(0)).toSet
      // collapse latest-per-key driver-side (an uncompacted month may
      // carry several versions of one id in the pruned read)
      val expect = model.collect { case (id, (m2, _, _, _)) if m2 == mo => id }.toSet
      assert(got === expect, s"month-pruned read mismatch for $mo after step $step")
    }
  }

  test("converted-table fuzz (seed 424242): a MULTI-LEVEL hive convert " +
      "rides the full op mix — DML, z-order, retention, pruning stay exact") {
    val root = Files.createTempDirectory("fuzz_conv_").toString + "/t"
    val rnd = new scala.util.Random(424242)
    val years = Seq(2023, 2024)
    val cats = Seq("a", "b:x", "c") // one hive-escaping value
    // model: id -> (y, cat, amt)
    var model = Map.empty[Long, (Int, String, Double)]
    var nextId = 0L
    def rowsDf(rows: Seq[(Long, (Int, String, Double))]) = {
      import spark.implicits._
      rows.map { case (id, (y, c, amt)) => (id, amt, y, c) }
        .toDF("id", "amt", "y", "cat")
    }
    // seed the hive tree and CONVERT it in place
    locally {
      val rows = for { y <- years; c <- cats; _ <- 1 to 4 } yield {
        nextId += 1
        nextId -> ((y, c, rnd.nextInt(100).toDouble))
      }
      model ++= rows
      rowsDf(rows.toSeq).write.partitionBy("y", "cat").parquet(root)
      val m = ManifestCommit.convertToGraft(spark, root, Seq("id"))
      assert(m.dirs.size === years.size * cats.size)
    }
    val initialModel = model
    def liveSnapshot(): Map[Long, (Int, String, Double)] =
      ManifestCommit.read(spark, root).select("id", "y", "cat", "amt")
        .collect().map(r => r.getLong(0) ->
          ((r.getInt(1), r.getString(2), r.getDouble(3)))).toMap
    (1 to 20).foreach { step =>
      rnd.nextInt(5) match {
        case 0 => // flat append (both partition columns as real columns)
          val rows = (1 to 1 + rnd.nextInt(4)).map { _ =>
            nextId += 1
            nextId -> ((years(rnd.nextInt(2)), cats(rnd.nextInt(3)),
              rnd.nextInt(100).toDouble))
          }
          val d = ManifestCommit.newDataDir(root)
          rowsDf(rows).write.parquet(d)
          ManifestCommit.commitAppend(spark, root, d,
            stats = ManifestCommit.dirStats(spark, d, Seq("id")))
          model ++= rows
        case 1 => // merge: updates + inserts + deleteWhen kills, over a
          // mix of nested conversion dirs and flat appends
          val keys = rnd.shuffle(model.keys.toSeq.sorted)
          val upd = keys.take(3).map { id =>
            val (y, c, amt) = model(id); id -> ((y, c, amt + 1))
          }
          val del = keys.slice(3, 5)
          val ins = (1 to 2).map { _ =>
            nextId += 1
            nextId -> ((years(rnd.nextInt(2)), cats(rnd.nextInt(3)),
              rnd.nextInt(100).toDouble))
          }
          val srcRows = upd ++ del.map(id => id -> model(id)) ++ ins
          if (srcRows.nonEmpty) {
            val src = rowsDf(srcRows)
              .withColumn("__kill", col("id").isin(del: _*))
            MergeInto.merge(spark, root, src, Seq("id"),
              deleteWhen = Some(col("__kill") === true))
            model = model -- del ++ upd ++ ins
          }
        case 2 => // DV sparse delete through the nested witness
          val del = rnd.shuffle(model.keys.toSeq.sorted).take(2)
          if (del.nonEmpty) {
            MergeInto.deleteWhere(spark, root, rowsDf(
              del.map(id => id -> model(id))).select("id"))
            model --= del
          }
        case 3 => // z-order rewrite: materializes y/cat, retires nesting
          Optimize.zorderCompactN(spark, root, Seq("id", "amt"),
            targetDirs = 2, extraStatCols = Seq("y"))
        case 4 =>
          ManifestCommit.expireSnapshots(spark, root, keepLast = 2)
      }
      ManifestCommit.clearResolveCache()
      // invariant 1: live == model through every layout transition
      assert(liveSnapshot() === model, s"live mismatch after step $step")
      // invariant 2: a year-pruned read + residual filter == the model's
      // year slice whatever the layout (nested, mixed, z-ordered, dv'd)
      val y = years(rnd.nextInt(2))
      val (pdf, keptN, _) = ManifestCommit.readPruned(spark, root, Seq(("y",
        Some(y.toString), Some(y.toString))))
      val got =
        if (keptN == 0) Set.empty[Long]
        else pdf.filter(col("y") === y).select("id")
          .collect().map(_.getLong(0)).toSet
      assert(got === model.collect { case (id, (y2, _, _)) if y2 == y => id }.toSet,
        s"year-pruned read mismatch for $y after step $step")
      // invariant 3: an escaped-category filter stays exact (the injected
      // value must unescape identically at every layout stage)
      val bx = ManifestCommit.read(spark, root).filter(col("cat") === "b:x")
        .select("id").collect().map(_.getLong(0)).toSet
      assert(bx === model.collect {
        case (id, (_, c, _)) if c == "b:x" => id }.toSet,
        s"escaped-category read mismatch after step $step")
      // invariant 4: time travel to the conversion generation serves the
      // original content while retention retains it
      if (ManifestCommit.readManifestAt(spark, root, 1L).isDefined) {
        val g1 = ManifestCommit.readAt(spark, root, 1L)
          .select("id").collect().map(_.getLong(0)).toSet
        assert(g1 === initialModel.keySet,
          s"time travel to conversion diverged after step $step")
      }
    }
  }
}
