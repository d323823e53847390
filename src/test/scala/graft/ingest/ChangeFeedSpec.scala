package graft.ingest

import graft.{JobMeter, SparkSpec}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Change-feed consumption contracts not covered by the q124/q147/q150
  * gates: the cursor-behind-retention failure mode must be a crisp error
  * naming the remedy (not an obscure manifest miss), and the initial sync
  * must deliver exactly the generation it records as toGen. */
class ChangeFeedSpec extends SparkSpec {

  private def mkTable(): String = {
    val root = Files.createTempDirectory("graft_cfspec_").toString + "/t"
    val df = spark.range(0, 100).toDF("id").withColumn("v", col("id") * 2)
    val dir = ManifestCommit.newDataDir(root)
    df.write.parquet(dir)
    ManifestCommit.commitReplace(spark, root, Seq(dir),
      pruneDisplaced = false, schema = Some(df.schema))
    root
  }

  test("cursor behind retention raises an error naming the remedy") {
    val root = mkTable()
    val cursor = root + "_cursor"
    // establish the cursor at gen 1, then advance the table 3 generations
    // and expire everything but the newest — gen 1 is gone
    val c1 = ChangeFeed.consume(spark, root, cursor, Seq("id")).get
    ChangeFeed.advanceCursor(spark, cursor, c1.toGen)
    (1 to 3).foreach { i =>
      val d = ManifestCommit.newDataDir(root)
      spark.range(100 * i, 100 * i + 10).toDF("id")
        .withColumn("v", col("id") * 2).write.parquet(d)
      ManifestCommit.commitAppend(spark, root, d)
    }
    ManifestCommit.expireSnapshots(spark, root, keepLast = 1)
    val e = intercept[IllegalStateException] {
      ChangeFeed.consume(spark, root, cursor, Seq("id"))
    }
    assert(e.getMessage.contains("no longer retained"), e.getMessage)
    assert(e.getMessage.contains("delete the cursor file"), e.getMessage)
    assert(e.getMessage.contains("keepLast"), e.getMessage)
    // the documented remedy works: a fresh cursor re-snapshots
    val f = new org.apache.hadoop.fs.Path(cursor)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.delete(new org.apache.hadoop.fs.Path(cursor), false)
    val again = ChangeFeed.consume(spark, root, cursor, Seq("id")).get
    assert(again.fromGen.isEmpty)
    assert(again.changes.count() === 130L)
  }

  test("initial sync is pinned to the generation recorded as toGen") {
    val root = mkTable()
    val cursor = root + "_cursor"
    val c = ChangeFeed.consume(spark, root, cursor, Seq("id")).get
    assert(c.fromGen.isEmpty)
    // a commit lands BETWEEN consume() and the consumer reading changes —
    // the delivered snapshot must still be toGen's, not the live one
    val d = ManifestCommit.newDataDir(root)
    spark.range(1000, 1010).toDF("id").withColumn("v", col("id") * 2)
      .write.parquet(d)
    ManifestCommit.commitAppend(spark, root, d)
    assert(c.changes.count() === 100L,
      "snapshot leaked rows committed after the recorded toGen")
    // the next sync delivers exactly the in-between commit
    ChangeFeed.advanceCursor(spark, cursor, c.toGen)
    val c2 = ChangeFeed.consume(spark, root, cursor, Seq("id")).get
    assert(c2.changes.count() === 10L)
  }

  test("a duplicated key in the diffed dirs errors crisply, naming the key " +
      "— never silent arbitrary update pairings") {
    val root = mkTable() // gen 1: ids 0..99, unique
    // a REPLACE lands a dir where id=7 appears twice (an uncollapsed
    // multi-version table diffed on the bare key)
    val d = ManifestCommit.newDataDir(root)
    spark.range(0, 100).toDF("id").withColumn("v", col("id") * 2)
      .unionAll(spark.range(7, 8).toDF("id").withColumn("v", lit(777L)))
      .write.parquet(d)
    ManifestCommit.commitReplace(spark, root, Seq(d), pruneDisplaced = false)
    def rootMsg(t: Throwable): String = {
      def rc(x: Throwable): Throwable =
        if (x.getCause == null || x.getCause == x) x else rc(x.getCause)
      Option(rc(t).getMessage).getOrElse(t.getMessage)
    }
    val e = intercept[Exception] {
      ChangeFeed.diff(spark, root, 1, 2, Seq("id")).collect()
    }
    assert(rootMsg(e).contains("(id) = (7)"), rootMsg(e))
    assert(rootMsg(e).contains("added (gen 2)"), rootMsg(e))
    assert(rootMsg(e).contains("dedupLatest"), rootMsg(e))
    // the duplicate-side attribution is exact: diffing the other way
    // round blames the dropped side
    val e2 = intercept[Exception] {
      ChangeFeed.diff(spark, root, 2, 1, Seq("id")).collect()
    }
    assert(rootMsg(e2).contains("dropped (gen 2)"), rootMsg(e2))
    // and the streaming change feed (which diffs data-changing commits)
    // surfaces the same crisp error instead of bad pairings
    val ckpt = Files.createTempDirectory("graft_cfspec_ck_").toString
    val outTbl = Files.createTempDirectory("graft_cfspec_o_").toString + "/o"
    val q = spark.readStream.format("graft-table")
      .option("path", root).option("readChangeFeed", "true")
      .option("keys", "id").option("startingVersion", "1")
      .load().writeStream.format("graft-table")
      .option("path", outTbl).option("txnAppId", "cf_dup_spec")
      .option("checkpointLocation", ckpt).start()
    val se = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
    }
    q.stop()
    def rootCause(t: Throwable): Throwable =
      if (t.getCause == null || t.getCause == t) t else rootCause(t.getCause)
    assert(rootCause(se).getMessage.contains("(id) = (7)"),
      rootCause(se).getMessage)
  }

  test("applyTo folds a CDF batch into ONE merge: upserts + deletes in one " +
      "commit, replay and unmatched deletes are no-ops") {
    val src = mkTable() // ids 0..99
    val rep = Files.createTempDirectory("graft_cfspec_").toString + "/rep"
    val cursor = src + "_cursor"
    val c1 = ChangeFeed.consume(spark, src, cursor, Seq("id")).get
    val d0 = ManifestCommit.newDataDir(rep)
    c1.changes.drop(ChangeFeed.ChangeType).write.parquet(d0)
    ManifestCommit.commitReplace(spark, rep, Seq(d0), pruneDisplaced = false)
    ChangeFeed.advanceCursor(spark, cursor, c1.toGen)
    // source: update 10..19 (+1), delete 0..4, insert 200..204
    MergeInto.merge(spark, src,
      spark.range(10, 20).toDF("id").withColumn("v", col("id") * 2 + 1)
        .unionByName(spark.range(200, 205).toDF("id")
          .withColumn("v", col("id") * 2)),
      Seq("id"))
    MergeInto.deleteWhere(spark, src, spark.range(0, 5).toDF("id"))
    val c2 = ChangeFeed.consume(spark, src, cursor, Seq("id")).get
    val genBefore = ManifestCommit.readManifest(spark, rep).get.gen
    val res = ChangeFeed.applyTo(spark, rep, c2.changes, Seq("id"))
    assert(res.updated === 10L && res.deleted === 5L && res.inserted === 5L)
    // ONE commit for the whole batch — not a merge generation plus a
    // delete generation
    assert(ManifestCommit.readManifest(spark, rep).get.gen === genBefore + 1)
    def stateOf(root: String) = ManifestCommit.read(spark, root)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(stateOf(rep) === stateOf(src), "replica diverged from source")
    // crash replay (cursor not advanced): content must not move — the
    // replayed deletes are now UNMATCHED and must not insert phantoms
    ChangeFeed.applyTo(spark, rep, c2.changes, Seq("id"))
    assert(stateOf(rep) === stateOf(src), "replayed apply moved the replica")
  }

  test("applyTo evaluates the CDF diff once: the merge's write pass runs " +
      "the jobs of the same write over a local source") {
    def replicaOf(src: String, cursor: String): String = {
      val rep = Files.createTempDirectory("graft_cfspec_").toString + "/rep"
      val c1 = ChangeFeed.consume(spark, src, cursor, Seq("id")).get
      val d0 = ManifestCommit.newDataDir(rep)
      c1.changes.drop(ChangeFeed.ChangeType).write.parquet(d0)
      ManifestCommit.commitReplace(spark, rep, Seq(d0), pruneDisplaced = false,
        schema = Some(org.apache.spark.sql.types.StructType(
          c1.changes.drop(ChangeFeed.ChangeType).schema.fields
            .map(_.copy(nullable = true)))))
      ChangeFeed.advanceCursor(spark, cursor, c1.toGen)
      rep
    }
    val src = mkTable()
    val cursor = src + "_cursor"
    val (rep1, rep2) = (replicaOf(src, cursor), replicaOf(src, src + "_cursor2"))
    MergeInto.merge(spark, src,
      spark.range(10, 20).toDF("id").withColumn("v", col("id") * 2 + 1), Seq("id"))
    val changes = ChangeFeed.consume(spark, src, cursor, Seq("id")).get.changes
    val rows = changes.collect()
    val local = spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      changes.schema)
    val overLocal = JobMeter.measure(spark)(
      ChangeFeed.applyTo(spark, rep2, local, Seq("id")))
    val persisted = spark.sparkContext.getPersistentRDDs.size
    val overDiff = JobMeter.measure(spark)(
      ChangeFeed.applyTo(spark, rep1, changes, Seq("id")))
    assert(spark.sparkContext.getPersistentRDDs.size === persisted,
      "the merge left its source cached")
    assert(overDiff.value.updated === 10L && overLocal.value.updated === 10L)
    // the write pass reads the held diff: it runs the jobs of the write
    // over a local source, none of the diff's join stages again
    def writes(m: JobMeter.Metered[_]) =
      m.jobs.count(_.desc.contains("parquet at ManifestCommit"))
    assert(writes(overDiff) === writes(overLocal), overDiff.jobs.map(_.desc))
    // 9 jobs: 10 when the aggregate and the write each evaluate the diff
    assert(overDiff.count === 9, overDiff.jobs.map(_.desc))
    def stateOf(root: String) = ManifestCommit.read(spark, root)
      .orderBy("id").collect().toSeq
    assert(stateOf(rep1) === stateOf(src) && stateOf(rep2) === stateOf(src))
  }

  test("a consume across a merge and an OPTIMIZE on a month-sliced table " +
      "reads only the changed months' dirs; the applied replica equals " +
      "the source") {
    val src = Files.createTempDirectory("graft_cfspec_").toString + "/sl"
    val rep = Files.createTempDirectory("graft_cfspec_").toString + "/rep"
    val cursor = src + "_cursor"
    val slice = "date_format(ts, 'yyyyMM')"
    // 12 months of 2020, 20 ids each, ids increasing with the month
    val df = spark.range(0, 240).select(col("id"),
      add_months(to_date(lit("2020-01-10")), (col("id") / 20).cast("int"))
        .cast("timestamp").as("ts"),
      (col("id") * 2).as("v"))
    val dirs = ManifestCommit.writeSliced(spark, src, df, expr(slice),
      Seq("ts", "id", slice, ManifestCommit.RowCountStat))
    ManifestCommit.commitReplace(spark, src, dirs.map(_._1),
      pruneDisplaced = false, stats = dirs.toMap,
      schema = Some(org.apache.spark.sql.types.StructType(
        df.schema.fields.map(_.copy(nullable = true)))),
      slice = Some(slice))
    val c1 = ChangeFeed.consume(spark, src, cursor, Seq("id")).get
    val d0 = ManifestCommit.newDataDir(rep)
    c1.changes.drop(ChangeFeed.ChangeType).write.parquet(d0)
    ManifestCommit.commitReplace(spark, rep, Seq(d0), pruneDisplaced = false)
    ChangeFeed.advanceCursor(spark, cursor, c1.toGen)
    // one merge updates November and December (one loose dir spanning
    // both), a delete puts a DV on September, then OPTIMIZE
    MergeInto.merge(spark, src, df.filter(col("id") >= 200 && col("id") % 3 === 0)
      .withColumn("v", col("v") + 1), Seq("id"))
    MergeInto.deleteWhere(spark, src, spark.range(160, 163).toDF("id"))
    Optimize.compactSmall(spark, src, smallBytes = 128L << 20)
    val c2 = ChangeFeed.consume(spark, src, cursor, Seq("id")).get
    val from = ManifestCommit.readManifestAt(spark, src, c2.fromGen.get).get
    val to = ManifestCommit.readManifest(spark, src).get
    def monthOf(d: String): Option[String] = Seq(from, to)
      .flatMap(_.stats.get(d)).flatten.find(_.col == slice).map(_.min)
    val read = c2.changes.inputFiles.toSeq
      .map(f => new org.apache.hadoop.fs.Path(f).getParent.getName)
      .filter(_.startsWith("data_")).toSet
    assert(read.flatMap(monthOf) === Set("202009", "202011", "202012"),
      s"the feed read dirs of unchanged months: $read")
    assert(read.size === 6 && to.dirs.size === 12)
    ChangeFeed.applyTo(spark, rep, c2.changes, Seq("id"))
    def stateOf(root: String) = ManifestCommit.read(spark, root)
      .select("id", "ts", "v").orderBy("id").collect().toSeq
    assert(stateOf(rep) === stateOf(src), "replica diverged from source")
  }

  test("replication across a REPLACE WHERE commit: one consume/apply, replica converges") {
    val src = mkTable() // ids 0..99, v = id*2
    val rep = Files.createTempDirectory("graft_cfspec_").toString + "/rep"
    val cursor = src + "_cursor"
    val c1 = ChangeFeed.consume(spark, src, cursor, Seq("id")).get
    val d0 = ManifestCommit.newDataDir(rep)
    c1.changes.drop(ChangeFeed.ChangeType).write.parquet(d0)
    ManifestCommit.commitReplace(spark, rep, Seq(d0), pruneDisplaced = false)
    ChangeFeed.advanceCursor(spark, cursor, c1.toGen)
    // ONE replace_where commit: drop ids [20,40), land 5 replacements
    MergeInto.replaceWhere(spark, src,
      spark.range(20, 25).toDF("id").withColumn("v", col("id") * 100),
      col("id") >= 20 && col("id") < 40)
    val c2 = ChangeFeed.consume(spark, src, cursor, Seq("id")).get
    // the diff is row-level: 5 upserts (changed v), 15 deletes (21 of
    // [20,40) removed, 5 re-landed with new values, id 20..24 changed)
    val res = ChangeFeed.applyTo(spark, rep, c2.changes, Seq("id"))
    assert(res.deleted === 15L, res.toString)
    def stateOf(root: String) = ManifestCommit.read(spark, root)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(stateOf(rep) === stateOf(src), "replica diverged across replace_where")
  }

  test("the uniqueness guard reuses the join's Exchange+Sort: guarded and " +
      "assumeUnique plans shuffle the same number of times") {
    val root = mkTable() // gen 1
    // one merge-shaped change: a replace with updates/deletes/inserts
    val d = ManifestCommit.newDataDir(root)
    spark.range(50, 160).toDF("id").withColumn("v", col("id") * 3)
      .write.parquet(d)
    ManifestCommit.commitReplace(spark, root, Seq(d), pruneDisplaced = false)
    def shape(df: org.apache.spark.sql.DataFrame): (Int, Int, Int) = {
      val plan = df.queryExecution.executedPlan.toString
      (("Exchange".r.findAllIn(plan).size),
        ("Sort \\[".r.findAllIn(plan).size),
        ("Window".r.findAllIn(plan).size))
    }
    val (gx, gs, gw) = shape(ChangeFeed.diff(spark, root, 1, 2, Seq("id")))
    val (ux, us, uw) = shape(ChangeFeed.diff(spark, root, 1, 2, Seq("id"),
      assumeUnique = true))
    assert(gw === 2 && uw === 0, s"guard windows: $gw/$uw")
    assert(gx === ux,
      s"the guard added a shuffle: $gx exchanges guarded vs $ux unguarded")
    assert(gs === us,
      s"the guard added a sort: $gs sorts guarded vs $us unguarded")
    // both plans produce identical change sets on unique keys
    val g = ChangeFeed.diff(spark, root, 1, 2, Seq("id"))
      .orderBy("id", ChangeFeed.ChangeType).collect().toSeq
    val u = ChangeFeed.diff(spark, root, 1, 2, Seq("id"), assumeUnique = true)
      .orderBy("id", ChangeFeed.ChangeType).collect().toSeq
    assert(g === u)
  }

  test("a nested STRUCT key diffs correctly, still raises on duplicates, " +
      "and keeps the shared-exchange shape (Literal.default covers " +
      "struct/array/map, so every joinable key type rides the primary " +
      "materialized-shape path; the raw-key fallback is defense-in-depth " +
      "for types Literal.default cannot seed)") {
    val root = Files.createTempDirectory("graft_cfspec_").toString + "/sk"
    def rows(extra: Boolean, shift: Long) = {
      val base = spark.range(0, 50).toDF("n")
        .select(struct(col("n").as("a"),
          concat(lit("k"), col("n")).as("b")).as("k"),
          (col("n") * 2 + shift).as("v"))
      if (extra) base.unionAll(spark.range(3, 4).toDF("n")
        .select(struct(col("n").as("a"),
          concat(lit("k"), col("n")).as("b")).as("k"), lit(777L).as("v")))
      else base
    }
    val d1 = ManifestCommit.newDataDir(root)
    rows(extra = false, 0).write.parquet(d1)
    ManifestCommit.commitReplace(spark, root, Seq(d1),
      pruneDisplaced = false, schema = Some(rows(extra = false, 0).schema))
    val d2 = ManifestCommit.newDataDir(root)
    rows(extra = false, 1).write.parquet(d2)
    ManifestCommit.commitReplace(spark, root, Seq(d2), pruneDisplaced = false)
    // correct feed: every key updated (v shifted by 1) → 50 pre + 50 post
    val feed = ChangeFeed.diff(spark, root, 1, 2, Seq("k"))
    val byType = feed.groupBy(ChangeFeed.ChangeType).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType === Map("update_preimage" -> 50L, "update_postimage" -> 50L))
    // guarded == unguarded exchange/sort counts (the struct key takes the
    // materialized-shape path, so the window shares the join's exchange)
    def shape(df: org.apache.spark.sql.DataFrame): (Int, Int) = {
      val plan = df.queryExecution.executedPlan.toString
      ("Exchange".r.findAllIn(plan).size, "Sort \\[".r.findAllIn(plan).size)
    }
    assert(shape(ChangeFeed.diff(spark, root, 1, 2, Seq("k"))) ===
      shape(ChangeFeed.diff(spark, root, 1, 2, Seq("k"), assumeUnique = true)))
    // a duplicated struct key still raises, naming the key
    val d3 = ManifestCommit.newDataDir(root)
    rows(extra = true, 2).write.parquet(d3)
    ManifestCommit.commitReplace(spark, root, Seq(d3), pruneDisplaced = false)
    val e = intercept[Exception](
      ChangeFeed.diff(spark, root, 2, 3, Seq("k")).count())
    def msg(t: Throwable): String =
      if (t == null) "" else Option(t.getMessage).getOrElse("") + msg(t.getCause)
    assert(msg(e).contains("duplicated"), msg(e))
  }

  test("assumeUnique skips the guard: a duplicate-key diff runs (caller's " +
      "responsibility), and NULL keys still pair null-safely either way") {
    val root = mkTable()
    val d = ManifestCommit.newDataDir(root)
    spark.range(0, 100).toDF("id").withColumn("v", col("id") * 2)
      .unionAll(spark.range(7, 8).toDF("id").withColumn("v", lit(777L)))
      .write.parquet(d)
    ManifestCommit.commitReplace(spark, root, Seq(d), pruneDisplaced = false)
    // guarded: errors (previous spec); assumeUnique: emits without raising
    val rows = ChangeFeed.diff(spark, root, 1, 2, Seq("id"),
      assumeUnique = true).collect()
    assert(rows.nonEmpty)
    // null keys: one row with id=null on both sides, same v — no change;
    // different v — an update pair (null-safe pairing, not insert+delete)
    val r2 = Files.createTempDirectory("graft_cfspec_").toString + "/n"
    val base = spark.range(0, 10).toDF("id").withColumn("v", col("id") * 2)
      .unionAll(spark.sql("SELECT CAST(null AS BIGINT) id, 999L v"))
    val d1 = ManifestCommit.newDataDir(r2)
    base.write.parquet(d1)
    ManifestCommit.commitReplace(spark, r2, Seq(d1), pruneDisplaced = false,
      schema = Some(base.schema))
    val d2 = ManifestCommit.newDataDir(r2)
    spark.range(0, 10).toDF("id").withColumn("v", col("id") * 2)
      .unionAll(spark.sql("SELECT CAST(null AS BIGINT) id, 1000L v"))
      .write.parquet(d2)
    ManifestCommit.commitReplace(spark, r2, Seq(d2), pruneDisplaced = false)
    Seq(false, true).foreach { au =>
      val types = ChangeFeed.diff(spark, r2, 1, 2, Seq("id"), au)
        .groupBy(ChangeFeed.ChangeType).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(types === Map("update_preimage" -> 1L, "update_postimage" -> 1L),
        s"assumeUnique=$au: null key must pair null-safely, got $types")
    }
  }
}
