package graftbench

import graft.ingest.{ChangeFeed, ManifestCommit, MergeInto}
import graft.sql.GraftSql
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable

/** Seeded change batches against `orders`, the connector's view of a
  * source database. Per batch: `BatchRows` rows, 80% updates of existing
  * keys, 12% inserts of new keys, 8% deletes. All three are skewed toward
  * the newest months: the month index back from the newest is exponential
  * with mean `RecencyMonths`. Every key is touched at most once per batch
  * and a deleted key is never reused.
  * Updates change only the mutable columns (status, price, priority). */
final class ChangeGen(spark: SparkSession, seed: Long, orders: DataFrame, in: Inputs) {
  val BatchRows = 400
  val UpdateShare = 0.80
  val InsertShare = 0.12
  val RecencyMonths = 1.5

  /** key -> (o_custkey, o_orderdate): the immutable columns. */
  private val fixed = mutable.HashMap.empty[Long, (Long, java.sql.Timestamp)]
  private val Months = in.Months
  private val byMonth = Array.fill(Months)(mutable.ArrayBuffer.empty[Long])
  private val base = java.time.LocalDate.of(1992, 1, 1)
  private var nextKey = 0L

  orders.select("o_orderkey", "o_custkey", "o_orderdate").collect().foreach { r =>
    val ts = r.getTimestamp(2)
    fixed(r.getLong(0)) = (r.getLong(1), ts)
    byMonth(monthOf(ts)) += r.getLong(0)
    nextKey = nextKey.max(r.getLong(0) + 1)
  }

  private def monthOf(ts: java.sql.Timestamp): Int = {
    val d = ts.toInstant.atZone(java.time.ZoneOffset.UTC).toLocalDate
    (d.getYear - 1992) * 12 + d.getMonthValue - 1
  }

  val schema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType)))

  /** Every op applied so far as (op, cycle, seq, full row) — the replay log. */
  val log = mutable.ArrayBuffer.empty[Row]

  final case class Batch(upserts: Seq[Row], deletes: Seq[Long], update: Option[Row]) {
    def rows: Int = upserts.size + deletes.size + update.size
  }

  private def recentMonth(rnd: scala.util.Random): Int = {
    val back = (-math.log(1 - rnd.nextDouble()) * RecencyMonths).toInt
    (Months - 1 - back).max(0)
  }

  private def mutableCols(rnd: scala.util.Random): (String, Double, String) = (
    Seq("O", "F", "P")(rnd.nextInt(3)),
    rnd.nextInt(50000000) / 100.0,
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")(rnd.nextInt(5)))

  private def row(k: Long, rnd: scala.util.Random): Row = {
    val (c, ts) = fixed(k)
    val (s, p, pr) = mutableCols(rnd)
    Row(k, c, s, p, ts, pr)
  }

  /** Draw and take one live key from `month` (None when it has none). */
  private def takeFrom(month: Int, rnd: scala.util.Random, used: mutable.Set[Long]): Option[Long] = {
    val ks = byMonth(month)
    if (ks.isEmpty) None
    else {
      val k = ks(rnd.nextInt(ks.size))
      if (used.add(k)) Some(k) else None
    }
  }

  def next(cycle: Int, withUpdate: Boolean): Batch = {
    val rnd = new scala.util.Random(seed * 1000003L + cycle)
    val used = mutable.Set.empty[Long]
    val nUpd = (BatchRows * UpdateShare).toInt
    val nIns = (BatchRows * InsertShare).toInt
    val nDel = BatchRows - nUpd - nIns
    val upd = Iterator.continually(takeFrom(recentMonth(rnd), rnd, used)).flatten.take(nUpd).toVector
    val del = Iterator.continually(takeFrom(recentMonth(rnd), rnd, used)).flatten.take(nDel).toVector
    val sqlUpd =
      if (withUpdate) Iterator.continually(takeFrom(recentMonth(rnd), rnd, used)).flatten.take(1).toVector
      else Vector.empty
    del.foreach { k => byMonth(monthOf(fixed(k)._2)) -= k }
    val ins = (0 until nIns).map { _ =>
      val k = nextKey
      nextKey += 1
      val m = recentMonth(rnd)
      val day = base.plusMonths(m).plusDays(rnd.nextInt(28).toLong)
      fixed(k) = (rnd.nextInt(in.Customers.toInt) + 1L,
        java.sql.Timestamp.valueOf(day.atStartOfDay()))
      byMonth(m) += k
      k
    }
    val ups = (upd ++ ins).map(row(_, rnd))
    val u = sqlUpd.headOption.map(row(_, rnd))
    var seq = 0
    def logged(op: String, r: Row): Unit = {
      log += Row.fromSeq(Seq(op, cycle, seq) ++ r.toSeq)
      seq += 1
    }
    ups.foreach(logged("u", _))
    del.foreach(k => logged("d", Row(k, null, null, null, null, null)))
    u.foreach(logged("u", _))
    Batch(ups, del, u)
  }

  /** Plain-Spark replay of every logged op over the raw rows: the last op
    * per key wins, deleted keys drop out. */
  def replay(raw: DataFrame): DataFrame = {
    val logSchema = StructType(Seq(StructField("op", StringType),
      StructField("cycle", IntegerType), StructField("seq", IntegerType)) ++ schema.fields)
    val ops = spark.createDataFrame(java.util.Arrays.asList(log.toSeq: _*), logSchema)
    val all = raw.select(lit("u").as("op"), lit(Int.MinValue).as("cycle"), lit(0).as("seq"),
      col("*")).unionByName(ops)
    val w = Window.partitionBy("o_orderkey").orderBy(col("cycle").desc, col("seq").desc)
    all.withColumn("rn", row_number().over(w)).filter(col("rn") === 1 && col("op") === "u")
      .select(schema.fieldNames.map(col).toSeq: _*)
  }
}

object ChangeGen {
  /** The SQL point UPDATE (merge-on-read) setting `r`'s mutable columns. */
  def updateSql(table: String, r: Row): String =
    s"UPDATE graft.$table SET o_orderstatus = '${r.getString(2)}', " +
      s"o_totalprice = ${r.getDouble(3)}D, o_orderpriority = '${r.getString(5)}' " +
      s"WHERE o_orderkey = ${r.getLong(0)}"
}

/** CDC apply with downstream replication: the reference's core path.
  *
  * One cycle hands one change batch to the engine and makes every call a
  * connector makes for it: `merge` (upserts), `deleteWhere` (deletes, as
  * deletion vectors), a SQL point `UPDATE` (merge-on-read), `OPTIMIZE` and
  * `VACUUM` (maintenance period 1), then one sync to the replica. The
  * batch is the latency sample: its lag runs from hand-off until the
  * replica's cursor has advanced past it; its source apply (merge, delete,
  * update) is a second sample. */
object CdcApply extends Workload {
  /** Untimed warm-up cycles, so JIT and codegen cost lands in set-up. */
  val WarmupCycles = 1
  /** Snapshots the source keeps; the replica's cursor is always within. */
  val RetainGens = 8
  val Keys = Seq("o_orderkey")

  final case class Tables(name: String, src: String, replica: String, cursor: String)

  def run(spark: SparkSession, rec: Recorder, o: Main.Opts): Unit = {
    val ti = rec.now()
    val in = new Inputs(spark, o.seed)
    val rawPath = s"${o.work}/in/orders"
    in.orders.write.parquet(rawPath)
    val raw = spark.read.parquet(rawPath)
    rec.value("run.inputs_s", rec.now() - ti)

    val t = timedSetup(rec) { r =>
      val base = s"${o.work}/t/cdc$r"
      val tb = Tables(s"cdc_src_$r", s"$base/src", s"$base/replica", s"$base/cursor")
      rec.span("write.sliced") {
        Lake.createSliced(spark, tb.src, raw, Lake.MonthSlice, Seq("o_orderdate", "o_orderkey"))
      }
      GraftSql.register(tb.name, tb.src)
      tb
    }
    // initial sync, once: the replica starts as a same-layout copy of the
    // source's current snapshot, its cursor at that generation
    val ts = rec.now()
    val g = Lake.gen(spark, t.src)
    Lake.createSliced(spark, t.replica, ManifestCommit.readAt(spark, t.src, g),
      Lake.MonthSlice, Seq("o_orderdate", "o_orderkey"))
    ChangeFeed.advanceCursor(spark, t.cursor, g)
    rec.value("setup.once_s", rec.now() - ts)
    val gen = new ChangeGen(spark, o.seed, raw, in)
    val tw = rec.now()
    rec.cycle = -2
    for (i <- -WarmupCycles until 0) cycle(spark, rec, t, gen, i, timed = false)
    rec.cycle = -1
    rec.value("setup.warmup_s", rec.now() - tw)

    timedLoops(rec, o.seconds) { i => cycle(spark, rec, t, gen, i, timed = true) }

    // ---- untimed: correctness and space amplification
    val tc = rec.now()
    val want = Lake.fingerprint(gen.replay(raw))
    val gotSrc = Lake.fingerprint(ManifestCommit.read(spark, t.src))
    val gotRep = Lake.fingerprint(ManifestCommit.read(spark, t.replica))
    rec.check("cdc.source_equals_replay", gotSrc == want, s"source $gotSrc replay $want")
    rec.check("cdc.replica_equals_replay", gotRep == want, s"replica $gotRep replay $want")
    val once = s"${o.work}/t/cdc_once"
    Lake.createSliced(spark, once, ManifestCommit.read(spark, t.src), Lake.MonthSlice,
      Seq("o_orderdate", "o_orderkey"))
    rec.value("space_amp", Lake.bytesUnder(t.src).toDouble / Lake.bytesUnder(once))
    rec.value("run.checks_s", rec.now() - tc)
  }

  private def cycle(spark: SparkSession, rec: Recorder, t: Tables, gen: ChangeGen,
      i: Int, timed: Boolean): Unit = {
    val b = gen.next(i, withUpdate = true)
    val handed = rec.now()
    val before = if (rec.tracing) Lake.files(t.src) else Map.empty[String, Long]
    val gen0 = if (rec.tracing) Lake.gen(spark, t.src) else 0L
    rec.span("cycle") {
      val upserts = spark.createDataFrame(java.util.Arrays.asList(b.upserts: _*), gen.schema)
      rec.span("merge") {
        val m = MergeInto.merge(spark, t.src, upserts, Keys)
        rec.attr("dirs_total", m.dirsTotal)
        rec.attr("dirs_rewritten", m.dirsRewritten)
      }
      val dels = spark.createDataFrame(b.deletes.map(Tuple1(_))).toDF("o_orderkey")
      rec.span("delete") {
        rec.attr("dvs", MergeInto.deleteWhere(spark, t.src, dels).dvsWritten)
      }
      b.update.foreach { r =>
        rec.span("update") { spark.sql(ChangeGen.updateSql(t.name, r)).collect() }
      }
      val applied = rec.now()
      if (rec.tracing) {
        val added = Lake.files(t.src).filter { case (f, _) => !before.contains(f) }
        rec.attr("gens", Lake.gen(spark, t.src) - gen0)
        rec.attr("meta_bytes", added.filter(f => Lake.isMeta(f._1)).values.sum)
        rec.attr("data_bytes", added.filterNot(f => Lake.isMeta(f._1)).values.sum)
        rec.attr("data_files", added.count(f => Lake.isDataFile(f._1)))
        rec.attr("rows", b.rows)
      }
      if (timed) rec.sample("batch", handed, applied, n = b.rows)
      val pre = if (rec.tracing) Lake.files(t.src) else Map.empty[String, Long]
      rec.span("optimize") {
        spark.sql(s"OPTIMIZE graft.${t.name}").collect()
        if (rec.tracing) rec.attr("bytes_rewritten", Lake.files(t.src)
          .filter { case (f, _) => !pre.contains(f) && !Lake.isMeta(f) }.values.sum)
      }
      rec.span("vacuum") {
        spark.sql(s"VACUUM graft.${t.name} RETAIN $RetainGens GENERATIONS").collect()
      }
      rec.span("sync") { replicate(spark, rec, t) }
    }
    if (timed) rec.sample("lag", handed, rec.now(), n = b.rows)
  }

  /** One connector sync: consume the source's change feed from the
    * replica's cursor, apply it, advance the cursor. */
  private def replicate(spark: SparkSession, rec: Recorder, t: Tables): Unit = {
    val consumed = rec.span("feed.consume") {
      ChangeFeed.consume(spark, t.src, t.cursor, Keys, assumeUnique = true)
    }
    consumed.foreach { c =>
      rec.span("feed.apply") {
        val r = ChangeFeed.applyTo(spark, t.replica, c.changes, Keys)
        rec.attr("rows", (r.updated + r.inserted + r.deleted).toDouble)
      }
      rec.span("feed.cursor") { ChangeFeed.advanceCursor(spark, t.cursor, c.toGen) }
    }
  }
}
