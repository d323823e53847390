package graftbench

import graft.ingest.{DedupMode, Ingest, ManifestCommit, MergeInto}
import graft.ops.{CacheScope, Dedup}
import graft.schema.SchemaReflector
import graft.sql.GraftSql
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, date_format, lit, min}

import scala.collection.mutable
import scala.collection.parallel.CollectionConverters._

/** A single analyst session issuing SQL text against graft tables, the
  * SQL Lab / dashboard shape: one client, closed loop. Each cycle runs
  * every query of the pool once, classes interleaved evenly. The pool fixes
  * the mix — fold 6, point 4, skip 12, scan 5, join 3 of 30 — so the seed
  * moves only the months and keys probed, and every run holds the same
  * classes in the same proportions. In latency the classes order fold <
  * point < skip < scan, join, so the median query (ranks 15 and 16) falls
  * inside the skip class rather than on a boundary between two. */
object BiMix extends Workload {
  final case class Query(cls: String, text: String)
  final case class Names(orders: String, lineitem: String, customer: String, view: String,
      docs: String)

  /** Share of customer rows present again as an older version. */
  val StaleShare = 0.05
  /** Planted exact and near duplicates in the document corpus. */
  val ExactCopies = 10
  val NearCopies = 20

  /** Exact dedup (one row per distinct content, smallest id) published as
    * a plain graft table at `root`; MinHash candidates scored against the
    * planted near-duplicate pairs. */
  private def curate(spark: SparkSession, rec: Recorder, corpus: DataFrame, root: String,
      nearPairs: Seq[(Long, Long)], distinctDocs: Long): Unit = rec.span("dedup") {
    val scope = new CacheScope()
    try {
      val kept = Dedup.exact(corpus, "doc_id", "text").select("doc_id")
      val dir = ManifestCommit.newDataDir(root)
      corpus.join(kept, "doc_id").write.parquet(dir)
      ManifestCommit.commitReplace(spark, root, Seq(dir), schema = Some(corpus.schema))
      val cands = Dedup.minhashCandidates(corpus, "doc_id", "text", scope = scope)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      rec.attr("candidate_pairs", cands.size)
      // LSH recall is probabilistic, so it is measured, not checked
      rec.value("dedup.recall", nearPairs.count(cands.contains).toDouble / nearPairs.size)
      rec.check("bi.candidate_pairs_ordered", cands.forall { case (a, b) => a < b },
        "a candidate pair with a_id >= b_id")
      val n = ManifestCommit.read(spark, root).count()
      rec.check("bi.exact_dedup", n == distinctDocs, s"$n docs kept, want $distinctDocs")
    } finally scope.release()
  }

  def run(spark: SparkSession, rec: Recorder, o: Main.Opts): Unit = {
    val ti = rec.now()
    val in = new Inputs(spark, o.seed)
    def input(name: String, df: DataFrame): String = {
      val p = s"${o.work}/in/$name"
      df.write.parquet(p)
      p
    }
    val (corpus0, nearPairs) = in.documents(ExactCopies, NearCopies)
    // the inputs are written concurrently (not timed)
    val paths = Seq(
      "orders" -> in.orders,
      "lineitem" -> in.lineitem,
      "customer" -> in.withStaleVersions(in.customer, Seq("c_custkey"),
        lit("1998-08-02 00:00:00").cast("timestamp"), "c_acctbal", StaleShare, 32),
      "documents" -> corpus0).par.map { case (n, df) => n -> input(n, df) }.seq.toMap
    val corpus = spark.read.parquet(paths("documents"))
    val raw = (paths - "documents").map { case (n, p) => n -> spark.read.parquet(p) }
    // one seeded change batch, applied at set-up so reads meet rewritten
    // dirs and DVs
    val gen = new ChangeGen(spark, o.seed, raw("orders"), in)
    val prefix = gen.next(0, withUpdate = false)
    rec.value("run.inputs_s", rec.now() - ti)

    // one-time load of the tables the session only reads, before the
    // repeated builds of orders: customer arrives through the ingest path
    // (reflect, clean, dedup-latest); documents are curated before they
    // are published (exact dups collapse, MinHash finds near-dup pairs);
    // lineitem is laid out by ship month
    val tl = rec.now()
    val shared = s"${o.work}/t/bi_load"
    val meta = rec.span("schema.reflect") {
      SchemaReflector.fromParquet(spark, paths("customer"), "customer", Seq("c_custkey"))
    }
    val audit = rec.span("ingest.table") {
      Ingest.ingestTable(spark, raw("customer"), meta, shared, DedupMode.Staging)
    }
    rec.check("bi.ingest_audit", audit.sourceRows == raw("customer").count() &&
      audit.writtenRows == in.Customers, s"customer ingest audit $audit")
    curate(spark, rec, corpus, s"$shared/docs", nearPairs, in.Docs + NearCopies)
    rec.span("write.sliced") {
      Lake.createSliced(spark, s"$shared/lineitem", raw("lineitem"),
        date_format(col("l_shipdate"), "yyyyMM"), Seq("l_shipdate", "l_orderkey"))
    }
    GraftSql.register("bi_lineitem", s"$shared/lineitem")
    GraftSql.register("bi_customer", s"$shared/customer")
    GraftSql.register("bi_docs", s"$shared/docs")
    val loadS = rec.now() - tl

    // the repeated set-up: month-sliced orders
    val names = timedSetup(rec) { r =>
      val nm = Names(s"bi_orders_$r", "bi_lineitem", "bi_customer", s"bi_orders_v_$r", "bi_docs")
      val root = s"${o.work}/t/bi$r/orders"
      rec.span("write.sliced") {
        Lake.createSliced(spark, root, raw("orders"), Lake.MonthSlice, Seq("o_orderdate", "o_orderkey"))
      }
      GraftSql.register(nm.orders, root)
      nm
    }
    // then once, on the orders the session reads: the change batch,
    // blooms, and the reporting view
    val tp = rec.now()
    val root = GraftSql.rootOf(names.orders).get
    rec.span("merge") {
      val m = MergeInto.merge(spark, root,
        spark.createDataFrame(java.util.Arrays.asList(prefix.upserts: _*), gen.schema), Seq("o_orderkey"))
      rec.attr("dirs_total", m.dirsTotal)
      rec.attr("dirs_rewritten", m.dirsRewritten)
    }
    rec.span("delete") {
      rec.attr("dvs", MergeInto.deleteWhere(spark, root,
        spark.createDataFrame(prefix.deletes.map(Tuple1(_))).toDF("o_orderkey")).dvsWritten)
    }
    rec.span("analyze") {
      spark.sql(s"ANALYZE TABLE graft.${names.orders} COMPUTE STATISTICS FOR COLUMNS " +
        "o_custkey WITH BLOOMS (o_custkey)").collect()
    }
    spark.sql(s"CREATE OR REPLACE VIEW graft.${names.view} AS ${viewText(s"graft.${names.orders}")}")
    rec.value("setup.once_s", loadS + rec.now() - tp)

    rec.value("bi.orders_dirs", ManifestCommit.readManifest(spark, root).get.dirs.size)
    val pool = queryPool(o.seed, names, in)
    val results = mutable.LinkedHashMap.empty[Query, mutable.ArrayBuffer[Seq[Row]]]
    val tw = rec.now()
    rec.cycle = -2
    // warm-up (untimed): the session once, so every query's plan and
    // generated code are compiled before the loop (a dashboard re-runs the
    // same SQL)
    pool.foreach(execute(spark, rec, _))
    rec.cycle = -1
    rec.value("setup.warmup_s", rec.now() - tw)

    timedLoops(rec, o.seconds) { _ =>
      for (q <- pool) {
        val t0 = rec.now()
        val res = scala.util.Try(rec.span(s"q.${q.cls}") { execute(spark, rec, q) })
        rec.sample(s"query.${q.cls}", t0, rec.now(), ok = res.isSuccess)
        res.foreach(r => results.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += r)
      }
    }

    val tc = rec.now()
    // ---- untimed: every distinct query against the same SQL over the raw
    // parquet with the set-up's change prefix replayed in plain Spark
    gen.replay(raw("orders")).cache().createOrReplaceTempView("ref_orders")
    raw("lineitem").cache().createOrReplaceTempView("ref_lineitem")
    Ingest.dedupLatest(raw("customer"), Seq("c_custkey"), Some("updated_at"))
      .cache().createOrReplaceTempView("ref_customer")
    corpus.groupBy("text").agg(min("doc_id").as("doc_id")).select("doc_id")
      .join(corpus, "doc_id").cache().createOrReplaceTempView("ref_docs")
    spark.sql(s"CREATE OR REPLACE TEMP VIEW ref_orders_v AS ${viewText("ref_orders")}")
    val refNames = Names("ref_orders", "ref_lineitem", "ref_customer", "ref_orders_v", "ref_docs")
    // the reference queries run concurrently (checks are not timed)
    val outcomes = results.toSeq.par.map { case (q, got) =>
      val refText = Seq(names.view -> refNames.view, names.orders -> refNames.orders,
        names.lineitem -> refNames.lineitem, names.customer -> refNames.customer,
        names.docs -> refNames.docs)
        .foldLeft(q.text) { case (t, (a, b)) => t.replace(s"graft.$a", b) }
      val want = normalize(spark.sql(refText).collect().toSeq)
      (q, got.count(r => !same(normalize(r), want)), got.size)
    }.seq
    for ((q, bad, n) <- outcomes)
      rec.check(s"bi.${q.cls}", bad == 0, s"$bad of $n results differ: ${q.text}")
    rec.value("space_amp", spaceAmp(spark, o.work, names))
    rec.value("run.checks_s", rec.now() - tc)
  }

  /** Bytes under the orders root after the change prefix ÷ bytes of the
    * same live rows written once with the same slicing. */
  private def spaceAmp(spark: SparkSession, work: String, n: Names): Double = {
    val root = GraftSql.rootOf(n.orders).get
    val once = s"$work/t/bi_once"
    Lake.createSliced(spark, once, ManifestCommit.read(spark, root), Lake.MonthSlice,
      Seq("o_orderdate", "o_orderkey"))
    Lake.bytesUnder(root).toDouble / Lake.bytesUnder(once)
  }

  /** The reporting view over orders: date-helper columns. */
  private def viewText(orders: String): String =
    s"SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority, " +
      s"year(o_orderdate) AS o_year, date_format(o_orderdate, 'yyyy-MM') AS o_month, " +
      s"dayofweek(o_orderdate) AS o_dow FROM $orders"

  /** Plan (spark.sql through the executed plan) and execute one query;
    * traced runs split the two and record the plan's scan set. */
  private def execute(spark: SparkSession, rec: Recorder, q: Query): Seq[Row] =
    if (!rec.tracing) spark.sql(q.text).collect().toSeq
    else {
      val df = rec.span("sql.plan") {
        val d = spark.sql(q.text)
        d.queryExecution.executedPlan
        rec.attr("dirs_scanned", Lake.scannedDirs(d))
        d
      }
      rec.span("sql.exec") { df.collect().toSeq }
    }

  private def month(m: Int): String = {
    val d = java.time.LocalDate.of(1992, 1, 1).plusMonths(m.toLong)
    f"${d.getYear}%04d-${d.getMonthValue}%02d-01"
  }

  /** The session's 30 queries in run order: each class's queries spread
    * evenly over the cycle. Months and keys are seeded; range lengths and
    * the point-lookup column alternate by position. */
  def queryPool(seed: Long, n: Names, in: Inputs): Seq[Query] = {
    val rnd = new scala.util.Random(seed * 104729 + 3)
    val o = s"graft.${n.orders}"
    val l = s"graft.${n.lineitem}"
    val c = s"graft.${n.customer}"
    val v = s"graft.${n.view}"
    def range(col: String, m: Int, len: Int) =
      s"$col >= TIMESTAMP '${month(m)} 00:00:00' AND $col < TIMESTAMP '${month(m + len)} 00:00:00'"
    val fold = Seq(
      s"SELECT count(*) AS n FROM $o",
      s"SELECT min(o_orderdate) AS lo, max(o_orderdate) AS hi FROM $o",
      s"SELECT count(*) AS n, min(o_orderkey) AS lo, max(o_orderkey) AS hi FROM $o",
      s"SELECT count(*) AS n FROM $l",
      s"SELECT min(l_shipdate) AS lo, max(l_shipdate) AS hi FROM $l",
      s"SELECT count(*) AS n FROM $c")
    val skip = Seq.tabulate(12) { i =>
      val len = 1 + i % 3
      s"SELECT o_orderpriority, count(*) AS n, sum(o_totalprice) AS revenue FROM $o " +
        s"WHERE ${range("o_orderdate", rnd.nextInt(in.Months - len + 1), len)} GROUP BY o_orderpriority"
    }
    val point = Seq.tabulate(4) { i =>
      if (i % 2 == 0) s"SELECT * FROM $o WHERE o_orderkey = ${1 + rnd.nextInt(in.Orders.toInt)}"
      else s"SELECT o_orderkey, o_totalprice FROM $o WHERE o_custkey = ${1 + rnd.nextInt(in.Customers.toInt)}"
    }
    val scan = Seq(
      s"SELECT l_returnflag, l_linestatus, sum(l_quantity) AS qty, " +
        s"sum(l_extendedprice) AS base, avg(l_discount) AS disc, count(*) AS n " +
        s"FROM $l GROUP BY l_returnflag, l_linestatus",
      s"SELECT o_year, o_orderpriority, count(*) AS n, sum(o_totalprice) AS revenue " +
        s"FROM $v GROUP BY o_year, o_orderpriority",
      s"SELECT l_suppkey % 10 AS s, sum(l_extendedprice * (1 - l_discount)) AS rev " +
        s"FROM $l GROUP BY l_suppkey % 10",
      s"SELECT o_month, count(*) AS n FROM $v WHERE o_dow = 1 GROUP BY o_month",
      s"SELECT lang, source, count(*) AS n, avg(n_chars) AS chars FROM graft.${n.docs} " +
        "GROUP BY lang, source")
    val join = Seq.fill(3) {
      s"SELECT c_mktsegment, count(*) AS n, sum(l_extendedprice * (1 - l_discount)) AS rev " +
        s"FROM $o JOIN $l ON l_orderkey = o_orderkey JOIN $c ON c_custkey = o_custkey " +
        s"WHERE ${range("o_orderdate", rnd.nextInt(in.Months - 2), 3)} GROUP BY c_mktsegment"
    }
    val byClass = Seq("fold" -> fold, "skip" -> skip, "point" -> point, "scan" -> scan, "join" -> join)
    // the j-th of a class's k queries sits at (j + 0.5) / k of the cycle
    byClass.flatMap { case (cls, qs) =>
      qs.zipWithIndex.map { case (q, j) => ((j + 0.5) / qs.size, Query(cls, q)) }
    }.sortBy(_._1).map(_._2)
  }

  /** Rows sorted by their non-floating columns; floating values compared
    * with a relative tolerance (sums differ in the last bits by order). */
  private def normalize(rows: Seq[Row]): Seq[Seq[Any]] =
    rows.map(_.toSeq).sortBy(_.map {
      case _: Double | _: Float => ""
      case x => String.valueOf(x)
    }.mkString("\u0001"))

  private def same(a: Seq[Seq[Any]], b: Seq[Seq[Any]]): Boolean =
    a.size == b.size && a.zip(b).forall { case (x, y) =>
      x.size == y.size && x.zip(y).forall {
        case (p: Double, q: Double) => math.abs(p - q) <= 1e-9 * math.max(1.0, math.abs(p).max(math.abs(q)))
        case (p, q) => p == q
      }
    }
}
