package graft.queries

import graft.{JobMeter, Tables}
import graft.ingest.{ManifestCommit, MergeInto}
import graft.sql.GraftSql
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Gates for the SQL surface over manifest tables (`graft.sql.GraftSql`):
  * `spark.sql` text against registered graft tables, with the manifest
  * stats/bloom data skipping and metadata-only COUNT(*) the programmatic
  * readers already have — the reference exposes every table through a
  * SQL endpoint (superset_bootstrap/datasets.yaml; tools/sql_objects DDL),
  * and a user switching engines keeps writing SQL, so the gate must pin
  * that the SQL path hits the SAME skipping machinery, not a slower
  * read-everything fallback. */
object SqlGates {

  private def tmpDir(prefix: String): String = graft.GraftTmp.dir(prefix)

  private def uniq(p: String): String =
    s"${p}_${java.util.UUID.randomUUID().toString.replace("-", "").take(8)}"

  /** data_* dirs the OPTIMIZED plan actually scans under `root` — the
    * dir-level pruning witness, read from the plan itself so a silent
    * fall-back to scan-everything reds the gate. Extracts the `data_*`
    * PATH SEGMENT (distinct) rather than the basename, so hive-nested
    * converted dirs — whose scan roots are the `…/data_x/month=…` leaf
    * paths — count identically to flat dirs. Matches the segment AFTER
    * stripping the root prefix and takes the LAST candidate (as
    * [[ManifestCommit.dirIdCol]] does): if the temp root itself lives
    * under a directory like `/data_ssd/`, a first-segment match would
    * collapse every path to that one segment and the pruning witness
    * would silently pass (or red) spuriously. */
  private def scannedDataDirs(df: DataFrame, root: String): Int =
    scannedDataDirNames(df, root).size

  /** The distinct `data_*` dir names behind [[scannedDataDirs]]. */
  private def scannedDataDirNames(df: DataFrame, root: String): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths
              .map(_.toString).filter(_.contains(root))
              .flatMap { p =>
                val rel = p.substring(p.indexOf(root) + root.length)
                // '=' excluded for the same reason as dirIdCol: a hive
                // partition COLUMN named data_* would otherwise match
                rel.split("/").filter(s =>
                  s.startsWith("data_") && !s.contains("=")).lastOption
              }
          case _ => Nil
        }
    }.flatten.distinct

  /** Month-sliced orders graft table with o_orderdate min/max + row-count
    * stats and a recorded schema; returns (root, registered name, months). */
  private def ordersTable(s: SparkSession, dir: String,
      prefix: String): (String, String, Int) = {
    val root = tmpDir(prefix) + "/orders"
    val orders = Tables.load(s, dir, "orders")
    val slice = date_format(col("o_orderdate"), "yyyyMM")
    val dirs = ManifestCommit.writeSliced(s, root, orders, slice,
      Seq("o_orderdate", "o_orderkey", ManifestCommit.RowCountStat))
    ManifestCommit.commitReplace(s, root, dirs.map(_._1),
      pruneDisplaced = false, stats = dirs.toMap, schema = Some(orders.schema),
      slice = Some(ManifestCommit.sliceSql(slice)))
    val name = uniq(prefix)
    GraftSql.register(name, root)
    (root, name, dirs.size)
  }

  /** q144 — SQL text end-to-end over a graft table WITH manifest-stats
    * data skipping: a 3-month window over a month-sliced table must plan
    * exactly 3 of the ~80 dirs (`dirs_scanned` pinned from the optimized
    * plan), and the aggregate hash-matches DuckDB over the raw fixture.
    * 100-TB shape: the WHERE clause reaches the manifest BEFORE any file
    * listing — the scan set is O(matching dirs), and inside each kept dir
    * the predicate is still pushed to parquet (GraftSqlSpec pins
    * PushedFilters/ReadSchema). */
  val q144_sql_skipping = Q(
    "q144_sql_skipping",
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
      |  cast(sum(cast(o_totalprice as decimal(18,2))) as double) AS s,
      |  CAST(3 AS BIGINT) AS dirs_scanned,
      |  (SELECT CAST(count(DISTINCT strftime(o_orderdate, '%Y%m')) AS BIGINT) + 3
      |     FROM orders) AS dirs_total,
      |  CAST(3 AS BIGINT) AS ins_dirs,
      |  (SELECT CAST(count(*) AS BIGINT) FROM orders) +
      |  (SELECT CAST(count(*) AS BIGINT) FROM orders
      |    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      |      AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00') AS n_total
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-03-01 00:00:00'
      |  AND o_orderdate <= TIMESTAMP '1996-05-31 23:59:59'
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
    val (root, name, months) = ordersTable(s, dir, "graft_q144_")
    // a quarter-sized SQL INSERT (3 months shifted +10y) lands as 3 MONTH
    // dirs via the manifest-recorded slicing expression — skipping stays
    // month-granular through SQL writes instead of degrading to one
    // table-spanning blob until the next OPTIMIZE
    s.sql(
      s"""INSERT INTO graft.$name
         |SELECT o_orderkey + 100000000, o_custkey, o_orderstatus,
         |  o_totalprice, o_orderdate + INTERVAL '10' YEAR, o_orderpriority
         |FROM graft.$name
         |WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
         |  AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'""".stripMargin)
    val m = ManifestCommit.readManifest(s, root).get
    val insDirs = m.dirs.size - months
    val nTotal = s.sql(s"SELECT count(*) FROM graft.$name")
      .collect()(0).getLong(0)
    val agg = s.sql(
      s"""SELECT o_orderpriority, CAST(count(*) AS LONG) AS n,
         |  cast(sum(cast(o_totalprice as decimal(18,2))) as double) AS s
         |FROM graft.$name
         |WHERE o_orderdate >= TIMESTAMP '1996-03-01 00:00:00'
         |  AND o_orderdate <= TIMESTAMP '1996-05-31 23:59:59'
         |GROUP BY o_orderpriority
         |ORDER BY o_orderpriority""".stripMargin)
    val scanned = scannedDataDirs(agg, root)
    agg.select(col("o_orderpriority"), col("n"), col("s"),
      lit(scanned.toLong).as("dirs_scanned"),
      lit(m.dirs.size.toLong).as("dirs_total"),
      lit(insDirs.toLong).as("ins_dirs"),
      lit(nTotal).as("n_total"))
  }

  /** q145 — metadata-only COUNT(*) at the SQL surface, surviving a
    * merge-on-read delete: `SELECT count(*) FROM graft.t` optimizes to a
    * LocalRelation (NO scan operator in the plan — pinned) answered from
    * RowCountStat/DvDeadStat pseudo-stats, before AND after a
    * `deleteWhere` repoints deletion vectors; the job meter
    * pins zero Spark jobs for both probes, and both counts hash-match
    * DuckDB. The q135/q140 contract, now reachable from SQL text. */
  val q145_sql_count = Q(
    "q145_sql_count",
    """SELECT CAST(count(*) AS BIGINT) AS n_before,
      |  CAST(count(*) FILTER (WHERE o_orderkey % 97 <> 0) AS BIGINT) AS n_after,
      |  1 AS local_before, 1 AS local_after, 0 AS probe_jobs
      |FROM orders""".stripMargin) { (s, dir) =>
    val root = tmpDir("graft_q145_") + "/orders"
    val orders = Tables.load(s, dir, "orders")
      .select("o_orderkey", "o_totalprice")
    val dirs = ManifestCommit.writeSliced(s, root, orders,
      pmod(col("o_orderkey"), lit(4)),
      Seq("o_orderkey", ManifestCommit.RowCountStat))
    ManifestCommit.commitReplace(s, root, dirs.map(_._1),
      pruneDisplaced = false, stats = dirs.toMap, schema = Some(
        orders.schema))
    val name = uniq("graft_q145")
    GraftSql.register(name, root)

    // one probe = plan + execute inside its meter window, so a metadata
    // count that silently regressed to a scan is counted
    def probe() = JobMeter.measure(s) {
      val df = s.sql(s"SELECT count(*) AS n FROM graft.$name")
      val isLocal = df.queryExecution.optimizedPlan
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]
      (df.collect()(0).getLong(0), isLocal)
    }
    val before = probe()
    MergeInto.deleteWhere(s, root,
      orders.filter(pmod(col("o_orderkey"), lit(97)) === 0)
        .select("o_orderkey"))
    val after = probe()
    val ((nBefore, localBefore), (nAfter, localAfter)) = (before.value, after.value)
    s.range(1).select(
      lit(nBefore).as("n_before"), lit(nAfter).as("n_after"),
      lit(if (localBefore) 1 else 0).as("local_before"),
      lit(if (localAfter) 1 else 0).as("local_after"),
      lit(before.count + after.count).as("probe_jobs"))
  }

  /** q146 — SQL join across TWO graft tables: the full relational
    * planner (join strategy, AQE) over manifest-resolved relations, with
    * the orders side still dir-pruned by the date predicate (pinned: 3
    * month dirs of ~80). Each side resolves its own pinned generation;
    * the customer side's 4 hash dirs all qualify (no predicate) and the
    * runtime picks the join strategy from real sizes — no hardcoded
    * broadcast that would OOM at 100×. */
  val q146_sql_join = Q(
    "q146_sql_join",
    """SELECT c.c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
      |  cast(sum(cast(o.o_totalprice as decimal(18,2))) as double) AS revenue,
      |  CAST(3 AS BIGINT) AS orders_dirs_scanned
      |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND o.o_orderdate <= TIMESTAMP '1997-03-31 23:59:59'
      |GROUP BY c.c_mktsegment
      |ORDER BY c.c_mktsegment""".stripMargin) { (s, dir) =>
    val (ordersRoot, ordersName, _) = ordersTable(s, dir, "graft_q146_")
    val custRoot = tmpDir("graft_q146c_") + "/customer"
    val customer = Tables.load(s, dir, "customer")
    val cdirs = ManifestCommit.writeSliced(s, custRoot, customer,
      pmod(col("c_custkey"), lit(4)),
      Seq("c_custkey", ManifestCommit.RowCountStat))
    ManifestCommit.commitReplace(s, custRoot, cdirs.map(_._1),
      pruneDisplaced = false, stats = cdirs.toMap,
      schema = Some(customer.schema))
    val custName = uniq("graft_q146c")
    GraftSql.register(custName, custRoot)
    val joined = s.sql(
      s"""SELECT c.c_mktsegment, CAST(count(*) AS LONG) AS n_orders,
         |  cast(sum(cast(o.o_totalprice as decimal(18,2))) as double) AS revenue
         |FROM graft.$ordersName o JOIN graft.$custName c
         |  ON o.o_custkey = c.c_custkey
         |WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
         |  AND o.o_orderdate <= TIMESTAMP '1997-03-31 23:59:59'
         |GROUP BY c.c_mktsegment
         |ORDER BY c.c_mktsegment""".stripMargin)
    val scanned = scannedDataDirs(joined, ordersRoot)
    joined.select(col("c_mktsegment"), col("n_orders"), col("revenue"),
      lit(scanned.toLong).as("orders_dirs_scanned"))
  }

  /** q148 — SQL row-level DML (UPDATE / DELETE ... WHERE) with dir-level
    * copy-on-write arbitrated by manifest stats: the one-month UPDATE
    * rewrites exactly 1 of ~80 month dirs (history pins added=1,
    * removed=1), and the three-month DELETE — whose affected dirs match
    * in FULL — drops 3 dirs with no replacement write at all (added=0,
    * removed=3). Cold dirs survive untouched (dir count pinned), and the
    * final table state hash-matches DuckDB computing both mutations
    * relationally. 100-TB shape: predicate DML costs
    * O(stats-matching dirs) read + rewrite of only the dirs that
    * actually contain matches — the Delta/Iceberg copy-on-write DELETE/
    * UPDATE contract, reached from SQL text. */
  val q148_sql_dml = Q(
    "q148_sql_dml",
    """WITH fin AS (
      |  SELECT CASE WHEN o_orderdate >= TIMESTAMP '1996-03-01 00:00:00'
      |                AND o_orderdate <= TIMESTAMP '1996-03-31 23:59:59'
      |              THEN o_totalprice + 1000 ELSE o_totalprice END AS p
      |  FROM orders
      |  WHERE NOT (o_orderdate >= TIMESTAMP '1997-06-01 00:00:00'
      |         AND o_orderdate <= TIMESTAMP '1997-08-31 23:59:59'))
      |SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |  cast(sum(cast(p as decimal(18,2))) as double) AS sum_price,
      |  CAST(1 AS BIGINT) AS upd_added, CAST(1 AS BIGINT) AS upd_removed,
      |  CAST(0 AS BIGINT) AS del_added, CAST(3 AS BIGINT) AS del_removed,
      |  (SELECT CAST(count(DISTINCT strftime(o_orderdate, '%Y%m')) AS BIGINT) - 3
      |     FROM orders) AS dirs_after
      |FROM fin""".stripMargin) { (s, dir) =>
    import graft.ingest.ManifestCommit
    val (root, name, _) = ordersTable(s, dir, "graft_q148_")
    s.sql(
      s"""UPDATE graft.$name SET o_totalprice = o_totalprice + 1000
         |WHERE o_orderdate >= TIMESTAMP '1996-03-01 00:00:00'
         |  AND o_orderdate <= TIMESTAMP '1996-03-31 23:59:59'""".stripMargin)
    s.sql(
      s"""DELETE FROM graft.$name
         |WHERE o_orderdate >= TIMESTAMP '1997-06-01 00:00:00'
         |  AND o_orderdate <= TIMESTAMP '1997-08-31 23:59:59'""".stripMargin)
    val hist = ManifestCommit.history(s, root).orderBy("gen").collect()
    val (upd, del) = (hist(hist.length - 2), hist(hist.length - 1))
    assert(upd.getString(1) == "update" && del.getString(1) == "delete",
      s"unexpected history ops: ${hist.map(_.getString(1)).mkString(",")}")
    val agg = s.sql(
      s"""SELECT CAST(count(*) AS LONG) AS n_rows,
         |  cast(sum(cast(o_totalprice as decimal(18,2))) as double) AS sum_price
         |FROM graft.$name""".stripMargin).collect()(0)
    val dirsAfter = ManifestCommit.readManifest(s, root).get.dirs.size
    s.range(1).select(
      lit(agg.getLong(0)).as("n_rows"), lit(agg.getDouble(1)).as("sum_price"),
      lit(upd.getLong(3)).as("upd_added"), lit(upd.getLong(4)).as("upd_removed"),
      lit(del.getLong(3)).as("del_added"), lit(del.getLong(4)).as("del_removed"),
      lit(dirsAfter.toLong).as("dirs_after"))
  }

  /** q149 — SQL `MERGE INTO` end-to-end: UPDATE SET * + conditional
    * DELETE + INSERT * over a key-range-sliced orders table. The source
    * targets one key band (slice 5 of 16) plus unmatched keys shifted
    * beyond the table max, so merge's exact affected-dir test rewrites
    * EXACTLY one dir (history pins added=1/removed=1, op=merge) while
    * every cold dir survives by name; the final table state hash-matches
    * DuckDB computing the merged result relationally. 100-TB shape: the
    * statement plans through `GraftResolveRelations` →
    * [[graft.sql.GraftWriteStrategy]] → `MergeInto.merge`, so SQL MERGE
    * inherits the dir-level copy-on-write contract — O(touched dirs ∪
    * source) cost, one full-outer shuffle, OCC commit — not a table
    * rewrite. */
  val q149_sql_merge = Q(
    "q149_sql_merge",
    """WITH mx AS (SELECT CAST(max(o_orderkey) AS BIGINT) AS mk FROM orders),
      |tgt AS (
      |  SELECT CASE WHEN CAST(floor(o_orderkey * 16 / (mk + 1)) AS BIGINT) = 5
      |                AND o_orderkey % 3 = 0 AND o_orderkey % 2 = 1
      |              THEN o_totalprice + 1000 ELSE o_totalprice END AS p
      |  FROM orders, mx
      |  WHERE NOT (CAST(floor(o_orderkey * 16 / (mk + 1)) AS BIGINT) = 5
      |             AND o_orderkey % 3 = 0 AND o_orderkey % 2 = 0)),
      |ins AS (
      |  SELECT o_totalprice + 5000 AS p FROM orders, mx
      |  WHERE CAST(floor(o_orderkey * 16 / (mk + 1)) AS BIGINT) = 5
      |    AND o_orderkey % 3 = 0),
      |fin AS (SELECT p FROM tgt UNION ALL SELECT p FROM ins)
      |SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |  cast(sum(cast(p as decimal(18,2))) as double) AS sum_price,
      |  (SELECT CAST(count(DISTINCT CAST(floor(o_orderkey * 16 / (mk + 1)) AS BIGINT)) AS BIGINT) - 1
      |     FROM orders, mx) AS cold_dirs,
      |  CAST(1 AS BIGINT) AS upd_added, CAST(1 AS BIGINT) AS upd_removed
      |FROM fin""".stripMargin) { (s, dir) =>
    val root = tmpDir("graft_q149_") + "/orders"
    val orders = Tables.load(s, dir, "orders")
    val mk = orders.agg(max("o_orderkey")).collect()(0).getLong(0)
    val slice = floor(col("o_orderkey") * 16 / (mk + 1))
    val dirs = ManifestCommit.writeSliced(s, root, orders, slice,
      Seq("o_orderkey", ManifestCommit.RowCountStat))
    ManifestCommit.commitReplace(s, root, dirs.map(_._1),
      pruneDisplaced = false, stats = dirs.toMap, schema = Some(orders.schema))
    val name = uniq("graft_q149")
    GraftSql.register(name, root)
    val coldBefore = ManifestCommit.readManifest(s, root).get.dirs.toSet
    // band = every 3rd key of slice 5: odd keys update (+1000), even keys
    // delete; the same band shifted past the max key inserts (+5000)
    val band = orders.filter(slice === 5 && col("o_orderkey") % 3 === 0)
    val srcView = uniq("graft_q149_src")
    band.withColumn("o_totalprice", col("o_totalprice") + 1000)
      .withColumn("del_it", col("o_orderkey") % 2 === 0)
      .unionByName(band
        .withColumn("o_orderkey", col("o_orderkey") + mk)
        .withColumn("o_totalprice", col("o_totalprice") + 5000)
        .withColumn("del_it", lit(false)))
      .createOrReplaceTempView(srcView)
    s.sql(
      s"""MERGE INTO graft.$name t USING $srcView s
         |ON t.o_orderkey = s.o_orderkey
         |WHEN MATCHED AND s.del_it THEN DELETE
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val m = ManifestCommit.readManifest(s, root).get
    assert(m.op == Some("merge"), s"unexpected op ${m.op}")
    val hist = ManifestCommit.history(s, root).orderBy("gen").collect().last
    val agg = s.sql(
      s"""SELECT CAST(count(*) AS LONG) AS n_rows,
         |  cast(sum(cast(o_totalprice as decimal(18,2))) as double) AS sum_price
         |FROM graft.$name""".stripMargin).collect()(0)
    s.range(1).select(
      lit(agg.getLong(0)).as("n_rows"), lit(agg.getDouble(1)).as("sum_price"),
      lit((coldBefore & m.dirs.toSet).size.toLong).as("cold_dirs"),
      lit(hist.getLong(3)).as("upd_added"),
      lit(hist.getLong(4)).as("upd_removed"))
  }

  /** q151 — SQL DDL end-to-end: `CREATE TABLE ... PARTITIONED BY
    * (months(o_orderdate)) AS SELECT` lands the fixture as month dirs
    * with o_orderdate stats (the transform's referenced column seeds the
    * stat set), a 3-month window prunes to 3 dirs from the optimized
    * plan, `TRUNCATE` empties the live set while `@v1` time travel still
    * reads the full CTAS generation, and `DROP TABLE` unregisters. The
    * reference's DDL-first pipeline (create_clickhouse_models.py builds
    * month-partitioned tables, gen_pipeline inserts into them) expressed
    * as graft SQL statements. 100-TB shape: CTAS cost is the SELECT plus
    * one slice pass; TRUNCATE/DROP are O(1) manifest commits. */
  val q151_sql_ddl = Q(
    "q151_sql_ddl",
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
      |  cast(sum(cast(o_totalprice as decimal(18,2))) as double) AS s,
      |  CAST(3 AS BIGINT) AS dirs_scanned,
      |  (SELECT CAST(count(DISTINCT strftime(o_orderdate, '%Y%m')) AS BIGINT)
      |     FROM orders) AS dirs_total,
      |  CAST(0 AS BIGINT) AS n_trunc,
      |  (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_tt
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-03-01 00:00:00'
      |  AND o_orderdate <= TIMESTAMP '1996-05-31 23:59:59'
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
    val loc = tmpDir("graft_q151_") + "/orders"
    val name = uniq("graft_q151")
    val src = uniq("graft_q151_src")
    Tables.load(s, dir, "orders").createOrReplaceTempView(src)
    s.sql(
      s"""CREATE TABLE graft.$name PARTITIONED BY (months(o_orderdate))
         |LOCATION '$loc' AS SELECT * FROM $src""".stripMargin)
    val m = ManifestCommit.readManifest(s, loc).get
    assert(m.op == Some("create") && m.slice.isDefined, s"${m.op} ${m.slice}")
    val agg = s.sql(
      s"""SELECT o_orderpriority, CAST(count(*) AS LONG) AS n,
         |  cast(sum(cast(o_totalprice as decimal(18,2))) as double) AS s
         |FROM graft.$name
         |WHERE o_orderdate >= TIMESTAMP '1996-03-01 00:00:00'
         |  AND o_orderdate <= TIMESTAMP '1996-05-31 23:59:59'
         |GROUP BY o_orderpriority
         |ORDER BY o_orderpriority""".stripMargin)
    val scanned = scannedDataDirs(agg, loc)
    val rows = agg.collect() // materialize BEFORE the truncate below
    s.sql(s"TRUNCATE TABLE graft.$name")
    val nTrunc = s.sql(s"SELECT count(*) FROM graft.$name")
      .collect()(0).getLong(0)
    val nTt = s.sql(s"SELECT count(*) FROM graft.`$name@v1`")
      .collect()(0).getLong(0)
    s.sql(s"DROP TABLE graft.$name")
    import s.implicits._
    rows.toSeq.map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toDF("o_orderpriority", "n", "s")
      .select(col("o_orderpriority"), col("n"), col("s"),
        lit(scanned.toLong).as("dirs_scanned"),
        lit(m.dirs.size.toLong).as("dirs_total"),
        lit(nTrunc).as("n_trunc"), lit(nTt).as("n_tt"))
      .orderBy("o_orderpriority")
  }

  /** q154 — TIMESTAMP-based time travel (the Delta/Iceberg `TIMESTAMP
    * AS OF` surface): per-generation commit instants derive from the
    * metadata records' modification times, monotonic-adjusted, and both
    * the SQL syntax (`VERSION AS OF` / `TIMESTAMP AS OF`) and the
    * programmatic `readAsOf` resolve an instant captured BETWEEN commits
    * to the generation that was live then. Wall-clock values are
    * nondeterministic, so the gate emits the resolved generations'
    * deterministic content (count + key sum, the q117 shape) plus pinned
    * booleans: instant-between-commits hits the earlier gen from BOTH
    * the SQL and programmatic paths, a pre-history instant errors
    * naming retention, and @v cannot be combined with AS OF.
    *
    * 100-TB shape: resolving an instant is one mtime HEAD per retained
    * record — O(retained generations) metadata calls, no data I/O; the
    * resolved read then skips/prunes from the PINNED manifest exactly
    * like any other snapshot read. */
  val q154_timestamp_travel = Q(
    "q154_timestamp_travel",
    """WITH f AS (SELECT count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS ksum
      |  FROM orders WHERE o_orderstatus = 'F'),
      |fo AS (SELECT count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS ksum
      |  FROM orders WHERE o_orderstatus IN ('F', 'O'))
      |SELECT 1 AS gen, f.n AS n_rows, f.ksum AS key_sum,
      |  TRUE AS sql_matches, TRUE AS api_matches,
      |  TRUE AS prehistory_errors, TRUE AS at_v_rejected FROM f
      |UNION ALL SELECT 2, fo.n, fo.ksum, TRUE, TRUE, TRUE, TRUE FROM fo""".stripMargin) { (s, dir) =>
    val out = tmpDir("graft_q154_")
    val root = s"$out/orders"
    val name = uniq("q154_tt")
    val orders = Tables.load(s, dir, "orders")
      .select("o_orderkey", "o_orderstatus")
    def commitStatus(statuses: Seq[String], replace: Boolean): Unit = {
      val d = ManifestCommit.newDataDir(root)
      orders.filter(col("o_orderstatus").isin(statuses: _*)).write.parquet(d)
      if (replace) ManifestCommit.commitReplace(s, root, Seq(d),
        pruneDisplaced = false, schema = Some(orders.schema))
      else { ManifestCommit.commitAppend(s, root, d); () }
    }
    commitStatus(Seq("F"), replace = true) // gen 1
    Thread.sleep(15)
    val t1 = System.currentTimeMillis() // strictly between gens 1 and 2
    Thread.sleep(15)
    commitStatus(Seq("O"), replace = false) // gen 2
    val t2 = System.currentTimeMillis() + 15 // after the newest commit
    GraftSql.register(name, root)
    try {
      def probe(g: Long, ts: Long): (Long, Long, Boolean, Boolean) = {
        // render the probe literal in the SESSION timezone (where
        // TIMESTAMP AS OF interprets it) — java.sql.Timestamp.toString
        // renders in the JVM default zone and flakes whenever the two
        // differ (Spark's parser rejects bare epoch-millis here)
        val tsLit = java.time.Instant.ofEpochMilli(ts)
          .atZone(java.time.ZoneId.of(s.sessionState.conf.sessionLocalTimeZone))
          .toLocalDateTime.format(java.time.format.DateTimeFormatter
            .ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
        val viaSql = s.sql(s"SELECT count(*), CAST(sum(o_orderkey) AS BIGINT) " +
          s"FROM graft.$name TIMESTAMP AS OF '$tsLit'").collect()(0)
        val viaVer = s.sql(s"SELECT count(*), CAST(sum(o_orderkey) AS BIGINT) " +
          s"FROM graft.$name VERSION AS OF $g").collect()(0)
        val viaApi = ManifestCommit.readAsOf(s, root, ts)
          .agg(count(lit(1)), sum(col("o_orderkey")).cast("long")).collect()(0)
        (viaVer.getLong(0), viaVer.getLong(1),
          viaSql.getLong(0) == viaVer.getLong(0) && viaSql.getLong(1) == viaVer.getLong(1),
          viaApi.getLong(0) == viaVer.getLong(0) && viaApi.getLong(1) == viaVer.getLong(1))
      }
      val (n1, k1, sql1, api1) = probe(1L, t1)
      val (n2, k2, sql2, api2) = probe(2L, t2)
      val preErr = scala.util.Try(s.sql(
        s"SELECT * FROM graft.$name TIMESTAMP AS OF '2000-01-01 00:00:00'")
        .collect()).failed.toOption.exists(_.getMessage.contains("predates"))
      val atVErr = scala.util.Try(s.sql(
        s"SELECT * FROM graft.`$name@v1` VERSION AS OF 2").collect())
        .failed.toOption.exists(_.getMessage.contains("cannot combine"))
      import s.implicits._
      Seq((1, n1, k1, sql1, api1, preErr, atVErr),
        (2, n2, k2, sql2, api2, preErr, atVErr))
        .toDF("gen", "n_rows", "key_sum", "sql_matches", "api_matches",
          "prehistory_errors", "at_v_rejected")
    } finally GraftSql.unregister(name)
  }

  /** q155 — `RESTORE TABLE ... TO VERSION AS OF` (the Delta RESTORE
    * verb): rolls the live table back to a retained generation as a NEW
    * history-preserving commit — an O(target dirs) metadata re-statement,
    * no data read or copied (dirs are immutable and retained). Pinned:
    * the restored content hash-matches DuckDB recomputing the target
    * state, the rolled-back generation stays time-travelable AFTER the
    * restore, the commit lands as op `restore`, and the change feed
    * across the restore emits exactly the inverse of the rolled-back
    * window (the deleted rows come back as inserts).
    *
    * 100-TB shape: restoring a petabyte table is one manifest commit —
    * cost follows the target's dir COUNT (metadata lines), never data
    * size; the inverse change feed then lets replicas follow the
    * rollback incrementally instead of re-snapshotting. */
  val q155_sql_restore = Q(
    "q155_sql_restore",
    """WITH fo AS (SELECT o_orderkey FROM orders WHERE o_orderstatus IN ('F','O'))
      |SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
      |  (SELECT CAST(count(*) AS BIGINT) FROM fo WHERE o_orderkey % 97 <> 0)
      |    AS n_prerestore,
      |  (SELECT CAST(count(*) AS BIGINT) FROM fo WHERE o_orderkey % 97 = 0)
      |    AS n_reinserted,
      |  1 AS restore_op FROM fo""".stripMargin) { (s, dir) =>
    import graft.ingest.{ChangeFeed, ManifestCommit}
    val out = tmpDir("graft_q155_")
    val root = s"$out/orders"
    val name = uniq("q155_restore")
    val orders = Tables.load(s, dir, "orders")
      .select("o_orderkey", "o_orderstatus")
    val d1 = ManifestCommit.newDataDir(root)
    orders.filter(col("o_orderstatus") === "F").write.parquet(d1)
    ManifestCommit.commitReplace(s, root, Seq(d1),
      pruneDisplaced = false, schema = Some(orders.schema)) // gen 1
    GraftSql.register(name, root)
    try {
      val d2 = ManifestCommit.newDataDir(root)
      orders.filter(col("o_orderstatus") === "O").write.parquet(d2)
      ManifestCommit.commitAppend(s, root, d2) // gen 2: F + O
      s.sql(s"DELETE FROM graft.$name WHERE o_orderkey % 97 = 0") // gen 3
      s.sql(s"RESTORE TABLE graft.$name TO VERSION AS OF 2") // gen 4
      val m = ManifestCommit.readManifest(s, root).get
      val fin = s.sql(s"SELECT count(*), CAST(sum(o_orderkey) AS BIGINT) " +
        s"FROM graft.$name").collect()(0)
      val pre = s.sql(s"SELECT count(*) FROM graft.$name VERSION AS OF 3")
        .collect()(0).getLong(0)
      // the feed across the restore is the INVERSE of the delete
      val inv = ChangeFeed.diff(s, root, 3L, 4L, Seq("o_orderkey"))
        .groupBy(ChangeFeed.ChangeType).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      s.range(1).select(
        lit(fin.getLong(0)).as("n_rows"),
        lit(fin.getLong(1)).as("key_sum"),
        lit(pre).as("n_prerestore"),
        lit(inv.getOrElse("insert", 0L)).as("n_reinserted"),
        lit(if (m.gen == 4L && m.op == Some("restore") &&
          inv.size == 1) 1 else 0).as("restore_op"))
    } finally GraftSql.unregister(name)
  }

  /** q157 — CHECK constraints (the Delta `ALTER TABLE ADD CONSTRAINT`
    * contract): adding the constraint validates EXISTING rows in one
    * scan (a violated add is refused, not recorded); afterwards every
    * enforced writer — SQL INSERT, MERGE, row-level UPDATE — re-proves
    * the condition for exactly the rows it lands (one aggregate over
    * the incoming batch, never the table) and refuses the whole batch
    * atomically on violation. Pinned: the violated-add refusal, an
    * INSERT and an UPDATE refused with the constraint named and ZERO
    * rows landed, a violating-add refusal after a legal mutation, and
    * the final table hash-matching DuckDB over only the accepted
    * writes.
    *
    * 100-TB shape: enforcement cost rides the WRITE batch (map-side
    * aggregate, no shuffle, no table read); the table-wide validation
    * happens exactly once, at ADD CONSTRAINT time. */
  val q157_check_constraints = Q(
    "q157_check_constraints",
    """WITH fin AS (
      |  SELECT o_orderkey,
      |    CASE WHEN o_orderkey % 101 = 0 THEN o_totalprice + 1000
      |         ELSE o_totalprice END AS p
      |  FROM orders WHERE o_orderstatus IN ('F','O'))
      |SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |  cast(sum(cast(p as decimal(18,2))) as double) AS sum_price,
      |  1 AS add_validates, 1 AS insert_refused, 1 AS update_refused,
      |  1 AS refused_lands_nothing
      |FROM fin""".stripMargin) { (s, dir) =>
    import graft.ingest.{ManifestCommit, MergeInto}
    val out = tmpDir("graft_q157_")
    val root = s"$out/orders"
    val name = uniq("q157_ck")
    val orders = Tables.load(s, dir, "orders")
      .select("o_orderkey", "o_totalprice", "o_orderstatus")
    val d1 = ManifestCommit.newDataDir(root)
    orders.filter(col("o_orderstatus") === "F")
      .select("o_orderkey", "o_totalprice").write.parquet(d1)
    ManifestCommit.commitReplace(s, root, Seq(d1), pruneDisplaced = false,
      schema = Some(org.apache.spark.sql.types.StructType(
        orders.schema.fields.take(2).map(_.copy(nullable = true)))))
    GraftSql.register(name, root)
    try {
      // a constraint the data violates is refused at ADD time
      val addValidates = scala.util.Try(s.sql(
        s"ALTER TABLE graft.$name ADD CONSTRAINT too_strict " +
          "CHECK (o_totalprice > 1000000)")).failed.toOption
        .exists(_.getMessage.contains("existing row"))
      s.sql(s"ALTER TABLE graft.$name ADD CONSTRAINT price_pos " +
        "CHECK (o_totalprice > 0)")
      // legal writes flow: INSERT the O slice, MERGE the %101 reprice
      orders.filter(col("o_orderstatus") === "O")
        .select("o_orderkey", "o_totalprice")
        .createOrReplaceTempView("q157_o_slice")
      s.sql(s"INSERT INTO graft.$name SELECT * FROM q157_o_slice")
      MergeInto.merge(s, root,
        ManifestCommit.read(s, root)
          .filter(pmod(col("o_orderkey"), lit(101)) === 0)
          .withColumn("o_totalprice", col("o_totalprice") + 1000.0),
        Seq("o_orderkey"))
      val nBefore = ManifestCommit.read(s, root).count()
      // violating writes are refused atomically, naming the constraint
      val insertRefused = scala.util.Try(s.sql(
        s"INSERT INTO graft.$name VALUES (900000001, 50.0), (900000002, -1.0)"))
        .failed.toOption.exists(_.getMessage.contains("price_pos"))
      val updateRefused = scala.util.Try(s.sql(
        s"UPDATE graft.$name SET o_totalprice = o_totalprice - 1000000 " +
          "WHERE o_orderkey % 7 = 0")).failed.toOption
        .exists(_.getMessage.contains("price_pos"))
      val landsNothing = ManifestCommit.read(s, root).count() == nBefore
      ManifestCommit.read(s, root).agg(
        count(lit(1)).as("n_rows"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("sum_price"))
        .withColumn("add_validates", lit(if (addValidates) 1 else 0))
        .withColumn("insert_refused", lit(if (insertRefused) 1 else 0))
        .withColumn("update_refused", lit(if (updateRefused) 1 else 0))
        .withColumn("refused_lands_nothing", lit(if (landsNothing) 1 else 0))
    } finally GraftSql.unregister(name)
  }

  /** q158 — ZERO-COPY SHALLOW CLONE (the public Delta `CREATE TABLE ...
    * SHALLOW CLONE` idea): forking a table is ONE metadata commit whose
    * manifest references the source's immutable dirs and deletion
    * vectors as external entries — no data read or copied at any table
    * size. Pinned: the clone root holds ZERO local data dirs at clone
    * time while content (through the source's DVs) hash-matches DuckDB;
    * the fork then diverges — INSERT and row-level DELETE on the clone
    * land local dirs and displace external references — with the source
    * provably untouched (generation AND content unchanged); the clone's
    * VACUUM reclaims only clone-owned dirs (external references are the
    * source's to retire — the Delta shallow-clone ownership contract);
    * inherited per-dir stats keep data skipping live on the clone.
    *
    * 100-TB shape: cloning a petabyte table for a dev/test fork or an
    * experiment branch costs one O(dirs) manifest write; the 2× storage
    * and hours-long copy a physical fork would need simply never
    * happen, and divergent writes pay only their own deltas. */
  val q158_shallow_clone = Q(
    "q158_shallow_clone",
    """WITH b AS (SELECT max(o_orderkey) AS maxk FROM orders),
      |base AS (SELECT o_orderkey, o_totalprice FROM orders
      |  WHERE o_orderkey % 97 <> 0),
      |ins AS (SELECT o_orderkey + maxk + 1000 AS o_orderkey,
      |    o_totalprice + 5 AS o_totalprice
      |  FROM orders, b WHERE o_orderkey <= 100),
      |fin AS (SELECT * FROM (SELECT * FROM base UNION ALL SELECT * FROM ins)
      |  f, b WHERE NOT (f.o_orderkey % 89 = 0 AND f.o_orderkey <= b.maxk // 4))
      |SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS price_sum,
      |  1 AS zero_copy, 1 AS src_unchanged, 1 AS src_survives_vacuum,
      |  1 AS prune_works
      |FROM fin""".stripMargin) { (s, dir) =>
    import graft.ingest.{ManifestCommit, MergeInto}
    val out = tmpDir("graft_q158_")
    val srcRoot = s"$out/src"; val cloneRoot = s"$out/clone"
    val srcName = uniq("q158_src"); val cloneName = uniq("q158_clone")
    val orders = Tables.load(s, dir, "orders")
      .select("o_orderkey", "o_totalprice")
    val maxk = orders.agg(max("o_orderkey")).collect()(0).getLong(0)
    val cuts = Seq(maxk / 4, maxk / 2, 3 * maxk / 4)
    val dirs = ManifestCommit.writeSliced(s, srcRoot, orders,
      when(col("o_orderkey") <= cuts(0), 0)
        .when(col("o_orderkey") <= cuts(1), 1)
        .when(col("o_orderkey") <= cuts(2), 2).otherwise(3),
      Seq("o_orderkey", ManifestCommit.RowCountStat))
    ManifestCommit.commitReplace(s, srcRoot, dirs.map(_._1),
      pruneDisplaced = false, stats = dirs.toMap,
      schema = Some(org.apache.spark.sql.types.StructType(
        orders.schema.fields.map(_.copy(nullable = true)))))
    // merge-on-read delete BEFORE cloning: the clone must reference the
    // source's deletion vectors, not resurrect the %97 rows
    MergeInto.deleteWhere(s, srcRoot,
      orders.filter(col("o_orderkey") % 97 === 0).select("o_orderkey"))
    GraftSql.register(srcName, srcRoot)
    try {
      val srcGen0 = ManifestCommit.readManifest(s, srcRoot).get.gen
      val srcAgg0 = ManifestCommit.read(s, srcRoot)
        .agg(count(lit(1)), sum("o_orderkey")).collect()(0)
      s.sql(s"CREATE TABLE graft.$cloneName SHALLOW CLONE graft.$srcName " +
        s"LOCATION '$cloneRoot'")
      try {
        val f = new org.apache.hadoop.fs.Path(cloneRoot)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        def localDataDirs() = f.listStatus(
          new org.apache.hadoop.fs.Path(cloneRoot))
          .count(_.getPath.getName.startsWith("data_"))
        val zeroCopy = localDataDirs() == 0
        // inherited stats keep skipping live on the clone
        val (_, kept, total) = ManifestCommit.readPruned(s, cloneRoot,
          Seq(("o_orderkey", None, Some(cuts(0).toString))))
        val pruneWorks = kept < total
        // diverge the fork: INSERT shifted rows, row-level DELETE
        orders.filter(col("o_orderkey") <= 100)
          .select((col("o_orderkey") + maxk + 1000).as("o_orderkey"),
            (col("o_totalprice") + 5).as("o_totalprice"))
          .createOrReplaceTempView("q158_ins")
        s.sql(s"INSERT INTO graft.$cloneName SELECT * FROM q158_ins")
        // band-scoped DELETE: the stats bound picks ONE external dir to
        // displace locally; the other external refs survive the rewrite
        s.sql(s"DELETE FROM graft.$cloneName WHERE o_orderkey % 89 = 0 " +
          s"AND o_orderkey <= ${cuts(0)}")
        // the source saw none of it
        val srcAgg1 = ManifestCommit.read(s, srcRoot)
          .agg(count(lit(1)), sum("o_orderkey")).collect()(0)
        val srcUnchanged =
          ManifestCommit.readManifest(s, srcRoot).get.gen == srcGen0 &&
            srcAgg1 == srcAgg0
        // the clone's VACUUM reclaims only clone-owned dirs
        s.sql(s"VACUUM graft.$cloneName")
        val srcAgg2 = ManifestCommit.read(s, srcRoot)
          .agg(count(lit(1)), sum("o_orderkey")).collect()(0)
        val srcSurvives = srcAgg2 == srcAgg0
        ManifestCommit.read(s, cloneRoot).agg(
          count(lit(1)).as("n_rows"),
          sum(col("o_orderkey")).as("key_sum"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("price_sum"))
          .withColumn("zero_copy", lit(if (zeroCopy) 1 else 0))
          .withColumn("src_unchanged", lit(if (srcUnchanged) 1 else 0))
          .withColumn("src_survives_vacuum", lit(if (srcSurvives) 1 else 0))
          .withColumn("prune_works", lit(if (pruneWorks) 1 else 0))
      } finally GraftSql.unregister(cloneName)
    } finally GraftSql.unregister(srcName)
  }

  /** q159 — `CONVERT TO GRAFT` (the public Delta `CONVERT TO DELTA`
    * migration shape): a plain parquet directory — the format every
    * existing pipeline already has — becomes a manifest-committed table
    * by MOVING its part files into one immutable data dir (one rename
    * each; byte-identical, pinned by part-file-name set equality) and
    * metering stats once. Pinned: in-place (no rewrite), manifest-only
    * COUNT(*) armed immediately, appends land and time travel back to
    * the conversion generation reproduces the original content exactly
    * (hash vs DuckDB over the raw orders table).
    *
    * 100-TB shape: converting a petabyte of existing parquet costs
    * O(files) renames + one stats pass — not a rewrite; the alternative
    * (re-ingesting into a new table) reads and writes the petabyte. */
  val q159_convert_to_graft = Q(
    "q159_convert_to_graft",
    """SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS price_sum,
      |  1 AS in_place, 1 AS manifest_count, 1 AS append_visible
      |FROM orders""".stripMargin) { (s, dir) =>
    import graft.ingest.ManifestCommit
    val out = tmpDir("graft_q159_")
    val root = s"$out/orders"
    val name = uniq("q159_cv")
    val orders = Tables.load(s, dir, "orders")
      .select("o_orderkey", "o_totalprice")
    val nOrig = orders.count()
    orders.repartition(8).write.parquet(root)
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    def parts(p: String) = f.listStatus(new org.apache.hadoop.fs.Path(p))
      .map(_.getPath.getName).filter(_.endsWith(".parquet")).toSet
    val before = parts(root)
    s.sql(s"CONVERT TO GRAFT parquet.`$root` AS graft.$name STATS (o_orderkey)")
    try {
      val m = ManifestCommit.readManifest(s, root).get
      val inPlace = m.dirs.size == 1 &&
        parts(s"$root/${m.dirs.head}") == before
      val manifestCount = ManifestCommit.tableRowCount(s, root)
        .contains(nOrig)
      val d2 = ManifestCommit.newDataDir(root)
      s.range(0, 100)
        .select((col("id") + 900000000L).as("o_orderkey"),
          lit(1.0).as("o_totalprice")).write.parquet(d2)
      ManifestCommit.commitAppend(s, root, d2)
      val appendVisible = s.sql(s"SELECT count(*) FROM graft.$name")
        .head.getLong(0) == nOrig + 100
      // time travel to the CONVERSION generation = the original bytes
      ManifestCommit.readAt(s, root, 1L).agg(
        count(lit(1)).as("n_rows"),
        sum(col("o_orderkey")).as("key_sum"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("price_sum"))
        .withColumn("in_place", lit(if (inPlace) 1 else 0))
        .withColumn("manifest_count", lit(if (manifestCount) 1 else 0))
        .withColumn("append_visible", lit(if (appendVisible) 1 else 0))
    } finally GraftSql.unregister(name)
  }

  /** q160 — COMPOSITE partition transforms (the Iceberg multi-transform
    * partition spec): `PARTITIONED BY (years(o_orderdate), bucket(8,
    * o_custkey))` composes into one slicing expression — one dir per
    * (year, bucket) pair — and BOTH dimensions prune independently:
    * the year dimension through the date column's per-dir min/max, the
    * bucket dimension through the component expression's per-dir stat
    * (`pmod(hash(o_custkey), 8)`, constant within a dir), with the
    * point literal hashed at plan time exactly as the write side hashed
    * the column. Pinned: dir count == distinct (year, bucket) pairs; a
    * year probe plans only that year's dirs; a custkey point probe
    * plans only its bucket's dirs; the combined probe plans exactly 1
    * dir; results hash vs DuckDB.
    *
    * 100-TB shape: time-range × tenant-key is THE canonical large-table
    * layout (Iceberg's flagship spec example); composite pruning turns
    * a (year × 8) dir sweep into one dir read — two orders of magnitude
    * of I/O — while bucket count bounds small-file explosion where raw
    * identity partitioning on a high-cardinality key would shatter. */
  val q160_composite_slicing = Q(
    "q160_composite_slicing",
    """WITH tgt AS (SELECT max(year(o_orderdate)) AS y FROM orders),
      |k AS (SELECT min(o_custkey) AS ck FROM orders, tgt
      |  WHERE year(o_orderdate) = y)
      |SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS price_sum,
      |  1 AS dirs_match, 1 AS year_prunes, 1 AS bucket_prunes,
      |  1 AS combo_exact
      |FROM orders, tgt, k
      |WHERE year(o_orderdate) = y AND o_custkey = ck""".stripMargin) { (s, dir) =>
    val out = tmpDir("graft_q160_")
    val root = s"$out/orders"
    val name = uniq("q160_comp")
    val orders = Tables.load(s, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
    s.sql(
      s"""CREATE TABLE graft.$name
         |(o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE,
         | o_orderdate TIMESTAMP)
         |PARTITIONED BY (years(o_orderdate), bucket(8, o_custkey))
         |LOCATION '$root'""".stripMargin)
    try {
      orders.createOrReplaceTempView("q160_src")
      s.sql(s"INSERT INTO graft.$name SELECT * FROM q160_src")
      val m = ManifestCommit.readManifest(s, root).get
      val expectedDirs = orders.select(
        concat(date_format(col("o_orderdate"), "yyyy"), lit("|"),
          pmod(hash(col("o_custkey")), lit(8)))).distinct().count()
      val dirsMatch = m.dirs.size.toLong == expectedDirs
      val y = orders.agg(max(year(col("o_orderdate")))).collect()(0).getInt(0)
      val ck = orders.filter(year(col("o_orderdate")) === y)
        .agg(min("o_custkey")).collect()(0).getLong(0)
      val yearDirs = orders.filter(year(col("o_orderdate")) === y)
        .select(pmod(hash(col("o_custkey")), lit(8))).distinct().count()
      val bucketDirs = orders
        .filter(pmod(hash(col("o_custkey")), lit(8)) ===
          pmod(hash(lit(ck)), lit(8)))
        .select(date_format(col("o_orderdate"), "yyyy")).distinct().count()
      val yearPred = s"o_orderdate >= TIMESTAMP '$y-01-01 00:00:00' AND " +
        s"o_orderdate < TIMESTAMP '${y + 1}-01-01 00:00:00'"
      val yearProbe = s.sql(
        s"SELECT o_orderkey FROM graft.$name WHERE $yearPred")
      val bucketProbe = s.sql(
        s"SELECT o_orderkey FROM graft.$name WHERE o_custkey = ${ck}L")
      val comboProbe = s.sql(
        s"SELECT o_orderkey FROM graft.$name WHERE o_custkey = ${ck}L " +
          s"AND $yearPred")
      val yearPrunes =
        scannedDataDirs(yearProbe, root).toLong == yearDirs &&
          yearDirs < expectedDirs
      // pin the bucket DIMENSION exactly: every dir the plan scans must
      // carry the probe key's bucket value in its component stat — no
      // other bucket's dir is read (the key's ordinary min/max column
      // stats may prune further within the bucket, which is fine)
      val b = orders.sparkSession.range(1)
        .select(pmod(hash(lit(ck)), lit(8))).collect()(0).getInt(0).toString
      val scannedNames = scannedDataDirNames(bucketProbe, root)
      val bucketPrunes = scannedNames.nonEmpty &&
        scannedNames.forall(d => m.stats.getOrElse(d, Nil)
          .find(_.col == "pmod(hash(o_custkey), 8)")
          .exists(cs => cs.min == b && cs.max == b)) &&
        bucketDirs < expectedDirs
      val comboExact = scannedDataDirs(comboProbe, root) == 1
      s.sql(
        s"""SELECT o_orderkey, o_totalprice FROM graft.$name
           |WHERE o_custkey = ${ck}L AND $yearPred""".stripMargin)
        .agg(count(lit(1)).as("n_rows"),
          sum(col("o_orderkey")).as("key_sum"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("price_sum"))
        .withColumn("dirs_match", lit(if (dirsMatch) 1 else 0))
        .withColumn("year_prunes", lit(if (yearPrunes) 1 else 0))
        .withColumn("bucket_prunes", lit(if (bucketPrunes) 1 else 0))
        .withColumn("combo_exact", lit(if (comboExact) 1 else 0))
    } finally GraftSql.unregister(name)
  }

  /** q161 — CONVERT TO GRAFT of a HIVE-PARTITIONED directory (the
    * reference's own month-partitioned layout,
    * create_clickhouse_models.py:57,207-211; Delta's partitioned
    * CONVERT TO DELTA): each `month=yyyyMM/` leaf moves WHOLE into its
    * own data dir — one rename per leaf, no rewrite — the partition
    * value lands as the dir's column stat (pruning live immediately)
    * and the column itself is served by per-dir injection from the
    * manifest (the Delta partitionValues idea). Pinned: one manifest
    * dir per leaf; a month probe plans exactly 1 dir; the layout
    * continues as the table's identity slicing; an append lands and
    * time travel to the conversion generation reproduces the original
    * content (hash vs DuckDB over raw orders).
    *
    * 100-TB shape: existing fleets are overwhelmingly hive-partitioned
    * parquet; converting one costs O(leaves) renames + one stats pass
    * per leaf, not a rewrite, and the partition column's pruning never
    * goes dark during the migration. */
  val q161_convert_partitioned = Q(
    "q161_convert_partitioned",
    """WITH m AS (SELECT max(year(o_orderdate) * 100 + month(o_orderdate))
      |    AS mm FROM orders)
      |SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS price_sum,
      |  CAST((SELECT count(*) FROM orders, m
      |    WHERE year(o_orderdate) * 100 + month(o_orderdate) = mm) AS BIGINT)
      |    AS n_probe,
      |  1 AS dirs_match, 1 AS probe_1dir, 1 AS slice_recorded,
      |  1 AS append_visible
      |FROM orders""".stripMargin) { (s, dir) =>
    val out = tmpDir("graft_q161_")
    val root = s"$out/orders_hive"
    val name = uniq("q161_cv")
    val orders = Tables.load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"),
        (year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
          .cast("int").as("month"))
    val months = orders.select("month").distinct().count()
    val mm = orders.agg(max("month")).collect()(0).getInt(0)
    val nOrig = orders.count()
    orders.write.partitionBy("month").parquet(root)
    s.sql(s"CONVERT TO GRAFT parquet.`$root` AS graft.$name STATS (o_orderkey)")
    try {
      val m = ManifestCommit.readManifest(s, root).get
      val dirsMatch = m.dirs.size.toLong == months
      val sliceRecorded = m.slice.contains("month")
      val probe = s.sql(s"SELECT o_orderkey FROM graft.$name WHERE month = $mm")
      val probe1 = scannedDataDirs(probe, root) == 1
      // the fork continues: an append (flat dir, month as a real
      // column) reads alongside the nested conversion dirs
      s.sql(s"INSERT INTO graft.$name VALUES (900000001, 1.0, 999912)")
      val appendVisible =
        s.sql(s"SELECT count(*) FROM graft.$name").head.getLong(0) ==
          nOrig + 1 &&
          s.sql(s"SELECT count(*) FROM graft.$name WHERE month = 999912")
            .head.getLong(0) == 1L
      // time travel to the conversion generation = the original content
      ManifestCommit.readAt(s, root, 1L).agg(
        count(lit(1)).as("n_rows"),
        sum(col("o_orderkey")).as("key_sum"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("price_sum"))
        .withColumn("n_probe", lit(probe.count()))
        .withColumn("dirs_match", lit(if (dirsMatch) 1 else 0))
        .withColumn("probe_1dir", lit(if (probe1) 1 else 0))
        .withColumn("slice_recorded", lit(if (sliceRecorded) 1 else 0))
        .withColumn("append_visible", lit(if (appendVisible) 1 else 0))
    } finally GraftSql.unregister(name)
  }

  /** q162 — CONVERT TO GRAFT of a MULTI-LEVEL hive layout (`y=/mo=`,
    * the `partitionBy(a, b)` output real migration inputs actually
    * carry; Delta's partitioned CONVERT TO DELTA with a 2-column spec):
    * each deepest leaf moves WHOLE into its own data dir keeping its
    * full `y=…/mo=…` relative path; BOTH levels' values land as per-dir
    * column stats, so each dimension prunes independently from the
    * manifest, and both columns are served by per-dir injection.
    * Pinned: one manifest dir per (y, mo) pair; a year probe plans only
    * that year's dirs; a month probe plans only that month's dirs
    * across years; the combined probe plans exactly 1 dir; the layout
    * continues as the composite transform slicing; an append lands and
    * time travel to the conversion generation reproduces the original
    * content (hash vs DuckDB over raw orders).
    *
    * 100-TB shape: time × sub-key trees are the dominant warehouse
    * layout; converting one is O(leaves) renames + ONE grouped stats
    * pass (never a rewrite), and neither dimension's pruning goes dark
    * during the migration. */
  val q162_convert_multilevel = Q(
    "q162_convert_multilevel",
    """WITH b AS (SELECT max(year(o_orderdate)) AS ymax FROM orders)
      |SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS price_sum,
      |  CAST((SELECT count(*) FROM orders, b
      |    WHERE year(o_orderdate) = ymax) AS BIGINT) AS n_year,
      |  CAST((SELECT count(*) FROM orders, b
      |    WHERE year(o_orderdate) = ymax AND month(o_orderdate) = 6)
      |    AS BIGINT) AS n_combo,
      |  1 AS dirs_match, 1 AS year_prunes, 1 AS month_prunes,
      |  1 AS combo_exact, 1 AS slice_recorded, 1 AS append_visible
      |FROM orders""".stripMargin) { (s, dir) =>
    val root = tmpDir("graft_q162_") + "/orders_hive2"
    val name = uniq("q162_cv")
    val orders = Tables.load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"),
        year(col("o_orderdate")).cast("int").as("y"),
        month(col("o_orderdate")).cast("int").as("mo"))
    val pairs = orders.select("y", "mo").distinct().count()
    val ymax = orders.agg(max("y")).collect()(0).getInt(0)
    val nOrig = orders.count()
    orders.write.partitionBy("y", "mo").parquet(root)
    s.sql(s"CONVERT TO GRAFT parquet.`$root` AS graft.$name STATS (o_orderkey)")
    try {
      val m = ManifestCommit.readManifest(s, root).get
      val dirsMatch = m.dirs.size.toLong == pairs
      val sliceRecorded =
        m.slice.contains(ManifestCommit.compositeSlice(Seq("y", "mo")))
      val yDirs = orders.filter(col("y") === ymax)
        .select("mo").distinct().count()
      val moDirs = orders.filter(col("mo") === 6)
        .select("y").distinct().count()
      val yearProbe =
        s.sql(s"SELECT o_orderkey FROM graft.$name WHERE y = $ymax")
      val moProbe = s.sql(s"SELECT o_orderkey FROM graft.$name WHERE mo = 6")
      val comboProbe = s.sql(
        s"SELECT o_orderkey FROM graft.$name WHERE y = $ymax AND mo = 6")
      val yearPrunes =
        scannedDataDirs(yearProbe, root).toLong == yDirs && yDirs < pairs
      val monthPrunes =
        scannedDataDirs(moProbe, root).toLong == moDirs && moDirs < pairs
      val comboExact = scannedDataDirs(comboProbe, root) == 1
      val nYear = yearProbe.count()
      val nCombo = comboProbe.count()
      // the fork continues: an append (flat dir, both as real columns)
      s.sql(s"INSERT INTO graft.$name VALUES (900000001, 1.0, 2099, 1)")
      val appendVisible =
        s.sql(s"SELECT count(*) FROM graft.$name").head.getLong(0) ==
          nOrig + 1 &&
          s.sql(s"SELECT count(*) FROM graft.$name WHERE y = 2099")
            .head.getLong(0) == 1L
      // time travel to the conversion generation = the original content
      ManifestCommit.readAt(s, root, 1L).agg(
        count(lit(1)).as("n_rows"),
        sum(col("o_orderkey")).as("key_sum"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("price_sum"))
        .withColumn("n_year", lit(nYear))
        .withColumn("n_combo", lit(nCombo))
        .withColumn("dirs_match", lit(if (dirsMatch) 1 else 0))
        .withColumn("year_prunes", lit(if (yearPrunes) 1 else 0))
        .withColumn("month_prunes", lit(if (monthPrunes) 1 else 0))
        .withColumn("combo_exact", lit(if (comboExact) 1 else 0))
        .withColumn("slice_recorded", lit(if (sliceRecorded) 1 else 0))
        .withColumn("append_visible", lit(if (appendVisible) 1 else 0))
    } finally GraftSql.unregister(name)
  }

  /** q163 — `ALTER TABLE ... RENAME COLUMN` end-to-end (the Delta
    * column-mapping idea): a month-sliced orders table renames
    * o_totalprice → price as ONE O(metadata) commit (no dir touched),
    * a post-rename INSERT lands PHYSICAL names (files keep one uniform
    * on-disk naming, reads stay a plain alias with full pushdown), a
    * March probe under the NEW name prunes to exactly 2 dirs (the
    * original month dir + the insert's slice dir) with the pushed
    * filter carrying the PHYSICAL name, and time travel to the
    * pre-rename generation still serves the OLD name. 100-TB shape:
    * rename cost is one manifest checkpoint; zero data I/O ever. */
  val q163_rename_column = Q(
    "q163_rename_column",
    """WITH mar AS (
      |  SELECT * FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '1996-03-01 00:00:00'
      |    AND o_orderdate <= TIMESTAMP '1996-03-31 23:59:59'),
      |fin AS (
      |  SELECT o_totalprice AS price, o_orderdate FROM orders
      |  UNION ALL
      |  SELECT o_totalprice + 1000 AS price, o_orderdate FROM mar)
      |SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |  cast(sum(cast(price as decimal(18,2))) as double) AS sum_price,
      |  CAST(2 AS BIGINT) AS dirs_scanned,
      |  CAST(1 AS BIGINT) AS pushed_physical,
      |  CAST(1 AS BIGINT) AS rename_zero_io,
      |  (SELECT cast(sum(cast(o_totalprice as decimal(18,2))) as double)
      |     FROM orders) AS tt_sum_old_name
      |FROM fin
      |WHERE o_orderdate >= TIMESTAMP '1996-03-01 00:00:00'
      |  AND o_orderdate <= TIMESTAMP '1996-03-31 23:59:59'""".stripMargin) { (s, dir) =>
    val root = tmpDir("graft_q163_") + "/orders"
    val orders = Tables.load(s, dir, "orders")
    val dirs = ManifestCommit.writeSliced(s, root, orders,
      expr("date_format(o_orderdate, 'yyyyMM')"),
      Seq("o_orderdate", "o_totalprice", "o_orderkey",
        ManifestCommit.RowCountStat))
    ManifestCommit.commitReplace(s, root, dirs.map(_._1),
      pruneDisplaced = false, stats = dirs.toMap,
      schema = Some(org.apache.spark.sql.types.StructType(
        orders.schema.fields.map(_.copy(nullable = true)))),
      op = "create", slice = Some("date_format(o_orderdate, 'yyyyMM')"))
    val name = uniq("graft_q163")
    GraftSql.register(name, root)
    try {
      val preGen = ManifestCommit.readManifest(s, root).get.gen
      val dirsBefore = ManifestCommit.readManifest(s, root).get.dirs.toSet
      s.sql(s"ALTER TABLE graft.$name RENAME COLUMN o_totalprice TO price")
      val m1 = ManifestCommit.readManifest(s, root).get
      // zero data I/O: the SAME dirs, one new metadata generation
      val zeroIo = m1.dirs.toSet == dirsBefore && m1.gen == preGen + 1
      // post-rename INSERT under the NEW name (lands physical files)
      val mk = orders.agg(max("o_orderkey")).collect()(0).getLong(0)
      val src = uniq("graft_q163_src")
      orders.filter(col("o_orderdate") >= lit("1996-03-01").cast("timestamp") &&
          col("o_orderdate") <= lit("1996-03-31 23:59:59").cast("timestamp"))
        .withColumn("o_orderkey", col("o_orderkey") + mk)
        .withColumnRenamed("o_totalprice", "price")
        .withColumn("price", col("price") + 1000)
        .createOrReplaceTempView(src)
      s.sql(s"INSERT INTO graft.$name SELECT * FROM $src")
      val probe = s.sql(
        s"""SELECT CAST(count(*) AS LONG) AS n_rows,
           |  cast(sum(cast(price as decimal(18,2))) as double) AS sum_price
           |FROM graft.$name
           |WHERE o_orderdate >= TIMESTAMP '1996-03-01 00:00:00'
           |  AND o_orderdate <= TIMESTAMP '1996-03-31 23:59:59'
           |  AND price >= 0""".stripMargin)
      val scanned = scannedDataDirs(probe, root)
      // the pushed filter carries the PHYSICAL name (o_totalprice) —
      // pushdown on a renamed column must reach the parquet scan. Read
      // from the scan node's metadata (the plan's toString TRUNCATES
      // long filter lists)
      def scanFilters(p: org.apache.spark.sql.execution.SparkPlan): Seq[String] =
        p match {
          // collect() does not descend into the AQE wrapper's inner plan
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            scanFilters(a.executedPlan)
          case fs: org.apache.spark.sql.execution.FileSourceScanExec =>
            Seq(fs.metadata.getOrElse("PushedFilters", ""))
          case other => other.children.flatMap(scanFilters)
        }
      val pushed = scanFilters(probe.queryExecution.executedPlan)
        .mkString(" ").contains("GreaterThanOrEqual(o_totalprice,0")
      val agg = probe.collect()(0)
      val ttOld = s.sql(
        s"""SELECT cast(sum(cast(o_totalprice as decimal(18,2))) as double)
           |FROM graft.`$name@v$preGen`""".stripMargin).collect()(0).getDouble(0)
      s.range(1).select(
        lit(agg.getLong(0)).as("n_rows"),
        lit(agg.getDouble(1)).as("sum_price"),
        lit(scanned.toLong).as("dirs_scanned"),
        lit(if (pushed) 1L else 0L).as("pushed_physical"),
        lit(if (zeroIo) 1L else 0L).as("rename_zero_io"),
        lit(ttOld).as("tt_sum_old_name"))
    } finally GraftSql.unregister(name)
  }

  /** q164 — the streaming SINK honors the table's recorded `#slice`: one
    * micro-batch spanning THREE months (the out-of-order backfill shape —
    * the reference's Kafka feed replays history through one consumer,
    * tools/gen_pipeline.py:288-301) lands as one dir PER MONTH with
    * month-tight stats, all in ONE txn-ledgered generation (exactly-once
    * replay covers the whole batch), and a month-count probe FOLDS to a
    * zero-scan LocalRelation (r19: the month dir is proven fully covered
    * from the sink's own stats — the streamed rows get the same
    * metadata fold the identical rows get through INSERT). Before
    * round 16 every streamed batch
    * landed ONE dir whose slice-column min/max spanned the whole batch,
    * silently degrading pruning. */
  val q164_stream_sliced_sink = Q(
    "q164_stream_sliced_sink",
    """WITH w AS (
      |  SELECT * FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '1996-03-01 00:00:00'
      |    AND o_orderdate <= TIMESTAMP '1996-05-31 23:59:59')
      |SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |  cast(sum(cast(o_totalprice as decimal(18,2))) as double) AS sum_price,
      |  CAST(3 AS BIGINT) AS dirs_landed,
      |  CAST(1 AS BIGINT) AS one_generation,
      |  CAST(1 AS BIGINT) AS month_probe_zero_scan,
      |  CAST(1 AS BIGINT) AS replay_noop,
      |  (SELECT CAST(count(*) AS BIGINT) FROM w
      |     WHERE o_orderdate >= TIMESTAMP '1996-04-01 00:00:00'
      |       AND o_orderdate <= TIMESTAMP '1996-04-30 23:59:59') AS april_rows
      |FROM w""".stripMargin) { (s, dir) =>
    val root = tmpDir("graft_q164_") + "/orders"
    val orders = Tables.load(s, dir, "orders")
    val schema = org.apache.spark.sql.types.StructType(
      orders.schema.fields.map(_.copy(nullable = true)))
    ManifestCommit.commitReplace(s, root, Nil, pruneDisplaced = false,
      schema = Some(schema), op = "create",
      slice = Some("date_format(o_orderdate, 'yyyyMM')"))
    val genCreated = ManifestCommit.readManifest(s, root).get.gen
    val batch = orders.filter(
      col("o_orderdate") >= lit("1996-03-01").cast("timestamp") &&
        col("o_orderdate") <= lit("1996-05-31 23:59:59").cast("timestamp"))
    val sink = new graft.streaming.GraftTableSink(s,
      Map("path" -> root, "txnAppId" -> "q164"))
    sink.addBatch(0, batch)
    val m = ManifestCommit.readManifest(s, root).get
    val oneGen = m.gen == genCreated + 1
    // replay of the SAME batch id: the whole multi-dir batch absorbed
    sink.addBatch(0, batch)
    val m2 = ManifestCommit.readManifest(s, root).get
    val replayNoop = m2.gen == m.gen && m2.dirs == m.dirs
    val name = uniq("graft_q164")
    GraftSql.register(name, root)
    try {
      val april = s.sql(
        s"""SELECT CAST(count(*) AS LONG) AS april_rows FROM graft.$name
           |WHERE o_orderdate >= TIMESTAMP '1996-04-01 00:00:00'
           |  AND o_orderdate <= TIMESTAMP '1996-04-30 23:59:59'""".stripMargin)
      val aprilScanned = scannedDataDirs(april, root)
      val aprilLocal = april.queryExecution.optimizedPlan
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]
      val aprilRows = april.collect()(0).getLong(0)
      val agg = s.sql(
        s"""SELECT CAST(count(*) AS LONG) AS n_rows,
           |  cast(sum(cast(o_totalprice as decimal(18,2))) as double) AS sum_price
           |FROM graft.$name""".stripMargin).collect()(0)
      s.range(1).select(
        lit(agg.getLong(0)).as("n_rows"),
        lit(agg.getDouble(1)).as("sum_price"),
        lit(m.dirs.size.toLong).as("dirs_landed"),
        lit(if (oneGen) 1L else 0L).as("one_generation"),
        lit(if (aprilScanned == 0 && aprilLocal) 1L
          else 0L).as("month_probe_zero_scan"),
        lit(if (replayNoop) 1L else 0L).as("replay_noop"),
        lit(aprilRows).as("april_rows"))
    } finally GraftSql.unregister(name)
  }

  /** q165 — `ALTER TABLE ... ALTER COLUMN c TYPE <wider>` end-to-end
    * (the Delta TYPE WIDENING idea): an int column widens to BIGINT as
    * ONE O(metadata) commit (no dir touched), cold files keep the
    * narrow physical type and the parquet reader upcasts at scan time,
    * a post-widen INSERT lands values beyond int range, and time travel
    * to the pre-widen generation still serves the NARROW type. 100-TB
    * shape: widening cost is one manifest record; zero data I/O ever. */
  val q165_alter_column_type = Q(
    "q165_alter_column_type",
    """WITH base AS (
      |  SELECT o_orderkey, CAST(o_custkey % 1000 AS BIGINT) AS cust_small
      |  FROM orders),
      |ins AS (
      |  SELECT o_orderkey, o_custkey + 3000000000 AS cust_small
      |  FROM orders WHERE o_orderkey % 7 = 0),
      |fin AS (SELECT * FROM base UNION ALL SELECT * FROM ins)
      |SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(cust_small) AS BIGINT) AS sum_cust,
      |  CAST(max(cust_small) AS BIGINT) AS max_cust,
      |  CAST(1 AS BIGINT) AS widen_zero_io,
      |  CAST(1 AS BIGINT) AS tt_narrow_type
      |FROM fin""".stripMargin) { (s, dir) =>
    val loc = tmpDir("graft_q165_") + "/orders"
    val name = uniq("graft_q165")
    val src = uniq("graft_q165_src")
    Tables.load(s, dir, "orders").createOrReplaceTempView(src)
    s.sql(s"""CREATE TABLE graft.$name LOCATION '$loc' AS
             |SELECT o_orderkey, CAST(o_custkey % 1000 AS INT) AS cust_small
             |FROM $src""".stripMargin)
    try {
      val m0 = ManifestCommit.readManifest(s, loc).get
      s.sql(s"ALTER TABLE graft.$name ALTER COLUMN cust_small TYPE BIGINT")
      val m1 = ManifestCommit.readManifest(s, loc).get
      // zero data I/O: same dirs, one new metadata generation, wider type
      val zeroIo = m1.dirs == m0.dirs && m1.gen == m0.gen + 1 &&
        m1.tableSchema.get("cust_small").dataType ==
          org.apache.spark.sql.types.LongType
      s.sql(s"""INSERT INTO graft.$name
               |SELECT o_orderkey, o_custkey + 3000000000 FROM $src
               |WHERE o_orderkey % 7 = 0""".stripMargin)
      val agg = s.sql(
        s"""SELECT CAST(count(*) AS LONG) AS n_rows,
           |  sum(cust_small) AS sum_cust, max(cust_small) AS max_cust
           |FROM graft.$name""".stripMargin).collect()(0)
      // time travel to the pre-widen generation serves the NARROW type
      val ttNarrow = s.sql(
        s"SELECT cust_small FROM graft.`$name@v${m0.gen}`")
        .schema("cust_small").dataType ==
        org.apache.spark.sql.types.IntegerType
      s.range(1).select(
        lit(agg.getLong(0)).as("n_rows"),
        lit(agg.getLong(1)).as("sum_cust"),
        lit(agg.getLong(2)).as("max_cust"),
        lit(if (zeroIo) 1L else 0L).as("widen_zero_io"),
        lit(if (ttNarrow) 1L else 0L).as("tt_narrow_type"))
    } finally GraftSql.unregister(name)
  }

  /** q167 — `OPTIMIZE graft.t WHERE <pred>` (the Delta predicate-scoped
    * OPTIMIZE): only the small dirs whose manifest stats can overlap the
    * predicate fold — the hot month gets its maintenance in O(in-scope
    * dirs) while every cold month survives BYTE-IDENTICAL (same dir
    * names pinned) and is never probed or read. The per-partition
    * maintenance discipline (the reference compacts per MergeTree
    * partition) at SQL-surface granularity. */
  val q167_optimize_where = Q(
    "q167_optimize_where",
    """WITH mar AS (
      |  SELECT * FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '1996-03-01 00:00:00'
      |    AND o_orderdate <= TIMESTAMP '1996-03-31 23:59:59'),
      |fin AS (
      |  SELECT o_totalprice FROM orders
      |  UNION ALL SELECT o_totalprice FROM mar
      |  UNION ALL SELECT o_totalprice FROM mar)
      |SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |  cast(sum(cast(o_totalprice as decimal(18,2))) as double) AS sum_price,
      |  CAST(2 AS BIGINT) AS dirs_folded,
      |  CAST(1 AS BIGINT) AS cold_byte_identical
      |FROM fin""".stripMargin) { (s, dir) =>
    val root = tmpDir("graft_q167_") + "/orders"
    val orders = Tables.load(s, dir, "orders")
    val dirs = ManifestCommit.writeSliced(s, root, orders,
      expr("date_format(o_orderdate, 'yyyyMM')"),
      Seq("o_orderdate", "o_orderkey", ManifestCommit.RowCountStat))
    ManifestCommit.commitReplace(s, root, dirs.map(_._1),
      pruneDisplaced = false, stats = dirs.toMap,
      schema = Some(org.apache.spark.sql.types.StructType(
        orders.schema.fields.map(_.copy(nullable = true)))),
      op = "create", slice = Some("date_format(o_orderdate, 'yyyyMM')"))
    val name = uniq("graft_q167")
    GraftSql.register(name, root)
    try {
      // two small March delta dirs (the streaming-append steady state)
      val mk = orders.agg(max("o_orderkey")).collect()(0).getLong(0)
      val mar = orders.filter(
        col("o_orderdate") >= lit("1996-03-01").cast("timestamp") &&
          col("o_orderdate") <= lit("1996-03-31 23:59:59").cast("timestamp"))
      Seq(1L, 2L).foreach { i =>
        val src = uniq(s"graft_q167_src$i")
        mar.withColumn("o_orderkey", col("o_orderkey") + mk * i)
          .createOrReplaceTempView(src)
        s.sql(s"INSERT INTO graft.$name SELECT * FROM $src")
      }
      val before = ManifestCommit.readManifest(s, root).get
      s.sql(s"""OPTIMIZE graft.$name
               |WHERE o_orderdate >= TIMESTAMP '1996-03-05 00:00:00'
               |  AND o_orderdate <= TIMESTAMP '1996-03-20 23:59:59'""".stripMargin)
      val after = ManifestCommit.readManifest(s, root).get
      // the 3 March dirs (base month + 2 deltas) folded into 1;
      // EVERY cold dir survives byte-identical (same manifest entry)
      val cold = before.dirs.filterNot { d =>
        before.stats.getOrElse(d, Nil).find(_.col == "o_orderdate")
          .forall(_.overlaps(Some("1996-03-05T00:00:00.000"),
            Some("1996-03-20T23:59:59.000")))
      }.toSet
      val coldIdentical = cold.subsetOf(after.dirs.toSet)
      val agg = s.sql(
        s"""SELECT CAST(count(*) AS LONG) AS n_rows,
           |  cast(sum(cast(o_totalprice as decimal(18,2))) as double) AS sum_price
           |FROM graft.$name""".stripMargin).collect()(0)
      s.range(1).select(
        lit(agg.getLong(0)).as("n_rows"),
        lit(agg.getDouble(1)).as("sum_price"),
        lit((before.dirs.size - after.dirs.size).toLong).as("dirs_folded"),
        lit(if (coldIdentical) 1L else 0L).as("cold_byte_identical"))
    } finally GraftSql.unregister(name)
  }

  /** q169 — `OPTIMIZE graft.t WHERE <pred> ZORDER BY (a, b)` (the
    * composed Delta surface, round 17): re-cluster ONLY the hot month's
    * dirs into z-ordered rectangles — a second-dimension probe that the
    * pre-zorder layout admitted everywhere now prunes, while every cold
    * month survives BYTE-IDENTICAL and is never read. Hot-partition
    * re-clustering in O(in-scope rows) at any table size. */
  val q169_optimize_where_zorder = Q(
    "q169_optimize_where_zorder",
    """WITH mar AS (
      |  SELECT * FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '1996-03-01 00:00:00'
      |    AND o_orderdate <= TIMESTAMP '1996-03-31 23:59:59'),
      |fin AS (
      |  SELECT o_custkey, o_totalprice FROM orders
      |  UNION ALL SELECT o_custkey, o_totalprice FROM mar
      |  UNION ALL SELECT o_custkey, o_totalprice FROM mar)
      |SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |  cast(sum(cast(o_totalprice as decimal(18,2))) as double) AS sum_price,
      |  CAST(1 AS BIGINT) AS cold_byte_identical,
      |  CAST(1 AS BIGINT) AS probe_pruned
      |FROM fin""".stripMargin) { (s, dir) =>
    val root = tmpDir("graft_q169_") + "/orders"
    val orders = Tables.load(s, dir, "orders")
    val dirs = ManifestCommit.writeSliced(s, root, orders,
      expr("date_format(o_orderdate, 'yyyyMM')"),
      Seq("o_orderdate", "o_custkey", ManifestCommit.RowCountStat))
    ManifestCommit.commitReplace(s, root, dirs.map(_._1),
      pruneDisplaced = false, stats = dirs.toMap,
      schema = Some(org.apache.spark.sql.types.StructType(
        orders.schema.fields.map(_.copy(nullable = true)))),
      op = "create", slice = Some("date_format(o_orderdate, 'yyyyMM')"))
    val name = uniq("graft_q169")
    GraftSql.register(name, root)
    try {
      // two March delta dirs whose custkey range SPANS the full domain
      // (replayed copies) — after them, every March dir admits every
      // custkey probe
      val mk = orders.agg(max("o_orderkey")).collect()(0).getLong(0)
      val mar = orders.filter(
        col("o_orderdate") >= lit("1996-03-01").cast("timestamp") &&
          col("o_orderdate") <= lit("1996-03-31 23:59:59").cast("timestamp"))
      Seq(1L, 2L).foreach { i =>
        val src = uniq(s"graft_q169_src$i")
        mar.withColumn("o_orderkey", col("o_orderkey") + mk * i)
          .createOrReplaceTempView(src)
        s.sql(s"INSERT INTO graft.$name SELECT * FROM $src")
      }
      val before = ManifestCommit.readManifest(s, root).get
      val cold = before.dirs.filterNot { d =>
        before.stats.getOrElse(d, Nil).find(_.col == "o_orderdate")
          .forall(_.overlaps(Some("1996-03-01T00:00:00.000"),
            Some("1996-03-31T23:59:59.000")))
      }.toSet
      val hotCount = before.dirs.size - cold.size
      s.sql(s"""OPTIMIZE graft.$name
               |WHERE o_orderdate >= TIMESTAMP '1996-03-01 00:00:00'
               |  AND o_orderdate <= TIMESTAMP '1996-03-31 23:59:59'
               |ZORDER BY (o_custkey, o_orderkey)""".stripMargin)
      val after = ManifestCommit.readManifest(s, root).get
      val coldIdentical = cold.subsetOf(after.dirs.toSet)
      // the re-clustered March dirs are rectangles in (custkey, orderkey):
      // a low-custkey slice admits fewer hot dirs than the replayed
      // layout did (all of them)
      val hotAfter = after.dirs.filterNot(cold)
      val loCust = hotAfter.count(d =>
        after.stats(d).find(_.col == "o_custkey")
          .forall(_.overlaps(Some("1"), Some("50"))))
      val probePruned = hotAfter.size == hotCount && loCust < hotAfter.size
      val agg = s.sql(
        s"""SELECT CAST(count(*) AS LONG) AS n_rows,
           |  cast(sum(cast(o_totalprice as decimal(18,2))) as double) AS sum_price
           |FROM graft.$name""".stripMargin).collect()(0)
      s.range(1).select(
        lit(agg.getLong(0)).as("n_rows"),
        lit(agg.getDouble(1)).as("sum_price"),
        lit(if (coldIdentical) 1L else 0L).as("cold_byte_identical"),
        lit(if (probePruned) 1L else 0L).as("probe_pruned"))
    } finally GraftSql.unregister(name)
  }

  /** q170 — `ALTER TABLE graft.t SET PARTITIONED BY (...)` (the Iceberg
    * PARTITION-SPEC EVOLUTION idea, round 17): re-key the layout for
    * FUTURE writes as an O(metadata) commit — old dirs keep their bytes
    * and their month-granular pruning, new INSERTs land day-tight, and
    * stats-based skipping covers the mixed table with no migration. A
    * day probe on the new layout scans ONE dir (pinned from the plan);
    * a month probe on the old layout still scans one. */
  val q170_partition_evolution = Q(
    "q170_partition_evolution",
    """WITH mar AS (
      |  SELECT * FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '1996-03-01 00:00:00'
      |    AND o_orderdate <= TIMESTAMP '1996-03-03 23:59:59'),
      |fin AS (
      |  SELECT o_totalprice FROM orders
      |  UNION ALL SELECT o_totalprice FROM mar)
      |SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |  cast(sum(cast(o_totalprice as decimal(18,2))) as double) AS sum_price,
      |  CAST(1 AS BIGINT) AS day_probe_one_dir,
      |  CAST(1 AS BIGINT) AS old_month_one_dir
      |FROM fin""".stripMargin) { (s, dir) =>
    val root = tmpDir("graft_q170_") + "/orders"
    val orders = Tables.load(s, dir, "orders")
    val dirs = ManifestCommit.writeSliced(s, root, orders,
      expr("date_format(o_orderdate, 'yyyyMM')"),
      Seq("o_orderdate", "o_orderkey", ManifestCommit.RowCountStat))
    ManifestCommit.commitReplace(s, root, dirs.map(_._1),
      pruneDisplaced = false, stats = dirs.toMap,
      schema = Some(org.apache.spark.sql.types.StructType(
        orders.schema.fields.map(_.copy(nullable = true)))),
      op = "create", slice = Some("date_format(o_orderdate, 'yyyyMM')"))
    val name = uniq("graft_q170")
    GraftSql.register(name, root)
    try {
      val before = ManifestCommit.readManifest(s, root).get
      s.sql(s"ALTER TABLE graft.$name SET PARTITIONED BY (days(o_orderdate))")
      // the evolution touched no dirs
      val evolved = ManifestCommit.readManifest(s, root).get
      val zeroIo = evolved.dirs == before.dirs &&
        evolved.slice == Some("date_format(o_orderdate, 'yyyyMMdd')")
      // re-ingest the first three March days (shifted keys): the INSERT
      // lands DAY-tight dirs under the evolved layout
      val mk = orders.agg(max("o_orderkey")).collect()(0).getLong(0)
      val src = uniq("graft_q170_src")
      orders.filter(
        col("o_orderdate") >= lit("1996-03-01").cast("timestamp") &&
          col("o_orderdate") <= lit("1996-03-03 23:59:59").cast("timestamp"))
        .withColumn("o_orderkey", col("o_orderkey") + mk)
        .createOrReplaceTempView(src)
      s.sql(s"INSERT INTO graft.$name SELECT * FROM $src")
      val after = ManifestCommit.readManifest(s, root).get
      val dayDirs = after.dirs.size - before.dirs.size // 3 new day dirs
      // a probe INSIDE day 2 of the re-ingested window: the old March
      // month dir overlaps it (conservative keep), the NEW layout
      // contributes exactly its one day dir — 2 scanned, never 4
      val day = s.sql(s"SELECT count(*) FROM graft.$name " +
        "WHERE o_orderdate >= TIMESTAMP '1996-03-02 00:00:00' " +
        "AND o_orderdate <= TIMESTAMP '1996-03-02 12:00:00'")
      val dayOk = dayDirs == 3 && zeroIo && scannedDataDirs(day, root) == 2
      // an old-layout month probe entirely OUTSIDE the re-ingest: 1 dir
      val jan = s.sql(s"SELECT count(*) FROM graft.$name " +
        "WHERE o_orderdate >= TIMESTAMP '1996-01-05 00:00:00' " +
        "AND o_orderdate <= TIMESTAMP '1996-01-25 23:59:59'")
      val janOk = scannedDataDirs(jan, root) == 1
      val agg = s.sql(
        s"""SELECT CAST(count(*) AS LONG) AS n_rows,
           |  cast(sum(cast(o_totalprice as decimal(18,2))) as double) AS sum_price
           |FROM graft.$name""".stripMargin).collect()(0)
      s.range(1).select(
        lit(agg.getLong(0)).as("n_rows"),
        lit(agg.getDouble(1)).as("sum_price"),
        lit(if (dayOk) 1L else 0L).as("day_probe_one_dir"),
        lit(if (janOk) 1L else 0L).as("old_month_one_dir"))
    } finally GraftSql.unregister(name)
  }

  /** q171 — `ANALYZE TABLE graft.t COMPUTE STATISTICS FOR COLUMNS …`
    * (round 17): retrofit per-dir stats onto a table whose commits never
    * metered any — a stats-only commit, no data rewritten — arming
    * range skipping (year probe pinned to 1 of 3 dirs from the plan)
    * and manifest-only COUNT(*) post-hoc. The migration story for
    * converted/legacy tables at any size: the one-time read is
    * O(un-metered dirs), everything after is metadata. */
  val q171_analyze_stats = Q(
    "q171_analyze_stats",
    """SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |  cast(sum(cast(o_totalprice as decimal(18,2))) as double) AS sum_price,
      |  CAST(1 AS BIGINT) AS count_from_manifest,
      |  CAST(1 AS BIGINT) AS probe_pruned
      |FROM orders""".stripMargin) { (s, dir) =>
    val root = tmpDir("graft_q171_") + "/orders"
    val orders = Tables.load(s, dir, "orders")
    // three year-range dirs, committed with NO stats at all (the
    // legacy/converted-table shape)
    val years = Seq(("1995-01-01", "1996-12-31 23:59:59"),
      ("1997-01-01", "1998-12-31 23:59:59"),
      ("1999-01-01", "2001-12-31 23:59:59"))
    years.zipWithIndex.foreach { case ((lo, hi), i) =>
      val d = ManifestCommit.newDataDir(root)
      orders.filter(col("o_orderdate") >= lit(lo).cast("timestamp") &&
        col("o_orderdate") <= lit(hi).cast("timestamp")).write.parquet(d)
      if (i == 0) ManifestCommit.commitReplace(s, root, Seq(d),
        pruneDisplaced = false,
        schema = Some(org.apache.spark.sql.types.StructType(
          orders.schema.fields.map(_.copy(nullable = true)))))
      else ManifestCommit.commitAppend(s, root, d)
    }
    val name = uniq("graft_q171")
    GraftSql.register(name, root)
    try {
      val preCount = ManifestCommit.tableRowCount(s, root)
      s.sql(s"ANALYZE TABLE graft.$name COMPUTE STATISTICS " +
        "FOR COLUMNS o_orderdate")
      val m = ManifestCommit.readManifest(s, root).get
      val armed = preCount.isEmpty && // was DEAD before the analyze
        ManifestCommit.tableRowCount(s, root).isDefined &&
        ManifestCommit.tableBytesOf(m).isDefined
      // a 1996 probe scans exactly 1 of the 3 dirs — pinned from the plan
      val probe = s.sql(s"SELECT count(*) FROM graft.$name " +
        "WHERE o_orderdate >= TIMESTAMP '1996-02-01 00:00:00' " +
        "AND o_orderdate <= TIMESTAMP '1996-11-30 23:59:59'")
      val scanned = scannedDataDirs(probe, root)
      val agg = s.sql(
        s"""SELECT CAST(count(*) AS LONG) AS n_rows,
           |  cast(sum(cast(o_totalprice as decimal(18,2))) as double) AS sum_price
           |FROM graft.$name""".stripMargin).collect()(0)
      s.range(1).select(
        lit(agg.getLong(0)).as("n_rows"),
        lit(agg.getDouble(1)).as("sum_price"),
        lit(if (armed) 1L else 0L).as("count_from_manifest"),
        lit(if (scanned == 1) 1L else 0L).as("probe_pruned"))
    } finally GraftSql.unregister(name)
  }

  /** q172 — `ANALYZE … WITH BLOOMS (k)` (round 18): retrofit the
    * point-lookup bloom index onto dirs whose KEY RANGES fully overlap
    * (keys striped by modulus), where min/max stats can never prune
    * `k = x`. The legacy-table migration story for point lookups: no
    * rewrite, one distinct-count + bloom build per un-indexed dir, and
    * the side-file presence makes re-runs free. Flags pin that the
    * probe plans ≤2 of 4 dirs (bloom fpp leaves ≤1 false positive) and
    * an absent key resolves to ≤1 dir. */
  val q172_analyze_blooms = Q(
    "q172_analyze_blooms",
    """SELECT CAST(o_orderkey AS BIGINT) AS probe_key,
      |  cast(o_totalprice as double) AS probe_price,
      |  CAST(1 AS BIGINT) AS bloom_pruned,
      |  CAST(1 AS BIGINT) AS absent_pruned
      |FROM orders
      |WHERE o_orderkey = (SELECT min(o_orderkey) FROM orders)""".stripMargin) {
    (s, dir) =>
    val root = tmpDir("graft_q172_") + "/orders"
    val orders = Tables.load(s, dir, "orders")
      .select("o_orderkey", "o_totalprice")
    // 4 dirs striped by key MODULUS: every dir spans the full key range,
    // so range stats are useless for a point probe — only the bloom
    // says "definitely not here"
    (0 until 4).foreach { i =>
      val d = ManifestCommit.newDataDir(root)
      val st = ManifestCommit.writeDirWithStats(s, root,
        orders.filter(pmod(col("o_orderkey"), lit(4)) === i), d,
        Seq("o_orderkey"))
      if (i == 0) ManifestCommit.commitReplace(s, root, Seq(d),
        pruneDisplaced = false, stats = Map(d -> st),
        schema = Some(org.apache.spark.sql.types.StructType(
          orders.schema.fields.map(_.copy(nullable = true)))))
      else ManifestCommit.commitAppend(s, root, d, stats = st)
    }
    val probeKey = orders.agg(min(col("o_orderkey"))).collect()(0).getLong(0)
    val absentKey = orders.agg(max(col("o_orderkey"))).collect()(0)
      .getLong(0) + 1000000L
    val name = uniq("graft_q172")
    GraftSql.register(name, root)
    try {
      // un-indexed: the point probe keeps every dir
      val pre = ManifestCommit.resolveBloom(s, root, "o_orderkey",
        probeKey)._1.size
      s.sql(s"ANALYZE TABLE graft.$name COMPUTE STATISTICS " +
        "WITH BLOOMS (o_orderkey)")
      val (df, kept, total) = ManifestCommit.readBloom(s, root,
        "o_orderkey", probeKey)
      val keptAbsent = ManifestCommit.resolveBloom(s, root, "o_orderkey",
        absentKey)._1.size
      val row = df.filter(col("o_orderkey") === probeKey).collect()(0)
      s.range(1).select(
        lit(row.getLong(0)).as("probe_key"),
        lit(row.getDouble(1)).as("probe_price"),
        lit(if (pre == 4 && total == 4 && kept <= 2) 1L else 0L)
          .as("bloom_pruned"),
        lit(if (keptAbsent <= 1) 1L else 0L).as("absent_pruned"))
    } finally GraftSql.unregister(name)
  }

  /** q173 — rank-bucketed z-order on a Zipf-skewed dimension (round 18,
    * the Delta `range_partition_id` idea): 90% of rows carry 9 head
    * values while the tail stretches the range to ~1e9, so LINEAR
    * min/max z-scaling maps the whole head onto one slot and a
    * head-value probe scans ~90% of the table; `rankBuckets` spends the
    * slots by mass and the same probe scans a sliver. The flag pins
    * scanned-rows < half the table; the data columns hash against the
    * DuckDB oracle computing the same head slice from `orders`. */
  val q173_zorder_rank = Q(
    "q173_zorder_rank",
    """SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |  cast(sum(cast(o_totalprice as decimal(18,2))) as double) AS price_sum,
      |  CAST(1 AS BIGINT) AS rank_pruned
      |FROM orders
      |WHERE o_orderkey % 10 < 9 AND o_orderkey % 9 = 4""".stripMargin) {
    (s, dir) =>
    val root = tmpDir("graft_q173_") + "/t"
    val orders = Tables.load(s, dir, "orders")
    val skewed = orders.select(
      when(col("o_orderkey") % 10 < 9, col("o_orderkey") % 9)
        .otherwise(pmod(hash(col("o_orderkey")).cast("long"),
          lit(1000000000L)) + 10).cast("long").as("k"),
      pmod(col("o_custkey"), lit(8)).cast("long").as("y"),
      col("o_totalprice"))
    val d = ManifestCommit.newDataDir(root)
    val dStats = ManifestCommit.writeDirWithStats(s, root, skewed, d,
      Seq("k", "y", ManifestCommit.RowCountStat))
    ManifestCommit.commitReplace(s, root, Seq(d),
      pruneDisplaced = false, stats = Map(d -> dStats),
      schema = Some(org.apache.spark.sql.types.StructType(
        skewed.schema.fields.map(_.copy(nullable = true)))))
    val totalRows = ManifestCommit.tableRowCount(s, root).get
    // 32 target dirs: the head occupies only ~9 DISTINCT rank slots
    // (boundaries dedupe to the 9 head values), so 16 dirs leave the
    // y-dimension owning enough interleave bits that boundary dirs span
    // the whole head — the probe needs the one-level-deeper split
    graft.ingest.Optimize.zorderCompactN(s, root, Seq("k", "y"),
      targetDirs = 32, rankBuckets = 256)
    val (probe, _, _) = ManifestCommit.readPruned(s, root,
      Seq(("k", Some("4"), Some("4"))))
    val scanned = probe.count()
    val agg = probe.filter(col("k") === 4L)
      .agg(count(lit(1)),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double"))
      .collect()(0)
    s.range(1).select(
      lit(agg.getLong(0)).as("n_rows"),
      lit(agg.getDouble(1)).as("price_sum"),
      lit(if (scanned * 2 < totalRows) 1L else 0L).as("rank_pruned"))
  }

  /** q174 — metadata-only MIN/MAX at the SQL surface (round 18, the
    * Delta/Iceberg metadata-aggregate idea): on a fully-metered DV-free
    * table, `SELECT min/max/count(*)` optimizes to a LocalRelation
    * folded from per-dir stats — NO scan operator, ZERO Spark jobs
    * (both pinned). After a point DELETE repoints one dir onto a
    * deletion vector (its stats become bounds, not witnesses), the same
    * MAX goes HYBRID: the plan scans ONLY the DV'd dir and unions the
    * other dirs' stats in as literal rows — pinned at 1 scanned dir of
    * many. At 100 TB that is `max(ts)` after a point delete reading one
    * dir, not the table. */
  val q174_sql_minmax = Q(
    "q174_sql_minmax",
    """SELECT strftime(min(o_orderdate), '%Y-%m-%d %H:%M:%S') AS min_date,
      |  strftime(max(o_orderdate), '%Y-%m-%d %H:%M:%S') AS max_date,
      |  CAST(min(o_orderkey) AS BIGINT) AS min_key,
      |  CAST(max(o_orderkey) AS BIGINT) AS max_key,
      |  CAST(count(*) AS BIGINT) AS n,
      |  1 AS local_before, 0 AS probe_jobs,
      |  CAST(max(CASE WHEN o_orderkey <>
      |    (SELECT max(o_orderkey) FROM orders) THEN o_orderkey END)
      |    AS BIGINT) AS max_after,
      |  1 AS hybrid_dirs
      |FROM orders""".stripMargin) { (s, dir) =>
    val (root, name, months) = ordersTable(s, dir, "graft_q174_")
    val orders = Tables.load(s, dir, "orders")
    // o_orderdate may surface as TIMESTAMP or TIMESTAMP_NTZ depending on
    // parquet inference — format either to the oracle's wall text
    val tsFmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss")
    def fmtTs(v: Any): String = v match {
      case t: java.sql.Timestamp => t.toLocalDateTime.format(tsFmt)
      case l: java.time.LocalDateTime => l.format(tsFmt)
      case i: java.time.Instant => java.time.LocalDateTime
        .ofInstant(i, java.time.ZoneOffset.UTC).format(tsFmt)
      case other => String.valueOf(other)
    }
    try {
      // probe 1: fully metered, DV-free → LocalRelation, zero jobs
      val probe = JobMeter.measure(s) {
        val df = s.sql(
          s"""SELECT min(o_orderdate) AS mind, max(o_orderdate) AS maxd,
             |  min(o_orderkey) AS mink, max(o_orderkey) AS maxk,
             |  count(*) AS n
             |FROM graft.$name""".stripMargin)
        (df.collect()(0), df.queryExecution.optimizedPlan
          .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
      }
      val (row, isLocal) = probe.value
      // point DELETE: the global-max key's dir gains a deletion vector —
      // its recorded max is now a bound, not a witness
      val maxKey = row.getLong(3)
      MergeInto.deleteWhere(s, root,
        orders.filter(col("o_orderkey") === maxKey).select("o_orderkey"))
      // probe 2: hybrid — scan ONLY the DV'd dir, stats serve the rest
      val after = s.sql(s"SELECT max(o_orderkey) AS maxk FROM graft.$name")
      val scanned = scannedDataDirs(after, root)
      val hybridOk = scanned == 1 && months > 10
      s.range(1).select(
        lit(fmtTs(row.get(0))).as("min_date"),
        lit(fmtTs(row.get(1))).as("max_date"),
        lit(row.getLong(2)).as("min_key"),
        lit(maxKey).as("max_key"),
        lit(row.getLong(4)).as("n"),
        lit(if (isLocal) 1 else 0).as("local_before"),
        lit(probe.count).as("probe_jobs"),
        lit(after.collect()(0).getLong(0)).as("max_after"),
        lit(if (hybridOk) 1 else 0).as("hybrid_dirs"))
    } finally GraftSql.unregister(name)
  }

  /** q175 — `INSERT INTO … REPLACE WHERE` (round 18, the public Delta
    * replaceWhere surface): predicate-scoped atomic overwrite — one
    * month of a month-sliced table re-lands with doubled prices in ONE
    * commit (delete + insert never separately visible), every cold dir
    * carried over untouched (pinned from the manifest), and an insert
    * whose rows fall OUTSIDE the predicate is refused atomically with
    * nothing committed. The idempotent-backfill primitive: at 100 TB,
    * re-landing a day touches that day's dirs and nothing else. */
  val q175_replace_where = Q(
    "q175_replace_where",
    """SELECT CAST(count(*) AS BIGINT) AS n,
      |  cast(sum(CASE WHEN o_orderdate >= TIMESTAMP '1997-03-01 00:00:00'
      |    AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
      |    THEN cast(o_totalprice*2 as decimal(18,2))
      |    ELSE cast(o_totalprice as decimal(18,2)) END) as double) AS revenue,
      |  1 AS cold_preserved, 1 AS one_commit, 1 AS conform_refused
      |FROM orders""".stripMargin) { (s, dir) =>
    val (root, name, _) = ordersTable(s, dir, "graft_q175_")
    val orders = Tables.load(s, dir, "orders")
    val m1 = ManifestCommit.readManifest(s, root).get
    val view = uniq("q175_src")
    orders.filter(col("o_orderdate") >= lit("1997-03-01").cast("timestamp") &&
      col("o_orderdate") < lit("1997-04-01").cast("timestamp"))
      .createOrReplaceTempView(view)
    val selectList = orders.columns.map(c =>
      if (c == "o_totalprice") "o_totalprice * 2 AS o_totalprice" else c)
      .mkString(", ")
    try {
      s.sql(s"INSERT INTO graft.$name REPLACE WHERE " +
        "o_orderdate >= TIMESTAMP '1997-03-01 00:00:00' AND " +
        "o_orderdate < TIMESTAMP '1997-04-01 00:00:00' " +
        s"SELECT $selectList FROM $view")
      val m2 = ManifestCommit.readManifest(s, root).get
      // exactly the March-1997 dir displaced; every other dir carried
      val coldPreserved =
        m1.dirs.toSet.intersect(m2.dirs.toSet).size == m1.dirs.size - 1
      val oneCommit = m2.gen == m1.gen + 1
      // rows outside the predicate are refused with nothing committed
      val refused = try {
        MergeInto.replaceWhere(s, root, orders.limit(5),
          col("o_orderdate") >= lit("2099-01-01").cast("timestamp"))
        false
      } catch {
        case e: IllegalArgumentException => e.getMessage.contains("conform")
      }
      val refusedClean = refused &&
        ManifestCommit.readManifest(s, root).get.gen == m2.gen
      val agg = ManifestCommit.read(s, root).agg(
        count(lit(1)),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double"))
        .collect()(0)
      s.range(1).select(
        lit(agg.getLong(0)).as("n"),
        lit(agg.getDouble(1)).as("revenue"),
        lit(if (coldPreserved) 1 else 0).as("cold_preserved"),
        lit(if (oneCommit) 1 else 0).as("one_commit"),
        lit(if (refusedClean) 1 else 0).as("conform_refused"))
    } finally GraftSql.unregister(name)
  }

  /** q176 — per-column NULL-COUNT stats (round 18, the Delta/Iceberg
    * nullCount idea): every metered column records an exact non-null
    * counter in the same aggregate pass, arming (a) metadata-only
    * COUNT(col) — zero jobs, LocalRelation pinned — and (b) IS NULL /
    * IS NOT NULL dir skipping, which min/max stats can never serve
    * (pinned: the null probe plans ONLY the one dir that actually holds
    * nulls, out of 4 modulus stripes). */
  val q176_null_stats = Q(
    "q176_null_stats",
    """SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(count(CASE WHEN o_orderkey % 4 = 1 AND o_orderkey % 3 = 0
      |    THEN NULL ELSE o_orderpriority END) AS BIGINT) AS n_filled,
      |  1 AS count_local, 0 AS probe_jobs, 1 AS null_probe_pruned
      |FROM orders""".stripMargin) { (s, dir) =>
    val root = tmpDir("graft_q176_") + "/orders"
    val orders = Tables.load(s, dir, "orders")
      .select("o_orderkey", "o_orderpriority")
    // `note` is null ONLY on stripe 1 (o_orderkey%4==1, every 3rd key):
    // three of the four dirs are provably null-free
    val df = orders.withColumn("note",
      when(pmod(col("o_orderkey"), lit(4)) === 1 &&
        pmod(col("o_orderkey"), lit(3)) === 0, lit(null))
        .otherwise(col("o_orderpriority")))
    val slice = pmod(col("o_orderkey"), lit(4))
    val dirs = ManifestCommit.writeSliced(s, root, df, slice,
      Seq("o_orderkey", "note", ManifestCommit.RowCountStat))
    ManifestCommit.commitReplace(s, root, dirs.map(_._1),
      pruneDisplaced = false, stats = dirs.toMap, schema = Some(df.schema),
      slice = Some(ManifestCommit.sliceSql(slice)))
    val name = uniq("graft_q176")
    GraftSql.register(name, root)
    try {
      // probe 1: COUNT(note) + COUNT(*) from the counters — zero jobs
      val probe = JobMeter.measure(s) {
        val q = s.sql(
          s"SELECT count(*) AS n, count(note) AS nf FROM graft.$name")
        (q.collect()(0), q.queryExecution.optimizedPlan
          .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
      }
      val (row, isLocal) = probe.value
      // probe 2: IS NULL plans only the null-bearing stripe
      val nullProbe = s.sql(
        s"SELECT o_orderkey FROM graft.$name WHERE note IS NULL")
      val prunedOk = scannedDataDirs(nullProbe, root) == 1
      s.range(1).select(
        lit(row.getLong(0)).as("n_rows"),
        lit(row.getLong(1)).as("n_filled"),
        lit(if (isLocal) 1 else 0).as("count_local"),
        lit(probe.count).as("probe_jobs"),
        lit(if (prunedOk) 1 else 0).as("null_probe_pruned"))
    } finally GraftSql.unregister(name)
  }

  /** q177 — metadata-only PARTITION DROP (round 18): `DELETE FROM t
    * WHERE <whole month>` proves every candidate dir fully covered —
    * strict-bound negation disjointness + the per-column non-null
    * counters (a row where the predicate evaluates NULL must survive,
    * so the no-nulls witness is part of the proof) — and displaces the
    * month dir in a pure metadata commit: ZERO Spark jobs pinned. The
    * partition-retention shape every 100-TB table runs nightly. */
  val q177_partition_drop = Q(
    "q177_partition_drop",
    """SELECT CAST(count(*) AS BIGINT) AS n_after,
      |  cast(sum(cast(o_totalprice as decimal(18,2))) as double) AS revenue_after,
      |  0 AS delete_jobs, 1 AS dir_dropped
      |FROM orders
      |WHERE NOT (o_orderdate >= TIMESTAMP '1997-03-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00')""".stripMargin) {
    (s, dir) =>
    val (root, name, _) = ordersTable(s, dir, "graft_q177_")
    val m1 = ManifestCommit.readManifest(s, root).get
    try {
      val probe = JobMeter.measure(s)(s.sql(s"DELETE FROM graft.$name WHERE " +
        "o_orderdate >= TIMESTAMP '1997-03-01 00:00:00' AND " +
        "o_orderdate < TIMESTAMP '1997-04-01 00:00:00'"))
      val m2 = ManifestCommit.readManifest(s, root).get
      val dropped = m2.dirs.size == m1.dirs.size - 1 &&
        m1.dirs.toSet.intersect(m2.dirs.toSet).size == m2.dirs.size
      val agg = ManifestCommit.read(s, root).agg(
        count(lit(1)),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double"))
        .collect()(0)
      s.range(1).select(
        lit(agg.getLong(0)).as("n_after"),
        lit(agg.getDouble(1)).as("revenue_after"),
        lit(probe.count).as("delete_jobs"),
        lit(if (dropped) 1 else 0).as("dir_dropped"))
    } finally GraftSql.unregister(name)
  }

  /** q178 — GROUP-BY-partition-key rollup from the manifest (round 18,
    * the public Spark OptimizeMetadataOnlyQuery / Iceberg
    * partition-rollup idea on stats): on a table sliced by an identity
    * column, `SELECT key, count(*), min(x), max(x) GROUP BY key` folds
    * per-dir constants + counters + bounds driver-side — LocalRelation
    * plan, ZERO Spark jobs, both pinned. The BI daily-counts dashboard
    * over a 100-TB sliced table becomes a metadata read. */
  val q178_group_rollup = Q(
    "q178_group_rollup",
    """SELECT o_orderstatus AS status, CAST(count(*) AS BIGINT) AS n,
      |  cast(min(o_totalprice) as double) AS min_price,
      |  cast(max(o_totalprice) as double) AS max_price,
      |  1 AS rollup_local, 0 AS probe_jobs
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val root = tmpDir("graft_q178_") + "/orders"
    val orders = Tables.load(s, dir, "orders")
    val slice = col("o_orderstatus")
    val dirs = ManifestCommit.writeSliced(s, root, orders, slice,
      Seq("o_orderstatus", "o_totalprice", ManifestCommit.RowCountStat))
    ManifestCommit.commitReplace(s, root, dirs.map(_._1),
      pruneDisplaced = false, stats = dirs.toMap, schema = Some(orders.schema),
      slice = Some(ManifestCommit.sliceSql(slice)))
    val name = uniq("graft_q178")
    GraftSql.register(name, root)
    try {
      val probe = JobMeter.measure(s) {
        val q = s.sql(
          s"""SELECT o_orderstatus AS status, count(*) AS n,
             |  min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
             |FROM graft.$name GROUP BY o_orderstatus""".stripMargin)
        (q.collect(), q.queryExecution.optimizedPlan
          .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
      }
      val (rows, isLocal) = probe.value
      val sorted = rows.sortBy(_.getString(0)).toSeq
      s.createDataFrame(sorted.map(r => (r.getString(0), r.getLong(1),
        r.getDouble(2), r.getDouble(3))))
        .toDF("status", "n", "min_price", "max_price")
        .withColumn("rollup_local", lit(if (isLocal) 1 else 0))
        .withColumn("probe_jobs", lit(probe.count))
    } finally GraftSql.unregister(name)
  }

  /** q179 — FILTERED metadata-only aggregates (round 19): the
    * reference's flagship BI card is a month-FILTERED count
    * (reference: tools/create_working_metabase_questions.py:78-100;
    * superset_bootstrap/test_sql_lab.py:144), so `SELECT count(*) …
    * WHERE <pred>` classifies every dir against the predicate —
    * DISJOINT (pruned), FULLY COVERED (the q177 strict-bounds negation
    * disproof + per-column no-nulls witness: every live row matches),
    * or STRADDLING — and folds to a LocalRelation with ZERO Spark jobs
    * when nothing straddles, exact THROUGH a deletion vector inside
    * the probed window (live = __rows − __dv_dead). Four pins:
    *  1. quarter-window COUNT on a month-sliced table with a DV'd
    *     month folds local, zero jobs;
    *  2. a mid-month STRADDLING min() hybrid-scans ONLY the straddled
    *     dir (stats serve the covered months);
    *  3. an IDENTITY-sliced grouped rollup under `IN ('F','O')` folds
    *     local (needs the r19 equality/IN negation rewrite — NOT(s IN
    *     (F,O)) must be disprovable on a min==max dir);
    *  4. hash vs DuckDB over the raw fixture with the deletes
    *     replayed. The 100-TB shape: the dashboard's filtered counts
    *     and per-slice rollups never touch a file. */
  val q179_filtered_fold = Q(
    "q179_filtered_fold",
    """SELECT o_orderstatus AS status,
      |  CAST(count(*) AS BIGINT) AS n_g,
      |  cast(max(o_totalprice) as double) AS mx_g,
      |  (SELECT CAST(count(*) AS BIGINT) FROM orders
      |   WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      |     AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
      |     AND NOT (o_orderkey % 97 = 0
      |       AND o_orderdate < TIMESTAMP '1997-02-01 00:00:00')) AS n_q1,
      |  (SELECT CAST(min(o_orderkey) AS BIGINT) FROM orders
      |   WHERE o_orderdate >= TIMESTAMP '1997-01-15 00:00:00'
      |     AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
      |     AND NOT (o_orderkey % 97 = 0
      |       AND o_orderdate < TIMESTAMP '1997-02-01 00:00:00')) AS mn_q2,
      |  1 AS fold_count_local, 1 AS fold_group_local,
      |  0 AS probe_jobs, 1 AS straddle_scans_one
      |FROM orders WHERE o_orderstatus IN ('F', 'O')
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val (root, name, _) = ordersTable(s, dir, "graft_q179_")
    val orders = Tables.load(s, dir, "orders")
    // DV-delete the %97 keys of JANUARY only: the January dir stays
    // fully covered by the quarter predicate (counters exact through
    // the DV), while February/March stay DV-free so the straddle
    // probe's min() can serve them from stats
    MergeInto.deleteWhere(s, root,
      orders.filter(pmod(col("o_orderkey"), lit(97)) === 0 &&
        col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-02-01").cast("timestamp"))
        .select("o_orderkey"))
    // identity-sliced table for the grouped probe (fresh, no deletes)
    val gRoot = tmpDir("graft_q179g_") + "/orders"
    val gSlice = col("o_orderstatus")
    val gDirs = ManifestCommit.writeSliced(s, gRoot, orders, gSlice,
      Seq("o_orderstatus", "o_totalprice", ManifestCommit.RowCountStat))
    ManifestCommit.commitReplace(s, gRoot, gDirs.map(_._1),
      pruneDisplaced = false, stats = gDirs.toMap,
      schema = Some(orders.schema),
      slice = Some(ManifestCommit.sliceSql(gSlice)))
    val gName = uniq("graft_q179g")
    GraftSql.register(gName, gRoot)
    def isLocal(q: DataFrame): Boolean = q.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]
    try {
      // probe 1 + 3 inside one meter window: both must run ZERO jobs
      val probe = JobMeter.measure(s) {
        val q1 = s.sql(
          s"""SELECT count(*) AS n FROM graft.$name
             |WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
             |  AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'""".stripMargin)
        val q3 = s.sql(
          s"""SELECT o_orderstatus AS status, count(*) AS n_g,
             |  max(o_totalprice) AS mx_g
             |FROM graft.$gName WHERE o_orderstatus IN ('F', 'O')
             |GROUP BY o_orderstatus""".stripMargin)
        (q1.collect()(0).getLong(0), isLocal(q1), q3.collect(), isLocal(q3))
      }
      val (nQ1, countLocal, gRows, groupLocal) = probe.value
      // probe 2: mid-month cut STRADDLES January — hybrid scans ONLY it
      val q2 = s.sql(
        s"""SELECT min(o_orderkey) AS mn FROM graft.$name
           |WHERE o_orderdate >= TIMESTAMP '1997-01-15 00:00:00'
           |  AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'""".stripMargin)
      val mnQ2 = q2.collect()(0).getLong(0)
      val straddleOk = scannedDataDirs(q2, root) == 1
      val sorted = gRows.sortBy(_.getString(0)).toSeq
      s.createDataFrame(sorted.map(r =>
        (r.getString(0), r.getLong(1), r.getDouble(2))))
        .toDF("status", "n_g", "mx_g")
        .withColumn("n_q1", lit(nQ1))
        .withColumn("mn_q2", lit(mnQ2))
        .withColumn("fold_count_local", lit(if (countLocal) 1 else 0))
        .withColumn("fold_group_local", lit(if (groupLocal) 1 else 0))
        .withColumn("probe_jobs", lit(probe.count))
        .withColumn("straddle_scans_one", lit(if (straddleOk) 1 else 0))
    } finally {
      GraftSql.unregister(name)
      GraftSql.unregister(gName)
    }
  }

  /** q180 — PERSISTENT analytics views (round 19): the reference's view
    * layer survives restarts (`CREATE OR REPLACE VIEW {db}_analytics.
    * {t}_v` lands in ClickHouse, generate_analytics_views.py:136-171;
    * Metabase/Superset address the `*_v` names COLD), so graft views
    * are durable descriptors: `Views.persistAnalyticsView` emits the
    * date-helper `*_v` layer through `CREATE OR REPLACE VIEW graft.…`,
    * the registry is then WIPED and recovered from the warehouse
    * (`GraftSql.registerWarehouse` — the engine-restart path), and a
    * FRESH session runs the flagship daily-rollup BI query against the
    * recovered view; SHOW TABLES lists it, DROP VIEW removes it. Hash
    * vs DuckDB computing the same date-helper rollup on the raw
    * fixture. */
  val q180_persistent_view = Q(
    "q180_persistent_view",
    """SELECT CAST(o_orderdate AS DATE) AS d,
      |  CAST(count(*) AS BIGINT) AS n,
      |  cast(sum(cast(o_totalprice as decimal(18,2))) as double) AS s,
      |  1 AS listed_before, 0 AS listed_after
      |FROM orders
      |GROUP BY 1 ORDER BY d DESC LIMIT 10""".stripMargin) { (s, dir) =>
    val t = uniq("graft_q180")
    val src = uniq("q180_src")
    Tables.load(s, dir, "orders")
      .select("o_orderkey", "o_orderdate", "o_totalprice")
      .createOrReplaceTempView(src)
    s.sql(s"CREATE TABLE graft.$t PARTITIONED BY (months(o_orderdate)) " +
      s"AS SELECT * FROM $src")
    val vName = graft.views.Views.persistAnalyticsView(s, t)
    try {
      // ENGINE RESTART: wipe the registry entries, recover from the
      // warehouse alone (descriptor + manifest on disk are the truth)
      GraftSql.unregister(t)
      GraftSql.unregister(vName)
      val recovered = GraftSql.registerWarehouse(s,
        only = n => n == t || n == vName)
      require(recovered.toSet == Set(t, vName),
        s"registerWarehouse recovered $recovered")
      val listedBefore = s.sql(
        s"SHOW TABLES IN graft LIKE '$vName'").collect().length == 1
      // the flagship BI rollup (superset_bootstrap/test_sql_lab.py:144)
      // over the recovered view's DATE HELPER, from a FRESH session
      val rows = s.newSession().sql(
        s"""SELECT o_orderdate_date AS d, count(*) AS n,
           |  cast(sum(cast(o_totalprice as decimal(18,2))) as double) AS s
           |FROM graft.`$vName`
           |GROUP BY o_orderdate_date ORDER BY d DESC LIMIT 10""".stripMargin)
        .collect().toSeq
      s.sql(s"DROP VIEW graft.`$vName`")
      val listedAfter = s.sql(
        s"SHOW TABLES IN graft LIKE '$vName'").collect().nonEmpty
      s.createDataFrame(rows.map(r =>
        (r.getDate(0), r.getLong(1), r.getDouble(2))))
        .toDF("d", "n", "s")
        .withColumn("listed_before", lit(if (listedBefore) 1 else 0))
        .withColumn("listed_after", lit(if (listedAfter) 1 else 0))
    } finally {
      scala.util.Try(s.sql(s"DROP VIEW IF EXISTS graft.`$vName`"))
      scala.util.Try(s.sql(s"DROP TABLE graft.$t"))
      s.catalog.dropTempView(src)
      ()
    }
  }

  /** q181 — MERGE-ON-READ UPDATE (round 19): a single-row SQL UPDATE on
    * a month-sliced multi-dir table must cost O(row), not O(dir) —
    * matched rows killed by a POSITION deletion vector (file +
    * row-index, the Delta DV idea), the updated image appended
    * slice-routed, ONE commit. Pins from the manifest/history: zero
    * dirs removed, exactly one appended, exactly one DV; the change
    * feed pairs the row into update_preimage/update_postimage with the
    * right values; the post-update aggregate hashes against DuckDB
    * replaying the update. At 100 TB this is the difference between a
    * point correction writing kilobytes and rewriting a whole month. */
  val q181_mor_update = Q(
    "q181_mor_update",
    """SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |  cast(sum(cast(o_totalprice as decimal(18,2)))
      |    + cast(1000 as decimal(18,2)) as double) AS sum_price,
      |  1 AS dirs_added, 0 AS dirs_removed, 1 AS dv_count,
      |  1 AS cdf_pair_ok
      |FROM orders""".stripMargin) { (s, dir) =>
    val (root, name, _) = ordersTable(s, dir, "graft_q181_")
    try {
      val m0 = ManifestCommit.readManifest(s, root).get
      val k = Tables.load(s, dir, "orders")
        .agg(max("o_orderkey")).collect()(0).getLong(0)
      s.sql(s"UPDATE graft.$name SET o_totalprice = o_totalprice + 1000 " +
        s"WHERE o_orderkey = $k")
      val m1 = ManifestCommit.readManifest(s, root).get
      val hist = ManifestCommit.history(s, root)
        .filter(col("gen") === m1.gen).collect()(0)
      val agg = ManifestCommit.read(s, root).agg(
        count(lit(1)),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double"))
        .collect()(0)
      // the CDF pairs the DV'd pre-image with the appended post-image
      val feed = graft.ingest.ChangeFeed.diff(s, root, m0.gen, m1.gen,
        Seq("o_orderkey"))
        .select("o_orderkey", "o_totalprice",
          graft.ingest.ChangeFeed.ChangeType)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
        .sortBy(_._3)
      val cdfOk = feed.length == 2 &&
        feed(0)._1 == k && feed(0)._3 == "update_postimage" &&
        feed(1)._1 == k && feed(1)._3 == "update_preimage" &&
        math.abs(feed(0)._2 - feed(1)._2 - 1000.0) < 1e-6
      s.range(1).select(
        lit(agg.getLong(0)).as("n_rows"),
        lit(agg.getDouble(1)).as("sum_price"),
        lit(m1.dirs.count(d => !m0.dirs.contains(d)).toLong
          min hist.getAs[Long]("dirs_added")).cast("int").as("dirs_added"),
        lit(hist.getAs[Long]("dirs_removed")).cast("int").as("dirs_removed"),
        lit(m1.dvs.size).as("dv_count"),
        lit(if (cdfOk) 1 else 0).as("cdf_pair_ok"))
    } finally GraftSql.unregister(name)
  }

  val all: Seq[Q] = Seq(q144_sql_skipping, q145_sql_count, q146_sql_join,
    q148_sql_dml, q149_sql_merge, q151_sql_ddl, q154_timestamp_travel,
    q155_sql_restore, q157_check_constraints, q158_shallow_clone,
    q159_convert_to_graft, q160_composite_slicing, q161_convert_partitioned,
    q162_convert_multilevel, q163_rename_column, q164_stream_sliced_sink,
    q165_alter_column_type, q167_optimize_where, q169_optimize_where_zorder,
    q170_partition_evolution, q171_analyze_stats, q172_analyze_blooms,
    q173_zorder_rank, q174_sql_minmax, q175_replace_where,
    q176_null_stats, q177_partition_drop, q178_group_rollup,
    q179_filtered_fold, q180_persistent_view, q181_mor_update)
}
