package graft.queries

import graft.{JobMeter, Tables}
import graft.ingest.{DedupMode, Ingest}
import graft.schema.{ColumnMeta, SchemaReflector, TableMeta}
import graft.views.Views
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** End-to-end pipeline surfaces: batch ingest (read → clean → dedup →
  * write → audit), CDC envelope decode, and the analytics-view layer —
  * SURVEY.md §3.1/§2.8/§2.9/§7.3-7.5 as oracle-checked queries.
  */
object Pipeline {

  private def tmpDir(prefix: String): String = graft.GraftTmp.dir(prefix)

  /** §3.1 e2e: events through the full pipeline with STAGING dedup
    * (key=user_id, version=ts, tie=event_id), written to parquet via
    * atomic staging swap, read back from the target. The oracle is the
    * same latest-per-key window straight over the source — proving the
    * clean+dedup+swap+write path is lossless and exact. */
  val q40_ingest_staging_dedup = Q(
    "q40_ingest_staging_dedup",
    """SELECT user_id, event_id, event_type
      |FROM (SELECT user_id, event_id, event_type,
      |        row_number() OVER (PARTITION BY user_id
      |          ORDER BY ts DESC, event_id DESC) AS rn
      |      FROM events) t
      |WHERE rn = 1""".stripMargin) { (s, dir) =>
    val meta = TableMeta("events", Seq(
      ColumnMeta("event_id", "bigint", nullable = false),
      ColumnMeta("ts", "datetime"),
      ColumnMeta("user_id", "bigint", nullable = false, isPk = true),
      ColumnMeta("event_type", "varchar"),
      ColumnMeta("value", "double"),
      ColumnMeta("props", "json")))
    val out = tmpDir("graft_ingest_q40_")
    // version autodetect finds none of the reference names -> explicit ts
    val source = Tables.load(s, dir, "events")
    val cleaned = graft.clean.TableCleaner.clean(source, meta)
    val deduped = Ingest.dedupLatest(cleaned, Seq("user_id"), Some("ts"), Seq("event_id"))
    // object-store-safe commit: invisible uniquely-named dir + one atomic
    // manifest replace (ManifestCommit scaladoc); readers resolve through
    // the manifest — this gate exercises that read path end-to-end
    val dataDir = graft.ingest.ManifestCommit.newDataDir(s"$out/events")
    deduped.write.mode("overwrite").parquet(dataDir)
    graft.ingest.ManifestCommit.commitReplace(s, s"$out/events", Seq(dataDir))
    graft.ingest.ManifestCommit.read(s, s"$out/events")
      .select("user_id", "event_id", "event_type")
  }

  /** §3.1 step 4: multi-table ingest + row-count reconciliation audit
    * (run_audit, ingest_runner.py:1813-1937). Each table goes through the
    * full clean+write path; the audit proves count parity. */
  val q41_ingest_audit = Q(
    "q41_ingest_audit",
    """SELECT 'nation' AS tbl,
      |  (SELECT count(*) FROM nation) AS source_rows,
      |  (SELECT count(*) FROM nation) AS target_rows,
      |  0 AS diff, 1 AS ok
      |UNION ALL SELECT 'region',
      |  (SELECT count(*) FROM region), (SELECT count(*) FROM region), 0, 1
      |UNION ALL SELECT 'supplier',
      |  (SELECT count(*) FROM supplier), (SELECT count(*) FROM supplier), 0, 1""".stripMargin) { (s, dir) =>
    val out = tmpDir("graft_ingest_q41_")
    val pairs = Seq("nation", "region", "supplier").map { name =>
      val src = Tables.load(s, dir, name)
      val meta = SchemaReflector.fromParquet(s, s"$dir/$name.parquet", name)
      Ingest.ingestTable(s, src, meta, out, DedupMode.NoDedup)
      (name, src, graft.ingest.ManifestCommit.read(s, s"$out/$name"))
    }
    Ingest.audit(s, pairs)
  }

  /** §2.9 CDC envelope decode (Debezium {before,after,op,ts_ms};
    * tools/kafka_to_clickhouse.py:57-110): keep rows with an `after`
    * image and op != 'd' (parity mode: deletes dropped), project typed
    * fields out of the JSON. */
  val q42_cdc_envelope_decode = Q(
    "q42_cdc_envelope_decode",
    """WITH env(value) AS (VALUES
      |  ('{"before":null,"after":{"id":1,"nombre":"Expediente_001.pdf","tipo":"PDF"},"op":"c","ts_ms":1700000000001}'),
      |  ('{"before":null,"after":{"id":2,"nombre":"acta.docx","tipo":"DOCX"},"op":"r","ts_ms":1700000000002}'),
      |  ('{"before":{"id":1},"after":{"id":1,"nombre":"Expediente_001_v2.pdf","tipo":"PDF"},"op":"u","ts_ms":1700000000003}'),
      |  ('{"before":{"id":2},"after":null,"op":"d","ts_ms":1700000000004}'),
      |  ('{"op":"c","ts_ms":1700000000005}'))
      |SELECT json_extract(value, '$.after.id')::bigint AS id,
      |  json_extract_string(value, '$.after.nombre') AS nombre,
      |  json_extract_string(value, '$.op') AS op,
      |  json_extract(value, '$.ts_ms')::bigint AS ts_ms
      |FROM env
      |WHERE json_extract(value, '$.after') IS NOT NULL
      |  AND json_extract_string(value, '$.op') != 'd'""".stripMargin) { (s, _) =>
    val rows = Seq(
      """{"before":null,"after":{"id":1,"nombre":"Expediente_001.pdf","tipo":"PDF"},"op":"c","ts_ms":1700000000001}""",
      """{"before":null,"after":{"id":2,"nombre":"acta.docx","tipo":"DOCX"},"op":"r","ts_ms":1700000000002}""",
      """{"before":{"id":1},"after":{"id":1,"nombre":"Expediente_001_v2.pdf","tipo":"PDF"},"op":"u","ts_ms":1700000000003}""",
      """{"before":{"id":2},"after":null,"op":"d","ts_ms":1700000000004}""",
      """{"op":"c","ts_ms":1700000000005}""")
    val schema = StructType(Seq(StructField("value", StringType, true)))
    val df = s.createDataFrame(
      new java.util.ArrayList[Row](java.util.Arrays.asList(rows.map(Row(_)): _*)), schema)
    val afterSchema = StructType(Seq(
      StructField("id", LongType, true),
      StructField("nombre", StringType, true),
      StructField("tipo", StringType, true)))
    graft.streaming.CdcEnvelope.decodeParity(df, afterSchema)
      .select(col("id"), col("nombre"), col("op"), col("ts_ms"))
  }

  /** D7 full matrix through the view generator: timestamp -> toDate
    * helper, date -> passthrough helper, fecha-named string -> multi-
    * format parse helper; non-fecha strings get none
    * (tools/generate_analytics_views.py:83-143). */
  val q43_analytics_view = Q(
    "q43_analytics_view",
    """WITH v(id, creado, alta, fecha_doc, nombre) AS (VALUES
      |  (1, TIMESTAMP '2021-03-15 10:11:12', DATE '2020-01-02', '15-03-2021', 'x'),
      |  (2, TIMESTAMP '1995-06-01 00:00:00', DATE '2021-12-31', '2021-03-15', 'y'),
      |  (3, NULL, NULL, 'garbage', 'z'))
      |SELECT id, nombre, fecha_doc,
      |  cast(creado AS date) AS creado_date,
      |  alta AS alta_date,
      |  coalesce(cast(try_cast(trim(fecha_doc) AS timestamp) AS date),
      |           cast(try_strptime(trim(fecha_doc), '%d-%m-%Y') AS date)) AS fecha_doc_date
      |FROM v ORDER BY id""".stripMargin) { (s, _) =>
    val schema = StructType(Seq(
      StructField("id", IntegerType, false),
      StructField("creado", TimestampType, true),
      StructField("alta", DateType, true),
      StructField("fecha_doc", StringType, true),
      StructField("nombre", StringType, true)))
    def ts(x: String) = java.sql.Timestamp.valueOf(x)
    def dt(x: String) = java.sql.Date.valueOf(x)
    val rows = Seq(
      Row(1, ts("2021-03-15 10:11:12"), dt("2020-01-02"), "15-03-2021", "x"),
      Row(2, ts("1995-06-01 00:00:00"), dt("2021-12-31"), "2021-03-15", "y"),
      Row(3, null, null, "garbage", "z"))
    val df = s.createDataFrame(
      new java.util.ArrayList[Row](java.util.Arrays.asList(rows: _*)), schema)
    Views.withDateHelpers(df)
      .select("id", "nombre", "fecha_doc", "creado_date", "alta_date", "fecha_doc_date")
      .orderBy("id")
  }

  /** §2.9 e2e THROUGH THE STREAMING ENGINE: snapshot bootstrap + two
    * file-source micro-batches drained with Trigger.AvailableNow into the
    * checkpointed foreachBatch upsert. The oracle is the golden final
    * table (deterministic fixture): update chains collapse to latest,
    * the delete is dropped (parity mode), the snapshot survivor keeps
    * version 0. */
  val q44_cdc_stream_e2e = Q(
    "q44_cdc_stream_e2e",
    """WITH g(id, nombre, op, ts_ms) AS (VALUES
      |  (1, 'uno_v3', 'u', 200),
      |  (2, 'dos', 'r', 0),
      |  (3, 'tres', 'c', 101))
      |SELECT id, nombre, op, ts_ms FROM g ORDER BY id""".stripMargin) { (s, _) =>
    import java.nio.file.{Files, Paths}
    val base = tmpDir("graft_cdc_q44_")
    val src = s"$base/src"; Files.createDirectories(Paths.get(src))
    val target = s"$base/typed"
    val afterSchema = StructType(Seq(
      StructField("id", LongType, true), StructField("nombre", StringType, true)))
    val snap = s.createDataFrame(java.util.Arrays.asList(
      Row(1L, "uno"), Row(2L, "dos")), afterSchema)
    graft.streaming.CdcStream.bootstrap(s, snap, target)
    Files.write(Paths.get(src, "b1.json"), java.util.Arrays.asList(
      """{"before":null,"after":{"id":1,"nombre":"uno_v2"},"op":"u","ts_ms":100}""",
      """{"before":null,"after":{"id":3,"nombre":"tres"},"op":"c","ts_ms":101}"""))
    Files.write(Paths.get(src, "b2.json"), java.util.Arrays.asList(
      """{"before":null,"after":{"id":1,"nombre":"uno_v3"},"op":"u","ts_ms":200}""",
      """{"before":{"id":2,"nombre":null},"after":null,"op":"d","ts_ms":201}"""))
    val stream = s.readStream.option("maxFilesPerTrigger", 1).text(src)
    graft.streaming.CdcStream.typedUpsertQuery(
      stream, afterSchema, Seq("id"), target, s"$base/ckpt").awaitTermination()
    // each micro-batch appended a delta part; OPTIMIZE FINAL collapses
    // them physically (the reference's post-ingest step), then the plain
    // read proves the collapsed table IS the golden final image
    graft.streaming.CdcStream.optimizeFinal(s, target, Seq("id"))
    graft.ingest.ManifestCommit.read(s, target)
      .select("id", "nombre", "op", "ts_ms").orderBy("id")
  }

  /** §2.9/§7 schema drift — a column APPEARS mid-stream (Debezium emits
    * it after an upstream ALTER; the reference repairs the target with
    * tools/fix_clickhouse_schemas.py:73-166): batch 1 lands under the
    * original schema, batch 2 under the widened one. Permissive
    * from_json + appended delta parts + mergeSchema in the FINAL view
    * give drift tolerance with NO rewrite of old parts: pre-drift rows
    * read back with the new column NULL, and latest-per-key collapses
    * across the schema boundary. The oracle is the golden post-drift
    * table. */
  val q94_cdc_schema_drift = Q(
    "q94_cdc_schema_drift",
    """WITH g(id, nombre, extra, ts_ms) AS (VALUES
      |  (1, 'uno', CAST(NULL AS VARCHAR), 100),
      |  (2, 'dos_v2', 'x', 200),
      |  (3, 'tres', 'y', 201))
      |SELECT CAST(id AS BIGINT) AS id, nombre, extra,
      |  CAST(ts_ms AS BIGINT) AS ts_ms
      |FROM g ORDER BY id""".stripMargin) { (s, _) =>
    val target = tmpDir("graft_cdc_q94_") + "/typed"
    val v1 = StructType(Seq(
      StructField("id", LongType, true), StructField("nombre", StringType, true)))
    val v2 = StructType(v1.fields :+ StructField("extra", StringType, true))
    def batch(lines: String*) = s.createDataFrame(
      new java.util.ArrayList[Row](java.util.Arrays.asList(
        lines.map(Row(_)): _*)),
      StructType(Seq(StructField("value", StringType, true))))
    graft.streaming.CdcStream.upsertBatch(s, batch(
      """{"before":null,"after":{"id":1,"nombre":"uno"},"op":"c","ts_ms":100}""",
      """{"before":null,"after":{"id":2,"nombre":"dos"},"op":"c","ts_ms":101}"""),
      v1, Seq("id"), target)
    graft.streaming.CdcStream.upsertBatch(s, batch(
      """{"before":null,"after":{"id":2,"nombre":"dos_v2","extra":"x"},"op":"u","ts_ms":200}""",
      """{"before":null,"after":{"id":3,"nombre":"tres","extra":"y"},"op":"c","ts_ms":201}"""),
      v2, Seq("id"), target)
    graft.streaming.CdcStream.finalView(s, target, Seq("id"))
      .select("id", "nombre", "extra", "ts_ms").orderBy("id")
  }

  /** Month-partitioned write (PARTITION BY toYYYYMM heuristic for log
    * tables, tools/create_clickhouse_models.py:46-68) + partition-pruned
    * read-back: the scan touches only the requested month's files
    * (pruning asserted in PartitionPruningSpec). */
  val q45_month_partition_pruning = Q(
    "q45_month_partition_pruning",
    """SELECT o_orderpriority, count(*) AS n
      |FROM orders
      |WHERE year(o_orderdate) = 1995
      |  AND strftime(o_orderdate, '%Y%m') = '199501'
      |GROUP BY o_orderpriority""".stripMargin) { (s, dir) =>
    val out = tmpDir("graft_part_q45_")
    val meta = SchemaReflector.fromParquet(s, s"$dir/orders.parquet", "orders")
    // one year is enough to demonstrate the partitioned-write + pruned-read
    // contract; the year filter is pushed into the source scan
    Ingest.ingestTable(s,
      Tables.load(s, dir, "orders").filter(year(col("o_orderdate")) === 1995),
      meta, out, DedupMode.NoDedup, monthPartitionCol = Some("o_orderdate"))
    graft.ingest.ManifestCommit.read(s, s"$out/orders")
      .filter(col("__yyyymm") === "199501")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"))
  }

  /** THE showcase e2e (FIXTURES.md §6): a dirty all-strings table goes
    * through parquet → reflect → clean (every D/N/T family, PK defaults)
    * → staging dedup (version autodetected from `factualizacion`) →
    * atomic swap → read-back. The oracle replicates every rule in SQL
    * over the identical VALUES — rule-for-rule parity of the whole
    * pipeline, not just single rules. */
  val q50_dirty_ingest_e2e = Q(
    "q50_dirty_ingest_e2e",
    """WITH v(id, fk_ref, descripcion, obligatorio, creado_en, hora, activo, factualizacion) AS (VALUES
      |  ('1', '8.0', '  Actualizaci??n ' || chr(10) || ' ya ', 'x', '2020-05-15', '0 days 12:02:03', 'true', '2021-01-01 00:00:00'),
      |  ('1', '9', 'better row', 'y', '2021-06-01 10:00:00', '12:02:03', 'false', '2021-06-01 00:00:00'),
      |  (NULL, 'abc', '', NULL, '0000-00-00', 'oops', NULL, '2021-01-01 00:00:00'),
      |  ('4', 'null', 'Ã¡Ã©', 'z', '1899-12-31', '1:02:03', 'true', NULL),
      |  ('5', '1e4', 'ok', 'w', '15/03/2021', '23:59:59.123', 'false', '2020-05-05 05:05:05')),
      |cleaned AS (SELECT
      |  coalesce(CASE WHEN regexp_matches(trim(coalesce(id,'')), '^[+-]?[0-9]+$')
      |      THEN try_cast(trim(id) AS bigint) END, 0) AS id,
      |  coalesce(
      |    CASE WHEN fk_ref IS NULL OR trim(fk_ref) IN
      |        ('','null','NULL','None','none','nan','NaN','na','NA','NaT') THEN NULL
      |      WHEN regexp_matches(trim(fk_ref), '^[+-]?[0-9]+$')
      |        THEN try_cast(trim(fk_ref) AS bigint) END,
      |    CASE WHEN try_cast(trim(fk_ref) AS double) IS NULL
      |           OR isnan(try_cast(trim(fk_ref) AS double))
      |           OR try_cast(trim(fk_ref) AS double) != floor(try_cast(trim(fk_ref) AS double))
      |      THEN NULL ELSE try_cast(try_cast(trim(fk_ref) AS double) AS bigint) END) AS fk_ref,
      |  nullif(trim(regexp_replace(regexp_replace(
      |    replace(replace(replace(replace(replace(replace(replace(replace(
      |      regexp_replace(descripcion, '[\x01-\x08\x0b\x0c\x0e-\x1f\x7f]', '', 'g'),
      |      'Actualizaci??n', 'Actualización'), '??', 'ó'),
      |      'Ã¡','á'),'Ã©','é'),'Ã­','í'),'Ã³','ó'),'Ãº','ú'),'Ã±','ñ'),
      |    '[\r\n\t]+', ' ', 'g'), ' {2,}', ' ', 'g')), '') AS descripcion,
      |  coalesce(nullif(trim(coalesce(obligatorio, '')), ''), 'N/A') AS obligatorio,
      |  CASE WHEN year(ts) <= 1900 OR year(ts) >= 2100 THEN NULL ELSE ts END AS creado_en,
      |  CASE WHEN regexp_extract(trim(hora), '(\d{1,2}):(\d{2}):(\d{2})(\.\d+)?$', 0) = '' THEN NULL
      |    ELSE lpad(regexp_extract(trim(hora), '(\d{1,2}):(\d{2}):(\d{2})(\.\d+)?$', 1), 2, '0')
      |      || ':' || regexp_extract(trim(hora), '(\d{1,2}):(\d{2}):(\d{2})(\.\d+)?$', 2)
      |      || ':' || regexp_extract(trim(hora), '(\d{1,2}):(\d{2}):(\d{2})(\.\d+)?$', 3) END AS hora,
      |  try_cast(activo AS boolean) AS activo,
      |  CASE WHEN year(fts) <= 1900 OR year(fts) >= 2100 THEN NULL ELSE fts END AS factualizacion
      |FROM (SELECT *,
      |    coalesce(
      |      try_cast(CASE WHEN trim(coalesce(creado_en,'x')) IN ('0000-00-00','0000-00-00 00:00:00','','null','NULL','None','none','nan','NaN','na','NA','NaT') THEN NULL ELSE trim(creado_en) END AS timestamp),
      |      try_strptime(trim(creado_en), '%d/%m/%Y %H:%M:%S'),
      |      try_strptime(trim(creado_en), '%d/%m/%Y'),
      |      try_strptime(trim(creado_en), '%Y%m%d%H%M%S'),
      |      try_strptime(trim(creado_en), '%Y%m%d')) AS ts,
      |    try_cast(trim(factualizacion) AS timestamp) AS fts
      |  FROM v) t),
      |dedup AS (SELECT * FROM (SELECT *,
      |    row_number() OVER (PARTITION BY id
      |      ORDER BY factualizacion DESC NULLS LAST) AS rn FROM cleaned)
      |  WHERE rn = 1)
      |SELECT id, fk_ref, descripcion, obligatorio, creado_en, hora, activo, factualizacion
      |FROM dedup ORDER BY id""".stripMargin) { (s, dir) =>
    val schema = StructType(
      Seq("id", "fk_ref", "descripcion", "obligatorio", "creado_en",
        "hora", "activo", "factualizacion").map(StructField(_, StringType, true)))
    val rows = Seq(
      Row("1", "8.0", "  Actualizaci??n \n ya ", "x", "2020-05-15", "0 days 12:02:03", "true", "2021-01-01 00:00:00"),
      Row("1", "9", "better row", "y", "2021-06-01 10:00:00", "12:02:03", "false", "2021-06-01 00:00:00"),
      Row(null, "abc", "", null, "0000-00-00", "oops", null, "2021-01-01 00:00:00"),
      Row("4", "null", "Ã¡Ã©", "z", "1899-12-31", "1:02:03", "true", null),
      Row("5", "1e4", "ok", "w", "15/03/2021", "23:59:59.123", "false", "2020-05-05 05:05:05"))
    val out = tmpDir("graft_dirty_q50_")
    // authentic arrival: raw all-strings parquet, then reflect + ingest
    s.createDataFrame(
      new java.util.ArrayList[Row](java.util.Arrays.asList(rows: _*)), schema)
      .write.mode("overwrite").parquet(s"$out/src")
    val meta = TableMeta("dirty", Seq(
      ColumnMeta("id", "int", nullable = false, isPk = true),
      ColumnMeta("fk_ref", "int"),
      ColumnMeta("descripcion", "varchar(200)"),
      ColumnMeta("obligatorio", "varchar(20)", nullable = false),
      ColumnMeta("creado_en", "datetime"),
      ColumnMeta("hora", "time"),
      ColumnMeta("activo", "tinyint(1)"),
      ColumnMeta("factualizacion", "datetime")))
    Ingest.ingestTable(s, s.read.parquet(s"$out/src"), meta, out, DedupMode.Staging)
    graft.ingest.ManifestCommit.read(s, s"$out/dirty")
      .select("id", "fk_ref", "descripcion", "obligatorio", "creado_en",
        "hora", "activo", "factualizacion")
      .orderBy("id")
  }

  /** BASELINE.md headline target: full batch ingest (read → clean →
    * write → audit) of EVERY driver table in one run, with per-table
    * count parity as the output. The reference's analogue is its whole
    * per-DB ingest inside a 30-minute budget; this lineage is the
    * measured Spark equivalent (per-round BENCH times this entry). */
  val q51_full_ingest_audit = {
    val names = graft.Tables.names
    val oracle = names.map { n =>
      s"SELECT '$n' AS tbl, (SELECT count(*) FROM $n) AS source_rows, " +
        s"(SELECT count(*) FROM $n) AS target_rows, 0 AS diff, 1 AS ok"
    }.mkString("\n|UNION ALL ")
    Q("q51_full_ingest_audit", oracle.stripMargin) { (s, dir) =>
      val out = tmpDir("graft_full_q51_")
      val tables = names.map { name =>
        (SchemaReflector.fromParquet(s, s"$dir/$name.parquet", name),
          Tables.load(s, dir, name))
      }
      Ingest.ingestAll(s, tables, out, DedupMode.NoDedup, parallelism = 8)
      Ingest.audit(s, names.map { name =>
        (name, Tables.load(s, dir, name), graft.ingest.ManifestCommit.read(s, s"$out/$name"))
      })
    }
  }

  /** Skew-salted two-stage aggregation in the gate: the salt is engine-
    * internal (Spark murmur3) but the FINAL combine must equal a plain
    * GROUP BY — so the oracle is the direct aggregation. Proves the skew
    * mitigation changes the plan, never the result. */
  val q52_salted_agg = Q(
    "q52_salted_agg",
    """SELECT event_type, count(*) AS n,
      |  cast(sum(cast(value AS decimal(18,4))) AS double) AS total
      |FROM events GROUP BY event_type""".stripMargin) { (s, dir) =>
    val ev = Tables.load(s, dir, "events")
      .withColumn("v", col("value").cast("decimal(18,4)"))
    import graft.ops.Salting
    val counts = Salting.saltedCount(ev, "event_type", col("event_id"), salts = 16)
    val sums = Salting.saltedSum(ev, "event_type", "v", col("event_id"), salts = 16)
    counts.join(sums, Seq("event_type"))
      .select(col("event_type"), col("n"), col("total").cast("double").as("total"))
  }

  /** Batch sessionization (lag + cumulative-sum windows — the analytic
    * window family beyond W1's row_number): per-user session count with a
    * 30-minute gap rule. */
  val q53_batch_sessions = Q(
    "q53_batch_sessions",
    """WITH m AS (SELECT user_id, ts, event_id,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (SELECT user_id,
      |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_id
      |  FROM m)
      |SELECT user_id, cast(max(session_id) AS bigint) AS n_sessions,
      |  count(*) AS n_events
      |FROM s GROUP BY user_id""".stripMargin) { (s, dir) =>
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    Tables.load(s, dir, "events")
      .withColumn("new_s",
        // microsecond-exact gap, matching the oracle's INTERVAL comparison
        // (cast-to-long would truncate sub-second components at the boundary)
        when(lag("ts", 1).over(w).isNull ||
          unix_micros(col("ts")) - unix_micros(lag("ts", 1).over(w)) > 1800000000L, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum("new_s").over(w))
      .groupBy("user_id")
      .agg(max("session_id").as("n_sessions"), count(lit(1)).as("n_events"))
  }

  /** Catalog profiling (tools/identify_useful_tables.py:67): per-table
    * row counts + column counts + a null-ratio probe over the discovered
    * catalog — the metadata sweep a BI admin runs before modelling. */
  val q54_catalog_profile = {
    val tables = Seq("region", "nation", "customer", "supplier", "part", "orders")
    val oracle = tables.map { n =>
      s"SELECT '$n' AS tbl, (SELECT count(*) FROM $n) AS n_rows"
    }.mkString("\n|UNION ALL ")
    Q("q54_catalog_profile", oracle.stripMargin) { (s, dir) =>
      tables.map { n =>
        Tables.load(s, dir, n)
          .agg(count(lit(1)).as("n_rows"))
          .select(lit(n).as("tbl"), col("n_rows"))
      }.reduce(_ unionByName _)
    }
  }

  /** As-of join: each purchase matched to the user's latest click at or
    * before it (point-in-time, no future leakage). Spark side is the
    * union+window composition (one shuffle); the oracle uses DuckDB's
    * native ASOF LEFT JOIN — two independent implementations of the
    * semantics must hash-agree. */
  val q55_asof_join = Q(
    "q55_asof_join",
    """WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
      |     r AS (SELECT event_id AS click_id, user_id, ts FROM events WHERE event_type = 'click')
      |SELECT l.event_id, l.user_id, r.click_id AS prior_click
      |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin) { (s, dir) =>
    val ev = Tables.load(s, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val clicks = ev.filter(col("event_type") === "click")
      .select("event_id", "user_id", "ts")
    graft.ops.AsOfJoin.lastAtOrBefore(
      purchases, clicks, key = "user_id",
      leftTs = "ts", rightTs = "ts", rightVal = "event_id",
      as = "prior_click")
      .select("event_id", "user_id", "prior_click")
  }

  /** Interval join: per-user event pairs within 10 minutes. Spark side is
    * the bucketized equi-join (no theta cross product); the oracle is the
    * naive range join — the two must agree pair-for-pair. */
  val q56_range_join = Q(
    "q56_range_join",
    """SELECT a.user_id, count(*) AS n_pairs
      |FROM events a JOIN events b
      |  ON a.user_id = b.user_id AND a.event_id < b.event_id
      |  AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 600 * 1000000
      |GROUP BY a.user_id""".stripMargin) { (s, dir) =>
    graft.ops.RangeJoin.selfPairsWithin(
      Tables.load(s, dir, "events"), "user_id", "ts", "event_id", 600L)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Streaming windowed-aggregation parity: the events table replayed
    * through the STREAMING engine (file source → event-time tumbling
    * window → complete-mode parquet refresh) must produce exactly the batch
    * GROUP BY — the stream/batch-unification guarantee q44 proves for
    * CDC upserts, here for the watermark+window agg family (§2.9's
    * aggregate side; watermark late-drop semantics are pinned separately
    * in StreamingWindowSpec, where append-mode emission is deterministic).
    *
    * Scale: the window agg shuffles once on (window, event_type) with
    * map-side partial aggregation; streaming state is one row per open
    * window per key, bounded by the watermark horizon. The decimal sum
    * keeps accumulation exact, so result equality is bitwise, not
    * approximate. */
  /** Shared staging for the streaming gates (q78/q81): the streaming file
    * source ingests DIRECTORIES, so the events fixture is copied into a
    * temp landing zone once; the returned factory builds independent
    * nanos→micros-converted streams over it (q81 needs two sides). ONE
    * implementation so the ts conversion and schema handling can never
    * diverge between the streaming gates. */
  /** Session clone for the STREAMING gates: shares the SparkContext (and
    * all builder conf) but runs with fewer shuffle/state partitions. A
    * stream-stream join maintains four state stores PER PARTITION, so
    * per-batch overhead scales with the partition count, not the data —
    * measured on the sf0.1 fixture: q81 5.8s → 2.6s at 8 partitions.
    * This mirrors production practice: a streaming query's partition
    * count is frozen into its state layout at first run, so it is sized
    * to state volume deliberately rather than inherited from the batch
    * default. */
  private def streamingSession(s: SparkSession): SparkSession = {
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "8")
    ss
  }

  private def eventsStreamFactory(s: SparkSession, dir: String): () => DataFrame = {
    Tables.load(s, dir, "events") // side-effect: nanosAsLong conf
    val path = s"$dir/events.parquet"
    // Raw PHYSICAL schema for the stream source (ts may be nanos-Long or
    // timestamp[us] depending on fixture generation); the shared
    // Tables.normalizeTs decides per-schema how to get to TimestampType,
    // exactly as the batch loader does.
    val rawSchema = s.read.parquet(path).schema
    val src = tmpDir("graft_stream_src_")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(path),
      java.nio.file.Paths.get(src, "events.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    () => Tables.normalizeTs(s.readStream.schema(rawSchema).parquet(src))
  }

  val q78_stream_window = Q(
    "q78_stream_window",
    """SELECT event_type,
      |  strftime(time_bucket(INTERVAL 1 DAY, ts), '%Y-%m-%d') AS day,
      |  count(*) AS n,
      |  cast(sum(cast(value AS decimal(18,4))) AS double) AS total
      |FROM events GROUP BY 1, 2""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.streaming.Trigger
    val out = tmpDir("graft_q78_out_")
    val ckpt = tmpDir("graft_q78_ckpt_")
    // complete mode (full deterministic result; no emission races)
    // through foreachBatch refreshing a parquet target — the
    // materialized-aggregate pattern; nothing collects to the driver
    val q = eventsStreamFactory(streamingSession(s), dir)()
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).as("tot"))
      .writeStream
      .outputMode("complete")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("overwrite").parquet(s"$out/agg")
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read.parquet(s"$out/agg").select(
      col("event_type"),
      date_format(col("w.start"), "yyyy-MM-dd").as("day"),
      col("n"),
      col("tot").cast("double").as("total"))
  }

  /** Stream-stream interval join — the streaming counterpart of q56's
    * range join: purchases joined to the SAME user's clicks in the
    * preceding 10 minutes, with both sides arriving as streams. The
    * oracle is the identical batch join, so the gate pins streaming
    * inner-join semantics (each match emitted exactly once) against the
    * relational definition.
    *
    * Determinism: the fixture lands in one micro-batch and watermarks
    * only advance BETWEEN batches, so no state is evicted before every
    * match is emitted. Scale: join state is partitioned by the equi-key
    * (user_id) and the event-time bound + watermark give Spark an
    * eviction horizon — state per key is the 10-minute window, not the
    * stream's history. */
  val q81_stream_stream_join = Q(
    "q81_stream_stream_join",
    """SELECT a.user_id AS user_id, count(*) AS n_pairs
      |FROM events a JOIN events b
      |  ON a.user_id = b.user_id
      |  AND a.event_type = 'purchase' AND b.event_type = 'click'
      |  AND b.ts >= a.ts - INTERVAL 10 MINUTE AND b.ts < a.ts
      |GROUP BY a.user_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.streaming.Trigger
    val stream = eventsStreamFactory(streamingSession(s), dir)
    val purchases = stream().filter(col("event_type") === "purchase")
      .select(col("user_id").as("a_user"), col("ts").as("a_ts"))
      .withWatermark("a_ts", "1 hour")
    val clicks = stream().filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("b_ts"))
      .withWatermark("b_ts", "1 hour")
    val joined = purchases.join(clicks,
      expr("a_user = user_id AND b_ts >= a_ts - INTERVAL 10 MINUTES AND b_ts < a_ts"))
    // append-mode parquet FILE sink + read-back: the production shape
    // (matched pairs land in the lake; nothing collects to the driver)
    val out = tmpDir("graft_q81_out_")
    val q = joined.writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", s"$out/pairs")
      .option("checkpointLocation", tmpDir("graft_q81_ckpt_"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read.parquet(s"$out/pairs")
      .groupBy(col("a_user").as("user_id"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Streaming SESSIONIZATION parity — the custom-state engine path
    * (`flatMapGroupsWithState` + EventTimeTimeout, Sessionize.byGap)
    * replaying the events fixture: per-user 30-min-gap sessions, closed
    * either by a later in-batch event (gap exceeded) or by the
    * event-time timeout once the watermark passes session_end + gap. The
    * oracle derives the same sessions relationally and keeps exactly the
    * CLOSED ones (all but each user's last session, plus the last when
    * the final watermark = max(ts) - 1h passed its timeout) — pinning
    * the state machine's emission semantics, not just the windowing.
    * Times are millisecond-floored on both sides (GroupState timeouts
    * are ms-granular). */
  val q98_stream_sessions = Q(
    "q98_stream_sessions",
    """WITH ev AS (SELECT user_id, epoch_ms(ts) AS t, event_id FROM events),
      |m AS (SELECT user_id, t, event_id, CASE WHEN lag(t) OVER w IS NULL
      |      OR t - lag(t) OVER w > 1800000 THEN 1 ELSE 0 END AS new_s
      |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
      |s AS (SELECT user_id, t, sum(new_s) OVER
      |    (PARTITION BY user_id ORDER BY t, event_id) AS sid FROM m
      |  WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
      |g AS (SELECT user_id, sid, min(t) AS session_start, max(t) AS session_end,
      |    count(*) AS n FROM s GROUP BY user_id, sid),
      |wm AS (SELECT max(t) - 3600000 AS w FROM ev)
      |SELECT g.user_id, g.session_start, g.session_end,
      |  CAST(g.n AS INT) AS n_events
      |FROM g, wm
      |WHERE g.sid < (SELECT max(sid) FROM g g2 WHERE g2.user_id = g.user_id)
      |   OR g.session_end + 1800000 < wm.w""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.streaming.Trigger
    val ss = streamingSession(s)
    val ev = eventsStreamFactory(ss, dir)()
      .select(col("user_id").cast("string").as("user"), col("ts"))
      .as(org.apache.spark.sql.Encoders.product[graft.streaming.SessionEvent])
    val out = graft.streaming.Sessionize.byGap(
      ev, gapMs = 1800000L, watermarkDelay = "1 hour")
    val dst = tmpDir("graft_q98_out_")
    val q = out.writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", s"$dst/sessions")
      .option("checkpointLocation", tmpDir("graft_q98_ckpt_"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read.parquet(s"$dst/sessions")
      .select(col("user").cast("long").as("user_id"),
        unix_millis(col("session_start")).as("session_start"),
        unix_millis(col("session_end")).as("session_end"),
        col("events").as("n_events"))
  }

  /** Stream-STATIC enrichment join — the third streaming-join family
    * member (q81 is stream-stream, q44 is CDC upsert): the event stream
    * joins a static dimension (customer) row-by-row as micro-batches
    * arrive; no watermark or state is needed because the static side is
    * immutable — Spark broadcasts it per batch. The canonical CDC
    * enrichment shape (fact stream + dimension snapshot) audited against
    * the identical batch join. */
  val q99_stream_static_enrich = Q(
    "q99_stream_static_enrich",
    """SELECT c.c_mktsegment AS segment, count(*) AS n,
      |  count(DISTINCT e.user_id) AS n_users
      |FROM events e JOIN customer c ON e.user_id = c.c_custkey
      |GROUP BY c.c_mktsegment""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.streaming.Trigger
    val ss = streamingSession(s)
    val dim = Tables.load(ss, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val out = tmpDir("graft_q99_out_")
    val q = eventsStreamFactory(ss, dir)()
      .join(dim, col("user_id") === col("c_custkey")) // stream-static inner
      .select(col("user_id"), col("c_mktsegment"))
      .writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", s"$out/enriched")
      .option("checkpointLocation", tmpDir("graft_q99_ckpt_"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read.parquet(s"$out/enriched")
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("n"), countDistinct("user_id").as("n_users"))
  }

  /** Z-order clustering key (Delta OPTIMIZE ZORDER's technique as a plain
    * expression): interleaving the bits of two keys makes one sort
    * cluster rows close in BOTH dimensions, so row-group min/max stats
    * prune scans for predicates on either column — the multi-column
    * data-skipping lever `Ingest`'s sortingKey can use directly. The
    * oracle recomputes the interleave bit-by-bit in SQL. */
  val q100_zorder_key = Q(
    "q100_zorder_key",
    """SELECT o_orderkey,
      |  CAST(list_sum(list_transform(range(0, 31), i ->
      |    (((o_custkey >> i) & 1) << (2*i)) +
      |    (((o_orderkey >> i) & 1) << (2*i + 1)))) AS BIGINT) AS z
      |FROM orders WHERE o_orderkey <= 200""".stripMargin) { (s, dir) =>
    Tables.load(s, dir, "orders")
      .filter(col("o_orderkey") <= 200)
      .select(col("o_orderkey"),
        graft.functions.columns.zorderKey(
          col("o_custkey"), col("o_orderkey")).as("z"))
  }

  /** q112 — stream-stream LEFT OUTER interval join: q81's purchase×click
    * join, but unmatched purchases ALSO emit (with a null click side)
    * once the watermark proves no future click can match — the
    * abandoned-cart shape, and the semantically hardest streaming join
    * Spark offers. The oracle pins the full emission contract, null
    * rows included: a null-match for purchase `a` is emitted iff `a` has
    * no click in its 10-minute window AND a_ts < wm, where the final
    * watermark wm = min(max purchase ts, max click ts) - 1h (global wm
    * = min over both sides' watermarks; eviction fires when wm passes
    * a_ts, the upper bound of `a`'s matchable click range). Verified
    * per-row against the engine before pinning: the predicted and
    * actual null-emission sets are identical on this fixture (no
    * boundary-tie rows — both strict and inclusive eviction agree).
    * Unmatched purchases inside the final watermark delay are retained
    * in state, not emitted — exactly what a restarted production query
    * would still owe downstream.
    *
    * Scale: same bounds as q81 — state partitioned by user_id, the
    * interval condition + watermark give every row an eviction horizon,
    * so state per key is the 10-minute window + 1h lateness, never the
    * stream's history; the outer side adds no extra state, only
    * emit-on-evict. */
  val q112_stream_outer_join = Q(
    "q112_stream_outer_join",
    """WITH p AS (SELECT user_id, ts, event_id FROM events
      |  WHERE event_type = 'purchase'),
      |c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
      |wm AS (SELECT least((SELECT max(epoch_ms(ts)) FROM p),
      |                    (SELECT max(epoch_ms(ts)) FROM c)) - 3600000 AS w),
      |em AS (
      |  SELECT a.user_id, 1 AS matched FROM p a JOIN c b
      |    ON b.user_id = a.user_id
      |    AND b.ts >= a.ts - INTERVAL 10 MINUTE AND b.ts < a.ts
      |  UNION ALL
      |  SELECT a.user_id, 0 FROM p a, wm
      |  WHERE NOT EXISTS (SELECT 1 FROM c b WHERE b.user_id = a.user_id
      |      AND b.ts >= a.ts - INTERVAL 10 MINUTE AND b.ts < a.ts)
      |    AND epoch_ms(a.ts) < wm.w)
      |SELECT user_id, CAST(sum(matched) AS BIGINT) AS n_pairs,
      |  CAST(sum(1 - matched) AS BIGINT) AS n_null
      |FROM em GROUP BY user_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.streaming.Trigger
    val stream = eventsStreamFactory(streamingSession(s), dir)
    val purchases = stream().filter(col("event_type") === "purchase")
      .select(col("user_id").as("a_user"), col("ts").as("a_ts"))
      .withWatermark("a_ts", "1 hour")
    val clicks = stream().filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("b_ts"))
      .withWatermark("b_ts", "1 hour")
    val joined = purchases.join(clicks,
      expr("a_user = user_id AND b_ts >= a_ts - INTERVAL 10 MINUTES AND b_ts < a_ts"),
      "leftOuter")
    val out = tmpDir("graft_q112_out_")
    val q = joined.writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", s"$out/pairs")
      .option("checkpointLocation", tmpDir("graft_q112_ckpt_"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read.parquet(s"$out/pairs")
      .groupBy(col("a_user").as("user_id"))
      .agg(count(col("b_ts")).as("n_pairs"),
        count(when(col("b_ts").isNull, 1)).as("n_null"))
  }

  /** q116 — stream-stream RIGHT OUTER interval join: q112's mirror —
    * unmatched CLICKS emit with a null purchase side once the watermark
    * proves no future purchase can convert them (the orphan-click /
    * non-converting-traffic shape), completing the outer-join family.
    * A click b is matchable by purchases with a_ts ∈ (b_ts, b_ts+10min],
    * so its eviction horizon is b_ts + 10min: the null row for b is
    * emitted iff b has no matching purchase AND b_ts + 10min < wm, with
    * the final wm = min(max purchase ts, max click ts) - 1h as in q112.
    * Verified per-row against the engine before pinning: predicted and
    * actual null-emission sets are identical on this fixture (no
    * boundary-tie rows). Same state bounds as q81/q112 — the outer side
    * adds emit-on-evict, never extra state. */
  val q116_stream_right_outer_join = Q(
    "q116_stream_right_outer_join",
    """WITH p AS (SELECT user_id, ts FROM events
      |  WHERE event_type = 'purchase'),
      |c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
      |wm AS (SELECT least((SELECT max(epoch_ms(ts)) FROM p),
      |                    (SELECT max(epoch_ms(ts)) FROM c)) - 3600000 AS w),
      |em AS (
      |  SELECT b.user_id, 1 AS matched FROM c b JOIN p a
      |    ON a.user_id = b.user_id
      |    AND b.ts >= a.ts - INTERVAL 10 MINUTE AND b.ts < a.ts
      |  UNION ALL
      |  SELECT b.user_id, 0 FROM c b, wm
      |  WHERE NOT EXISTS (SELECT 1 FROM p a WHERE a.user_id = b.user_id
      |      AND b.ts >= a.ts - INTERVAL 10 MINUTE AND b.ts < a.ts)
      |    AND epoch_ms(b.ts) + 600000 < wm.w)
      |SELECT user_id, CAST(sum(matched) AS BIGINT) AS n_pairs,
      |  CAST(sum(1 - matched) AS BIGINT) AS n_null
      |FROM em GROUP BY user_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.streaming.Trigger
    val stream = eventsStreamFactory(streamingSession(s), dir)
    val purchases = stream().filter(col("event_type") === "purchase")
      .select(col("user_id").as("a_user"), col("ts").as("a_ts"))
      .withWatermark("a_ts", "1 hour")
    val clicks = stream().filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("b_ts"))
      .withWatermark("b_ts", "1 hour")
    val joined = purchases.join(clicks,
      expr("a_user = user_id AND b_ts >= a_ts - INTERVAL 10 MINUTES AND b_ts < a_ts"),
      "rightOuter")
    val out = tmpDir("graft_q116_out_")
    val q = joined.writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", s"$out/pairs")
      .option("checkpointLocation", tmpDir("graft_q116_ckpt_"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read.parquet(s"$out/pairs")
      .groupBy(col("user_id"))
      .agg(count(col("a_ts")).as("n_pairs"),
        count(when(col("a_ts").isNull, 1)).as("n_null"))
  }

  /** q118 — stream-stream FULL OUTER interval join, completing the outer
    * family (left q112, right q116): matched purchase×click pairs, plus
    * a null-click row per unmatched purchase once the watermark passes
    * its horizon (a_ts, per q112), plus a null-purchase row per
    * unmatched click past ITS horizon (b_ts + 10min, per q116). The
    * oracle is the union of both pinned emission contracts — each side's
    * null set was already verified per-row against the engine in its
    * one-sided gate, and the full-outer form must reproduce both at
    * once under the same final watermark wm = min(max a_ts, max b_ts)
    * - 1h. Same state bounds as q81/q112/q116: the interval condition
    * gives every row of BOTH sides an eviction horizon; full-outer adds
    * emit-on-evict to each side, never extra state. */
  val q118_stream_full_outer_join = Q(
    "q118_stream_full_outer_join",
    """WITH p AS (SELECT user_id, ts FROM events
      |  WHERE event_type = 'purchase'),
      |c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
      |wm AS (SELECT least((SELECT max(epoch_ms(ts)) FROM p),
      |                    (SELECT max(epoch_ms(ts)) FROM c)) - 3600000 AS w),
      |em AS (
      |  SELECT a.user_id, 1 AS matched, 0 AS null_click, 0 AS null_purchase
      |  FROM p a JOIN c b
      |    ON b.user_id = a.user_id
      |    AND b.ts >= a.ts - INTERVAL 10 MINUTE AND b.ts < a.ts
      |  UNION ALL
      |  SELECT a.user_id, 0, 1, 0 FROM p a, wm
      |  WHERE NOT EXISTS (SELECT 1 FROM c b WHERE b.user_id = a.user_id
      |      AND b.ts >= a.ts - INTERVAL 10 MINUTE AND b.ts < a.ts)
      |    AND epoch_ms(a.ts) < wm.w
      |  UNION ALL
      |  SELECT b.user_id, 0, 0, 1 FROM c b, wm
      |  WHERE NOT EXISTS (SELECT 1 FROM p a WHERE a.user_id = b.user_id
      |      AND b.ts >= a.ts - INTERVAL 10 MINUTE AND b.ts < a.ts)
      |    AND epoch_ms(b.ts) + 600000 < wm.w)
      |SELECT user_id, CAST(sum(matched) AS BIGINT) AS n_pairs,
      |  CAST(sum(null_click) AS BIGINT) AS n_null_click,
      |  CAST(sum(null_purchase) AS BIGINT) AS n_null_purchase
      |FROM em GROUP BY user_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.streaming.Trigger
    val stream = eventsStreamFactory(streamingSession(s), dir)
    val purchases = stream().filter(col("event_type") === "purchase")
      .select(col("user_id").as("a_user"), col("ts").as("a_ts"))
      .withWatermark("a_ts", "1 hour")
    val clicks = stream().filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("b_ts"))
      .withWatermark("b_ts", "1 hour")
    val joined = purchases.join(clicks,
      expr("a_user = user_id AND b_ts >= a_ts - INTERVAL 10 MINUTES AND b_ts < a_ts"),
      "fullOuter")
    val out = tmpDir("graft_q118_out_")
    val q = joined.writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", s"$out/pairs")
      .option("checkpointLocation", tmpDir("graft_q118_ckpt_"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read.parquet(s"$out/pairs")
      .groupBy(coalesce(col("a_user"), col("user_id")).as("user_id"))
      .agg(count(when(col("a_ts").isNotNull && col("b_ts").isNotNull, 1)).as("n_pairs"),
        count(when(col("a_ts").isNotNull && col("b_ts").isNull, 1)).as("n_null_click"),
        count(when(col("a_ts").isNull, 1)).as("n_null_purchase"))
  }

  /** q121 — manifest-level data skipping: commit-time min/max column
    * stats per data dir (`ManifestCommit.dirStats`) let the read path
    * prune whole dirs whose range cannot match the predicate BEFORE any
    * file listing or scan — the Iceberg/Delta file-skipping idea at dir
    * granularity, and the piece that makes a years-deep object-store
    * table cheap to query by date (LIST + open are the dominant costs a
    * scan can't push down). Three dirs of `orders` split by o_orderdate
    * range; a [1996, 1997] query must resolve to exactly ONE dir — the
    * `dirs_scanned` column pins the pruning decision in the hash, and
    * the aggregate proves the pruned read loses no rows (skipping is an
    * optimization, never a filter: the real predicate still applies). */
  val q121_manifest_skipping = Q(
    "q121_manifest_skipping",
    """SELECT count(*) AS n_rows, CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
      |  1 AS dirs_scanned, 3 AS dirs_total
      |FROM orders
      |WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
      |  AND TIMESTAMP '1997-12-31 00:00:00'""".stripMargin) { (s, dir) =>
    import graft.ingest.ManifestCommit
    val out = tmpDir("graft_q121_")
    val root = s"$out/orders"
    val orders = Tables.load(s, dir, "orders")
    val sliceExpr = when(col("o_orderdate") < "1996-01-01", 0)
      .when(col("o_orderdate") <= "1997-12-31", 1).otherwise(2)
    val dirsWithStats = ManifestCommit.writeSliced(s, root, orders, sliceExpr,
      Seq("o_orderdate", "o_orderkey"))
    ManifestCommit.commitReplace(s, root, dirsWithStats.map(_._1),
      stats = dirsWithStats.toMap)
    val (paths, total) = ManifestCommit.resolvePruned(s, root, "o_orderdate",
      Some(ManifestCommit.temporalBound("1996-01-01")),
      Some(ManifestCommit.temporalBound("1997-12-31")))
    s.read.parquet(paths: _*)
      .filter(col("o_orderdate").between("1996-01-01", "1997-12-31"))
      .agg(count(lit(1)).as("n_rows"), sum(col("o_orderkey")).as("key_sum"))
      .select(col("n_rows"), col("key_sum"),
        lit(paths.size).as("dirs_scanned"), lit(total).as("dirs_total"))
  }

  /** q122 — incrementally-maintained aggregate table (the
    * AggregatingMergeTree / aggregate-materialized-view idea from the
    * reference's MergeTree family, tools/gen_pipeline.py:222,298):
    * `orders` arrives as three date-sliced batches, each collapsed to
    * partial aggregate state and committed as a manifest delta part —
    * raw rows are NEVER rescanned, so per-load cost is O(batch)+O(state)
    * on a 100 TB history. The gate pins (a) batch boundaries are
    * invisible — the finalized rollup hash-matches a full-scan oracle;
    * (b) `pre_post_diff` = 0 — compaction (OPTIMIZE analogue) changes
    * nothing observable; (c) the part counts before/after compaction.
    * Monetary sums ride decimal(30,2) state (exact under any merge
    * order) and surface as double only at finalize. */
  val q122_incremental_agg = Q(
    "q122_incremental_agg",
    """SELECT o_orderstatus, count(*) AS cnt,
      |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS price_sum,
      |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
      |  3 AS parts_before, 1 AS parts_after, 0 AS pre_post_diff
      |FROM orders GROUP BY o_orderstatus""".stripMargin) { (s, dir) =>
    import graft.ingest.{IncrementalAgg, ManifestCommit}
    import graft.ingest.IncrementalAgg.Measure
    val root = tmpDir("graft_q122_") + "/rollup"
    val keys = Seq("o_orderstatus")
    val ms = Seq(
      Measure("cnt", "*", "count"),
      Measure("key_sum", "o_orderkey", "sum_long"),
      Measure("price_sum", "o_totalprice", "sum_dec"),
      Measure("min_key", "o_orderkey", "min"),
      Measure("max_key", "o_orderkey", "max"))
    val orders = Tables.load(s, dir, "orders")
    Seq(
      orders.filter(col("o_orderdate") < "1997-01-01"),
      orders.filter(col("o_orderdate").between("1997-01-01", "1998-12-31")),
      orders.filter(col("o_orderdate") > "1998-12-31"))
      .foreach(b => IncrementalAgg.appendBatch(s, root, b, keys, ms))
    val partsBefore = ManifestCommit.readManifest(s, root).get.dirs.size
    val pre = IncrementalAgg.finalizeState(s, root, keys, ms)
    val preRows = pre.collect().toSeq // bounded: one row per status (3)
    IncrementalAgg.compactStates(s, root, keys, ms)
    val partsAfter = ManifestCommit.readManifest(s, root).get.dirs.size
    val post = IncrementalAgg.finalizeState(s, root, keys, ms)
    val prePostDiff = post.exceptAll(
      s.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](
        java.util.Arrays.asList(preRows: _*)), pre.schema)).count()
    post.select(col("o_orderstatus"), col("cnt"), col("key_sum"),
      col("price_sum"), col("min_key"), col("max_key"),
      lit(partsBefore).as("parts_before"), lit(partsAfter).as("parts_after"),
      lit(prePostDiff.toInt).as("pre_post_diff"))
  }

  /** q117 — snapshot time travel + retention over the manifest-committed
    * table format (`ManifestCommit` scaladoc; the reference's deployment
    * gets swap atomicity from ClickHouse `RENAME TABLE`,
    * tools/ingest_runner.py:1529-1592 — snapshots are the lakehouse
    * extension of that design, public Iceberg/Delta shape). Three
    * generations of `orders` are committed (replace F-status, append
    * O-status, replace with P-status); each generation is then read back
    * via `readAt` and summarized with integer-exact stats (count +
    * sum(o_orderkey) — no float aggregation, bit-deterministic), after
    * which `expireSnapshots(keepLast=1)` reclaims history and the gate
    * pins exactly which generations survive. The per-generation stats are
    * collected eagerly (three one-row aggregates — bounded driver reads)
    * BEFORE retention deletes the dirs a lazy plan would still reference. */
  val q117_time_travel = Q(
    "q117_time_travel",
    """WITH f AS (SELECT count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS ksum
      |  FROM orders WHERE o_orderstatus = 'F'),
      |o AS (SELECT count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS ksum
      |  FROM orders WHERE o_orderstatus = 'O'),
      |p AS (SELECT count(*) AS n, CAST(coalesce(sum(o_orderkey), 0) AS BIGINT) AS ksum
      |  FROM orders WHERE o_orderstatus = 'P')
      |SELECT 1 AS gen, f.n AS n_rows, f.ksum AS key_sum,
      |  FALSE AS retained_after_expire FROM f
      |UNION ALL SELECT 2, f.n + o.n, f.ksum + o.ksum, FALSE FROM f, o
      |UNION ALL SELECT 3, p.n, p.ksum, TRUE FROM p""".stripMargin) { (s, dir) =>
    import graft.ingest.ManifestCommit
    val out = tmpDir("graft_q117_")
    val root = s"$out/orders"
    val orders = Tables.load(s, dir, "orders")
    def commitStatus(status: String, replace: Boolean): Unit = {
      val d = ManifestCommit.newDataDir(root)
      orders.filter(col("o_orderstatus") === status).write.parquet(d)
      if (replace) ManifestCommit.commitReplace(s, root, Seq(d), pruneDisplaced = false)
      else ManifestCommit.commitAppend(s, root, d)
    }
    commitStatus("F", replace = true)  // gen 1
    commitStatus("O", replace = false) // gen 2 = gen 1 + delta
    commitStatus("P", replace = true)  // gen 3 displaces both
    val stats = Seq(1, 2, 3).map { g =>
      val r = ManifestCommit.readAt(s, root, g.toLong)
        .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("k"))
        .collect()(0)
      (g, r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    ManifestCommit.expireSnapshots(s, root, keepLast = 1)
    val retained = ManifestCommit.snapshotGens(s, root).toSet
    import s.implicits._
    stats.map { case (g, n, k) => (g, n, k, retained.contains(g.toLong)) }
      .toDF("gen", "n_rows", "key_sum", "retained_after_expire")
  }

  /** q110 — Deequ-style declarative constraint suite over `lineitem`,
    * ALL checks evaluated in ONE aggregate pass (single scan + single
    * partial/final combine — the reference's per-table post-ingest
    * validation, `tools/dynamic_pipeline_validator.py:244-323`,
    * generalized to column-level constraints). The synthetic fixture
    * genuinely violates (l_orderkey, l_linenumber) uniqueness, so the
    * report demonstrably CATCHES a failing constraint (passed=0) rather
    * than rubber-stamping. Metrics are count/min/max/distinct only —
    * no float SUM — so the report is bit-deterministic under any row
    * order. */
  val q110_quality_constraints = Q(
    "q110_quality_constraints",
    """WITH a AS (
      |  SELECT count(*) AS n,
      |    count(l_shipdate) AS n_ship,
      |    count(DISTINCT (l_orderkey, l_linenumber)) AS n_pk,
      |    min(l_quantity) AS min_qty,
      |    max(l_discount) AS max_disc,
      |    count(DISTINCT l_returnflag) AS n_rf
      |  FROM lineitem)
      |SELECT check_name, metric, CAST(passed AS BIGINT) AS passed FROM (
      |  SELECT 'completeness_l_shipdate' AS check_name,
      |      CAST(n_ship AS DOUBLE) / n AS metric,
      |      CASE WHEN CAST(n_ship AS DOUBLE) / n >= 0.99 THEN 1 ELSE 0 END AS passed
      |    FROM a
      |  UNION ALL SELECT 'distinct_l_returnflag', CAST(n_rf AS DOUBLE),
      |      CASE WHEN n_rf <= 3 THEN 1 ELSE 0 END FROM a
      |  UNION ALL SELECT 'max_l_discount', CAST(max_disc AS DOUBLE),
      |      CASE WHEN max_disc <= 0.1 THEN 1 ELSE 0 END FROM a
      |  UNION ALL SELECT 'min_l_quantity', CAST(min_qty AS DOUBLE),
      |      CASE WHEN min_qty >= 1.0 THEN 1 ELSE 0 END FROM a
      |  UNION ALL SELECT 'row_count', CAST(n AS DOUBLE),
      |      CASE WHEN n >= 1000 THEN 1 ELSE 0 END FROM a
      |  UNION ALL SELECT 'uniqueness_l_orderkey_l_linenumber',
      |      CAST(n_pk AS DOUBLE) / n,
      |      CASE WHEN n_pk = n THEN 1 ELSE 0 END FROM a)
      |ORDER BY check_name""".stripMargin) { (s, dir) =>
    import graft.ops.Validate
    import graft.ops.Validate._
    Validate.report(Tables.load(s, dir, "lineitem"), Seq(
      Completeness("l_shipdate", 0.99),
      Uniqueness(Seq("l_orderkey", "l_linenumber")),
      MinBound("l_quantity", 1.0),
      MaxBound("l_discount", 0.1),
      DistinctCountAtMost("l_returnflag", 3),
      RowCountAtLeast(1000)))
  }

  /** §2.9/S5 — multi-topic demux through ONE stream: the reference's
    * consumer subscribes to every `dbserver_default.archivos.*` topic and
    * infers the target table from the topic name (last dot segment for
    * `server.db.table` names, dots→underscores otherwise —
    * tools/kafka_to_clickhouse.py:155-187). Three topics ride one
    * (topic, value) stream — the Kafka source's exact column contract,
    * file stand-in per COVERAGE.md S5 — across two micro-batches, land
    * in three typed tables, each then collapsed FINAL. An unroutable
    * fourth topic is skipped. The oracle is the golden union: the update
    * chain collapses in clientes, the parity-mode delete is dropped in
    * pedidos, and the 2-segment topic lands under its folded name. */
  val q113_topic_routing = Q(
    "q113_topic_routing",
    """WITH g(tbl, id, nombre, ts_ms) AS (VALUES
      |  ('clientes', 1, 'c1_v2', 200),
      |  ('clientes', 2, 'c2', 101),
      |  ('metrics_heartbeat', 100, 'hb', 103),
      |  ('pedidos', 10, 'p10', 102),
      |  ('pedidos', 11, 'p11', 202))
      |SELECT tbl, CAST(id AS BIGINT) AS id, nombre,
      |  CAST(ts_ms AS BIGINT) AS ts_ms
      |FROM g ORDER BY tbl, id""".stripMargin) { (s, _) =>
    import java.nio.file.{Files, Paths}
    val base = tmpDir("graft_route_q113_")
    val src = s"$base/src"; Files.createDirectories(Paths.get(src))
    val envSchema = StructType(Seq(
      StructField("topic", StringType, true),
      StructField("value", StringType, true)))
    def env(topic: String, after: String, op: String, ts: Long) =
      Row(topic, s"""{"before":null,"after":$after,"op":"$op","ts_ms":$ts}""")
    def writeBatch(name: String, rows: Row*): Unit =
      s.createDataFrame(
        new java.util.ArrayList[Row](java.util.Arrays.asList(rows: _*)), envSchema)
        .coalesce(1).write.mode("overwrite").parquet(s"$base/stage_$name")
        // staged then moved whole so the file stream sees each batch atomically
    writeBatch("b1",
      env("dbserver_default.archivos.clientes", """{"id":1,"nombre":"c1"}""", "c", 100),
      env("dbserver_default.archivos.clientes", """{"id":2,"nombre":"c2"}""", "c", 101),
      env("dbserver_default.archivos.pedidos", """{"id":10,"nombre":"p10"}""", "c", 102),
      env("metrics.heartbeat", """{"id":100,"nombre":"hb"}""", "c", 103))
    writeBatch("b2",
      env("dbserver_default.archivos.clientes", """{"id":1,"nombre":"c1_v2"}""", "u", 200),
      Row("dbserver_default.archivos.pedidos",
        """{"before":{"id":10},"after":null,"op":"d","ts_ms":201}"""),
      env("dbserver_default.archivos.pedidos", """{"id":11,"nombre":"p11"}""", "c", 202),
      env("dbserver_default.archivos.desconocida", """{"id":999,"nombre":"x"}""", "c", 203))
    val f = new org.apache.hadoop.fs.Path(src)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    Seq("b1", "b2").foreach { b =>
      f.listStatus(new org.apache.hadoop.fs.Path(s"$base/stage_$b"))
        .filter(_.getPath.getName.endsWith(".parquet"))
        .foreach(st => f.rename(st.getPath,
          new org.apache.hadoop.fs.Path(src, s"$b.parquet")))
    }
    val afterSchema = StructType(Seq(
      StructField("id", LongType, true), StructField("nombre", StringType, true)))
    val tables = Seq("clientes", "pedidos", "metrics_heartbeat")
      .map(t => t -> ((afterSchema, Seq("id")))).toMap
    val stream = s.readStream.schema(envSchema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    graft.streaming.CdcStream.routedUpsertQuery(
      stream, tables, s"$base/typed", s"$base/ckpt").awaitTermination()
    tables.keys.toSeq.sorted.map { t =>
      graft.streaming.CdcStream.finalView(s, s"$base/typed/$t", Seq("id"))
        .select(lit(t).as("tbl"), col("id"), col("nombre"), col("ts_ms"))
    }.reduce(_ unionByName _).orderBy("tbl", "id")
  }

  /** q123 — MERGE INTO with dir-level copy-on-write (`MergeInto`
    * scaladoc; the reference's row-level change path is ReplacingMergeTree
    * INSERT + FINAL, tools/ingest_runner.py:1598-1789 — here the merge is
    * a single full-outer join over ONLY the dirs the manifest's key stats
    * prove affected). `orders` is committed as three o_orderkey-sliced
    * dirs; the source updates prices in a band strictly inside the middle
    * slice, deletes its 'F' rows, and inserts shifted-key 'N' rows above
    * every slice — so exactly ONE of three dirs rewrites (pinned by the
    * `dirs_rewritten` column) and the merged table hash-matches a pure-SQL
    * reconstruction. Monetary sums ride decimal(30,2) to one final double
    * cast (q122 pattern); the slice bounds derive from max(o_orderkey) by
    * integer division, so the gate is scale-factor-proof. */
  val q123_merge_into = Q(
    "q123_merge_into",
    """WITH b AS (SELECT max(o_orderkey) AS maxk, max(o_orderkey) // 3 AS b1,
      |    (2 * max(o_orderkey)) // 3 AS b2 FROM orders),
      |bounds AS (SELECT maxk, b1 + (b2 - b1) // 4 AS lo,
      |    b2 - (b2 - b1) // 4 AS hi FROM b),
      |merged AS (
      |  SELECT o_orderkey, o_orderstatus, o_totalprice
      |  FROM orders, bounds WHERE o_orderkey NOT BETWEEN lo AND hi
      |  UNION ALL
      |  SELECT o_orderkey, o_orderstatus, o_totalprice + 1000
      |  FROM orders, bounds
      |  WHERE o_orderkey BETWEEN lo AND hi AND o_orderstatus <> 'F'
      |  UNION ALL
      |  SELECT o_orderkey + maxk + 1000, 'N', o_totalprice
      |  FROM orders, bounds WHERE o_orderkey <= 100)
      |SELECT o_orderstatus, count(*) AS n_rows,
      |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS price_sum,
      |  3 AS dirs_total, 1 AS dirs_rewritten
      |FROM merged GROUP BY o_orderstatus""".stripMargin) { (s, dir) =>
    import graft.ingest.{ManifestCommit, MergeInto}
    val root = tmpDir("graft_q123_") + "/orders"
    val orders = Tables.load(s, dir, "orders")
    val maxk = orders.agg(max("o_orderkey")).collect()(0).getLong(0) // one scalar
    val b1 = maxk / 3; val b2 = 2 * maxk / 3
    val lo = b1 + (b2 - b1) / 4; val hi = b2 - (b2 - b1) / 4
    // one write job + one stats pass for all three key-range dirs
    // (writeSliced), not 3 writes + 3 dirStats reads — gate latency is
    // sequential small-job count, not data size
    val sliceExpr = when(col("o_orderkey") <= b1, 0)
      .when(col("o_orderkey") <= b2, 1).otherwise(2)
    val dirs = ManifestCommit.writeSliced(s, root, orders, sliceExpr,
      Seq("o_orderkey"))
    ManifestCommit.commitReplace(s, root, dirs.map(_._1),
      pruneDisplaced = false, stats = dirs.toMap)
    val updates = orders.filter(col("o_orderkey").between(lo, hi))
      .withColumn("o_totalprice", col("o_totalprice") + 1000)
    val inserts = orders.filter(col("o_orderkey") <= 100)
      .withColumn("o_orderkey", col("o_orderkey") + maxk + 1000)
      .withColumn("o_orderstatus", lit("N"))
    val res = MergeInto.merge(s, root, updates.unionByName(inserts),
      Seq("o_orderkey"), deleteWhen = Some(col("o_orderstatus") === "F"))
    ManifestCommit.read(s, root)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_orderkey")).as("key_sum"),
        sum(col("o_totalprice").cast(DecimalType(30, 2)))
          .cast("double").as("price_sum"))
      .select(col("o_orderstatus"), col("n_rows"), col("key_sum"),
        col("price_sum"), lit(res.dirsTotal).as("dirs_total"),
        lit(res.dirsRewritten).as("dirs_rewritten"))
  }

  /** q124 — change data feed derived from table history (`ChangeFeed`
    * scaladoc; the reference consumes its change stream from Debezium
    * topics, tools/kafka_to_clickhouse.py:118-187 — a manifest table can
    * reconstruct the same insert/delete/update_pre/postimage rows from
    * two retained generations, reading ONLY the dir symmetric difference).
    * `orders` is committed as two key-sliced dirs, one merge step runs
    * (price updates in a band inside the upper slice, 'F' deletes,
    * shifted-key inserts), and the diff of the two generations is
    * aggregated per change type. The oracle reconstructs each change
    * class straight from `orders`, so every emitted row — including the
    * exact pre/post image pairing — is hash-pinned. */
  val q124_change_feed = Q(
    "q124_change_feed",
    """WITH b AS (SELECT max(o_orderkey) AS maxk,
      |    max(o_orderkey) // 2 AS b1 FROM orders),
      |bounds AS (SELECT maxk, b1 + (maxk - b1) // 4 AS lo,
      |    maxk - (maxk - b1) // 4 AS hi FROM b),
      |changes AS (
      |  SELECT 'delete' AS change_type, o_orderkey AS k, o_totalprice AS p
      |  FROM orders, bounds
      |  WHERE o_orderkey BETWEEN lo AND hi AND o_orderstatus = 'F'
      |  UNION ALL
      |  SELECT 'update_preimage', o_orderkey, o_totalprice
      |  FROM orders, bounds
      |  WHERE o_orderkey BETWEEN lo AND hi AND o_orderstatus <> 'F'
      |  UNION ALL
      |  SELECT 'update_postimage', o_orderkey, o_totalprice + 1000
      |  FROM orders, bounds
      |  WHERE o_orderkey BETWEEN lo AND hi AND o_orderstatus <> 'F'
      |  UNION ALL
      |  SELECT 'insert', o_orderkey + maxk + 1000, o_totalprice
      |  FROM orders, bounds WHERE o_orderkey <= 100)
      |SELECT change_type, count(*) AS n_rows,
      |  CAST(sum(k) AS BIGINT) AS key_sum,
      |  CAST(sum(CAST(p AS DECIMAL(30,2))) AS DOUBLE) AS price_sum
      |FROM changes GROUP BY change_type""".stripMargin) { (s, dir) =>
    import graft.ingest.{ChangeFeed, ManifestCommit, MergeInto}
    val root = tmpDir("graft_q124_") + "/orders"
    val orders = Tables.load(s, dir, "orders")
    val maxk = orders.agg(max("o_orderkey")).collect()(0).getLong(0) // one scalar
    val b1 = maxk / 2
    val lo = b1 + (maxk - b1) / 4; val hi = maxk - (maxk - b1) / 4
    val dirs = ManifestCommit.writeSliced(s, root, orders,
      when(col("o_orderkey") <= b1, 0).otherwise(1), Seq("o_orderkey"))
    ManifestCommit.commitReplace(s, root, dirs.map(_._1),
      pruneDisplaced = false, stats = dirs.toMap)
    val g1 = ManifestCommit.readManifest(s, root).get.gen
    val updates = orders.filter(col("o_orderkey").between(lo, hi))
      .withColumn("o_totalprice", col("o_totalprice") + 1000)
    val inserts = orders.filter(col("o_orderkey") <= 100)
      .withColumn("o_orderkey", col("o_orderkey") + maxk + 1000)
      .withColumn("o_orderstatus", lit("N"))
    MergeInto.merge(s, root, updates.unionByName(inserts),
      Seq("o_orderkey"), deleteWhen = Some(col("o_orderstatus") === "F"))
    val g2 = ManifestCommit.readManifest(s, root).get.gen
    ChangeFeed.diff(s, root, g1, g2, Seq("o_orderkey"))
      .groupBy(col(ChangeFeed.ChangeType).as("change_type"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_orderkey")).as("key_sum"),
        sum(col("o_totalprice").cast(DecimalType(30, 2)))
          .cast("double").as("price_sum"))
  }

  /** q125 — MERGE with SCHEMA EVOLUTION (`MergeInto.evolveSchema`; the
    * reference relaxes live table schemas the same way,
    * tools/fix_clickhouse_schemas.py:73-166 ALTERs columns while data
    * flows). `orders` is committed as three key-sliced dirs; the source
    * updates a band strictly inside the middle slice AND carries a brand
    * new `o_channel` column. Exactly ONE dir rewrites (pinned) — the two
    * cold dirs stay byte-identical and never materialize the column; the
    * manifest records the evolved union schema, so the final read plans
    * with an explicit schema (zero footer I/O) and null-fills the cold
    * dirs. The oracle reconstructs the merged table with channel NULL
    * outside the band, so the null-fill semantics are hash-pinned. */
  val q125_merge_schema_evolution = Q(
    "q125_merge_schema_evolution",
    """WITH b AS (SELECT max(o_orderkey) AS maxk, max(o_orderkey) // 3 AS b1,
      |    (2 * max(o_orderkey)) // 3 AS b2 FROM orders),
      |bounds AS (SELECT maxk, b1 + (b2 - b1) // 4 AS lo,
      |    b2 - (b2 - b1) // 4 AS hi FROM b),
      |merged AS (
      |  SELECT o_orderkey, o_orderstatus, o_totalprice,
      |    CAST(NULL AS VARCHAR) AS o_channel
      |  FROM orders, bounds WHERE o_orderkey NOT BETWEEN lo AND hi
      |  UNION ALL
      |  SELECT o_orderkey, o_orderstatus, o_totalprice + 1000,
      |    CASE WHEN o_orderkey % 2 = 0 THEN 'web' ELSE 'store' END
      |  FROM orders, bounds WHERE o_orderkey BETWEEN lo AND hi)
      |SELECT o_orderstatus, coalesce(o_channel, 'none') AS channel,
      |  count(*) AS n_rows,
      |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS price_sum,
      |  3 AS dirs_total, 1 AS dirs_rewritten
      |FROM merged GROUP BY 1, 2""".stripMargin) { (s, dir) =>
    import graft.ingest.{ManifestCommit, MergeInto}
    val root = tmpDir("graft_q125_") + "/orders"
    val orders = Tables.load(s, dir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val maxk = orders.agg(max("o_orderkey")).collect()(0).getLong(0) // one scalar
    val b1 = maxk / 3; val b2 = 2 * maxk / 3
    val lo = b1 + (b2 - b1) / 4; val hi = b2 - (b2 - b1) / 4
    val dirs = ManifestCommit.writeSliced(s, root, orders,
      when(col("o_orderkey") <= b1, 0).when(col("o_orderkey") <= b2, 1)
        .otherwise(2), Seq("o_orderkey"))
    ManifestCommit.commitReplace(s, root, dirs.map(_._1),
      pruneDisplaced = false, stats = dirs.toMap)
    val source = orders.filter(col("o_orderkey").between(lo, hi))
      .withColumn("o_totalprice", col("o_totalprice") + 1000)
      .withColumn("o_channel",
        when(col("o_orderkey") % 2 === 0, "web").otherwise("store"))
    val res = MergeInto.merge(s, root, source, Seq("o_orderkey"),
      evolveSchema = true)
    ManifestCommit.read(s, root)
      .groupBy(col("o_orderstatus"),
        coalesce(col("o_channel"), lit("none")).as("channel"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_orderkey")).as("key_sum"),
        sum(col("o_totalprice").cast(DecimalType(30, 2)))
          .cast("double").as("price_sum"))
      .select(col("o_orderstatus"), col("channel"), col("n_rows"),
        col("key_sum"), col("price_sum"), lit(res.dirsTotal).as("dirs_total"),
        lit(res.dirsRewritten).as("dirs_rewritten"))
  }

  /** q126 — the SOURCE-DRIVEN materialized-view chain (the reference
    * wires Kafka→MV targets, tools/gen_pipeline.py:295-299; here the
    * change stream is DERIVED from base-table history): MERGE the base
    * orders table (updates + deletes + inserts), `ChangeFeed.diff` the
    * two generations (reads only the dir symmetric difference), and
    * apply the feed to a standing rollup as SIGNED partial state
    * (`IncrementalAgg.applyChanges` — postimages +1, preimages/deletes
    * −1, so deletes RETRACT exactly — and min/max measures, which CANNOT
    * retract, through `applyChangesExact`: groups with a delete/preimage
    * in the feed ("dirty" — their min/max may have regressed) are
    * re-aggregated from the base restricted to exactly those groups,
    * while insert-only groups move monotonically from the feed alone).
    * The gate pins the partial-rescan contract: `rescanned` equals the
    * merged table's rows in dirty statuses ONLY (the insert-only 'N'
    * group is never rescanned), `dirty_groups` counts them, the stitched
    * rollup is 1 part, the merge 1 rewritten dir of 2, and the finalized
    * rollup — min/max included — hash-matches a from-scratch
    * re-aggregation of the merged table in DuckDB. */
  val q126_cdf_incremental_rollup = Q(
    "q126_cdf_incremental_rollup",
    """WITH b AS (SELECT max(o_orderkey) AS maxk,
      |    max(o_orderkey) // 2 AS b1 FROM orders),
      |bounds AS (SELECT maxk, b1 + (maxk - b1) // 4 AS lo,
      |    maxk - (maxk - b1) // 4 AS hi FROM b),
      |merged AS (
      |  SELECT o_orderkey, o_orderstatus, o_totalprice
      |  FROM orders, bounds WHERE o_orderkey NOT BETWEEN lo AND hi
      |  UNION ALL
      |  SELECT o_orderkey, o_orderstatus, o_totalprice + 1000
      |  FROM orders, bounds
      |  WHERE o_orderkey BETWEEN lo AND hi AND o_orderstatus <> 'F'
      |  UNION ALL
      |  SELECT o_orderkey + maxk + 1000, 'N', o_totalprice
      |  FROM orders, bounds WHERE o_orderkey <= 100),
      |dirty AS (SELECT DISTINCT o_orderstatus FROM orders, bounds
      |  WHERE o_orderkey BETWEEN lo AND hi)
      |SELECT o_orderstatus, count(*) AS n_rows,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS price_sum,
      |  min(o_totalprice) AS price_min, max(o_totalprice) AS price_max,
      |  1 AS rollup_parts, 1 AS base_dirs_rewritten,
      |  (SELECT count(*) FROM merged
      |     WHERE o_orderstatus IN (SELECT o_orderstatus FROM dirty)) AS rescanned,
      |  (SELECT count(*) FROM dirty) AS dirty_groups
      |FROM merged GROUP BY 1""".stripMargin) { (s, dir) =>
    import graft.ingest.{ChangeFeed, IncrementalAgg, ManifestCommit, MergeInto}
    import graft.ingest.IncrementalAgg.Measure
    val scratch = tmpDir("graft_q126_")
    val base = scratch + "/orders"
    val rollup = scratch + "/rollup"
    val orders = Tables.load(s, dir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val maxk = orders.agg(max("o_orderkey")).collect()(0).getLong(0) // one scalar
    val b1 = maxk / 2
    val lo = b1 + (maxk - b1) / 4; val hi = maxk - (maxk - b1) / 4
    val dirs = ManifestCommit.writeSliced(s, base, orders,
      when(col("o_orderkey") <= b1, 0).otherwise(1), Seq("o_orderkey"))
    ManifestCommit.commitReplace(s, base, dirs.map(_._1),
      pruneDisplaced = false, stats = dirs.toMap)
    val g1 = ManifestCommit.readManifest(s, base).get.gen
    val keys = Seq("o_orderstatus")
    val measures = Seq(
      Measure("n_rows", "*", "count"),
      Measure("price_sum", "o_totalprice", "sum_dec"),
      Measure("price_min", "o_totalprice", "min"),
      Measure("price_max", "o_totalprice", "max"))
    // initial rollup load: one batch over the base's current generation —
    // content-identical to the frame just committed, so feed it from the
    // in-memory plan instead of re-listing and re-reading the parquet we
    // wrote a moment ago (one fewer read per gate run; same rows)
    IncrementalAgg.appendBatch(s, rollup, orders, keys, measures)
    // merge the base: band updates, 'F' deletes in band, shifted inserts
    val updates = orders.filter(col("o_orderkey").between(lo, hi))
      .withColumn("o_totalprice", col("o_totalprice") + 1000)
    val inserts = orders.filter(col("o_orderkey") <= 100)
      .withColumn("o_orderkey", col("o_orderkey") + maxk + 1000)
      .withColumn("o_orderstatus", lit("N"))
    val res = MergeInto.merge(s, base, updates.unionByName(inserts),
      Seq("o_orderkey"), deleteWhen = Some(col("o_orderstatus") === "F"))
    val g2 = ManifestCommit.readManifest(s, base).get.gen
    // derive the change stream; maintain the rollup — min/max included —
    // with dirty-group-only base rescans (applyChangesExact)
    // the feed appears as THREE subtrees inside applyChangesExact's one
    // stitch job (retractable delta, monotone candidates, dirty keys) —
    // cache it so the symmetric-difference join computes once, not thrice
    val feed = ChangeFeed.diff(s, base, g1, g2, Seq("o_orderkey")).cache()
    val applied = try IncrementalAgg.applyChangesExact(s, rollup, feed,
      ManifestCommit.read(s, base), keys, measures)
    finally { feed.unpersist(); () }
    val parts = ManifestCommit.readManifest(s, rollup).get.dirs.size
    IncrementalAgg.finalizeState(s, rollup, keys, measures,
      dropEmptyGroups = true)
      .select(col("o_orderstatus"), col("n_rows"), col("price_sum"),
        col("price_min"), col("price_max"),
        lit(parts).as("rollup_parts"),
        lit(res.dirsRewritten).as("base_dirs_rewritten"),
        lit(applied.baseRowsRescanned).as("rescanned"),
        lit(applied.dirtyGroups).as("dirty_groups"))
  }

  /** q128 — OPTIMIZE ZORDER over the manifest (`Optimize.zorderCompact`;
    * Delta OPTIMIZE ZORDER / Iceberg sort-order rewrite, public designs —
    * the reference's 1-D analogue is the MergeTree ORDER BY rewrite,
    * tools/ingest_runner.py:1529-1592). Orders lands as four
    * key-MODULO-sliced dirs — every dir spans the FULL range of both
    * columns, so the manifest stats can prune nothing. One z-order
    * rewrite later, each dir is a rectangle in (o_orderkey, o_custkey)
    * space; a quarter-box conjunctive predicate then provably skips dirs
    * (`pruned_effective` pinned 1), and the aggregate computed over ONLY
    * the kept dirs hash-matches DuckDB's full-table filter — pruning
    * changed the I/O, not the answer. */
  val q128_zorder_optimize = Q(
    "q128_zorder_optimize",
    """WITH b AS (SELECT max(o_orderkey) // 4 AS k_hi,
      |    max(o_custkey) // 4 AS c_hi FROM orders)
      |SELECT count(*) AS n_rows,
      |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS price_sum,
      |  1 AS pruned_effective
      |FROM orders, b WHERE o_orderkey <= k_hi AND o_custkey <= c_hi""".stripMargin) { (s, dir) =>
    import graft.ingest.{ManifestCommit, Optimize}
    val root = tmpDir("graft_q128_") + "/orders"
    val orders = Tables.load(s, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val Row(maxkAny, maxcAny) =
      orders.agg(max("o_orderkey"), max("o_custkey")).collect()(0)
    val maxk = maxkAny.asInstanceOf[Long]; val maxc = maxcAny.asInstanceOf[Long]
    // modulo slicing: every dir spans the full range of BOTH columns
    val dirs = ManifestCommit.writeSliced(s, root, orders,
      col("o_orderkey") % 4, Seq("o_orderkey", "o_custkey"))
    ManifestCommit.commitReplace(s, root, dirs.map(_._1),
      pruneDisplaced = false, stats = dirs.toMap)
    Optimize.zorderCompact(s, root, "o_orderkey", "o_custkey", targetDirs = 8)
    val kHi = maxk / 4; val cHi = maxc / 4
    val (kept, total) = Optimize.resolvePrunedMulti(s, root, Seq(
      ("o_orderkey", None, Some(kHi.toString)),
      ("o_custkey", None, Some(cHi.toString))))
    s.read.parquet(kept: _*)
      .filter(col("o_orderkey") <= kHi && col("o_custkey") <= cHi)
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_orderkey")).as("key_sum"),
        sum(col("o_totalprice").cast(DecimalType(30, 2)))
          .cast("double").as("price_sum"))
      .select(col("n_rows"), col("key_sum"), col("price_sum"),
        (lit(kept.size) < lit(total)).cast("int").as("pruned_effective"))
  }

  /** q129 — DESCRIBE HISTORY over the manifest's retained snapshots
    * (`ManifestCommit.history`; public Delta/Iceberg commit-provenance
    * idea — the reference's closest analogue is the per-run audit trail,
    * tools/ingest_runner.py run reports): a four-step lifecycle
    * (replace → late-batch append → MERGE → OPTIMIZE ZORDER) and the
    * full provenance table is pinned — operation labels, live-dir
    * counts, per-step dir-level deltas, and the exact step where the
    * union schema starts being recorded. Footer-free: history reads only
    * the small snapshot manifests, never data. */
  val q129_manifest_history = Q(
    "q129_manifest_history",
    """SELECT * FROM (VALUES
      |  (CAST(1 AS BIGINT), 'replace', 2, CAST(2 AS BIGINT), CAST(0 AS BIGINT), FALSE),
      |  (CAST(2 AS BIGINT), 'append',  3, CAST(1 AS BIGINT), CAST(0 AS BIGINT), FALSE),
      |  (CAST(3 AS BIGINT), 'merge',   3, CAST(1 AS BIGINT), CAST(1 AS BIGINT), TRUE),
      |  (CAST(4 AS BIGINT), 'zorder',  2, CAST(2 AS BIGINT), CAST(3 AS BIGINT), TRUE)
      |) AS h(gen, operation, n_dirs, dirs_added, dirs_removed, schema_recorded)
      |ORDER BY gen""".stripMargin) { (s, dir) =>
    import graft.ingest.{ManifestCommit, MergeInto, Optimize}
    val root = tmpDir("graft_q129_") + "/orders"
    val orders = Tables.load(s, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val maxk = orders.agg(max("o_orderkey")).collect()(0).getLong(0) // one scalar
    val b1 = maxk / 2
    // gen 1: replace — two key-sliced dirs
    val dirs = ManifestCommit.writeSliced(s, root, orders,
      when(col("o_orderkey") <= b1, 0).otherwise(1), Seq("o_orderkey"))
    ManifestCommit.commitReplace(s, root, dirs.map(_._1),
      pruneDisplaced = false, stats = dirs.toMap)
    // gen 2: append — a late-arriving shifted batch above every slice
    val late = ManifestCommit.newDataDir(root)
    ManifestCommit.commitAppend(s, root, late,
      stats = ManifestCommit.writeDirWithStats(s, root,
        orders.filter(col("o_orderkey") <= 100)
          .withColumn("o_orderkey", col("o_orderkey") + maxk + 1000),
        late, Seq("o_orderkey")))
    // gen 3: merge — band update strictly inside the FIRST slice
    val lo = b1 / 4; val hi = b1 / 2
    MergeInto.merge(s, root,
      orders.filter(col("o_orderkey").between(lo, hi))
        .withColumn("o_totalprice", col("o_totalprice") + 1000),
      Seq("o_orderkey"))
    // gen 4: OPTIMIZE ZORDER into two range dirs
    Optimize.zorderCompact(s, root, "o_orderkey", "o_custkey", targetDirs = 2)
    ManifestCommit.history(s, root).orderBy("gen")
  }

  /** q130 — bloom-filter POINT-LOOKUP skipping
    * (`ManifestCommit.writeDirBloom`/`resolveBloom`; public Delta
    * bloom-index / Iceberg puffin idea): orders modulo-sliced into four
    * dirs — every dir spans the full key range, so min/max stats cannot
    * prune a `key = x` probe at all — then a ~KB bloom side file per dir
    * answers "definitely not here" and the probe reads (almost always)
    * ONE dir. The probed row itself is hash-matched against DuckDB's
    * full-table point query; `pruned_effective` pins that skipping
    * actually happened. Blooms live INSIDE their data dir (hidden `_`
    * file): immutability and lifetime inherited, parquet scans blind to
    * them. */
  val q130_bloom_point_lookup = Q(
    "q130_bloom_point_lookup",
    """WITH b AS (SELECT max(o_orderkey) // 3 AS cut FROM orders),
      |probe AS (SELECT max(o_orderkey) AS k FROM orders, b
      |  WHERE o_orderkey <= cut)
      |SELECT o.o_orderkey, o.o_custkey,
      |  CAST(CAST(o.o_totalprice AS DECIMAL(30,2)) AS DOUBLE) AS price,
      |  1 AS pruned_effective
      |FROM orders o, probe WHERE o.o_orderkey = probe.k""".stripMargin) { (s, dir) =>
    import graft.ingest.ManifestCommit
    val root = tmpDir("graft_q130_") + "/orders"
    val orders = Tables.load(s, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val maxk = orders.agg(max("o_orderkey")).collect()(0).getLong(0)
    // probe key GUARANTEED to exist: the largest key at or below maxk/3
    val probeKey = orders.filter(col("o_orderkey") <= maxk / 3)
      .agg(max("o_orderkey")).collect()(0).getLong(0)
    val perDir = orders.count() / 4 + 1
    val dirs = ManifestCommit.writeSliced(s, root, orders,
      col("o_orderkey") % 4, Seq("o_orderkey"))
    dirs.foreach { case (d, _) =>
      ManifestCommit.writeDirBloom(s, d, "o_orderkey", perDir, fpp = 0.01)
    }
    ManifestCommit.commitReplace(s, root, dirs.map(_._1),
      pruneDisplaced = false, stats = dirs.toMap)
    val (kept, total) = ManifestCommit.resolveBloom(s, root, "o_orderkey", probeKey)
    s.read.parquet(kept: _*)
      .filter(col("o_orderkey") === probeKey)
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice").cast(DecimalType(30, 2)).cast("double").as("price"),
        (lit(kept.size) < lit(total)).cast("int").as("pruned_effective"))
  }

  /** q131 — DELETION VECTORS / merge-on-read delete
    * (`MergeInto.deleteWhere`; public Delta DV / Iceberg delete-file
    * idea — the reference's delete path is the CDC tombstone collapse,
    * tools/kafka_to_clickhouse.py op='d' handling): a SPARSE delete
    * (every 97th key) scattered across all four key-sliced dirs is
    * copy-on-write's worst case — merge would rewrite the whole table.
    * deleteWhere instead writes one ~KB `_dv_*` key file per affected
    * dir and repoints the manifest: `dirs_added_by_delete` pinned 0 (no
    * data dir rewritten), `dvs_written` pinned 4. Reads subtract DVs via
    * per-dir broadcast anti-joins; a subsequent OPTIMIZE ZORDER
    * materializes the subtraction (`dvs_after_optimize` pinned 0). The
    * post-optimize aggregate hash-matches DuckDB's filtered full scan,
    * proving delete + materialization changed I/O shape, not answers. */
  val q131_deletion_vectors = Q(
    "q131_deletion_vectors",
    """SELECT o_orderstatus, count(*) AS n_rows,
      |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS price_sum,
      |  CAST(4 AS BIGINT) AS dvs_written,
      |  CAST(0 AS BIGINT) AS dirs_added_by_delete,
      |  0 AS dvs_after_optimize,
      |  1 AS dv_pushdown_ok
      |FROM orders WHERE o_orderkey % 97 <> 0
      |GROUP BY 1""".stripMargin) { (s, dir) =>
    import graft.ingest.{ManifestCommit, MergeInto, Optimize}
    val root = tmpDir("graft_q131_") + "/orders"
    val orders = Tables.load(s, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    val maxk = orders.agg(max("o_orderkey")).collect()(0).getLong(0)
    val cuts = Seq(maxk / 4, maxk / 2, 3 * maxk / 4)
    val dirs = ManifestCommit.writeSliced(s, root, orders,
      when(col("o_orderkey") <= cuts(0), 0)
        .when(col("o_orderkey") <= cuts(1), 1)
        .when(col("o_orderkey") <= cuts(2), 2).otherwise(3),
      Seq("o_orderkey"))
    ManifestCommit.commitReplace(s, root, dirs.map(_._1),
      pruneDisplaced = false, stats = dirs.toMap)
    val res = MergeInto.deleteWhere(s, root,
      orders.filter(col("o_orderkey") % 97 === 0).select("o_orderkey"))
    val addedByDelete = ManifestCommit.history(s, root)
      .filter(col("gen") === res.gen).collect()(0).getAs[Long]("dirs_added")
    // DATA FILTERS MUST STILL PUSH DOWN while the DVs are ACTIVE: dir
    // identity rides the deterministic `_metadata.file_path` (b5033cd) —
    // a regression to a nondeterministic projection (input_file_name)
    // strips PushedFilters from every DV-subtracted scan, silently
    // turning filtered reads into full scans. Pinned HERE, in a driver
    // correctness gate, not just a unit spec.
    val dvProbe = ManifestCommit.read(s, root)
      .filter(col("o_orderkey") > maxk / 2)
    val dvPlan = dvProbe.queryExecution.executedPlan.toString
    val dvPushOk =
      "PushedFilters: \\[[^\\]]*GreaterThan\\(o_orderkey".r
        .findFirstIn(dvPlan).isDefined
    Optimize.zorderCompact(s, root, "o_orderkey", "o_custkey", targetDirs = 4)
    val dvsAfter = ManifestCommit.readManifest(s, root).get.dvs.size
    ManifestCommit.read(s, root)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_orderkey")).as("key_sum"),
        sum(col("o_totalprice").cast(DecimalType(30, 2)))
          .cast("double").as("price_sum"))
      .select(col("o_orderstatus"), col("n_rows"), col("key_sum"),
        col("price_sum"), lit(res.dvsWritten.toLong).as("dvs_written"),
        lit(addedByDelete).as("dirs_added_by_delete"),
        lit(dvsAfter).as("dvs_after_optimize"),
        lit(if (dvPushOk) 1 else 0).as("dv_pushdown_ok"))
  }

  /** q132 — MINOR compaction (`Optimize.compactSmall`; the LSM-ish
    * small-file maintenance every streaming table needs — the
    * reference's analogue is scheduled OPTIMIZE FINAL,
    * tools/ingest_runner.py:1782-1787, which rewrites the WHOLE table):
    * one big base dir plus five micro-batch-sized delta dirs; folding
    * with a size threshold rewrites ONLY the five small dirs into one —
    * the big dir survives byte-identical (pinned via history:
    * dirs_removed = 5, not 6), dir count drops 6 → 2, and the table
    * hash-matches the union oracle. Steady-state cost of keeping dir
    * count flat is O(recent small dirs), never O(table). */
  val q132_minor_compaction = Q(
    "q132_minor_compaction",
    """WITH b AS (SELECT max(o_orderkey) AS maxk FROM orders),
      |appended AS (
      |  SELECT o_orderkey, o_totalprice FROM orders
      |  UNION ALL
      |  SELECT o_orderkey + maxk * (i + 1), o_totalprice + 10 * (i + 1)
      |  FROM orders, b, range(0, 5) r(i) WHERE o_orderkey <= 20)
      |SELECT count(*) AS n_rows,
      |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS price_sum,
      |  2 AS dirs_after, CAST(5 AS BIGINT) AS dirs_folded
      |FROM appended""".stripMargin) { (s, dir) =>
    import graft.ingest.{ManifestCommit, Optimize}
    val root = tmpDir("graft_q132_") + "/orders"
    val orders = Tables.load(s, dir, "orders")
      .select("o_orderkey", "o_totalprice")
    val maxk = orders.agg(max("o_orderkey")).collect()(0).getLong(0)
    val big = ManifestCommit.newDataDir(root)
    val bigStats = ManifestCommit.writeDirWithStats(s, root, orders, big,
      Seq("o_orderkey"))
    ManifestCommit.commitReplace(s, root, Seq(big),
      pruneDisplaced = false, stats = Map(big -> bigStats))
    // five micro-batch-sized appends
    (0 until 5).foreach { i =>
      val d = ManifestCommit.newDataDir(root)
      ManifestCommit.commitAppend(s, root, d,
        stats = ManifestCommit.writeDirWithStats(s, root,
          orders.filter(col("o_orderkey") <= 20)
            .withColumn("o_orderkey", col("o_orderkey") + maxk * (i + 1))
            .withColumn("o_totalprice", col("o_totalprice") + 10 * (i + 1)),
          d, Seq("o_orderkey")))
    }
    val gBefore = ManifestCommit.readManifest(s, root).get.gen
    // threshold well below the big dir, above the deltas
    val bigBytes = new org.apache.hadoop.fs.Path(big)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
      .getContentSummary(new org.apache.hadoop.fs.Path(big)).getLength
    val m = Optimize.compactSmall(s, root, smallBytes = bigBytes / 2)
    val folded = ManifestCommit.history(s, root)
      .filter(col("gen") === m.gen).collect()(0).getAs[Long]("dirs_removed")
    ManifestCommit.read(s, root)
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_orderkey")).as("key_sum"),
        sum(col("o_totalprice").cast(DecimalType(30, 2)))
          .cast("double").as("price_sum"))
      .select(col("n_rows"), col("key_sum"), col("price_sum"),
        lit(m.dirs.size).as("dirs_after"), lit(folded).as("dirs_folded"))
  }

  /** q133 — THREE-dimensional OPTIMIZE ZORDER (`Optimize.zorderCompactN`
    * over the N-ary `ZOrderKeyN` interleave): orders carries a derived
    * integer day column and lands modulo-sliced (every dir full-range on
    * all three dimensions — zero pruning possible); one 3-D z-rewrite
    * later, a conjunctive box on (o_orderkey, o_custkey, o_days) prunes
    * dirs (pinned) and the aggregate over only the kept dirs
    * hash-matches DuckDB's full filter. The per-dimension bit budget is
    * ⌊63/3⌋ = 21 bits — why the derived DAY count (≈2.5k values) is the
    * temporal dimension rather than an epoch-seconds cast, whose
    * low-21-bit wraparound would destroy locality. */
  val q133_zorder_3d = Q(
    "q133_zorder_3d",
    """WITH d AS (SELECT o_orderkey, o_custkey, o_totalprice,
      |    date_diff('day', DATE '1992-01-01', o_orderdate) AS o_days
      |  FROM orders),
      |b AS (SELECT max(o_orderkey) // 4 AS k_hi, max(o_custkey) // 4 AS c_hi,
      |    min(o_days) + (max(o_days) - min(o_days)) // 4 AS d_hi FROM d)
      |SELECT count(*) AS n_rows,
      |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS price_sum,
      |  1 AS pruned_effective
      |FROM d, b
      |WHERE o_orderkey <= k_hi AND o_custkey <= c_hi AND o_days <= d_hi""".stripMargin) { (s, dir) =>
    import graft.ingest.{ManifestCommit, Optimize}
    val root = tmpDir("graft_q133_") + "/orders"
    val orders = Tables.load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        datediff(col("o_orderdate"), lit("1992-01-01")).cast("long").as("o_days"))
    val Row(maxkAny, maxcAny, mindAny, maxdAny) = orders.agg(
      max("o_orderkey"), max("o_custkey"), min("o_days"), max("o_days"))
      .collect()(0)
    val maxk = maxkAny.asInstanceOf[Long]
    val maxc = maxcAny.asInstanceOf[Long]
    // the day dimension's box bound is RANGE-relative (the fixture's
    // dates start years after the epoch anchor, so max/4 would sit below
    // every row and the box would be empty)
    val dHi = mindAny.asInstanceOf[Long] +
      (maxdAny.asInstanceOf[Long] - mindAny.asInstanceOf[Long]) / 4
    val dirs = ManifestCommit.writeSliced(s, root, orders,
      col("o_orderkey") % 4, Seq("o_orderkey", "o_custkey", "o_days"))
    ManifestCommit.commitReplace(s, root, dirs.map(_._1),
      pruneDisplaced = false, stats = dirs.toMap)
    Optimize.zorderCompactN(s, root,
      Seq("o_orderkey", "o_custkey", "o_days"), targetDirs = 8)
    val bounds = Seq(
      ("o_orderkey", None, Some((maxk / 4).toString)),
      ("o_custkey", None, Some((maxc / 4).toString)),
      ("o_days", None, Some(dHi.toString)))
    val (kept, total) = Optimize.resolvePrunedMulti(s, root, bounds)
    s.read.parquet(kept: _*)
      .filter(col("o_orderkey") <= maxk / 4 && col("o_custkey") <= maxc / 4 &&
        col("o_days") <= dHi)
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_orderkey")).as("key_sum"),
        sum(col("o_totalprice").cast(DecimalType(30, 2)))
          .cast("double").as("price_sum"))
      .select(col("n_rows"), col("key_sum"), col("price_sum"),
        (lit(kept.size) < lit(total)).cast("int").as("pruned_effective"))
  }

  /** q134 — the month-partitioned REPLACING lifecycle, manifest-native
    * (`Optimize.compactMonths`; the reference's PARTITION BY toYYYYMM +
    * per-partition OPTIMIZE FINAL, tools/create_clickhouse_models.py:
    * 46-68 + ingest_runner.py:1782-1787 — here with zero directory
    * renames, so the whole lifecycle is object-store-safe): three
    * month-pure dirs, then two appended version batches (one single-
    * month, one spanning two months), then ONE per-partition collapse.
    * Pins: the untouched month survives byte-identical (history:
    * exactly 4 dirs removed — two month-2 parts, month 3, the
    * multi-month delta — and 2 added), dir count returns to one per
    * month, a month-bounded read prunes to ONE dir via the manifest
    * stats, and the collapsed latest-per-key table hash-matches the
    * DuckDB reconstruction of the version chain. */
  val q134_month_lifecycle = Q(
    "q134_month_lifecycle",
    """WITH mo3 AS (SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS mo
      |    FROM orders ORDER BY mo LIMIT 3),
      |mo2 AS (SELECT mo FROM mo3 ORDER BY mo LIMIT 1 OFFSET 1),
      |mo23 AS (SELECT mo FROM mo3 ORDER BY mo LIMIT 2 OFFSET 1),
      |base AS (SELECT o_orderkey AS k,
      |    strftime(o_orderdate, '%Y-%m') AS mo, o_totalprice AS p
      |  FROM orders WHERE strftime(o_orderdate, '%Y-%m') IN (SELECT mo FROM mo3)),
      |fin AS (SELECT k, mo, CASE
      |    WHEN mo IN (SELECT mo FROM mo23) AND k % 5 = 0 THEN p + 5000
      |    WHEN mo IN (SELECT mo FROM mo2) AND k % 3 = 0 THEN p + 1000
      |    ELSE p END AS pf FROM base)
      |SELECT mo, count(*) AS n_rows, CAST(sum(k) AS BIGINT) AS key_sum,
      |  CAST(sum(CAST(pf AS DECIMAL(30,2))) AS DOUBLE) AS price_sum,
      |  3 AS dirs_after, CAST(4 AS BIGINT) AS removed_at_compact,
      |  1 AS month2_dirs_scanned
      |FROM fin GROUP BY mo""".stripMargin) { (s, dir) =>
    import graft.ingest.{ManifestCommit, Optimize}
    val root = tmpDir("graft_q134_") + "/orders"
    val moCol = date_format(col("o_orderdate"), "yyyy-MM")
    val all0 = Tables.load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
    val months = all0.select(moCol.as("mo")).distinct()
      .orderBy("mo").limit(3).collect().map(_.getString(0)).toSeq
    val base = all0.filter(moCol.isin(months: _*)).withColumn("v", lit(0L))
    val statCols = Seq("o_orderdate", "o_orderkey")
    // one month-pure dir per month (single write job; moCol is the slice)
    val initial = ManifestCommit.writeSliced(s, root, base, moCol, statCols)
    ManifestCommit.commitReplace(s, root, initial.map(_._1),
      pruneDisplaced = false, stats = initial.toMap)
    // version batch 1: month-2 keys % 3, a SINGLE-month appended part
    val d1 = ManifestCommit.newDataDir(root)
    ManifestCommit.commitAppend(s, root, d1,
      stats = ManifestCommit.writeDirWithStats(s, root,
        base.filter(moCol === months(1) && col("o_orderkey") % 3 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + 1000)
          .withColumn("v", lit(1L)), d1, statCols))
    // version batch 2: keys % 5 across months 2 AND 3 — a delta that
    // spans partitions, as late-arriving data does
    val d2 = ManifestCommit.newDataDir(root)
    ManifestCommit.commitAppend(s, root, d2,
      stats = ManifestCommit.writeDirWithStats(s, root,
        base.filter(moCol.isin(months(1), months(2)) && col("o_orderkey") % 5 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + 5000)
          .withColumn("v", lit(2L)), d2, statCols))
    // ONE per-partition collapse; month 1 must not be touched
    val m = Optimize.compactMonths(s, root, "o_orderdate",
      Seq("o_orderkey"), Some("v"))
    val removed = ManifestCommit.history(s, root)
      .filter(col("gen") === m.gen).collect()(0).getAs[Long]("dirs_removed")
    // month-bounded read resolves to exactly one dir from manifest stats
    val (kept2, _) = ManifestCommit.resolvePruned(s, root, "o_orderdate",
      Some(ManifestCommit.temporalBound(s"${months(1)}-01")),
      Some(s"${months(1)}-31T23:59:59.999"))
    ManifestCommit.read(s, root)
      .groupBy(moCol.as("mo"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_orderkey")).as("key_sum"),
        sum(col("o_totalprice").cast(DecimalType(30, 2)))
          .cast("double").as("price_sum"))
      .select(col("mo"), col("n_rows"), col("key_sum"), col("price_sum"),
        lit(m.dirs.size).as("dirs_after"),
        lit(removed).as("removed_at_compact"),
        lit(kept2.size).as("month2_dirs_scanned"))
  }

  /** q135 — manifest-only COUNT(*) as a first-class gated query
    * (`ManifestCommit.tableRowCount` over [[ManifestCommit.RowCountStat]]
    * pseudo-stats — the single most common audit/BI probe, answered with
    * ZERO data I/O, zero footer reads, zero Spark jobs; the reference
    * gets the equivalent from ClickHouse's part-level count metadata).
    * The job meter pins the zero-jobs claim (`probe_jobs` = 0 in
    * the hashed output — a probe that ran ANY job reds the gate), and
    * the count itself hash-matches DuckDB's full count(*). */
  val q135_manifest_count = Q(
    "q135_manifest_count",
    """SELECT CAST(count(*) AS BIGINT) AS n_rows, 0 AS probe_jobs,
      |  1 AS from_manifest FROM orders""".stripMargin) { (s, dir) =>
    import graft.ingest.ManifestCommit
    val root = tmpDir("graft_q135_") + "/orders"
    val orders = Tables.load(s, dir, "orders")
      .select("o_orderkey", "o_totalprice")
    val dirs = ManifestCommit.writeSliced(s, root, orders,
      pmod(col("o_orderkey"), lit(4)),
      Seq("o_orderkey", ManifestCommit.RowCountStat))
    ManifestCommit.commitReplace(s, root, dirs.map(_._1),
      pruneDisplaced = false, stats = dirs.toMap)
    // the zero-jobs witness is scoped to THIS probe's meter window —
    // the gate harness runs queries concurrently on one SparkContext
    val probe = JobMeter.measure(s)(ManifestCommit.tableRowCount(s, root))
    val n = probe.value
    s.range(1).select(
      lit(n.getOrElse(-1L)).as("n_rows"),
      lit(probe.count).as("probe_jobs"),
      lit(if (n.isDefined) 1 else 0).as("from_manifest"))
  }

  /** q136 — the LATE-DATA DROP half of the watermark contract. The outer
    * -join gates (q112/q116/q118) pin null-emission AT the watermark;
    * this pins that rows arriving BEYOND it are dropped deterministically
    * — the classic silent-wrong-answer in production streaming (a
    * too-short watermark silently undercounts; the drop must be exact
    * and reproducible, never load-dependent).
    *
    * Replay shape: two sequential AvailableNow runs over ONE checkpoint
    * (the restart discipline q44 pins for CDC) — run 1 sees only the
    * on-time file (the final 12 hours); after it the checkpoint holds
    * wm = max(ts) − 30 min. The straggler file lands AFTER run 1, so
    * run 2 replays it against the persisted watermark: every straggler's
    * 10-minute window closed long before wm, so the late filter drops
    * ALL of them (wm never regresses). The sink therefore
    * holds exactly the on-time windows closed at the final watermark —
    * windows the ~9.9k stragglers would have populated appear NOWHERE,
    * and the oracle applies the same cutoff relationally
    * (window end ≤ wm, verified tie-free on this fixture: max ts has
    * microsecond precision, window ends are 10-minute-aligned).
    * `late_input_rows` pins that the replay really carried the
    * stragglers. Scale: state is one row per open (window, type) within
    * the 30-min horizon — drop-at-ingress means late floods cost zero
    * state and zero shuffle amplification. */
  val q136_stream_late_drop = Q(
    "q136_stream_late_drop",
    """WITH tm AS (SELECT max(ts) AS tmax FROM events),
      |a AS (SELECT ts, event_type FROM events, tm
      |  WHERE ts >= tmax - INTERVAL 12 HOUR),
      |late AS (SELECT count(*) AS n FROM events, tm
      |  WHERE ts < tmax - INTERVAL 12 HOUR)
      |SELECT event_type,
      |  strftime(time_bucket(INTERVAL 10 MINUTE, ts), '%Y-%m-%d %H:%M') AS w_start,
      |  count(*) AS n, (SELECT n FROM late) AS late_input_rows
      |FROM a, tm
      |WHERE time_bucket(INTERVAL 10 MINUTE, ts) + INTERVAL 10 MINUTE
      |  <= tmax - INTERVAL 30 MINUTE
      |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.streaming.Trigger
    val events = Tables.load(s, dir, "events").select("ts", "event_type")
    val tmax = events.agg(max("ts")).collect()(0).getTimestamp(0) // one scalar
    val cut = new java.sql.Timestamp(tmax.getTime - 12L * 3600 * 1000)
    val landing = tmpDir("graft_q136_src_")
    val scratch = tmpDir("graft_q136_stage_")
    // single-file batches (already-normalized timestamps, so the stream
    // needs no ts conversion)
    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val d = s"$scratch/$name"
      df.coalesce(1).write.parquet(d)
      val part = new java.io.File(d).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(landing, s"$name.parquet")); ()
    }
    stage(events.filter(col("ts") >= cut), "a_ontime")
    val schema = s.read.parquet(landing).schema
    val out = tmpDir("graft_q136_out_")
    val ckpt = tmpDir("graft_q136_ckpt_")
    val ss = streamingSession(s)
    def drain(): Unit = {
      val q = ss.readStream.schema(schema)
        .parquet(landing)
        .withWatermark("ts", "30 minutes")
        .groupBy(window(col("ts"), "10 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .writeStream
        .outputMode("append")
        .format("parquet")
        .option("path", s"$out/agg")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain() // run 1: on-time file only; checkpoint persists the watermark
    stage(events.filter(col("ts") < cut), "b_late")
    drain() // run 2: stragglers replay against the persisted watermark
    val lateRows = events.filter(col("ts") < cut).count()
    s.read.parquet(s"$out/agg").select(
      col("event_type"),
      date_format(col("w.start"), "yyyy-MM-dd HH:mm").as("w_start"),
      col("n"),
      lit(lateRows).as("late_input_rows"))
  }

  /** q137 — INCREMENTAL ANN index maintenance from the change feed: the
    * persisted LSH bucket index (q35's signature layout — deterministic
    * md5-derived hyperplanes, so re-bucketing a vector is reproducible
    * across jobs by construction) follows a corpus MERGE without any
    * rebuild. `ChangeFeed.diff` between the two corpus generations
    * drives the postings delta: delete/update_preimage keys leave the
    * index through a deletion-vector `deleteWhere` (merge-on-read — no
    * index dir rewrite), insert/update_postimage rows re-sign and
    * commitAppend as one delta dir. Cost is O(changes) against an index
    * of any size. The probe (bucket join + cosine top-5 over the
    * maintained index) hash-matches a FROM-SCRATCH index built over the
    * merged corpus in DuckDB, and the gate pins the maintenance shape:
    * postings removed/added counts and the index's generation count
    * (init + delete + append = 3 — a rebuild would be a replace).
    *
    * Scale: at a billion vectors the index is the only thing touched —
    * removals are DV writes against stats-pruned dirs, additions one
    * delta dir per refresh cycle, compacted by the ordinary
    * `compactSmall` cadence; the corpus itself is read only for the
    * changed rows (the feed's dir symmetric difference). */
  val q137_ann_incremental = {
    import graft.ops.Similarity
    val bitTerms = (0 until 6).map { b =>
      s"(CASE WHEN list_sum(list_transform(range(0, 64), i -> v[i+1] * ${Similarity.planeSqlDuck(b, "i")})) > 0 THEN ${1 << b} ELSE 0 END)"
    }.mkString("\n      |    + ")
    Q(
      "q137_ann_incremental",
      s"""WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |upd AS (SELECT vec_id, list_transform(v, x -> -x) AS v FROM e0
        |  WHERE vec_id BETWEEN 30 AND 60 AND vec_id % 7 != 0),
        |merged AS (
        |  SELECT vec_id, v FROM e0
        |  WHERE vec_id % 7 != 0 AND vec_id NOT BETWEEN 30 AND 60
        |  UNION ALL SELECT vec_id, v FROM upd
        |  UNION ALL SELECT vec_id + 10000, v FROM e0
        |  WHERE vec_id < 20 AND vec_id % 7 != 0),
        |sig AS (SELECT vec_id, v, $bitTerms AS bucket FROM merged),
        |q AS (SELECT vec_id AS qid, bucket AS qb, v AS qv FROM sig WHERE vec_id < 5),
        |c AS (SELECT vec_id AS nid, bucket AS nb, v AS nv FROM sig),
        |s AS (SELECT qid, nid, list_cosine_similarity(qv, nv) AS sim
        |  FROM q JOIN c ON nb = qb AND nid != qid),
        |cons AS (SELECT
        |  (SELECT count(*) FROM e0 WHERE vec_id % 7 = 0) +
        |    (SELECT count(*) FROM upd) AS removed,
        |  (SELECT count(*) FROM upd) +
        |    (SELECT count(*) FROM e0 WHERE vec_id < 20 AND vec_id % 7 != 0) AS added)
        |SELECT qid, rank, nid,
        |  (SELECT removed FROM cons) AS idx_removed,
        |  (SELECT added FROM cons) AS idx_added, 3 AS idx_gens
        |FROM (SELECT qid, nid,
        |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
        |  FROM s) WHERE rank <= 5""".stripMargin) { (s, dir) =>
      import graft.ingest.{ChangeFeed, ManifestCommit, MergeInto}
      val scratch = tmpDir("graft_q137_")
      val corpusRoot = scratch + "/corpus"
      val idxRoot = scratch + "/index"
      val emb = Tables.load(s, dir, "embeddings").select("vec_id", "embedding")
      // corpus as a 2-dir manifest table with key stats (feed-diffable)
      val cDirs = ManifestCommit.writeSliced(s, corpusRoot, emb,
        when(col("vec_id") < 250, 0).otherwise(1), Seq("vec_id"))
      ManifestCommit.commitReplace(s, corpusRoot, cDirs.map(_._1),
        pruneDisplaced = false, stats = cDirs.toMap)
      val g1 = ManifestCommit.readManifest(s, corpusRoot).get.gen
      // the persisted index: one signature row per vector
      def sigOf(df: DataFrame): DataFrame =
        df.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
          .select(col("vec_id"),
            Similarity.hyperplaneSig("v", bits = 6, dim = 64).as("bucket"))
      val iDir = ManifestCommit.newDataDir(idxRoot)
      val obsI = org.apache.spark.sql.Observation()
      sigOf(emb).observe(obsI,
        min("vec_id").as("mn"), max("vec_id").as("mx")).write.parquet(iDir)
      val mI = obsI.get // stats ride the write pass — no dirStats re-read
      ManifestCommit.commitReplace(s, idxRoot, Seq(iDir),
        pruneDisplaced = false,
        stats = Map(iDir -> Seq(ManifestCommit.ColStats(
          "vec_id", "num", mI("mn").toString, mI("mx").toString))))
      // corpus MERGE: sign-flip updates, modular deletes, shifted inserts
      val upd = emb.filter(col("vec_id").between(30, 60) && col("vec_id") % 7 =!= 0)
        .withColumn("embedding", transform(col("embedding"), x => -x))
      val del = emb.filter(col("vec_id") % 7 === 0)
      val ins = emb.filter(col("vec_id") < 20 && col("vec_id") % 7 =!= 0)
        .withColumn("vec_id", col("vec_id") + 10000)
      val src = upd.withColumn("__kill", lit(false))
        .unionByName(del.withColumn("__kill", lit(true)))
        .unionByName(ins.withColumn("__kill", lit(false)))
      MergeInto.merge(s, corpusRoot, src, Seq("vec_id"),
        deleteWhen = Some(col("__kill") === true))
      val g2 = ManifestCommit.readManifest(s, corpusRoot).get.gen
      // postings delta from the feed: DV-remove stale keys, append new
      // sigs. The feed backs BOTH the remove-key set and the appended
      // signatures — cache it so the symmetric-difference join computes
      // once; the append's count and vec_id stats ride the write pass
      // itself via observe (a post-write count + dirStats re-read were
      // two pure-latency jobs on this gate)
      val feed = ChangeFeed.diff(s, corpusRoot, g1, g2, Seq("vec_id")).cache()
      val removeKeys = feed.filter(col(ChangeFeed.ChangeType)
        .isin("delete", "update_preimage")).select("vec_id").distinct()
      val delRes = MergeInto.deleteWhere(s, idxRoot, removeKeys)
      val added = sigOf(feed.filter(col(ChangeFeed.ChangeType)
        .isin("insert", "update_postimage")).select("vec_id", "embedding"))
      val aDir = ManifestCommit.newDataDir(idxRoot)
      val obsA = org.apache.spark.sql.Observation()
      added.observe(obsA, count(lit(1)).as("n"),
        min("vec_id").as("mn"), max("vec_id").as("mx"))
        .write.parquet(aDir)
      feed.unpersist()
      val mA = obsA.get
      val nAdded = mA("n").asInstanceOf[Long]
      ManifestCommit.commitAppend(s, idxRoot, aDir,
        stats = if (nAdded == 0L) Nil else Seq(ManifestCommit.ColStats(
          "vec_id", "num", mA("mn").toString, mA("mx").toString)))
      val idxGen = ManifestCommit.readManifest(s, idxRoot).get.gen
      // probe through the MAINTAINED index (DVs apply at read)
      val idx = ManifestCommit.read(s, idxRoot)
      val merged = ManifestCommit.read(s, corpusRoot)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val qs = idx.join(merged.filter(col("vec_id") < 5), "vec_id")
        .select(col("vec_id").as("qid"), col("bucket").as("qb"), col("v").as("qv"))
      val cs = idx.join(merged, "vec_id")
        .select(col("vec_id").as("nid"), col("bucket").as("nb"), col("v").as("nv"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("qid").orderBy(col("sim").desc, col("nid"))
      cs.join(broadcast(qs), col("nb") === col("qb") && col("nid") =!= col("qid"))
        .withColumn("sim", Similarity.cosine(col("qv"), col("nv")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("qid"), col("rank"), col("nid"),
          lit(delRes.deleted).as("idx_removed"),
          lit(nAdded).as("idx_added"),
          lit(idxGen).cast("int").as("idx_gens"))
    }
  }

  /** q138 — the IVF half of incremental ANN maintenance (q137 covers the
    * LSH band index; IVF inverted lists are the other persisted index
    * family): the coarse quantizer is FROZEN at train time (the original
    * vectors 100..107, q49's deterministic centroids — corpus mutations
    * must not silently re-train it), the (nid, cid) list assignments are
    * a manifest table, and a corpus MERGE maintains them from the change
    * feed — stale keys DV-deleted, insert/postimage rows re-assigned
    * through the broadcast `NearestCentroids` argmin and appended as one
    * delta dir. The probe (nprobe=2 list join + exact cosine over
    * vectors fetched from the merged corpus) hash-matches a from-scratch
    * assignment of the merged corpus in DuckDB; removed/added counts and
    * the index generation count (init + delete + append = 3) pin that no
    * rebuild happened. Cost shape as q137: O(changes) against any index
    * size, vectors never stored in the index rows. */
  val q138_ivf_incremental = Q(
    "q138_ivf_incremental",
    """WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |upd AS (SELECT vec_id, list_transform(v, x -> -x) AS v FROM e0
      |  WHERE vec_id BETWEEN 30 AND 60 AND vec_id % 7 != 0),
      |merged AS (
      |  SELECT vec_id, v FROM e0
      |  WHERE vec_id % 7 != 0 AND vec_id NOT BETWEEN 30 AND 60
      |  UNION ALL SELECT vec_id, v FROM upd
      |  UNION ALL SELECT vec_id + 10000, v FROM e0
      |  WHERE vec_id < 20 AND vec_id % 7 != 0),
      |cent AS (SELECT vec_id AS cid, v AS cv FROM e0
      |  WHERE vec_id BETWEEN 100 AND 107),
      |dists AS (SELECT m.vec_id, m.v, cent.cid,
      |    list_sum(list_transform(range(1, 65), i -> (v[i]-cv[i])*(v[i]-cv[i]))) AS d
      |  FROM merged m CROSS JOIN cent),
      |lists AS (SELECT vec_id AS nid, cid FROM (SELECT vec_id, cid,
      |    row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS r FROM dists)
      |  WHERE r = 1),
      |probes AS (SELECT vec_id AS qid, cid FROM (SELECT vec_id, cid,
      |    row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS r FROM dists)
      |  WHERE r <= 2 AND vec_id < 5),
      |cand AS (SELECT p.qid, l.nid,
      |    list_cosine_similarity(eq.v, en.v) AS sim
      |  FROM probes p JOIN lists l USING (cid)
      |  JOIN merged eq ON eq.vec_id = p.qid
      |  JOIN merged en ON en.vec_id = l.nid
      |  WHERE l.nid != p.qid),
      |cons AS (SELECT
      |  (SELECT count(*) FROM e0 WHERE vec_id % 7 = 0) +
      |    (SELECT count(*) FROM upd) AS removed,
      |  (SELECT count(*) FROM upd) +
      |    (SELECT count(*) FROM e0 WHERE vec_id < 20 AND vec_id % 7 != 0) AS added)
      |SELECT qid, rank, nid,
      |  (SELECT removed FROM cons) AS idx_removed,
      |  (SELECT added FROM cons) AS idx_added, 3 AS idx_gens
      |FROM (SELECT qid, nid,
      |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
      |  FROM cand) WHERE rank <= 5""".stripMargin) { (s, dir) =>
    import graft.ingest.{ChangeFeed, ManifestCommit, MergeInto}
    val scratch = tmpDir("graft_q138_")
    val corpusRoot = scratch + "/corpus"
    val idxRoot = scratch + "/lists"
    val emb = Tables.load(s, dir, "embeddings").select("vec_id", "embedding")
    val cDirs = ManifestCommit.writeSliced(s, corpusRoot, emb,
      when(col("vec_id") < 250, 0).otherwise(1), Seq("vec_id"))
    ManifestCommit.commitReplace(s, corpusRoot, cDirs.map(_._1),
      pruneDisplaced = false, stats = cDirs.toMap)
    val g1 = ManifestCommit.readManifest(s, corpusRoot).get.gen
    // frozen coarse quantizer: the ORIGINAL 100..107 vectors, broadcast
    val centRows = emb.filter(col("vec_id").between(100, 107))
      .select(col("vec_id").cast("long"),
        col("embedding").cast("array<double>"))
      .collect()
    val bc = s.sparkContext.broadcast(graft.functions.CentroidMatrix(
      centRows.map(_.getLong(0)),
      centRows.map(_.getSeq[Double](1).toArray)))
    def assign(df: DataFrame, keep: Int): DataFrame =
      df.select(col("vec_id"),
        col("embedding").cast("array<double>").as("__v"))
        .select(col("vec_id"),
          explode(graft.functions.columns.nearestCentroids(
            col("__v"), bc, keep)).as("cid"))
    // persisted lists: (vec_id, cid), id-range stats for DV pruning
    val iDir = ManifestCommit.newDataDir(idxRoot)
    val iStats = ManifestCommit.writeDirWithStats(s, idxRoot, assign(emb, 1),
      iDir, Seq("vec_id"))
    ManifestCommit.commitReplace(s, idxRoot, Seq(iDir),
      pruneDisplaced = false, stats = Map(iDir -> iStats))
    // corpus MERGE (q137's mutation set)
    val upd = emb.filter(col("vec_id").between(30, 60) && col("vec_id") % 7 =!= 0)
      .withColumn("embedding", transform(col("embedding"), x => -x))
    val del = emb.filter(col("vec_id") % 7 === 0)
    val ins = emb.filter(col("vec_id") < 20 && col("vec_id") % 7 =!= 0)
      .withColumn("vec_id", col("vec_id") + 10000)
    MergeInto.merge(s, corpusRoot,
      upd.withColumn("__kill", lit(false))
        .unionByName(del.withColumn("__kill", lit(true)))
        .unionByName(ins.withColumn("__kill", lit(false))),
      Seq("vec_id"), deleteWhen = Some(col("__kill") === true))
    val g2 = ManifestCommit.readManifest(s, corpusRoot).get.gen
    // maintain the lists from the feed
    val feed = ChangeFeed.diff(s, corpusRoot, g1, g2, Seq("vec_id"))
    val removeKeys = feed.filter(col(ChangeFeed.ChangeType)
      .isin("delete", "update_preimage")).select("vec_id").distinct()
    val delRes = MergeInto.deleteWhere(s, idxRoot, removeKeys)
    val aDir = ManifestCommit.newDataDir(idxRoot)
    // stats + the appended-row count ride the write pass (observe):
    // the separate read-back count was one more pure-latency job
    val aStats = ManifestCommit.writeDirWithStats(s, idxRoot,
      assign(feed.filter(col(ChangeFeed.ChangeType)
        .isin("insert", "update_postimage")).select("vec_id", "embedding"), 1),
      aDir, Seq("vec_id", ManifestCommit.RowCountStat))
    val nAdded = aStats.find(_.col == ManifestCommit.RowCountStat)
      .map(_.min.toLong).getOrElse(0L)
    ManifestCommit.commitAppend(s, idxRoot, aDir, stats = aStats)
    val idxGen = ManifestCommit.readManifest(s, idxRoot).get.gen
    // probe through the MAINTAINED lists; vectors fetched from the corpus
    val merged = ManifestCommit.read(s, corpusRoot)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val lists = ManifestCommit.read(s, idxRoot)
      .select(col("vec_id").as("nid"), col("cid"))
      .join(merged.select(col("vec_id").as("nid"), col("v").as("nv")), "nid")
    val probes = assign(
      ManifestCommit.read(s, corpusRoot).filter(col("vec_id") < 5), 2)
      .select(col("vec_id").as("qid"), col("cid"))
      .join(merged.select(col("vec_id").as("qid"), col("v").as("qv")), "qid")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("sim").desc, col("nid"))
    lists.join(broadcast(probes), Seq("cid")).filter(col("nid") =!= col("qid"))
      .withColumn("sim", graft.ops.Similarity.cosine(col("qv"), col("nv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("qid"), col("rank"), col("nid"),
        lit(delRes.deleted).as("idx_removed"),
        lit(nAdded).as("idx_added"),
        lit(idxGen).cast("int").as("idx_gens"))
  }

  /** q139 — the metadata DELTA LOG under a long commit chain (the
    * public Delta/Iceberg log + checkpoint shape,
    * `ManifestCommit.writeManifest`). 20 successive commits build a
    * chain that crosses the forced-checkpoint cadence
    * (`CheckpointInterval` = 16), so the retained records must be
    * exactly 2 full checkpoints (gen 1 and gen 17) and 18 delta
    * records — pinned as integers in the hashed output, so a silent
    * fallback to full snapshots (or a broken cadence) reds the gate.
    * Retention then expires to the last 5 generations, which forces the
    * oldest KEPT delta record (gen 16) to be materialized into a full
    * checkpoint before its chain is deleted; the re-read after expiry
    * must still see every row. Logical content (row count / key sum
    * over all 20 dirs) hash-matches DuckDB on the raw table — the
    * physical metadata layout must be invisible to readers.
    *
    * 100-TB shape: the commit path this pins is what keeps metadata I/O
    * O(changes) per commit with an O(1)-byte CAS pointer at 10^5 dirs;
    * the data side is one write job + one grouped stats pass
    * (`writeSliced`) regardless of slice count. */
  val q139_delta_log = Q(
    "q139_delta_log",
    """SELECT 18 AS n_delta_records, 2 AS n_full_records,
      |  CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
      |  1 AS oldest_kept_full,
      |  CAST(count(*) AS BIGINT) AS rows_after_expire
      |FROM orders""".stripMargin) { (s, dir) =>
    import graft.ingest.ManifestCommit
    val root = tmpDir("graft_q139_") + "/orders"
    val orders = Tables.load(s, dir, "orders")
      .select("o_orderkey", "o_totalprice")
    // 20 range dirs from ONE write job + ONE stats pass...
    val dirs = ManifestCommit.writeSliced(s, root, orders,
      pmod(col("o_orderkey"), lit(20)),
      Seq("o_orderkey", ManifestCommit.RowCountStat))
    // ...installed as 20 SUCCESSIVE commits: one replace + 19 appends,
    // gen 1..20 — the long-chain shape of a streaming/maintenance writer
    ManifestCommit.commitReplace(s, root, Seq(dirs.head._1),
      pruneDisplaced = false, stats = Map(dirs.head))
    dirs.tail.foreach { case (d, st) =>
      ManifestCommit.commitAppend(s, root, d, stats = st)
    }
    val kinds = ManifestCommit.recordKinds(s, root)
    val nDelta = kinds.valuesIterator.count(_ == "delta")
    val nFull = kinds.valuesIterator.count(_ == "full")
    val agg = ManifestCommit.read(s, root)
      .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("k")).collect()(0)
    ManifestCommit.expireSnapshots(s, root, keepLast = 5)
    val oldestKept = ManifestCommit.snapshotGens(s, root).min
    val oldestFull =
      ManifestCommit.recordKinds(s, root).get(oldestKept).contains("full")
    val after = ManifestCommit.read(s, root).count()
    s.range(1).select(
      lit(nDelta).as("n_delta_records"),
      lit(nFull).as("n_full_records"),
      lit(agg.getLong(0)).as("n_rows"),
      lit(agg.getLong(1)).as("key_sum"),
      lit(if (oldestFull) 1 else 0).as("oldest_kept_full"),
      lit(after).as("rows_after_expire"))
  }

  /** q140 — manifest-only COUNT(*) THROUGH merge-on-read deletes
    * (`ManifestCommit.DvDeadStat`; the public Delta/Iceberg numRecords +
    * DV-cardinality idea). q135 pins the zero-job count on a clean
    * table; this pins the half that usually breaks it in production —
    * a `deleteWhere` repoints deletion vectors, and the delete path
    * records each dv's exact dead-row count in the same commit, so
    * `SELECT count(*)` keeps costing ZERO Spark jobs (metered by
    * `JobMeter`, both probes inside the hashed output) instead of
    * degrading to a full scan the moment rows are soft-deleted.
    *
    * 100-TB shape: COUNT(*) is the most common audit/BI probe; on a
    * dv-carrying table the alternative is scan-every-dir + anti-join
    * per dv. The counter rides the dv repoint commit — O(touched dirs)
    * metadata, no extra data pass beyond the count the delete already
    * takes for its own metering. */
  val q140_dv_count = Q(
    "q140_dv_count",
    """SELECT CAST(count(*) AS BIGINT) AS n_before,
      |  CAST(count(*) FILTER (WHERE o_orderkey % 97 <> 0) AS BIGINT) AS n_after,
      |  0 AS probe_jobs, 1 AS from_manifest
      |FROM orders""".stripMargin) { (s, dir) =>
    import graft.ingest.{ManifestCommit, MergeInto}
    val root = tmpDir("graft_q140_") + "/orders"
    val orders = Tables.load(s, dir, "orders")
      .select("o_orderkey", "o_totalprice")
    val dirs = ManifestCommit.writeSliced(s, root, orders,
      pmod(col("o_orderkey"), lit(4)),
      Seq("o_orderkey", ManifestCommit.RowCountStat))
    ManifestCommit.commitReplace(s, root, dirs.map(_._1),
      pruneDisplaced = false, stats = dirs.toMap)
    val before = ManifestCommit.tableRowCount(s, root)
    MergeInto.deleteWhere(s, root,
      orders.filter(pmod(col("o_orderkey"), lit(97)) === 0)
        .select("o_orderkey"))
    // the post-delete probe runs inside its own meter window — the
    // q135 discipline
    val probe = JobMeter.measure(s)(ManifestCommit.tableRowCount(s, root))
    val after = probe.value
    s.range(1).select(
      lit(before.getOrElse(-1L)).as("n_before"),
      lit(after.getOrElse(-1L)).as("n_after"),
      lit(probe.count).as("probe_jobs"),
      lit(if (before.isDefined && after.isDefined) 1 else 0).as("from_manifest"))
  }

  /** q147 — incremental table REPLICATION via change-feed consumption
    * (the public Delta readChangeFeed + startingVersion shape:
    * `ChangeFeed.consume` reads only the delta between a durable
    * consumer CURSOR and the live generation — O(changed dirs), never
    * O(table)). Sync 1 is the initial-snapshot-as-inserts contract;
    * sync 2 spans a MERGE (updates + inserts) AND a merge-on-read
    * delete in ONE consume, applied to the replica as MERGE + delete;
    * then the batch is RE-APPLIED without advancing the cursor (the
    * crash-between-apply-and-advance window) and the replica's content
    * must not move — at-least-once delivery × content-idempotent apply
    * = exactly-once contents. Final replica state hash-matches DuckDB
    * computing the same mutations relationally; per-change-type counts
    * and the drained-cursor probe are pinned inside the output.
    *
    * 100-TB shape: each sync's cost follows the CHANGED dir set (the
    * merge rewrote 4 dirs, the delete repointed a DV) — a replica of a
    * 100 TB table syncs minutes of changes in minutes, never rescans
    * the table; retention is sized to the slowest consumer's lag. */
  val q147_cdf_replication = Q(
    "q147_cdf_replication",
    """WITH fin AS (
      |  SELECT o_orderkey,
      |    CASE WHEN o_orderkey % 101 = 0 THEN o_totalprice + 1000
      |         ELSE o_totalprice END AS p
      |  FROM orders WHERE o_orderkey % 97 <> 0
      |  UNION ALL
      |  SELECT o_orderkey + 100000000, o_totalprice * 2
      |  FROM orders WHERE o_orderkey % 89 = 0)
      |SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |  cast(sum(cast(p as decimal(18,2))) as double) AS sum_price,
      |  (SELECT CAST(count(*) AS BIGINT) FROM orders
      |     WHERE o_orderkey % 89 = 0) AS n_ins,
      |  (SELECT CAST(count(*) AS BIGINT) FROM orders
      |     WHERE o_orderkey % 97 = 0) AS n_del,
      |  (SELECT CAST(count(*) AS BIGINT) FROM orders
      |     WHERE o_orderkey % 101 = 0 AND o_orderkey % 97 <> 0) AS n_upd,
      |  1 AS replay_same, 1 AS drained
      |FROM fin""".stripMargin) { (s, dir) =>
    import graft.ingest.{ChangeFeed, ManifestCommit, MergeInto}
    val base = tmpDir("graft_q147_")
    val srcRoot = base + "/src"
    val repRoot = base + "/replica"
    val cursor = base + "/cursor"
    val orders = Tables.load(s, dir, "orders").select("o_orderkey", "o_totalprice")
    val dirs = ManifestCommit.writeSliced(s, srcRoot, orders,
      pmod(col("o_orderkey"), lit(4)),
      Seq("o_orderkey", ManifestCommit.RowCountStat))
    ManifestCommit.commitReplace(s, srcRoot, dirs.map(_._1),
      pruneDisplaced = false, stats = dirs.toMap, schema = Some(orders.schema))

    // sync 1: initial snapshot → replica, cursor advanced after apply
    val c1 = ChangeFeed.consume(s, srcRoot, cursor, Seq("o_orderkey")).get
    assert(c1.fromGen.isEmpty)
    val d0 = ManifestCommit.newDataDir(repRoot)
    val d0Stats = ManifestCommit.writeDirWithStats(s, repRoot,
      c1.changes.drop(ChangeFeed.ChangeType), d0, Seq("o_orderkey"))
    ManifestCommit.commitReplace(s, repRoot, Seq(d0), pruneDisplaced = false,
      stats = Map(d0 -> d0Stats),
      schema = Some(orders.schema))
    ChangeFeed.advanceCursor(s, cursor, c1.toGen)

    // source mutations: MERGE (update %101 → +1000, insert %89 clones
    // at +1e8) then merge-on-read delete of %97
    val updates = orders.filter(pmod(col("o_orderkey"), lit(101)) === 0)
      .select(col("o_orderkey"), (col("o_totalprice") + 1000.0).as("o_totalprice"))
    val inserts = orders.filter(pmod(col("o_orderkey"), lit(89)) === 0)
      .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
        (col("o_totalprice") * 2.0).as("o_totalprice"))
    MergeInto.merge(s, srcRoot, updates.unionByName(inserts), Seq("o_orderkey"))
    MergeInto.deleteWhere(s, srcRoot,
      orders.filter(pmod(col("o_orderkey"), lit(97)) === 0).select("o_orderkey"))

    // sync 2: ONE consume spanning both mutations
    val c2 = ChangeFeed.consume(s, srcRoot, cursor, Seq("o_orderkey")).get
    val ch = c2.changes.cache()
    val byType = ch.groupBy(ChangeFeed.ChangeType).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // ONE merge per sync: upserts AND deletes fold into a single
    // full-outer join + commit (ChangeFeed.applyTo) — half the
    // scheduler latency of the naive MERGE-then-delete apply
    def applyBatch(): Unit = { ChangeFeed.applyTo(s, repRoot, ch,
      Seq("o_orderkey")); () }
    def state(): (Long, Double) = {
      val r = ManifestCommit.read(s, repRoot).agg(
        count(lit(1)),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")).collect()(0)
      (r.getLong(0), r.getDouble(1))
    }
    applyBatch()
    val (n1, p1) = state()
    // crash replay: the cursor was NOT advanced yet; the batch re-applies
    applyBatch()
    val (n2, p2) = state()
    ch.unpersist()
    ChangeFeed.advanceCursor(s, cursor, c2.toGen)
    val drained = ChangeFeed.consume(s, srcRoot, cursor, Seq("o_orderkey")).isEmpty
    s.range(1).select(
      lit(n1).as("n_rows"), lit(p1).as("sum_price"),
      lit(byType.getOrElse("insert", 0L)).as("n_ins"),
      lit(byType.getOrElse("delete", 0L)).as("n_del"),
      lit(byType.getOrElse("update_postimage", 0L)).as("n_upd"),
      lit(if (n1 == n2 && p1 == p2) 1 else 0).as("replay_same"),
      lit(if (drained) 1 else 0).as("drained"))
  }

  /** q150 — schema evolution THROUGH change-feed replication: the source
    * table gains a column mid-stream via a schema-evolving MERGE
    * (`evolveSchema = true`, the q125 contract) and a replica syncing via
    * `ChangeFeed.consume` must pick it up without a re-snapshot — the
    * classic silent-drop in replication pipelines. The feed is emitted in
    * toGen's (evolved) schema, so pre-evolution preimages null-fill the
    * new column; the replica applies the batch with an evolving MERGE of
    * its own and its final state — INCLUDING the new column's null
    * backfill on rows no change ever touched — hash-matches DuckDB.
    * Pinned inside the output: the feed carries the evolved column, the
    * replica's cold rows read as NULL for it, and the cursor drains.
    *
    * 100-TB shape: evolution costs the replica exactly what it costs the
    * source — only the rewritten dir materializes the column; cold dirs
    * on BOTH sides null-fill at read through their recorded union
    * schemas. Sync cost stays O(changed dirs). */
  val q150_cdf_schema_evolution = Q(
    "q150_cdf_schema_evolution",
    """WITH fin AS (
      |  SELECT o_orderkey,
      |    CASE WHEN o_orderkey % 101 = 0 THEN o_totalprice + 1000
      |         ELSE o_totalprice END AS p,
      |    CASE WHEN o_orderkey % 101 = 0 THEN 'hot' ELSE NULL END AS f
      |  FROM orders)
      |SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |  cast(sum(cast(p as decimal(18,2))) as double) AS sum_price,
      |  CAST(count(f) AS BIGINT) AS n_flagged,
      |  CAST(sum(CASE WHEN f IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_flag,
      |  1 AS feed_has_col, 1 AS drained
      |FROM fin""".stripMargin) { (s, dir) =>
    import graft.ingest.{ChangeFeed, ManifestCommit, MergeInto}
    val base = tmpDir("graft_q150_")
    val srcRoot = base + "/src"
    val repRoot = base + "/replica"
    val cursor = base + "/cursor"
    val orders = Tables.load(s, dir, "orders").select("o_orderkey", "o_totalprice")
    val dirs = ManifestCommit.writeSliced(s, srcRoot, orders,
      pmod(col("o_orderkey"), lit(4)),
      Seq("o_orderkey", ManifestCommit.RowCountStat))
    ManifestCommit.commitReplace(s, srcRoot, dirs.map(_._1),
      pruneDisplaced = false, stats = dirs.toMap, schema = Some(orders.schema))

    // sync 1: initial snapshot → replica
    val c1 = ChangeFeed.consume(s, srcRoot, cursor, Seq("o_orderkey")).get
    val d0 = ManifestCommit.newDataDir(repRoot)
    val d0Stats = ManifestCommit.writeDirWithStats(s, repRoot,
      c1.changes.drop(ChangeFeed.ChangeType), d0, Seq("o_orderkey"))
    ManifestCommit.commitReplace(s, repRoot, Seq(d0), pruneDisplaced = false,
      stats = Map(d0 -> d0Stats),
      schema = Some(orders.schema))
    ChangeFeed.advanceCursor(s, cursor, c1.toGen)

    // source gains o_flag via a schema-evolving MERGE (%101 rows updated)
    val updates = orders.filter(pmod(col("o_orderkey"), lit(101)) === 0)
      .select(col("o_orderkey"),
        (col("o_totalprice") + 1000.0).as("o_totalprice"),
        lit("hot").as("o_flag"))
    MergeInto.merge(s, srcRoot, updates, Seq("o_orderkey"), evolveSchema = true)

    // sync 2 spans the evolution: the feed is in the evolved schema
    val c2 = ChangeFeed.consume(s, srcRoot, cursor, Seq("o_orderkey")).get
    val feedHasCol = c2.changes.columns.contains("o_flag")
    val upserts = c2.changes.filter(col(ChangeFeed.ChangeType)
      .isin("insert", "update_postimage")).drop(ChangeFeed.ChangeType)
    MergeInto.merge(s, repRoot, upserts, Seq("o_orderkey"), evolveSchema = true)
    ChangeFeed.advanceCursor(s, cursor, c2.toGen)
    val drained = ChangeFeed.consume(s, srcRoot, cursor, Seq("o_orderkey")).isEmpty

    val r = ManifestCommit.read(s, repRoot).agg(
      count(lit(1)),
      sum(col("o_totalprice").cast("decimal(18,2)")).cast("double"),
      count(col("o_flag")),
      sum(when(col("o_flag").isNull, 1L).otherwise(0L))).collect()(0)
    s.range(1).select(
      lit(r.getLong(0)).as("n_rows"), lit(r.getDouble(1)).as("sum_price"),
      lit(r.getLong(2)).as("n_flagged"), lit(r.getLong(3)).as("n_null_flag"),
      lit(if (feedHasCol) 1 else 0).as("feed_has_col"),
      lit(if (drained) 1 else 0).as("drained"))
  }

  /** q152 — STRUCTURED STREAMING table-to-table replication through the
    * registered `graft` format: `readStream.format("graft-table")` tails the
    * source's commit log (offsets ARE manifest generations; each batch
    * reads only the appended dirs, never the table) and
    * `writeStream.format("graft-table")` lands each batch as one
    * txn-ledgered `commitAppend` — no broker, no foreachBatch, the
    * stock streaming API end to end. Phases: initial-snapshot batch;
    * stop; two appends + a compaction (data-neutral — must NOT
    * re-deliver) drained by a RESTARTED query from the same checkpoint;
    * stop; one more append + restart. Exactly-once CONTENTS across both
    * restarts and the compaction are pinned by count==distinct and the
    * final replica hash-matching DuckDB over the full orders table.
    *
    * 100-TB shape: a tailing replica stream costs O(new commits) per
    * trigger at any table size; the snapshot batch is the only
    * table-sized read, and the sink's writer ledger makes crash-replay
    * free (dir staged, commit refused, no duplicate). */
  val q152_stream_table_replication = Q(
    "q152_stream_table_replication",
    """SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |  cast(sum(cast(o_totalprice as decimal(18,2))) as double) AS sum_price,
      |  CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
      |  1 AS ledgered
      |FROM orders""".stripMargin) { (s, dir) =>
    import graft.ingest.{ManifestCommit, Optimize}
    import org.apache.spark.sql.streaming.Trigger
    val base = tmpDir("graft_q152_")
    val srcRoot = base + "/src"
    val repRoot = base + "/replica"
    val ckpt = base + "/ckpt"
    val orders = Tables.load(s, dir, "orders").select("o_orderkey", "o_totalprice")
    def slice(i: Int) = orders.filter(pmod(col("o_orderkey"), lit(4)) === i)
    def appendSlice(i: Int): Unit = {
      val d = ManifestCommit.newDataDir(srcRoot)
      ManifestCommit.commitAppend(s, srcRoot, d,
        stats = ManifestCommit.writeDirWithStats(s, srcRoot, slice(i), d,
          Seq("o_orderkey", ManifestCommit.RowCountStat)))
      ()
    }
    val d0 = ManifestCommit.newDataDir(srcRoot)
    val d0Stats = ManifestCommit.writeDirWithStats(s, srcRoot, slice(0), d0,
      Seq("o_orderkey", ManifestCommit.RowCountStat))
    ManifestCommit.commitReplace(s, srcRoot, Seq(d0), pruneDisplaced = false,
      stats = Map(d0 -> d0Stats),
      schema = Some(orders.schema))
    def drain(): Unit = {
      val q = s.readStream.format("graft-table").load(srcRoot)
        .writeStream.format("graft-table")
        .option("txnAppId", "q152-replicator")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start(repRoot)
      q.awaitTermination()
    }
    drain() // batch 0: the snapshot of slice 0
    appendSlice(1); appendSlice(2)
    Optimize.compactSmall(s, srcRoot, smallBytes = 128L << 20)
    drain() // restart from checkpoint; compaction must not re-deliver
    appendSlice(3)
    drain() // second restart
    val m = ManifestCommit.readManifest(s, repRoot).get
    val ledgered = m.txns.get("q152-replicator").exists(_ >= 0L)
    ManifestCommit.read(s, repRoot).agg(
      count(lit(1)).as("n_rows"),
      sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("sum_price"),
      countDistinct(col("o_orderkey")).as("n_distinct"))
      .withColumn("ledgered", lit(if (ledgered) 1 else 0))
  }

  /** q153 — streaming CHANGE DATA FEED: `readStream.format("graft-table")`
    * with `readChangeFeed=true` turns the table's history into a live
    * retraction stream — per-commit row-level changes in the Delta CDF
    * vocabulary (`_change_type` + `_commit_version`), derived from each
    * generation's dir symmetric difference, so a MERGE streams as
    * update pre/post pairs and a merge-on-read DV delete streams as
    * deletes WITHOUT failing the stream. `startingVersion=2` skips the
    * snapshot: exactly the two mutation commits are delivered, each
    * attributed to its generation. Counts per change type, the updated
    * rows' repriced sum, and per-commit attribution all hash-match
    * DuckDB deriving the same mutations relationally.
    *
    * 100-TB shape: the feed reads the changed dirs of each commit (the
    * merge's rewritten dirs, the DV's key file), never the table; a
    * downstream materializer consumes retractions at O(changes). */
  val q153_stream_change_feed = Q(
    "q153_stream_change_feed",
    """SELECT
      |  (SELECT CAST(count(*) AS BIGINT) FROM orders WHERE o_orderkey % 89 = 0) AS n_ins,
      |  (SELECT CAST(count(*) AS BIGINT) FROM orders WHERE o_orderkey % 97 = 0) AS n_del,
      |  (SELECT CAST(count(*) AS BIGINT) FROM orders WHERE o_orderkey % 101 = 0) AS n_upd_pre,
      |  (SELECT CAST(count(*) AS BIGINT) FROM orders WHERE o_orderkey % 101 = 0) AS n_upd_post,
      |  (SELECT cast(sum(cast(o_totalprice + 1000 as decimal(18,2))) as double)
      |     FROM orders WHERE o_orderkey % 101 = 0) AS sum_post,
      |  1 AS vers_ok""".stripMargin) { (s, dir) =>
    import graft.ingest.{ChangeFeed, ManifestCommit, MergeInto}
    import org.apache.spark.sql.streaming.Trigger
    val base = tmpDir("graft_q153_")
    val srcRoot = base + "/src"
    val orders = Tables.load(s, dir, "orders").select("o_orderkey", "o_totalprice")
    val dirs = ManifestCommit.writeSliced(s, srcRoot, orders,
      pmod(col("o_orderkey"), lit(4)),
      Seq("o_orderkey", ManifestCommit.RowCountStat))
    ManifestCommit.commitReplace(s, srcRoot, dirs.map(_._1),
      pruneDisplaced = false, stats = dirs.toMap, schema = Some(orders.schema))
    // gen 2: MERGE — reprice %101, insert %89 clones at +1e8
    val updates = orders.filter(pmod(col("o_orderkey"), lit(101)) === 0)
      .select(col("o_orderkey"), (col("o_totalprice") + 1000.0).as("o_totalprice"))
    val inserts = orders.filter(pmod(col("o_orderkey"), lit(89)) === 0)
      .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
        (col("o_totalprice") * 2.0).as("o_totalprice"))
    MergeInto.merge(s, srcRoot, updates.unionByName(inserts), Seq("o_orderkey"))
    // gen 3: merge-on-read delete of %97 (a DV repoint, no dir rewrite)
    MergeInto.deleteWhere(s, srcRoot,
      orders.filter(pmod(col("o_orderkey"), lit(97)) === 0).select("o_orderkey"))
    // memory sink: the feed is O(changes) small — collecting it skips a
    // parquet write + re-read round-trip that was pure gate latency
    val memName = s"q153_feed_${java.util.UUID.randomUUID().toString.take(8)}"
    val q = s.readStream.format("graft-table")
      .option("readChangeFeed", "true").option("keys", "o_orderkey")
      .option("startingVersion", "2").load(srcRoot)
      .writeStream.outputMode("append").format("memory")
      .queryName(memName).option("checkpointLocation", base + "/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val feed = s.table(memName)
    val ct = ChangeFeed.ChangeType
    val verdicts = feed.agg(
      max(when(col(ct) === "delete", col("_commit_version"))).as("dv"),
      min(when(col(ct) === "delete", col("_commit_version"))).as("dv2"),
      max(when(col(ct) =!= "delete", col("_commit_version"))).as("mv"),
      min(when(col(ct) =!= "delete", col("_commit_version"))).as("mv2")).collect()(0)
    val versOk = verdicts.getLong(0) == 3L && verdicts.getLong(1) == 3L &&
      verdicts.getLong(2) == 2L && verdicts.getLong(3) == 2L
    feed.agg(
      sum(when(col(ct) === "insert", 1L).otherwise(0L)).as("n_ins"),
      sum(when(col(ct) === "delete", 1L).otherwise(0L)).as("n_del"),
      sum(when(col(ct) === "update_preimage", 1L).otherwise(0L)).as("n_upd_pre"),
      sum(when(col(ct) === "update_postimage", 1L).otherwise(0L)).as("n_upd_post"),
      sum(when(col(ct) === "update_postimage",
        col("o_totalprice").cast("decimal(18,2)"))).cast("double").as("sum_post"))
      .withColumn("vers_ok", lit(if (versOk) 1 else 0))
  }

  /** q156 — STREAMING MATERIALIZED VIEW: the reference's Kafka → MV →
    * AggregatingMergeTree chain (tools/gen_pipeline.py:290-299) as a
    * live composition of this library's own primitives — a
    * `readChangeFeed` stream over the source table feeds
    * `IncrementalAgg.applyChanges` per micro-batch, so the rollup
    * follows inserts, updates (signed retraction pairs) and merge-on-read
    * deletes with NO full recompute and no broker. The initial CDF
    * snapshot batch seeds the rollup; the tail batches maintain it at
    * O(changes). Final finalized state hash-matches DuckDB recomputing
    * the mutations relationally; the rollup's commit ops pin that every
    * batch landed through the partial-state append path.
    *
    * 100-TB shape: per trigger the stream reads the changed dirs only
    * and the rollup append is one partial-state part (state ∝ #groups);
    * the full-scan recompute this replaces is the thing that cannot run
    * at 100 TB per refresh. */
  val q156_stream_materialized_view = Q(
    "q156_stream_materialized_view",
    """WITH fin AS (
      |  SELECT o_orderkey, o_orderstatus,
      |    CASE WHEN o_orderkey % 101 = 0 THEN o_totalprice + 1000
      |         ELSE o_totalprice END AS p
      |  FROM orders WHERE o_orderstatus IN ('F','O') AND o_orderkey % 97 <> 0)
      |SELECT o_orderstatus, count(*) AS cnt,
      |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
      |  CAST(sum(CAST(p AS DECIMAL(30,2))) AS DOUBLE) AS price_sum,
      |  1 AS ops_ok
      |FROM fin GROUP BY o_orderstatus""".stripMargin) { (s, dir) =>
    import graft.ingest.{ChangeFeed, IncrementalAgg, ManifestCommit, MergeInto}
    import graft.ingest.IncrementalAgg.Measure
    val base = tmpDir("graft_q156_")
    val srcRoot = base + "/src"
    val mvRoot = base + "/rollup"
    val keys = Seq("o_orderstatus")
    val ms = Seq(
      Measure("cnt", "*", "count"),
      Measure("key_sum", "o_orderkey", "sum_long"),
      Measure("price_sum", "o_totalprice", "sum_dec"))
    val orders = Tables.load(s, dir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val d1 = ManifestCommit.newDataDir(srcRoot)
    orders.filter(col("o_orderstatus") === "F").write.parquet(d1)
    ManifestCommit.commitReplace(s, srcRoot, Seq(d1),
      pruneDisplaced = false, schema = Some(orders.schema)) // gen 1
    // ONE long-lived micro-batch query with two drain points (a second
    // AvailableNow query would pay a full JVM stream startup + checkpoint
    // resumption just to re-enter the same source) — the semantics are
    // identical: the first drain delivers the snapshot batch that seeds
    // the rollup, the second the change tail that maintains it.
    val q = s.readStream.format("graft-table")
      .option("readChangeFeed", "true").option("keys", "o_orderkey")
      .load(srcRoot)
      .writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          IncrementalAgg.applyChanges(s, mvRoot,
            batch.drop("_commit_version"), keys, ms)
          ()
        }
      }
      .option("checkpointLocation", base + "/ckpt")
      .start()
    try {
      q.processAllAvailable() // snapshot batch seeds the rollup
      val d2 = ManifestCommit.newDataDir(srcRoot)
      orders.filter(col("o_orderstatus") === "O").write.parquet(d2)
      ManifestCommit.commitAppend(s, srcRoot, d2) // gen 2
      MergeInto.merge(s, srcRoot, // gen 3: reprice %101
        ManifestCommit.read(s, srcRoot)
          .filter(pmod(col("o_orderkey"), lit(101)) === 0)
          .withColumn("o_totalprice", col("o_totalprice") + 1000.0),
        Seq("o_orderkey"))
      MergeInto.deleteWhere(s, srcRoot, // gen 4: DV delete %97
        orders.filter(col("o_orderstatus").isin("F", "O") &&
          pmod(col("o_orderkey"), lit(97)) === 0).select("o_orderkey"))
      q.processAllAvailable() // the tail maintains the rollup at O(changes)
    } finally q.stop()
    val ops = ManifestCommit.history(s, mvRoot).collect()
      .map(_.getAs[String]("operation")).toSeq
    val opsOk = ops.nonEmpty &&
      ops.forall(op => op == "apply_changes" || op == "replace")
    IncrementalAgg.finalizeState(s, mvRoot, keys, ms)
      .withColumn("ops_ok", lit(if (opsOk) 1 else 0))
  }

  val all: Seq[Q] = Seq(
    q40_ingest_staging_dedup, q41_ingest_audit, q42_cdc_envelope_decode,
    q43_analytics_view, q44_cdc_stream_e2e, q45_month_partition_pruning,
    q94_cdc_schema_drift,
    q50_dirty_ingest_e2e, q51_full_ingest_audit, q52_salted_agg,
    q53_batch_sessions, q54_catalog_profile, q55_asof_join, q56_range_join,
    q78_stream_window, q81_stream_stream_join, q98_stream_sessions,
    q99_stream_static_enrich, q100_zorder_key, q110_quality_constraints,
    q112_stream_outer_join, q113_topic_routing, q116_stream_right_outer_join,
    q117_time_travel, q118_stream_full_outer_join, q121_manifest_skipping,
    q122_incremental_agg, q123_merge_into, q124_change_feed,
    q125_merge_schema_evolution, q126_cdf_incremental_rollup,
    q128_zorder_optimize, q129_manifest_history, q130_bloom_point_lookup,
    q131_deletion_vectors, q132_minor_compaction, q133_zorder_3d, q134_month_lifecycle,
    q135_manifest_count, q136_stream_late_drop, q137_ann_incremental,
    q138_ivf_incremental, q139_delta_log, q140_dv_count,
    q147_cdf_replication, q150_cdf_schema_evolution,
    q152_stream_table_replication, q153_stream_change_feed,
    q156_stream_materialized_view)
}
