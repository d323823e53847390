package graft

import org.apache.spark.sql.SparkSession

/** One place to build the engine's SparkSession so every entry point
  * (Verify, Bench, tests) runs with the same scale-oriented config.
  *
  * - AQE on: join-strategy switching (broadcast only when the runtime size
  *   is actually small) + skew-join splitting replace hardcoded hints.
  * - shuffle.partitions sized to the local core count; on a real cluster
  *   AQE coalesces post-shuffle partitions so the static value matters less.
  * - nanosAsLong set once here (events.ts is parquet TIMESTAMP(NANOS),
  *   which Spark rejects by default) instead of per-read mutation.
  */
object GraftSession {
  /** Bound of Spark's JVM-wide cache of compiled generated classes (a
    * static conf, read once when `CodeGenerator` is first used). Spark's
    * default of 100 is below graft's working set: one CDC batch (MERGE,
    * DV delete, UPDATE, OPTIMIZE, replica sync) needs ~157 distinct
    * classes and one BI session ~166, so under LRU every class was
    * evicted before its next use and recompiled (a traced CDC batch spent
    * 2.08 s of 9.4 s in Janino; a BI loop whose queries had all run once
    * compiled 166 classes). A whole CDC run touches ~261 distinct classes
    * and a BI run ~482; 1024 holds twice the larger. */
  val CodegenCacheEntries = 1024

  def build(appName: String, cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .appName(appName)
      .master(s"local[$cpus]")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // Start shuffles WIDE and let AQE coalesce down: a static partition
      // count is a ceiling that silently turns into spill when data grows
      // (measured: W1 window dedup task time 19.8x at 8x data with 32
      // fixed partitions). 8x the core count keeps per-partition sort
      // volume bounded; AQE merges the small ones back so small queries
      // don't pay task overhead.
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        scala.util.Try(cpus.toInt * 8).getOrElse(256).toString)
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // cached plans keep AQE-coalesced partitioning (otherwise a cache
      // materializes at the full initialPartitionNum width)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Unfiltered count/min/max over parquet read row-group STATS, not
      // data — the audit/reconciliation surface (q41/q51/q54, run_audit
      // shape) becomes footer-only I/O. Same result, pushed to the scan.
      .config("spark.sql.parquet.aggregatePushdown", "true")
      // Local-mode split size: fixture tables arrive as one ~100MB file
      // each; 16MB splits give the 32 cores parallel scan+clean work
      // without a repartition shuffle. On a 1000-executor cluster inputs
      // are many files and the 128MB default is the right granularity.
      .config("spark.sql.files.maxPartitionBytes", s"${16 << 20}")
      // Wide cleaned projections fuse into ONE consume method under
      // whole-stage codegen (variable-based input cannot split methods);
      // beyond ~8KB bytecode HotSpot refuses to JIT it and the stage runs
      // interpreted (observed 4x on the 16-column lineitem clean). Capping
      // at the JIT threshold makes Spark fall back to per-operator codegen
      // — whose expression splitting keeps every method JIT-able.
      .config("spark.sql.codegen.hugeMethodLimit", "8000")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      // Shuffle/spill files on the RAM-backed tmpfs: this sandbox's block
      // device throttles buffered writes to ~25 MB/s in bursts (measured),
      // which made shuffle-heavy runs bimodal. On a real cluster
      // spark.local.dir is the executors' NVMe scratch — same idea.
      .config("spark.local.dir",
        sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/graft-spark-local"))
      .config("spark.sql.parquet.compression.codec", "snappy")
      .config("spark.hadoop.fs.file.impl", classOf[GraftLocalFileSystem].getName)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // Dev A/B knob: SPARK_GRAFT_CONF="key=value;key=value" overrides any
    // session conf (runtime-settable ones) for profiling experiments.
    sys.env.get("SPARK_GRAFT_CONF").foreach { s =>
      s.split(";").map(_.trim).filter(_.contains("=")).foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        spark.conf.set(k, v)
      }
    }
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def fromEnv(appName: String): SparkSession =
    build(appName, sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))

  /** Dev-only query subset (SPARK_GRAFT_ONLY=q51,q78 — comma-separated
    * name prefixes). ONE implementation so Bench and Verify can never
    * diverge on the selection semantics. No env var → everything. */
  def selectedNames(all: Seq[String]): Seq[String] = {
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    all.filter(n => only.forall(f => f.exists(n.startsWith)))
  }
}

/** Hadoop's local filesystem with permissions set in-process. Without
  * Hadoop's native library, `RawLocalFileSystem.setPermission` forks a
  * `chmod` for every file, `.crc` sidecar and dir a write creates
  * (measured on a 4-core machine: ~100 forks per CDC batch, 2–5 ms
  * each). This one sets the same umask-applied bits through `java.nio`;
  * a mode NIO cannot express (the sticky bit) or a filesystem without
  * POSIX attributes falls back to Hadoop's own call. A directory
  * listing counts as one read op in the filesystem's statistics, as it
  * does on HDFS, so plan-time listing shows in `FileSystem.Statistics`
  * (Bench's `fs_ops`) on a local table too. */
class GraftLocalFileSystem extends org.apache.hadoop.fs.LocalFileSystem(
  new GraftLocalFileSystem.Raw)

object GraftLocalFileSystem {
  class Raw extends org.apache.hadoop.fs.RawLocalFileSystem {
    override def setPermission(p: org.apache.hadoop.fs.Path,
        permission: org.apache.hadoop.fs.permission.FsPermission): Unit = {
      if (permission.getStickyBit) super.setPermission(p, permission)
      else
        try java.nio.file.Files.setPosixFilePermissions(pathToFile(p).toPath,
          java.nio.file.attribute.PosixFilePermissions.fromString(
            permission.getUserAction.SYMBOL + permission.getGroupAction.SYMBOL +
              permission.getOtherAction.SYMBOL))
        catch { case _: UnsupportedOperationException =>
          super.setPermission(p, permission) }
    }

    override def listStatus(f: org.apache.hadoop.fs.Path)
        : Array[org.apache.hadoop.fs.FileStatus] = {
      if (statistics != null) statistics.incrementReadOps(1)
      super.listStatus(f)
    }
  }
}

/** Scratch space for the gate/bench pipeline queries' intermediate
  * tables. Prefers the RAM-backed tmpfs for the same reason as
  * spark.local.dir above (this sandbox throttles buffered block-device
  * writes in bursts; production targets are HDFS/S3 and the write cost
  * is measured there, not against a local-disk token bucket). Falls back
  * to java.io.tmpdir. `purge()` reclaims the space at harness exit. */
object GraftTmp {
  import java.nio.file.{Files, Path, Paths}

  private val (base: Path, graftOwnedRoot: Boolean) = {
    // per-process subdirectory: purge() must never touch the scratch of a
    // concurrently running harness (e.g. Bench finishing while a Verify
    // is mid-query). graftOwnedRoot records WHICH branch created base —
    // the preferred root (default or SPARK_GRAFT_TMP) is dedicated to
    // graft, the system-tmpdir fallback is shared with everyone.
    val preferred = sys.env.getOrElse("SPARK_GRAFT_TMP", "/dev/shm/graft-tmp")
    val pid = ProcessHandle.current().pid()
    def mk(root: String): Path = {
      val p = Paths.get(root, s"graft-tmp-pid-$pid")
      Files.createDirectories(p)
      p
    }
    try {
      val p = Paths.get(preferred, s"pid-$pid")
      Files.createDirectories(p)
      (p, true)
    } catch {
      // fallback keeps the per-pid scoping so purge() still works
      case _: Exception => (mk(System.getProperty("java.io.tmpdir")), false)
    }
  }

  def dir(prefix: String): String =
    Files.createTempDirectory(base, prefix).toString

  /** Recursively delete THIS process's scratch subtree, plus any sibling
    * pid subtree whose owning process is gone — a run killed before its
    * own purge (OOM, harness timeout) must not leak RAM-backed tmpfs
    * forever. Live siblings (a Bench finishing while a Verify runs) are
    * never touched. */
  def purge(): Unit = {
    def rm(p: Path): Unit = {
      if (Files.isDirectory(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
        val s = Files.list(p)
        try s.forEach(rm(_)) finally s.close()
      }
      Files.deleteIfExists(p)
    }
    val self = ProcessHandle.current().pid()
    if (base.getFileName.toString.contains(s"pid-$self")) rm(base)
    // Sibling-name pattern depends on where base landed (recorded at
    // creation): bare `pid-N` is only safe under the graft-OWNED root; in
    // the shared system-tmpdir fallback, only the fully-prefixed
    // `graft-tmp-pid-N` may be touched — a bare /tmp/pid-N could be
    // someone else's data.
    val parent = base.getParent
    val pidPattern =
      (if (graftOwnedRoot) "^(?:graft-tmp-)?pid-([0-9]{1,18})$"
       else "^graft-tmp-pid-([0-9]{1,18})$").r
    if (parent != null && Files.isDirectory(parent)) {
      val s = Files.list(parent)
      try s.forEach { sib =>
        sib.getFileName.toString match {
          case pidPattern(p) if p.toLong != self &&
              !ProcessHandle.of(p.toLong).map[Boolean](_.isAlive).orElse(false) =>
            try rm(sib) catch { case _: Exception => () } // racing sibling purge
          case _ => ()
        }
      } finally s.close()
    }
  }
}
