package graft

/** Dev-only per-job profiler (optimization rounds): runs selected
  * queries (SPARK_GRAFT_ONLY) once and prints one line per Spark JOB —
  * start offset, wall, aggregate task CPU, description — plus the
  * between-jobs driver gaps. Where `wall >> task` the time is
  * scheduling/driver work; many short jobs = sequential-action latency;
  * a long gap between jobs = pure driver work (commit IO, planning).
  * `sbt "runMain graft.JobTrace"` with SPARK_GRAFT_SF_DIR/CPUS/ONLY. */
object JobTrace {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.fromEnv("graft-jobtrace")
    Tables.load(spark, sfDir, "region").count() // warm

    val names = GraftSession.selectedNames(SparkEntry.queries.keys.toSeq.sorted)
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      // rep 1 = cold (codegen/JIT); rep 2 = steady state, the one traced
      spark.sparkContext.setJobDescription(null)
      scala.util.Try(fn(spark, sfDir).count())
      spark.catalog.clearCache()
      val w0 = System.currentTimeMillis()
      val m = JobMeter.measure(spark) {
        val ok = scala.util.Try(fn(spark, sfDir).count())
        (ok, System.currentTimeMillis())
      }
      val (ok, w1) = m.value
      val wall = (w1 - w0) / 1e3
      println(f"%n=== $name wall=$wall%.2f s ok=${ok.isSuccess} jobs=${m.count} ===")
      var prevEnd = w0
      m.jobs.sortBy(_.startMs).foreach { j =>
        val gap = (j.startMs - prevEnd) / 1e3
        val jw = if (j.endMs > 0) (j.endMs - j.startMs) / 1e3 else -1.0
        if (gap > 0.05) println(f"  -- driver gap ${gap}%5.2f s --")
        println(f"  job ${j.id}%3d wall $jw%5.2f task ${j.cpuNs / 1e9}%6.2f " +
          f"tasks ${j.tasks}%4d  ${j.desc.take(90)}")
        prevEnd = math.max(prevEnd, if (j.endMs > 0) j.endMs else j.startMs)
      }
      val tailGap = (w1 - prevEnd) / 1e3
      if (tailGap > 0.05) println(f"  -- tail driver gap ${tailGap}%5.2f s --")
      val jobWall = m.jobs.map(j =>
        if (j.endMs > 0) (j.endMs - j.startMs) / 1e3 else 0.0).sum
      println(f"  total: jobs-wall $jobWall%.2f s  task-cpu ${m.cpuSec}%.2f s  " +
        f"driver/gaps ${math.max(0, wall - jobWall)}%.2f s")
      spark.catalog.clearCache()
    }
    GraftTmp.purge()
    spark.stop()
  }
}
