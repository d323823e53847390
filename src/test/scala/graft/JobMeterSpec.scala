package graft

import graft.ingest.ManifestCommit
import java.nio.file.Files
import java.util.concurrent.{CyclicBarrier, Executors}
import org.apache.spark.sql.functions.{col, pmod, lit}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

class JobMeterSpec extends SparkSpec {

  /** Exactly one Spark job per call (an RDD count has no AQE stages). */
  private def oneJob(): Long = spark.sparkContext.parallelize(1 to 100, 2).count()

  test("a metadata-only block runs 0 jobs; N counts run exactly N") {
    val root = Files.createTempDirectory("jobmeter_spec_").toString + "/t"
    val df = spark.range(0, 400).toDF("id")
    val dirs = ManifestCommit.writeSliced(spark, root, df,
      pmod(col("id"), lit(4)), Seq("id", ManifestCommit.RowCountStat))
    ManifestCommit.commitReplace(spark, root, dirs.map(_._1),
      pruneDisplaced = false, stats = dirs.toMap)
    val fold = JobMeter.measure(spark)(ManifestCommit.tableRowCount(spark, root))
    assert(fold.value === Some(400L))
    assert(fold.count === 0, fold.jobs)
    Seq(1, 3, 7).foreach { n =>
      val m = JobMeter.measure(spark)((1 to n).map(_ => oneJob()).sum)
      assert(m.value === 100L * n)
      assert(m.count === n, m.jobs)
    }
  }

  test("an outer meter counts an inner meter's jobs; the inner only its " +
      "own; no meter counts a marker job") {
    val outer = JobMeter.measure(spark) {
      oneJob()
      val inner = (1 to 3).map(_ => JobMeter.measure(spark) { oneJob(); oneJob() })
      oneJob()
      inner
    }
    outer.value.foreach(inner => assert(inner.count === 2, inner.jobs))
    // 2 own + 3 × 2 inner; the three inner markers are not counted
    assert(outer.count === 8, outer.jobs)
    assert(outer.value.flatMap(_.jobs).map(_.id).toSet
      .subsetOf(outer.jobs.map(_.id).toSet))
    assert(!outer.jobs.exists(_.desc.contains("JobMeter.scala")), outer.jobs)
  }

  test("concurrent meters never count each other's jobs") {
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try (1 to 5).foreach { _ =>
      val barrier = new CyclicBarrier(2)
      val runs = Seq(3, 5).map(n => Future(JobMeter.measure(spark) {
        barrier.await()
        (1 to n).foreach(_ => oneJob())
        n
      }))
      Await.result(Future.sequence(runs), Duration.Inf).foreach { m =>
        assert(m.count === m.value, m.jobs)
      }
    } finally pool.shutdown()
  }

  test("jobs from a per-call pool started inside the window are counted") {
    val m = JobMeter.measure(spark) {
      val pool = Executors.newFixedThreadPool(2)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try Await.result(Future.sequence((1 to 4).map(_ => Future(oneJob()))),
        Duration.Inf)
      finally pool.shutdown()
    }
    assert(m.count === 4, m.jobs)
  }

  test("a job that scans data reports its tasks and task CPU") {
    val path = Files.createTempDirectory("jobmeter_spec_").toString + "/p"
    spark.range(0, 20000).repartition(3).write.parquet(path)
    val m = JobMeter.measure(spark)(
      spark.read.parquet(path).filter(col("id") % 7 === 0).collect().length)
    assert(m.value === 2858)
    assert(m.count >= 1)
    assert(m.tasks > 0 && m.cpuSec > 0.0, m.jobs)
    assert(m.jobs.forall(j => j.endMs >= j.startMs && j.startMs > 0), m.jobs)
  }
}
