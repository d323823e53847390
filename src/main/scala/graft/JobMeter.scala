package graft

import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The one job meter: `measure(spark) { f }` returns f's value plus
  * every Spark job f ran — id, description, start/end (epoch ms), tasks
  * and task CPU.
  *
  * Scope: each window is its own job tag (tags are a per-thread set,
  * inherited by threads f starts), so concurrent windows never count
  * each other's jobs, an outer window also counts an inner one's, and
  * jobs from thread pools f creates are counted.
  *
  * Settling: listener events arrive asynchronously, so after f a 1-task
  * MARKER job is submitted under a private tag with the caller's tags
  * cleared; the listener bus delivers events in posting order, so once
  * the marker's start arrives every job and task event of f has too. No
  * window counts a marker. A marker that does not arrive in time throws
  * — the meter never returns a short count. */
object JobMeter {
  final case class Job(id: Int, desc: String, startMs: Long, endMs: Long,
      tasks: Int, cpuNs: Long)
  final case class Metered[A](value: A, jobs: Seq[Job]) {
    def count: Int = jobs.size
    def tasks: Int = jobs.map(_.tasks).sum
    def cpuSec: Double = jobs.map(_.cpuNs).sum / 1e9
  }

  private val SettleSec = 120L
  private final class Rec(val id: Int, val desc: String, val start: Long) {
    var end, cpuNs = 0L; var tasks = 0 // written on the listener-bus thread only
  }
  private val windows = new ConcurrentHashMap[String, ConcurrentLinkedQueue[Rec]]()
  private val markers = new ConcurrentHashMap[String, CountDownLatch]()

  private object Listener extends SparkListener {
    private val byStage = mutable.HashMap.empty[Int, Rec]
    private val byJob = mutable.HashMap.empty[Int, (Rec, Seq[Int])]
    private val execSite = mutable.HashMap.empty[Long, String]
    private def prop(e: SparkListenerJobStart, k: String) =
      Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tags = prop(e, "spark.job.tags").toSeq.flatMap(_.split(","))
      tags.flatMap(t => Option(markers.get(t))).foreach(_.countDown())
      val ws = tags.flatMap(t => Option(windows.get(t)))
      if (ws.nonEmpty) {
        // the result stage's name carries the action call site; an AQE
        // stage job carries its SQL execution's instead
        val stage = e.stageInfos.lastOption.map(_.name).getOrElse("")
        val desc = prop(e, "spark.job.description").getOrElse(
          if (!stage.contains("withThreadLocalCaptured")) stage
          else prop(e, "spark.sql.execution.id")
            .flatMap(id => execSite.get(id.toLong)).map("aqe: " + _).getOrElse(stage))
        val r = new Rec(e.jobId, desc, e.time)
        ws.foreach(_.add(r))
        e.stageIds.foreach(s => if (!byStage.contains(s)) byStage(s) = r)
        byJob(e.jobId) = (r, e.stageIds)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      byJob.remove(e.jobId).foreach { case (r, stages) =>
        r.end = e.time
        stages.foreach(s => if (byStage.get(s).contains(r)) byStage.remove(s))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      byStage.get(e.stageId).foreach { r =>
        r.tasks += 1
        if (e.taskMetrics != null) r.cpuNs += e.taskMetrics.executorCpuTime
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart if !windows.isEmpty =>
        execSite(s.executionId) = s.description.linesIterator.nextOption().getOrElse("")
      case s: SparkListenerSQLExecutionEnd => execSite.remove(s.executionId); ()
      case _ => ()
    }
  }

  private var installedOn: SparkContext = _
  private def install(sc: SparkContext): Unit = synchronized {
    if (installedOn ne sc) { sc.addSparkListener(Listener); installedOn = sc }
  }

  def measure[A](spark: SparkSession)(f: => A): Metered[A] = {
    val sc = spark.sparkContext
    install(sc)
    val tag = s"graft-meter-${UUID.randomUUID()}"
    val recs = new ConcurrentLinkedQueue[Rec]()
    windows.put(tag, recs)
    try {
      sc.addJobTag(tag)
      val v = try f finally sc.removeJobTag(tag)
      settle(sc)
      Metered(v, recs.asScala.toSeq.sortBy(_.id)
        .map(r => Job(r.id, r.desc, r.start, r.end, r.tasks, r.cpuNs)))
    } finally windows.remove(tag)
  }

  private def settle(sc: SparkContext): Unit = {
    val marker = s"graft-meter-marker-${UUID.randomUUID()}"
    val seen = new CountDownLatch(1)
    markers.put(marker, seen)
    try {
      val callerTags = sc.getJobTags()
      sc.clearJobTags()
      sc.addJobTag(marker)
      try sc.submitJob(sc.parallelize(Seq(0), 1), (_: Iterator[Int]) => (),
        Seq(0), (_: Int, _: Unit) => (), ())
      finally { sc.clearJobTags(); sc.addJobTags(callerTags) }
      if (!seen.await(SettleSec, TimeUnit.SECONDS))
        throw new IllegalStateException(
          s"JobMeter: listener events did not settle within $SettleSec s")
    } finally markers.remove(marker)
  }
}
