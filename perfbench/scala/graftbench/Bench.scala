package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import java.lang.management.{BufferPoolMXBean, ManagementFactory}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Entry point of the workload benchmark's JVM side.
  *
  * One process runs one workload: it builds the engine's session, makes
  * the seeded inputs, sets the tables up, runs the untimed warm-up, the
  * timed loop and the correctness checks, then writes
  * every raw measurement (op samples, spans, Spark jobs, scalar values and
  * check outcomes) as one JSON document to `--out`. `perfbench/run.py`
  * turns that document into the named metrics. */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double,
      traced: Boolean, work: String, out: String, cpus: Int)

  private def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), need("out"), need("cpus").toInt)
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val workload: Workload = o.workload match {
      case "cdc_apply" => CdcApply
      case "bi_mix" => BiMix
      case w => sys.error(s"unknown workload $w")
    }
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime / 1e3
    val spark = graft.GraftSession.build("graftbench", o.cpus.toString)
    val rec = new Recorder(spark, o.traced)
    rec.value("setup.session_s", rec.now() - jvmStart)
    rec.value("cpus", o.cpus)
    try {
      workload.run(spark, rec, o)
      rec.drain()
      rec.write(o.out)
    } finally spark.stop()
  }
}

/** One benchmark workload. `run` owns the whole sequence: inputs, timed
  * setup repetitions, warm-up, timed loop, untimed checks. */
trait Workload {
  def run(spark: SparkSession, rec: Recorder, o: Main.Opts): Unit

  /** Run the timed loop: `cycle(i)` until `seconds` have passed, untraced.
    * A traced run then runs it a second time with tracing on, so the two
    * loops give the tracing overhead; cycle ids continue across loops. */
  protected def timedLoops(rec: Recorder, seconds: Double)(cycle: Int => Unit): Unit = {
    var i = 0
    for (loop <- 0 to (if (rec.traced) 1 else 0)) {
      rec.loop = loop
      rec.tracing = loop == 1
      val t0 = rec.now()
      while (rec.now() - t0 < seconds) {
        rec.cycle = i
        cycle(i)
        i += 1
      }
      rec.value(s"loop$loop.t0", t0)
      rec.value(s"loop$loop.wall_s", rec.now() - t0)
    }
    // before the checks, which cache their reference tables
    rec.value("live_mb", Recorder.liveMb())
    rec.cycle = -1
    rec.loop = -1
  }

  /** Builds the table the loop works on `SetupReps` times and records the
    * median build time; the last build is the one the loop uses. */
  protected def timedSetup[T](rec: Recorder)(build: Int => T): T = {
    val times = mutable.ArrayBuffer.empty[Double]
    var last: Option[T] = None
    for (r <- 0 until Workload.SetupReps) {
      val t0 = rec.now()
      last = Some(rec.span("setup") { build(r) })
      times += rec.now() - t0
    }
    rec.value("setup.build_s", times.sorted.apply(times.size / 2))
    last.get
  }
}

object Workload {
  /** Set-up repetitions per run; their median is what `setup_s` counts. */
  val SetupReps = 3
}

/** In-memory record of one run. Op samples and values are always kept;
  * spans and Spark job attribution only when traced. */
final class Recorder(spark: SparkSession, val traced: Boolean) {
  import Recorder._

  private val baseNano = System.nanoTime()
  private val baseEpoch = System.currentTimeMillis() / 1e3

  /** Wall clock in epoch seconds at nanosecond resolution (comparable
    * with the scheduler's millisecond job times). */
  def now(): Double = baseEpoch + (System.nanoTime() - baseNano) / 1e9

  /** Cycle the next spans and samples belong to (-1: setup or checks,
    * -2: warm-up). */
  var cycle: Int = -1
  /** Timed loop the next spans and samples belong to (-1: none). */
  var loop: Int = -1
  /** Spans are recorded while on: from the start of a traced run, except
    * during its untraced loop. */
  var tracing: Boolean = traced

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private val samples = mutable.ArrayBuffer.empty[Sample]
  private val values = mutable.LinkedHashMap.empty[String, Double]
  private val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  private val listener: Option[JobListener] =
    if (traced) {
      val l = new JobListener
      spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None

  /** Time `body` as a span named `name`. Spark jobs submitted inside it
    * are attributed to it through a local property. Untraced: just runs. */
  def span[T](name: String)(body: => T): T =
    if (!tracing) body
    else {
      val s = Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), name, cycle, loop, now())
      spans += s
      stack.push(s)
      spark.sparkContext.setLocalProperty(SpanProp, s.id.toString)
      try body
      finally {
        s.t1 = now()
        stack.pop()
        spark.sparkContext.setLocalProperty(SpanProp,
          stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Add a count to the innermost open span (traced only). */
  def attr(k: String, v: Double): Unit =
    if (tracing) stack.headOption.foreach(s => s.attrs(k) = s.attrs.getOrElse(k, 0.0) + v)

  def sample(kind: String, t0: Double, t1: Double, ok: Boolean = true,
      n: Double = 1): Unit = samples += Sample(kind, cycle, loop, t0, t1, ok, n)

  def value(k: String, v: Double): Unit = values(k) = v

  /** An outcome of a correctness check (counted by run.py toward failed). */
  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    checks += ((name, ok, if (ok) "" else detail))
    if (!ok) System.err.println(s"[graftbench] CHECK FAILED $name: $detail")
  }

  /** Wait until the listener has seen every job submitted so far: a
    * marker job's end event is queued behind all earlier events. */
  def drain(): Unit = listener.foreach { l =>
    spark.sparkContext.setLocalProperty(SpanProp, MarkerSpan.toString)
    spark.range(1).count()
    spark.sparkContext.setLocalProperty(SpanProp, null)
    val deadline = System.nanoTime() + 30e9.toLong
    while (!l.records.exists(j => j.span == MarkerSpan && !j.t1.isNaN) &&
        System.nanoTime() < deadline)
      Thread.sleep(20)
  }

  def write(path: String): Unit = {
    val sb = new StringBuilder
    sb ++= "{\"traced\":" ++= traced.toString
    sb ++= ",\"values\":{" ++= values.map { case (k, v) => s"${str(k)}:${num(v)}" }.mkString(",") ++= "}"
    sb ++= ",\"checks\":[" ++= checks.map { case (n, ok, d) =>
      s"""{"name":${str(n)},"ok":$ok,"detail":${str(d)}}""" }.mkString(",") ++= "]"
    sb ++= ",\"samples\":[" ++= samples.map { s =>
      s"""{"kind":${str(s.kind)},"cycle":${s.cycle},"loop":${s.loop},"t0":${num(s.t0)},"t1":${num(s.t1)},"ok":${s.ok},"n":${num(s.n)}}"""
    }.mkString(",") ++= "]"
    sb ++= ",\"spans\":[" ++= spans.map { s =>
      val attrs = s.attrs.map { case (k, v) => s"${str(k)}:${num(v)}" }.mkString(",")
      s"""{"id":${s.id},"parent":${s.parent},"name":${str(s.name)},"cycle":${s.cycle},"loop":${s.loop},"t0":${num(s.t0)},"t1":${num(s.t1)},"attrs":{$attrs}}"""
    }.mkString(",") ++= "]"
    sb ++= ",\"jobs\":[" ++= listener.toSeq.flatMap(_.records).map { j =>
      s"""{"id":${j.id},"span":${j.span},"t0":${num(j.t0)},"t1":${num(j.t1)},"tasks":${j.tasks},"cpu_s":${num(j.cpuNs / 1e9)},"shuffle_bytes":${j.shuffleBytes},"gc_s":${num(j.gcMs / 1e3)}}"""
    }.mkString(",") ++= "]}"
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

object Recorder {
  val SpanProp = "graftbench.span"
  /** Span id of the drain marker job (never a real span). */
  val MarkerSpan = -2

  final case class Span(id: Int, parent: Int, name: String, cycle: Int, loop: Int, t0: Double) {
    var t1: Double = t0
    val attrs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  }
  final case class Sample(kind: String, cycle: Int, loop: Int, t0: Double, t1: Double,
      ok: Boolean, n: Double)

  /** Memory the process holds after full collections, in MB: live heap
    * (the engine's caches, session and catalog state), non-heap
    * (metaspace, code cache) and NIO buffers (direct and mapped). What one
    * collection frees can free more at the next (finalizers, Spark's
    * context cleaner): after a `bi_mix` loop the heap held 160 MB after a
    * second collection and 94 MB after a third, and a single collection
    * left 90 to 250 MB at random. So collect until the heap stops
    * shrinking. */
  def liveMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    def collect(): Long = {
      System.gc()
      mem.getHeapMemoryUsage.getUsed
    }
    var prev = Long.MaxValue
    var heap = collect()
    var rounds = 1
    while (heap < prev - (1L << 20) && rounds < 10) {
      Thread.sleep(500)
      prev = heap
      heap = collect()
      rounds += 1
    }
    val buffers = ManagementFactory.getPlatformMXBeans(classOf[BufferPoolMXBean])
      .asScala.map(_.getMemoryUsed).sum
    (heap + mem.getNonHeapMemoryUsage.getUsed + buffers) / 1048576.0
  }

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
}

/** Attributes Spark jobs, tasks, task CPU, shuffle bytes and GC time to
  * the span that submitted them (the span id rides a local property). */
final class JobListener extends SparkListener {
  final class JobRec(val id: Int, val span: Int, val t0: Double) {
    var t1: Double = Double.NaN
    var tasks = 0L
    var cpuNs = 0L
    var shuffleBytes = 0L
    var gcMs = 0L
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  def records: Seq[JobRec] = synchronized(jobs.values.toList)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Recorder.SpanProp)))
      .map(_.toInt).getOrElse(-1)
    jobs(e.jobId) = new JobRec(e.jobId, span, e.time / 1e3)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.t1 = e.time / 1e3)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); r <- jobs.get(j); m <- Option(e.taskMetrics)) {
      r.tasks += 1
      r.cpuNs += m.executorCpuTime
      r.shuffleBytes += m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead
      r.gcMs += m.jvmGCTime
    }
  }
}
