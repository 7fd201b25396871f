package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Order statistics over measured samples. */
object Stats {
  /** Nearest-rank percentile (q in [0, 1]); NaN when empty. */
  def pct(xs: Iterable[Double], q: Double): Double = {
    val a = xs.toArray
    if (a.isEmpty) Double.NaN
    else {
      java.util.Arrays.sort(a)
      a(math.min(a.length - 1, math.max(0, math.ceil(q * a.length).toInt - 1)))
    }
  }
  def median(xs: Iterable[Double]): Double = {
    val a = xs.toArray
    if (a.isEmpty) Double.NaN
    else {
      java.util.Arrays.sort(a)
      val n = a.length
      if (n % 2 == 1) a(n / 2) else (a(n / 2 - 1) + a(n / 2)) / 2
    }
  }
  def ms(ns: Long): Double = ns / 1e6
}

/** A span recorded at one layer boundary. `req` groups the spans of one
  * request (or battery query); `parent` is the span that caused it, 0 for
  * a root. */
final case class Span(id: Long, parent: Long, req: Long, name: String,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. Disabled, it records nothing and costs one
  * branch per call; enabled, spans are kept until [[write]]. */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0L)
  private val spans = new ConcurrentLinkedQueue[Span]()

  def nextId(): Long = ids.incrementAndGet()

  def add(s: Span): Unit = if (enabled) spans.add(s)

  /** Time `f` as a span named `name` under `parent`, returning its value. */
  def span[T](name: String, req: Long, parent: Long = 0L)(f: => T): T =
    if (!enabled) f
    else {
      val id = nextId()
      val t0 = System.nanoTime()
      try f finally add(Span(id, parent, req, name, t0, System.nanoTime()))
    }

  def all: Seq[Span] = spans.asScala.toSeq

  def named(name: String): Seq[Span] = all.filter(_.name == name)

  /** One JSON object per line: the raw spans, for offline inspection. */
  def write(file: java.io.File): Unit = if (enabled) {
    val w = new java.io.PrintWriter(file, "UTF-8")
    try all.sortBy(_.startNs).foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"req":${s.req},""" +
        s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally w.close()
  }
}

/** Spark-side counters for one phase, read through the listener bus:
  * jobs, tasks, executor run/CPU time, shuffle and input bytes, job
  * intervals (for driver-gap accounting), the request each job ran for
  * (from the thread-local [[Observer.ReqProperty]]) and the
  * `QueryPlanningTracker` phase times of every executed plan. */
final class Observer extends SparkListener with QueryExecutionListener {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val runNs = new AtomicLong
  val cpuNs = new AtomicLong
  val shuffleWrite = new AtomicLong
  val inputBytes = new AtomicLong
  val planNs = new AtomicLong
  /** (request id or -1, start ms, end ms) of every finished job. */
  val jobSpans = new ConcurrentLinkedQueue[(Long, Long, Long)]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    val req = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Observer.ReqProperty))).map(_.toLong).getOrElse(-1L)
    jobStart.put(e.jobId, (req, e.time))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val s = jobStart.remove(e.jobId)
    if (s != null) jobSpans.add((s._1, s._2, e.time))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runNs.addAndGet(m.executorRunTime * 1000000L)
      cpuNs.addAndGet(m.executorCpuTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    planNs.addAndGet(ph.values.map(p => (p.endTimeMs - p.startTimeMs) * 1000000L).sum)
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Counter values as a map, for before/after deltas of a phase. */
  def snapshot: Map[String, Long] = Map(
    "jobs" -> jobs.get, "tasks" -> tasks.get, "run" -> runNs.get,
    "cpu" -> cpuNs.get, "shuffle" -> shuffleWrite.get, "input" -> inputBytes.get,
    "plan" -> planNs.get)

  /** Milliseconds inside [a, b] (epoch ms) covered by at least one job. */
  def jobCoverMs(a: Long, b: Long): Long = {
    val iv = jobSpans.asScala.toSeq.map(j => (math.max(j._2, a), math.min(j._3, b)))
      .filter(x => x._2 > x._1).sortBy(_._1)
    var covered = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    covered
  }
}

object Observer {
  /** Thread-local Spark property naming the request a job ran for. */
  val ReqProperty = "perfbench.req"

  /** The standard Spark-layer per-layer metrics over one phase. */
  def sparkMetrics(before: Map[String, Long], after: Map[String, Long]): Seq[(String, Double, String)] = {
    def d(k: String) = (after(k) - before(k)).toDouble
    Seq(
      ("spark.jobs", d("jobs"), "count"),
      ("spark.tasks", d("tasks"), "count"),
      ("spark.executor_run_s", d("run") / 1e9, "s"),
      ("spark.executor_cpu_s", d("cpu") / 1e9, "s"),
      ("spark.shuffle_write_bytes", d("shuffle"), "B"),
      ("spark.input_bytes", d("input"), "B"),
      ("spark.cpu_per_run", if (d("run") > 0) d("cpu") / d("run") else 0.0, "ratio"))
  }

  /** Collector wall time and JIT compile time so far, in seconds. */
  def jvmTimes: (Double, Double) = {
    import java.lang.management.ManagementFactory
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3
    val jit = Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported)
      .map(_.getTotalCompilationTime / 1e3).getOrElse(0.0)
    (gc, jit)
  }

  /** Heap in use after a full collection, in MB. */
  def liveHeapMb(): Double = {
    import java.lang.management.ManagementFactory
    val mem = ManagementFactory.getMemoryMXBean
    // a second collection after a pause also frees what Spark's cleaner
    // released asynchronously after the first
    System.gc(); Thread.sleep(500); System.gc()
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** The outcome of one workload run. `metrics` carries every measured
  * value (end-to-end and per-layer) with its unit; `details` is free-form
  * JSON fragments for the full record. */
final class Result {
  @volatile var correct = true
  val attempted = new AtomicLong
  val failed = new AtomicLong
  private val ms = new java.util.concurrent.ConcurrentHashMap[String, (Double, String)]()
  private val problems = new ConcurrentLinkedQueue[String]()
  val details = new java.util.concurrent.ConcurrentHashMap[String, String]()

  def metric(name: String, value: Double, unit: String): Unit = ms.put(name, (value, unit))
  def metrics: Map[String, (Double, String)] = ms.asScala.toMap

  /** Record a correctness violation (kept to the first few hundred). */
  def wrong(msg: String): Unit = {
    correct = false
    if (problems.size < 200) problems.add(msg)
  }
  def problemList: Seq[String] = problems.asScala.toSeq

  def toJson: String = {
    def num(v: Double) = if (v.isNaN || v.isInfinite) "null" else v.toString
    val m = metrics.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
      s""""$k":{"value":${num(v)},"unit":"$u"}""" }.mkString(",")
    val p = problemList.map(Json.str).mkString(",")
    val d = details.asScala.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }.mkString(",")
    s"""{"correct":$correct,"attempted":${attempted.get},"failed":${failed.get},""" +
      s""""metrics":{$m},"problems":[$p],"details":{$d}}"""
  }
}

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').result()
  }
}
