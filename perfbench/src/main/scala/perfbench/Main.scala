package perfbench

import org.apache.spark.sql.SparkSession
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** What a workload needs from the launcher: its inputs' seed, run length,
  * parallelism, the tracer and Spark observer, the result it fills in,
  * and a private directory for its files. */
final class Ctx(val seed: Long, val seconds: Int, val cpus: Int, val out: java.io.File,
    val tracer: Tracer, val observer: Observer, startMs: Long) {
  val result = new Result
  /** Epoch ms minus nanoTime ms, to line spans up with Spark event times. */
  val epochOffsetMs: Long = System.currentTimeMillis() - System.nanoTime() / 1000000L

  /** A fresh, empty directory `name` under the run's output directory. */
  def dir(name: String): java.io.File = {
    val d = new java.io.File(out, name)
    Ctx.delete(d); d.mkdirs(); d
  }

  private val t0 = System.nanoTime()
  /** A progress line on the JVM log, with seconds since start. */
  def log(msg: String): Unit = System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%.2f] $msg")

  /** Marks the end of set-up: `setup_s` runs from the launcher's start
    * to the first of these calls, made just before the first timing. */
  def setupDone(): Unit = if (!result.metrics.contains("setup_s"))
    result.metric("setup_s", (System.currentTimeMillis() - startMs) / 1e3, "s")
}

object Ctx {
  /** Run `f` on every element on its own thread; results in order. */
  def parallel[T](xs: Seq[Int])(f: Int => T): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.max(1, xs.size))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.sequence(xs.map(x => Future(f(x)))), Duration.Inf)
    finally pool.shutdown()
  }

  def treeFiles(d: java.io.File): Seq[java.io.File] =
    if (d.isFile) Seq(d)
    else Option(d.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(treeFiles)

  def treeBytes(d: java.io.File): Long = treeFiles(d).map(_.length).sum

  def delete(d: java.io.File): Unit = {
    if (d.isDirectory) Option(d.listFiles()).toSeq.flatten.foreach(delete)
    d.delete(); ()
  }
}

/** Entry point: `Main --workload w --seed n --seconds s --trace 0|1
  * --cpus k --out dir --data dir --start-ms t`. Writes `result.json`
  * (and `trace.jsonl` when traced) into `--out`. */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workload = a("workload")
    val cpus = a("cpus").toInt
    val out = new java.io.File(a("out")); out.mkdirs()
    val tracer = new Tracer(a("trace") == "1")
    val observer = new Observer
    val ctx = new Ctx(a("seed").toLong, a("seconds").toInt, cpus, out, tracer, observer,
      a("start-ms").toLong)

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.default.parallelism", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", new java.io.File(out, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new java.io.File(out, "warehouse").getPath)
      .config("spark.sql.streaming.stopTimeout", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.addSparkListener(observer)
    spark.listenerManager.register(observer)

    try workload match {
      case "tsdb" =>
        var srv = new Served(new graft.tsdb.TsdbEngine(spark, ctx.dir("engine").getPath), tracer)
        try {
          val (reads, dash) = Serve.run(spark, ctx, srv)
          srv = IngestRun.run(spark, ctx, srv, reads, dash)
        }
        finally srv.stop()
      case "battery" => Battery.run(spark, ctx, a("data"))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } catch {
      case e: Throwable =>
        ctx.result.wrong(s"workload aborted: $e")
        e.printStackTrace()
    } finally {
      tracer.write(new java.io.File(out, "trace.jsonl"))
      java.nio.file.Files.writeString(new java.io.File(out, "result.json").toPath,
        ctx.result.toJson)
      spark.stop()
    }
    // lingering non-daemon threads (server pools, Spark) must not hold the exit
    System.exit(0)
  }
}
