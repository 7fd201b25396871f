package graft

import org.apache.spark.sql.SparkSession

/** Throwaway: decompose the c10 wire-path gap (VERDICT r12 agenda #3).
  * Ladder, same query shapes as Bench's qps_cold_c10:
  *   1. engine.serve direct                  (driver tier, no wire)
  *   2. executor.run + row drain             (+ NBQL parse/dispatch)
  *   3. one wire client, serial              (+ framing + TCP round-trip)
  *   4. 10 wire clients, 10 threads          (+ concurrency)
  * Each timed after warmup; prints per-query µs and qps. */
object ProbeC10 {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tmp = java.nio.file.Files.createTempDirectory("graft_c10").toString
    val engine = new graft.tsdb.TsdbEngine(spark, s"$tmp/db")
    engine.putDF(graft.tsdb.Tables.eventsAsPoints(spark, sfDir))
    val H = 3600000000000L
    def params(i: Int) = graft.tsdb.QueryParams("purchase",
      Map("user" -> (i % 100).toString),
      startNs = 1704067200000000000L + (i % 600).toLong * H + (i / 600).toLong * 1000L,
      endNs = Some(1704067200000000000L + ((i % 600) + 24).toLong * H + (i / 600).toLong * 1000L))
    def qText(idx: Int): String = {
      val h = (idx % 600).toLong
      val jit = (idx / 600).toLong * 1000L
      val st = 1704067200000000000L + h * H + jit
      val en = 1704067200000000000L + (h + 24) * H + jit
      s"""QUERY purchase TAGGED (user="${idx % 100}") FROM $st TO $en"""
    }
    var idx = 0
    var runOnlyNs = 0L
    def timeIt(name: String, n: Int)(f: Int => Unit): Unit = {
      (0 until n / 2).foreach { _ => f(idx); idx += 1 } // warm
      val t0 = System.nanoTime()
      (0 until n).foreach { _ => f(idx); idx += 1 }
      val el = (System.nanoTime() - t0) / 1e9
      println(f"$name%-28s ${el / n * 1e6}%9.1f us/query ${n / el}%9.0f qps")
    }
    // row-count sanity: how many rows does one of these queries stream?
    println(s"rows/query ~ ${engine.serve(graft.tsdb.PointReq(params(0))).rows.length}")

    timeIt("engine.serve", 3000)(i => { engine.serve(graft.tsdb.PointReq(params(i))); () })
    val ex = new graft.nbql.NbqlExecutor(engine)
    timeIt("nbql parse only", 2000) { i =>
      graft.nbql.NbqlParser.parse(qText(i)).fold(sys.error, identity); ()
    }
    timeIt("executor.run only (pre-parsed)", 2000) { i =>
      val st = graft.nbql.NbqlParser.parse(qText(i)).fold(sys.error, identity)
      val t0 = System.nanoTime()
      ex.run(st match { case s => s }) match {
        case Right(_: ex.Rows) => ()
        case other => sys.error(s"unexpected $other")
      }
      runOnlyNs += System.nanoTime() - t0
    }
    println("  (run-only inner: " + (runOnlyNs / 3000.0 / 1000.0) + " us/query)")
    timeIt("executor.run+drain(rowIterator)", 2000) { i =>
      graft.nbql.NbqlParser.parse(qText(i)) match {
        case Right(st) => ex.run(st) match {
          case Right(r: ex.Rows) =>
            val it = r.rowIterator(); while (it.hasNext) it.next()
            ()
          case other => sys.error(s"unexpected $other")
        }
        case Left(e) => sys.error(e)
      }
    }
    val srv = new graft.server.GraftTcpServer(ex)
    srv.start()
    try {
      val c = graft.client.NbqlClient.connect("127.0.0.1", srv.boundPort)
      timeIt("wire serial (1 client)", 1000)(i => { c.query(qText(i)); () })
      c.close()
      val clients = (0 until 10).map(_ =>
        graft.client.NbqlClient.connect("127.0.0.1", srv.boundPort))
      val nextIdx = new java.util.concurrent.atomic.AtomicInteger(idx)
      def drive(perThread: Int): Double = {
        val t0 = System.nanoTime()
        val ts = clients.map { c =>
          val t = new Thread(() => {
            var j = 0
            while (j < perThread) { c.query(qText(nextIdx.getAndIncrement())); j += 1 }
          })
          t.start(); t
        }
        ts.foreach(_.join())
        (10 * perThread) / ((System.nanoTime() - t0) / 1e9)
      }
      drive(40); drive(40)
      val runs = (0 until 3).map(_ => drive(30))
      println(f"wire c10 (10 clients)        ${runs.sorted.apply(1)}%9.0f qps  (runs ${runs.map(r => f"$r%.0f").mkString(",")})")
      clients.foreach(_.close())
    } finally srv.stop()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    spark.stop()
  }
}
