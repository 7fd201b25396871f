package graft

import org.apache.spark.sql.SparkSession

/** Throwaway measurement probe (like [[Probe]]): times the raw vs
  * rollup-routed cached serving path stage by stage and prints the routed
  * executed plan. Not part of the battery. */
object ProbeRollup {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tmp = java.nio.file.Files.createTempDirectory("graft_proberollup").toString
    val pts = graft.tsdb.Tables.eventsAsPoints(spark, sfDir)
    val engine = new graft.tsdb.TsdbEngine(spark, s"$tmp/db")
    engine.putDF(pts)
    val DayNs = graft.tsdb.TsdbEngine.DayNs
    def dq(i: Int) = graft.tsdb.QueryParams("purchase",
      startNs = 1704067200000000000L + (math.abs(i) % 3).toLong * DayNs,
      endNs = Some(1704067200000000000L +
        ((math.abs(i) % 3) + 20 + (math.abs(i) % 23)).toLong * DayNs - 1),
      downsampleNs = Some((1L + (math.abs(i) % 2)) * DayNs),
      aggs = Seq(graft.tsdb.AggSpec("avg", "value"),
        graft.tsdb.AggSpec("sum", "value"), graft.tsdb.AggSpec("count", "*"),
        graft.tsdb.AggSpec("min", "value"), graft.tsdb.AggSpec("max", "value")))
    def time(tag: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      f
      println(f"$tag: ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    if (args.headOption.contains("incr")) {
      // incremental-maintenance cost: full build vs one-day rebuild
      engine.registerRollup("purchase", DayNs, Seq("value"))
      var t0 = System.nanoTime()
      engine.serve(graft.tsdb.PointReq(dq(55))).rows // full materialization
      println(f"full build+first query: ${(System.nanoTime() - t0) / 1e9}%.3f s")
      t0 = System.nanoTime()
      engine.serve(graft.tsdb.PointReq(dq(56))).rows
      println(f"routed steady read: ${(System.nanoTime() - t0) / 1e9}%.3f s")
      // one-day append → only that date partition rebuilds
      engine.putBatch(Seq(graft.model.DataPoint("purchase", Map("user" -> "7"),
        1704067200000000000L + 5 * DayNs + 1234L,
        Map("value" -> graft.model.FieldValue(d = Some(42.0))))))
      t0 = System.nanoTime()
      engine.serve(graft.tsdb.PointReq(dq(57))).rows // incremental rebuild + query
      println(f"one-day incremental rebuild+query: ${(System.nanoTime() - t0) / 1e9}%.3f s")
      t0 = System.nanoTime()
      engine.serve(graft.tsdb.PointReq(dq(58))).rows
      println(f"routed steady read after incr: ${(System.nanoTime() - t0) / 1e9}%.3f s")
      spark.stop()
      return
    }
    engine.serve(graft.tsdb.PointReq(dq(55))).rows
    // measure raw steady state WITHOUT a rollup registered, then register
    // and interleave: distinct params per call so the result cache never
    // answers (triples (i%3, i%2, i%5) distinct per 10-window)
    var rawNs = 0L; var routedNs = 0L
    (0 until 10).foreach(i => time(s"raw $i")(engine.serve(graft.tsdb.PointReq(dq(i))).rows))
    engine.registerRollup("purchase", DayNs, Seq("value"))
    time("rollup build")(engine.serve(graft.tsdb.PointReq(dq(56))).rows)
    (0 until 10).foreach { k =>
      val t0 = System.nanoTime()
      engine.serve(graft.tsdb.PointReq(dq(100 + k))).rows
      routedNs += System.nanoTime() - t0
    }
    engine.dropRollup("purchase")
    (0 until 10).foreach { k =>
      val t0 = System.nanoTime()
      engine.serve(graft.tsdb.PointReq(dq(200 + k))).rows
      rawNs += System.nanoTime() - t0
    }
    println(f"steady raw: ${rawNs / 10 / 1e9}%.3f s/q   routed: ${routedNs / 10 / 1e9}%.3f s/q")

    // dissect: plan construction vs execution on both paths
    engine.registerRollup("purchase", DayNs, Seq("value"))
    engine.serve(graft.tsdb.PointReq(dq(57))).rows // rebuild materialization (dropRollup wiped it)
    (0 until 3).foreach { k =>
      val i = 300 + k
      var t0 = System.nanoTime()
      val routed = engine.queryServing(dq(i)) // plan only (lazy)
      val tPlanR = (System.nanoTime() - t0) / 1e9
      t0 = System.nanoTime()
      val n1 = routed.limit(2000001).collect().length
      val tExecR = (System.nanoTime() - t0) / 1e9
      engine.dropRollup("purchase")
      t0 = System.nanoTime()
      val raw = engine.queryServing(dq(i + 30))
      val tPlanW = (System.nanoTime() - t0) / 1e9
      t0 = System.nanoTime()
      val n2 = raw.limit(2000001).collect().length
      val tExecW = (System.nanoTime() - t0) / 1e9
      engine.registerRollup("purchase", DayNs, Seq("value"))
      engine.serve(graft.tsdb.PointReq(dq(58 + k))).rows // re-materialize, excluded
      println(f"dissect $k: routed plan $tPlanR%.3f exec $tExecR%.3f ($n1 rows)  " +
        f"raw plan $tPlanW%.3f exec $tExecW%.3f ($n2 rows)")
      if (k == 2) {
        println("=== ROUTED FINAL PLAN ===")
        println(routed.queryExecution.executedPlan.toString.take(6000))
        println("=== RAW FINAL PLAN ===")
        println(raw.queryExecution.executedPlan.toString.take(6000))
      }
    }
    spark.stop()
  }
}
