package perfbench

import org.apache.spark.sql.SparkSession

/** `battery`: a fixed subset of `SparkEntry.queries` over the bundled
  * testdata, one per query family. An untimed pass writes every output as
  * parquet (compared against DuckDB outside the JVM), then whole timed
  * passes run, each query materialized in full with a noop write: at
  * least [[MinPasses]], and more while they fit in `--seconds`. Every
  * figure is a median over passes, so the slower first passes, still
  * compiling, do not set it. */
object Battery {
  /** (query, family), in run order: one query per family. */
  val Subset: Seq[(String, String)] = Seq(
    "tsdb_downsample_1h" -> "tsdb", "ts_ratio" -> "ts", "nbql_topk" -> "nbql",
    "asof_click_before_purchase" -> "relational", "doc_stats" -> "text",
    "dedup_minhash_lsh" -> "dedup", "embedding_topk" -> "similarity",
    "sample_stratified" -> "curate")
  val Families: Seq[String] = Subset.map(_._2).distinct
  private val timeSeriesFamilies = Set("tsdb", "ts", "nbql")
  val MinPasses = 4

  def run(spark: SparkSession, ctx: Ctx, dataDir: String): Unit = {
    val res = ctx.result
    val queries = Subset.map { case (n, fam) => (n, fam, graft.SparkEntry.queries(n)) }
    // pre-read the inputs so the first pass does not time cold files
    Ctx.treeFiles(new java.io.File(dataDir)).foreach(f => java.nio.file.Files.readAllBytes(f.toPath))

    // warm-up pass: the outputs the comparison checks
    val outDir = ctx.dir("outputs")
    queries.foreach { case (n, _, f) =>
      res.attempted.incrementAndGet()
      try f(spark, dataDir).write.mode("overwrite").parquet(new java.io.File(outDir, n).getPath)
      catch { case e: Throwable => res.wrong(s"$n failed in the warm-up pass: $e") }
    }
    val oracle = Subset.map { case (n, _) =>
      s"${Json.str(n)}:${Json.str(graft.SparkEntry.oracleSql(n))}" }.mkString("{", ",", "}")
    java.nio.file.Files.writeString(new java.io.File(outDir, "oracle_sql.json").toPath, oracle)
    ctx.log("warmed up")

    // timed passes
    final case class Q(name: String, fam: String, constructMs: Double, execMs: Double)
    val obs0 = ctx.observer.snapshot
    val (gc0, jit0) = Observer.jvmTimes
    ctx.setupDone()
    val t0 = System.nanoTime()
    val passes = scala.collection.mutable.ArrayBuffer[(Double, Long, Long, Seq[Q])]()
    // whole passes only: MinPasses, then none that would run past `seconds`
    while (passes.size < MinPasses ||
        System.nanoTime() - t0 + passes.last._1 * 1e9 <= ctx.seconds * Wiring.Sec) {
      val p0 = System.currentTimeMillis(); val pn0 = System.nanoTime()
      val qs = queries.map { case (n, fam, f) =>
        ctx.tracer.span(s"battery.$n", passes.size.toLong) {
          val c0 = System.nanoTime()
          val df = ctx.tracer.span("battery.construct", passes.size.toLong)(f(spark, dataDir))
          val c1 = System.nanoTime()
          try ctx.tracer.span("battery.exec", passes.size.toLong)(
            df.write.format("noop").mode("overwrite").save())
          catch { case e: Throwable => res.wrong(s"$n failed in a timed pass: $e") }
          Q(n, fam, Stats.ms(c1 - c0), Stats.ms(System.nanoTime() - c1))
        }
      }
      passes += (((System.nanoTime() - pn0) / 1e9, p0, System.currentTimeMillis(), qs))
    }
    val (gc1, jit1) = Observer.jvmTimes
    Thread.sleep(300) // let the listener bus deliver the last events
    val obs1 = ctx.observer.snapshot

    val all = passes.flatMap(_._4)
    val perQuery = all.groupBy(_.name).map { case (n, xs) =>
      n -> Stats.median(xs.map(q => q.constructMs + q.execMs)) }
    val np = passes.size.toDouble
    res.metric("ops_per_s", queries.size / Stats.median(passes.map(_._1)), "1/s")
    res.metric("op_p50_ms", Stats.median(perQuery.values), "ms")
    res.metric("read_p50_ms", Stats.median(Subset.collect {
      case (n, f) if timeSeriesFamilies(f) => perQuery(n) }), "ms")
    res.metric("heavy_p50_ms", Stats.median(Subset.collect {
      case (n, f) if !timeSeriesFamilies(f) && f != "relational" => perQuery(n) }), "ms")
    res.metric("battery.pass_s", Stats.median(passes.map(_._1)), "s")
    res.metric("battery.passes", np, "count")
    Families.foreach { fam =>
      res.metric(s"battery.${fam}_s", Subset.collect { case (n, `fam`) => perQuery(n) }.sum / 1e3, "s") }
    res.metric("battery.construct_s", all.map(_.constructMs).sum / 1e3 / np, "s")
    res.metric("battery.exec_s", all.map(_.execMs).sum / 1e3 / np, "s")
    res.metric("battery.plan_s", (obs1("plan") - obs0("plan")) / 1e9 / np, "s")
    res.metric("battery.driver_gap_s", passes.map { case (w, a, b, _) =>
      w - ctx.observer.jobCoverMs(a, b) / 1e3 }.sum / np, "s")
    Observer.sparkMetrics(obs0, obs1).foreach { case (n, v, u) =>
      res.metric(n, if (u == "ratio") v else v / np, u) }
    res.metric("jvm.gc_s", (gc1 - gc0) / np, "s")
    res.metric("jvm.jit_s", (jit1 - jit0) / np, "s")
    res.details.put("query_ms", perQuery.toSeq.sortBy(_._1)
      .map { case (n, v) => s"${Json.str(n)}:$v" }.mkString("{", ",", "}"))
    res.metric("live_heap_mb", Observer.liveHeapMb(), "MB")
  }
}
