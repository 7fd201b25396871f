package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Perf harness (driver contract: ONE JSON line on stdout).
  * Mirrors the reference's measurement shape (`cmd/perf-client/main.go`,
  * `engine2/bench_perf001_test.go`): a warmup pass excluded from
  * measurement, then three timed passes per query (interleaved round-robin
  * so a transient stall can't poison one query's every sample), reporting
  * the per-query MEDIAN, P50/P90/P99 across query medians. `value` = total
  * of per-query medians across the battery; `runs` carries the raw samples
  * so spread is visible.
  *
  * Ordering contract (round-9 reproducibility fix): the SERVING-TIER
  * loops (ingest, cold/cached qps, rollup routing, ANALYZE tiers,
  * streaming ingest) run FIRST, in the fresh forked JVM, before the
  * battery — two rounds of driver artifacts showed the serving numbers
  * swinging up to 3.3× on identical code when they ran in the battery's
  * JIT/GC wake (the battery medians were stable; the qps loops were
  * not). The reference's perf clients are standalone processes for the
  * same reason (`cmd/perf-client/main.go`). Every serving loop is now
  * also measured as the MEDIAN OF 3 PASSES with the raw per-pass qps
  * recorded in `serving_runs`, so residual variance is visible in the
  * artifact instead of silently poisoning the headline number.
  *
  * Queries are timed to FULL MATERIALIZATION (noop-format write, which
  * evaluates every output row and column) — `count()` would let Catalyst
  * prune projection work and understate serving cost. Ingest is timed
  * steady-state: the write path is exercised once on a small slice first
  * (codegen + committer warmup), then the full load is measured, matching
  * the reference protocol's warmup-then-measure shape. */
object Bench {

  /** Materialize every row/column of `df` (no driver transfer). */
  private def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def esc(e: Throwable): String =
    e.getClass.getSimpleName + ": " +
      String.valueOf(e.getMessage).replaceAll("[\"\\\\\\n\\r\\t]", " ").take(200)

  /** Host-drift sentinel (VERDICT r15 #4): a fixed, deterministic,
    * allocation-free CPU loop (FNV-1a over a counter stream) timed at
    * battery start / middle / end. Identical work every run, no Spark,
    * no I/O, single-threaded — its wall time measures the HOST
    * (frequency / steal / thermal phase), so cross-round comparisons
    * can normalize absolute numbers by the sentinel ratio instead of
    * narrative adjudication (SCALE.md host-offset rule: identical-code
    * absolutes have swung 1.5–2× between sessions). */
  private def sentinelMs(): Double = {
    var h = 0xcbf29ce484222325L
    var i = 0L
    val n = 200000000L
    val t0 = System.nanoTime()
    while (i < n) { h = (h ^ i) * 0x100000001b3L; i += 1 }
    val dt = (System.nanoTime() - t0) / 1e6
    if (h == 42L) System.err.println("sentinel") // value used: no DCE
    dt
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Pre-warm the OS page cache over the source parquet: cross-run
    // serving variance was traced to cold files, not the engine (SCALE.md
    // round-9 protocol note) — one sequential read makes runs comparable.
    try {
      val buf = new Array[Byte](1 << 20)
      Option(new java.io.File(sfDir).listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet"))
        .foreach { f =>
          val in = new java.io.FileInputStream(f)
          try { while (in.read(buf) >= 0) () } finally in.close()
        }
    } catch { case _: Throwable => () }
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // driver-side generated-class cache, sized to the battery (r17):
      // the default 100 entries holds ~12 queries' codegen units, so a
      // 121-query battery evicts everything once per pass and janino
      // recompiles every stage every pass — pure driver fixed cost,
      // identical on a 1000-executor cluster's driver (generated classes
      // are driver-compiled). Scale-independent, bounded memory
      // (~thousands of small classes); any long-running serving
      // deployment re-running many query shapes wants the same.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      // the library's standard deployment: SQL functions + optimizer
      // rules (TsPushdown, RangeJoinRewrite) ride the session — the
      // bench must time the plans a real deployment gets (round 14:
      // scoped-rule registration timed the UN-rescued nested loop,
      // because DataFrame actions re-plan; see rangeJoinAttrib)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // sentinel sample 1: session up, nothing Spark-heavy run yet
    val sentinels = scala.collection.mutable.ArrayBuffer[Double]()
    sentinels += sentinelMs()

    // SPARK_GRAFT_ONLY=a,b,c restricts the run (targeted scale
    // measurements; also keeps one JVM's broadcast/cleaner backlog
    // bounded when measuring the heavy families at big SFs)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    val qs = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // A query that throws must SURFACE as an error, never bench as a
    // ~0-second win: first failure message per query is recorded and
    // reported in the JSON (`errors`/`n_errors`).
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    def run(name: String, f: => Unit): Unit =
      try f catch { case e: Throwable => errors.getOrElseUpdate(name, esc(e)) }

    // ------------------------------------------------------------------
    // Serving tier FIRST (see ordering contract above). Per-pass qps of
    // every loop lands in `serving_runs`.
    // ------------------------------------------------------------------
    val servingRuns =
      scala.collection.mutable.LinkedHashMap[String, Seq[Double]]()
    // key -> median qps of the loop; every entry is a top-level key of
    // the JSON line (a loop that failed or was skipped has none)
    val servingMedians =
      scala.collection.mutable.LinkedHashMap[String, Double]()
    /** Median-of-3-passes throughput: each pass runs `n` iterations of
      * `body` with a globally unique iteration index (pass·n + k), so
      * cold paths stay cold across passes (no accidental result-cache
      * hits); records per-pass qps under `key`. */
    def passes3(key: String, n: Int)(body: Int => Unit): Double = {
      val qps = (0 until 3).map { p =>
        val t0 = System.nanoTime()
        var k = 0
        while (k < n) { body(p * n + k); k += 1 }
        n / ((System.nanoTime() - t0) / 1e9)
      }
      servingRuns(key) = qps
      servingMedians(key) = qps.sorted.apply(1)
      qps.sorted.apply(1)
    }
    /** Steady-state median-of-5 throughput (round-10 reproducibility
      * fix, VERDICT r9 #1): untimed warm BATCHES of `n` run until two
      * consecutive batches agree within 10% (min `minWarm`, capped at
      * `maxWarm` — JIT/GC settled), THEN 5 timed passes, each started
      * from a forced-GC state, reporting the MEDIAN of the 5 (the
      * recorded `serving_runs` arrays have 5 entries). r9's fixed-count
      * warmup left the first timed pass 3× slow: its warm indices sat
      * beyond the data's 30-day span, so warmup exercised the
      * empty-result path and the real-result path met the JIT cold.
      * Callers' generators now wrap indices into the data span (with a
      * sub-second jitter term keeping every call a result-cache miss),
      * and ONE monotone counter spans warm + timed so params never
      * repeat. The warm trajectory lands in `serving_runs` under
      * `<key>_warm` — the settle is visible in the artifact. */
    def steady5(key: String, n: Int, minWarm: Int = 5, maxWarm: Int = 40)
        (body: Int => Unit): Double = {
      var k = 0
      def batch(): Double = {
        val t0 = System.nanoTime()
        var j = 0
        while (j < n) { body(k); k += 1; j += 1 }
        n / ((System.nanoTime() - t0) / 1e9)
      }
      val warm = scala.collection.mutable.ArrayBuffer[Double]()
      warm += batch()
      while (warm.size < maxWarm && (warm.size < minWarm ||
          math.abs(warm(warm.size - 1) - warm(warm.size - 2)) /
            math.max(warm(warm.size - 1), warm(warm.size - 2)) >= 0.10)) {
        warm += batch()
      }
      servingRuns(key + "_warm") = warm.toSeq
      // 5 timed passes, each from a defined GC state (the forced
      // collection is the JMH-style iteration hygiene: a µs-scale path
      // measured over ~100 ms passes otherwise inherits whatever young-
      // gen debt the warm phase left, and one mid-pass GC cycle swings
      // a pass 2×); the MEDIAN discards the residually noisy ones
      val qps = (0 until 5).map { _ => System.gc(); batch() }
      servingRuns(key) = qps
      servingMedians(key) = qps.sorted.apply(2)
      qps.sorted.apply(2)
    }

    val tmp = java.nio.file.Files.createTempDirectory("graft_bench").toString
    val skipServing = sys.env.get("SPARK_GRAFT_SKIP_SERVING").contains("1")
    // A serving-tier failure must degrade to zeros + an `errors` entry —
    // never abort the run: the driver's JSON line is the round's only
    // bench record.
    if (!skipServing) try {
      val pts = graft.tsdb.Tables.eventsAsPoints(spark, sfDir).cache()
      val nRows = pts.count()
      // steady-state: warm the write path (codegen, parquet committer,
      // log machinery) on a throwaway engine, then time the real load as
      // the MEDIAN of 3 fresh-engine loads (single-shot ingest was the
      // highest-variance number across rounds: r4 73.3k vs r6 65.2k on
      // identical code — the round-7 probe attributed the spread to
      // JIT/GC phase, not the write path)
      new graft.tsdb.TsdbEngine(spark, s"$tmp/warm").putDF(pts.limit(1000))
      val ingestRaw = (0 until 3).map { k =>
        val eng = new graft.tsdb.TsdbEngine(spark, s"$tmp/db$k")
        val t0 = System.nanoTime()
        eng.putDF(pts)
        nRows / ((System.nanoTime() - t0) / 1e9)
      }
      servingRuns("ingest_rows_per_sec") = ingestRaw
      servingMedians("ingest_rows_per_sec") = ingestRaw.sorted.apply(1)
      val engine = new graft.tsdb.TsdbEngine(spark, s"$tmp/db0")
      pts.unpersist()
      val rnd = new scala.util.Random(42)
      // the events corpus spans 30 days (720 h) from 2024-01-01: the
      // hour offset wraps at 600 so EVERY query (warm and timed) hits
      // real data with the same 24 h window cost, and the per-wrap 1 µs
      // start jitter keeps every call's params distinct → result-cache
      // miss. (r9's warm indices 1000..1400 sat past the span: warmup
      // JIT'd the empty-result path and the first timed pass met the
      // real-result path cold — the 3.3× per-pass spread in its
      // serving_runs arrays.)
      def q(i: Int) = graft.tsdb.QueryParams("purchase",
        Map("user" -> (rnd.nextInt(100).toString)),
        startNs = 1704067200000000000L + (i % 600).toLong * 3600000000000L
          + (i / 600).toLong * 1000L,
        endNs = Some(1704067200000000000L
          + ((i % 600) + 24).toLong * 3600000000000L + (i / 600).toLong * 1000L))
      // cold = uncached RESULT on the serving path (every query distinct →
      // all result-cache misses), steady-state warm batches then 3
      // timed passes. Pass LENGTH matters as much as warmup: at ~25k
      // qps a 100-call pass lasts 4 ms and one minor-GC pause triples
      // it — passes are sized to ≥100 ms so scheduler/GC noise averages
      // out instead of landing whole in one sample.
      // the cold path's true steady state arrives late (~30k calls:
      // tiered JIT over a ~25 µs driver-side serve) — two adjacent warm
      // batches can agree mid-climb, so the floor is raised to 12
      // batches (36k calls, a few seconds) before the detector may stop
      steady5("query_qps_cold", 3000, minWarm = 12)(i =>
        { engine.serve(graft.tsdb.PointReq(q(i))); () })
      // cached = repeated identical query (result-cache hit path): ~1 µs
      // steady-state, so small samples measured ONLY keyOf's JIT warmup
      val cq = q(0)
      steady5("query_qps_cached", 200000)(_ => { engine.serve(graft.tsdb.PointReq(cq)); () })

      // rollup acceleration: the CACHED SERVING-PATH read (build excluded
      // — the battery's tsdb_rollup_downsample measures build+query; this
      // is the number the epoch-keyed materialization actually serves).
      // Same downsample shapes raw-vs-routed; every query distinct so the
      // result cache never answers. Granularity must sit at or above the
      // point density scale to compress (here: daily windows over the
      // whole range — |series| × days rollup rows vs every raw point).
      val DayNs = graft.tsdb.TsdbEngine.DayNs
      // (i%3, i%2, i%23) triples are distinct for indices distinct mod
      // 138 — every measured query is a result-cache MISS by params as
      // long as one loop's global indices stay inside a stride
      def dq(i: Int) = graft.tsdb.QueryParams("purchase",
        startNs = 1704067200000000000L + (math.abs(i) % 3).toLong * DayNs,
        endNs = Some(1704067200000000000L +
          ((math.abs(i) % 3) + 20 + (math.abs(i) % 23)).toLong * DayNs - 1),
        downsampleNs = Some((1L + (math.abs(i) % 2)) * DayNs),
        aggs = Seq(graft.tsdb.AggSpec("avg", "value"),
          graft.tsdb.AggSpec("sum", "value"), graft.tsdb.AggSpec("count", "*"),
          graft.tsdb.AggSpec("min", "value"), graft.tsdb.AggSpec("max", "value")))
      // index budget (params repeat only at stride 138, and serve
      // caches results by params — a colliding index would hit the
      // result cache mid-measurement): warm view 130, raw measured
      // 0..29, routed warm 120..123, routed measured 30..119 — all
      // distinct mod 138, all sets disjoint
      engine.serve(graft.tsdb.PointReq(dq(130))) // warm the merged serving view
      passes3("qps_downsample_raw", 10)(i => { engine.serve(graft.tsdb.PointReq(dq(i))); () })
      engine.registerRollup("purchase", DayNs, Seq("value"))
      // routed queries serve from the DRIVER-RESIDENT rollup tier
      // (LocalRollup): materialize + collect once (excluded), warm the
      // re-agg JIT, then measure — the path is sub-ms
      (120 until 124).foreach(i => engine.serve(graft.tsdb.PointReq(dq(i))))
      passes3("qps_downsample_rollup", 30)(i =>
        { engine.serve(graft.tsdb.PointReq(dq(30 + i))); () })
      // tag-grouped serving: the same downsample shapes collapsed across
      // series (GROUP BY TAGS ()) through the driver partial tier vs the
      // raw Spark operator
      def gq(i: Int) = dq(i)
      val pts0 = engine.loadPoints().get
      graft.tsdb.TsAnalytics.aggregateByTags(pts0, gq(200), Nil).count() // warm raw path
      passes3("qps_groupby_raw", 5) { i =>
        val pts = engine.loadPoints().get
        graft.tsdb.TsAnalytics.aggregateByTags(pts, gq(200 + i), Nil).count(); ()
      }
      (250 until 254).foreach(i => engine.serve(graft.tsdb.ByTagsReq(gq(i), Nil)).rows)
      passes3("qps_groupby_rollup", 30)(i =>
        { engine.serve(graft.tsdb.ByTagsReq(gq(300 + i), Nil)).rows; () })
      // ANALYZE serving tier: cold = distinct rate queries (full Spark
      // plan each, namespaced-cache misses), cached = one repeated query
      // (the dashboard-refresh path the analyze cache exists for)
      // params repeat at stride 35 without the per-wrap 1 s end offset —
      // with it, every call (warm and timed) is distinct and in-span
      def aq(i: Int) = graft.tsdb.QueryParams("purchase",
        startNs = 1704067200000000000L + (i % 5).toLong * DayNs,
        endNs = Some(1704067200000000000L + (25 + (i % 7)).toLong * DayNs
          + (i / 35).toLong * 1000000000L))
      val rateSpec = graft.tsdb.AnalyzeRate("value")
      steady5("qps_analyze_cold", 5, minWarm = 3, maxWarm = 10)(
        i => { engine.serve(graft.tsdb.AnalyzeReq(aq(i), rateSpec)).rows; () })
      // cached = the driver-side rows path (point-query analog) — the
      // hit path has no per-call plan/DataFrame floor. The repeated
      // query must stay CACHEABLE AT EVERY SF: RATE is per-point, so at
      // sf1 its ~170k rows silently exceed QueryCache.maxRowsPerEntry
      // and every "cached" call replays the full plan — a 6-orders-of-
      // magnitude qps cliff (SCALE.md round-10). DELTA emits one row
      // per series (the bounded shape dashboards actually repeat); the
      // hit path being measured is identical either way.
      val caq = aq(0)
      steady5("qps_analyze_cached", 5000)(_ =>
        { engine.serve(graft.tsdb.AnalyzeReq(caq, graft.tsdb.AnalyzeDelta("value"))); () })
      // cross-metric analytics: CORRELATE from the raw point scan vs the
      // rollup-partial route (points never scanned). engine.analyze is
      // the raw plan entry (no result cache), so each call measures the
      // PLAN path being compared; the downsample block above already
      // registered purchase@1d, view stays unregistered until the routed
      // pass so the first measurement is genuinely the point path.
      def corq(i: Int) = graft.tsdb.AnalyzeCorrelate("value", "view", "user",
        DayNs, 2 + (i % 5))
      val cp = graft.tsdb.QueryParams("purchase",
        startNs = 1704067200000000000L,
        endNs = Some(1704067200000000000L + 30L * DayNs - 1))
      engine.analyze(cp, corq(0)).count() // warm
      passes3("qps_correlate_raw", 3)(i =>
        { engine.analyze(cp, corq(i)).count(); () })
      engine.registerRollup("purchase", DayNs, Seq("value"))
      engine.registerRollup("view", DayNs, Seq("value"))
      engine.analyze(cp, corq(0)).count() // materialize both rollup views
      passes3("qps_correlate_rollup", 10)(i =>
        { engine.analyze(cp, corq(i)).count(); () })

      // ANALYZE DELTA: raw lag-scan vs rollup-partial route (purchase@1d
      // is registered above, so the routed pass reads |series|×windows
      // partial rows; distinct TAGGED filters defeat any caching)
      def dlq(i: Int) = cp.copy(tags =
        if (i % 2 == 0) Map.empty[String, String] else Map("user" -> s"${i % 7}"))
      val deltaSpec = graft.tsdb.AnalyzeDelta("value")
      engine.dropRollup("purchase")
      engine.analyze(dlq(0), deltaSpec).count() // warm the raw plan
      passes3("qps_delta_raw", 3)(i =>
        { engine.analyze(dlq(i), deltaSpec).count(); () })
      engine.registerRollup("purchase", DayNs, Seq("value"))
      engine.analyze(dlq(0), deltaSpec).count() // materialize the view
      passes3("qps_delta_rollup", 10)(i =>
        { engine.analyze(dlq(i), deltaSpec).count(); () })

      // windowed DELTA BY: raw lag-scan vs the per-window partial route
      // (same registered purchase@1d rollup; the target window is a
      // multiple of the grain so the decomposition is exact)
      val deltaBySpec = graft.tsdb.AnalyzeDeltaBy("value", 2L * DayNs)
      engine.dropRollup("purchase")
      engine.analyze(dlq(0), deltaBySpec).count() // warm the raw plan
      passes3("qps_delta_by_raw", 3)(i =>
        { engine.analyze(dlq(i), deltaBySpec).count(); () })
      engine.registerRollup("purchase", DayNs, Seq("value"))
      engine.analyze(dlq(0), deltaBySpec).count() // materialize the view
      passes3("qps_delta_by_rollup", 10)(i =>
        { engine.analyze(dlq(i), deltaBySpec).count(); () })

      // TWA: raw LOCF integral vs the rollup-partial route (`__area`
      // integrals + boundary carry from the ord structs)
      val twaSpec = graft.tsdb.AnalyzeTwa("value", DayNs)
      engine.dropRollup("purchase")
      engine.analyze(dlq(0), twaSpec).count() // warm the raw plan
      passes3("qps_twa_raw", 3)(i =>
        { engine.analyze(dlq(i), twaSpec).count(); () })
      engine.registerRollup("purchase", DayNs, Seq("value"))
      engine.analyze(dlq(0), twaSpec).count() // materialize the view
      passes3("qps_twa_rollup", 10)(i =>
        { engine.analyze(dlq(i), twaSpec).count(); () })

      // driver-resident DELTA tier: pure-Scala fold over resident
      // partials, no Spark job — distinct TAGGED filters defeat the
      // result cache so each call pays the full local fold
      engine.serve(graft.tsdb.AnalyzeReq(dlq(1), deltaSpec)) // make partials resident
      passes3("qps_delta_local", 300)(i =>
        { engine.serve(graft.tsdb.AnalyzeReq(
            dlq(1).copy(tags = Map("user" -> s"u$i")), deltaSpec)); () })
      // driver-resident IRATE tier: last-two-samples fold over the same
      // resident partials (LocalRollup.runIrate), no Spark job
      val irateSpec = graft.tsdb.AnalyzeIrate("value")
      engine.serve(graft.tsdb.AnalyzeReq(dlq(1), irateSpec))
      passes3("qps_irate_local", 300)(i =>
        { engine.serve(graft.tsdb.AnalyzeReq(
            dlq(1).copy(tags = Map("user" -> s"u$i")), irateSpec)); () })

      // counter transitions (RESETS): raw lag-scan vs the long-count
      // partial route — the r9 family; the routed read is BIT-identical
      val resetsSpec = graft.tsdb.AnalyzeResets("value")
      engine.dropRollup("purchase")
      engine.analyze(dlq(0), resetsSpec).count() // warm the raw plan
      passes3("qps_resets_raw", 3)(i =>
        { engine.analyze(dlq(i), resetsSpec).count(); () })
      engine.registerRollup("purchase", DayNs, Seq("value"))
      engine.analyze(dlq(0), resetsSpec).count() // materialize the view
      passes3("qps_resets_rollup", 10)(i =>
        { engine.analyze(dlq(i), resetsSpec).count(); () })
      // driver-resident windowed tier: RESETS BY folded from resident
      // partials, no Spark job
      val resetsBySpec = graft.tsdb.AnalyzeResetsBy("value", 2L * DayNs)
      engine.serve(graft.tsdb.AnalyzeReq(dlq(1), resetsBySpec))
      passes3("qps_resets_by_local", 300)(i =>
        { engine.serve(graft.tsdb.AnalyzeReq(
            dlq(1).copy(tags = Map("user" -> s"u$i")), resetsBySpec)); () })

      // windowed EWMA (round-10 smoothing rollup): raw per-point fold +
      // window sampling vs the stored exact fold states — the routed
      // read is BIT-identical (SmoothSpec contract), measured on the
      // same distinct-TAGGED shapes as the other analytics
      val ewmaBySpec = graft.tsdb.AnalyzeEwmaBy("value", 0.25, 2L * DayNs)
      engine.dropRollup("purchase")
      engine.analyze(dlq(0), ewmaBySpec).count() // warm the raw plan
      passes3("qps_ewma_by_raw", 3)(i =>
        { engine.analyze(dlq(i), ewmaBySpec).count(); () })
      engine.registerRollup("purchase", DayNs, Seq("value"),
        smooth = Seq(graft.tsdb.SmoothSpec("value", "ewma", 0.25)))
      engine.analyze(dlq(0), ewmaBySpec).count() // materialize the view
      passes3("qps_ewma_by_rollup", 10)(i =>
        { engine.analyze(dlq(i), ewmaBySpec).count(); () })
      // driver-resident EWMA BY tier: pure-Scala pick of stored fold
      // states, no Spark job — distinct TAGGED filters defeat the
      // result cache so each call pays the full local fold
      engine.serve(graft.tsdb.AnalyzeReq(dlq(1), ewmaBySpec)) // make partials resident
      passes3("qps_ewma_local", 300)(i =>
        { engine.serve(graft.tsdb.AnalyzeReq(
            dlq(1).copy(tags = Map("user" -> s"u$i")), ewmaBySpec)); () })

      // ------------------------------------------------------------------
      // CONCURRENT-CLIENT serving over the real framed-TCP wire (round-10;
      // the reference protocol is 10 concurrent queriers / 10 concurrent
      // writers — `cmd/query-perf-client/main.go:50-54`,
      // `cmd/perf-client/main.go:52-56`). The single-threaded loops above
      // can't see contention on the result cache, hook manager, or driver
      // tiers; these keys can. Each thread drives its OWN NbqlClient
      // (sockets aren't shared), every query distinct (result-cache
      // miss), in-span like q(i).
      // ------------------------------------------------------------------
      val srv = new graft.server.GraftTcpServer(
        new graft.nbql.NbqlExecutor(engine))
      srv.start()
      try {
        val nThreads = 10
        val nextIdx = new java.util.concurrent.atomic.AtomicInteger(0)
        def qText(): String = {
          val idx = nextIdx.getAndIncrement()
          val h = (idx % 600).toLong
          val jit = (idx / 600).toLong * 1000L
          val st = 1704067200000000000L + h * 3600000000000L + jit
          val en = 1704067200000000000L + (h + 24) * 3600000000000L + jit
          val u = idx % 100
          s"""QUERY purchase TAGGED (user="$u") FROM $st TO $en"""
        }
        val clients = (0 until nThreads).map(_ =>
          graft.client.NbqlClient.connect("127.0.0.1", srv.boundPort))
        def drive(perThread: Int): Double = {
          val t0 = System.nanoTime()
          val threads = clients.map { c =>
            val t = new Thread(() => {
              var j = 0
              while (j < perThread) { c.query(qText()); j += 1 }
            })
            t.start(); t
          }
          threads.foreach(_.join())
          (nThreads * perThread) / ((System.nanoTime() - t0) / 1e9)
        }
        drive(40); drive(40) // warm the wire codec + server pool, untimed
        val c10 = (0 until 3).map(_ => drive(30))
        servingRuns("qps_cold_c10") = c10
        servingMedians("qps_cold_c10") = c10.sorted.apply(1)
        clients.foreach(_.close())
      } finally srv.stop()

      // concurrent wire INGEST: 10 writers x framed PUSHS batches into a
      // fresh engine per pass (each batch is one storage commit — commit
      // serialization under concurrency is exactly what's measured)
      val ingRuns = (0 until 3).map { pass =>
        val ing = new graft.tsdb.TsdbEngine(spark, s"$tmp/db_c10_$pass")
        val srvI = new graft.server.GraftTcpServer(
          new graft.nbql.NbqlExecutor(ing))
        srvI.start()
        try {
          val nThreads = 10
          val batches = 4
          val batchSz = 500
          val writers = (0 until nThreads).map(tid =>
            graft.client.NbqlClient.connect("127.0.0.1", srvI.boundPort))
          val t0 = System.nanoTime()
          val threads = writers.zipWithIndex.map { case (c, tid) =>
            val t = new Thread(() => {
              var b = 0
              while (b < batches) {
                val base = tid * 1000000 + b * batchSz
                c.pushBulk((0 until batchSz).map { j =>
                  val i = base + j
                  ("purchase", Map("user" -> s"${i % 100}"),
                    1704067200000000000L + i.toLong * 1000000L,
                    Map("value" -> graft.model.FieldValue.ofDouble(
                      (i % 997).toDouble)))
                })
                b += 1
              }
            })
            t.start(); t
          }
          threads.foreach(_.join())
          val rps = (nThreads * batches * batchSz) /
            ((System.nanoTime() - t0) / 1e9)
          writers.foreach(_.close())
          rps
        } finally srvI.stop()
      }
      servingRuns("ingest_rows_per_sec_c10") = ingRuns
      servingMedians("ingest_rows_per_sec_c10") = ingRuns.sorted.apply(1)

      // release the serving engine's persisted views/rollups/driver
      // tiers before the battery: its MEMORY_AND_DISK blocks otherwise
      // ride into the battery's JVM and surface as a late-pass tail
      // (SCALE.md r14: full-run pass-3 +34% vs battery-only +5%)
      engine.close()
      ()
    } catch { case e: Throwable =>
      errors.getOrElseUpdate("serving_tier", esc(e))
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp)); ()
    }

    // Streaming ingest scale point: rows/s through the REAL structured-
    // streaming path (json parse → validate → seq-stamp → foreachBatch →
    // exactly-once commit), several micro-batches via maxFilesPerTrigger.
    // Measured wall-clock from stream start to processAllAvailable — the
    // checkpoint + txn-watermark overhead is part of the number; that is
    // the point (regressions in the commit path must move this metric).
    // Runs inside the serving-first block (before the battery) for the
    // same reproducibility contract.
    val ingestStreamRps: Double =
      if (skipServing) 0.0 else try {
        val stmp = java.nio.file.Files.createTempDirectory("graft_stream").toString
        try {
          val pts = graft.tsdb.Tables.eventsAsPoints(spark, sfDir)
          val nRows = pts.count()
          pts.drop("seq").toJSON.toDF("value")
            .repartition(8).write.text(s"$stmp/in")
          // median of 3 fresh-pipeline passes (was the last single-shot
          // serving metric — it ran in the c10 loops' GC wake and swung
          // ±30% round-over-round on identical code)
          val runs = (0 until 3).map { pass =>
            val engine = new graft.tsdb.TsdbEngine(spark, s"$stmp/db$pass")
            val src = spark.readStream
              .option("maxFilesPerTrigger", "2") // ≥4 micro-batches
              .text(s"$stmp/in")
            val t0 = System.nanoTime()
            val q = graft.streaming.Ingest.start(engine, src, s"$stmp/ckpt$pass")
            q.processAllAvailable()
            q.stop()
            nRows / ((System.nanoTime() - t0) / 1e9)
          }
          servingRuns("ingest_stream_rows_per_sec") = runs
          runs.sorted.apply(1)
        } finally {
          org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(stmp)); ()
        }
      } catch { case e: Throwable =>
        errors.getOrElseUpdate("ingest_stream", esc(e))
        0.0
      }

    // ------------------------------------------------------------------
    // Battery (after the serving tier; its own warmup pass below).
    // ------------------------------------------------------------------
    spark.sharedState.cacheManager.clearCache()
    System.gc()
    // warmup: codegen + JIT + page cache, excluded from measurement
    qs.foreach { case (name, fn) => run(name, materialize(fn(spark, sfDir))) }
    // 3 measured passes, interleaved (pass 1 of every query, then pass 2,
    // then pass 3): a transient CPU stall lands in at most one sample per
    // query, and the per-query median discards it.
    val nPasses = 3
    // SPARK_GRAFT_PASS_DIAG=1: per-pass JVM/BlockManager accounting on
    // stderr — attribution data for late-pass drift (SCALE.md r14: an
    // unexplained battery-only pass-3 +4.6% residual). Cumulative
    // counters (jit/gc) are diffed between passes by the reader.
    val passDiag = sys.env.get("SPARK_GRAFT_PASS_DIAG").contains("1")
    def diag(tag: String): Unit = if (passDiag) {
      import java.lang.management.{ManagementFactory => mf}
      val jitMs = mf.getCompilationMXBean.getTotalCompilationTime
      var gcMs = 0L
      mf.getGarbageCollectorMXBeans.forEach(g =>
        gcMs += math.max(0L, g.getCollectionTime))
      var codeKb = 0L; var metaKb = 0L
      mf.getMemoryPoolMXBeans.forEach { p =>
        val n = p.getName
        if (n.contains("CodeHeap") || n.contains("Code Cache"))
          codeKb += p.getUsage.getUsed >> 10
        if (n.contains("Metaspace")) metaKb += p.getUsage.getUsed >> 10
      }
      val rdds = spark.sparkContext.getPersistentRDDs.size
      val blockMem = spark.sparkContext.getExecutorMemoryStatus
        .map { case (_, (max, rem)) => max - rem }.sum
      System.err.println(s"[diag] $tag jit_ms=$jitMs gc_ms=$gcMs " +
        s"code_kb=$codeKb meta_kb=$metaKb persistent_rdds=$rdds " +
        s"block_mem_used_mb=${blockMem >> 20} " +
        s"heap_used_mb=${mf.getMemoryMXBean.getHeapMemoryUsage.getUsed >> 20} " +
        s"threads=${mf.getThreadMXBean.getThreadCount}")
    }
    diag("warmup-end")
    // sentinel sample 2: between the serving tier and the battery
    sentinels += sentinelMs()
    val samples: Seq[Seq[(String, Double)]] = (0 until nPasses).map { p =>
      val passRows = qs.map { case (name, fn) =>
        val t0 = System.nanoTime()
        run(name, materialize(fn(spark, sfDir)))
        name -> (System.nanoTime() - t0) / 1e9
      }
      diag(s"pass$p-end total=${passRows.map(_._2).sum}")
      passRows
    }
    // sentinel sample 3: battery done
    sentinels += sentinelMs()
    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    val byQuery: Seq[(String, Seq[Double])] =
      qs.map { case (name, _) => name -> samples.map(_.toMap.apply(name)) }
    val results = byQuery.map { case (name, ts) => name -> median(ts) }
    val lat = results.map(_._2).sorted
    def pct(p: Double): Double =
      if (lat.isEmpty) 0.0 else lat(math.min(lat.size - 1, (p * lat.size).toInt))
    val qjson = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // per-query MIN alongside the median: on a host with documented
    // same-day 1.9x upper-quartile drift (SCALE.md r14), the min is the
    // more code-faithful statistic for cross-round comparisons — the
    // r14 ANN-family "regression" was medians-of-3 inflated by host
    // noise while every pass minimum sat at the prior round's level
    val qminJson = byQuery.map { case (k, ts) => "\"" + k + "\":" + ts.min }
      .mkString("{", ",", "}")
    val runsJson = byQuery.map { case (k, ts) =>
      "\"" + k + "\":" + ts.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val total = results.map(_._2).sum

    val servingRunsJson = servingRuns.map { case (k, ts) =>
      "\"" + k + "\":" + ts.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qjson,""" +
      s""""queries_min":$qminJson,""" +
      s""""runs":$runsJson,"passes":$nPasses,""" +
      s""""p50":${pct(0.5)},"p90":${pct(0.9)},"p99":${pct(0.99)},""" +
      servingMedians.map { case (k, v) => s""""$k":$v,""" }.mkString +
      s""""ingest_stream_rows_per_sec":$ingestStreamRps,""" +
      s""""serving_runs":$servingRunsJson,""" +
      // host-drift sentinel (start/middle/end): normalize cross-round
      // absolutes by the ratio of sentinel MEDIANS before judging a
      // regression; a spread within one run flags an intra-run phase
      s""""sentinel_ms":${sentinels.mkString("[", ",", "]")},""" +
      s""""sentinel_ms_median":${sentinels.sorted.apply(sentinels.size / 2)},""" +
      // spec-change provenance for keys whose measured query SHAPE changed
      // across rounds (comparing them round-over-round without this note
      // would be apples-to-oranges)
      s""""notes":{"qps_analyze_cached":"repeats ANALYZE DELTA """ +
      s"""(bounded-output shape) since r10; r4-r9 repeated ANALYZE RATE, """ +
      s"""which silently exceeds the result-cache row cap at sf>=1"},""" +
      s""""n_errors":${errors.size},"errors":$errJson,""" +
      s""""n_queries":${results.size},"sf":"$sfDir"}"""
    println(line)
    // The driver archives only a short tail of stdout per round, which
    // loses the per-query arrays for large batteries — persist the FULL
    // record as a repo artifact too (committed per round as
    // bench_r<N>_full.json).
    try {
      val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_full_latest.json")
      java.nio.file.Files.write(java.nio.file.Paths.get(out),
        (line + "\n").getBytes("UTF-8"))
    } catch { case _: Throwable => () } // stdout line already carries the record
    spark.stop()
  }
}
