package graft

import graft.streaming._
import graft.tsdb._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  def tmp(): String = java.nio.file.Files.createTempDirectory("graft_stream").toString

  test("streaming ingest: json → validate → engine storage, poison rows dropped") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tmp()
    val engine = new TsdbEngine(spark, s"$dir/db")
    val mem = MemoryStream[String]
    val q = Ingest.start(engine, mem.toDF(), s"$dir/ckpt")
    try {
      mem.addData(
        """{"metric":"cpu","tags":{"h":"a"},"timestamp":100,"fields":{"v":{"d":1.5}}}""",
        """{"metric":"cpu","tags":{"h":"b"},"timestamp":200,"fields":{"v":{"l":7}}}""",
        """not json at all""",
        """{"metric":"","timestamp":1,"fields":{}}""")
      q.processAllAvailable()
      mem.addData(
        """{"metric":"cpu","tags":{"h":"a"},"timestamp":100,"fields":{"v":{"d":9.9}}}""")
      q.processAllAvailable()
    } finally q.stop()

    // latest-version-wins: the second batch's re-push of (cpu,{h:a},100) wins
    val out = engine.query(QueryParams("cpu", endNs = Some(1000)))
      .select(col("timestamp"), col("fields").getItem("v").getField("d").as("d"),
        col("fields").getItem("v").getField("l").as("l"))
      .collect().map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)))).toSeq
    assert(out == Seq(
      (100L, Some(9.9), None),
      (200L, None, Some(7L))))
  }

  test("streaming ingest drives incremental rollup + serving maintenance") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tmp()
    val engine = new TsdbEngine(spark, s"$dir/db")
    val Day = TsdbEngine.DayNs
    engine.registerRollup("cpu", 60L * 1000000000L, Seq("v"))
    val mem = MemoryStream[String]
    val q = Ingest.start(engine, mem.toDF(), s"$dir/ckpt")
    def row(day: Int, m: Long, v: Double) =
      s"""{"metric":"cpu","tags":{"h":"a"},"timestamp":${day * Day + m * 60000000000L},""" +
        s""""fields":{"v":{"d":$v}}}"""
    val p = QueryParams("cpu", startNs = 0L, endNs = Some(3 * Day - 1),
      downsampleNs = Some(3600000000000L),
      aggs = Seq(AggSpec("sum", "v"), AggSpec("count", "*")))
    try {
      // batch 1: three days (one day touched later is < half the dates,
      // staying under the churn heuristic); materializes both views
      mem.addData(row(0, 1, 1.0), row(0, 2, 2.0), row(1, 1, 3.0), row(2, 1, 5.0))
      q.processAllAvailable()
      // raw-scan shape exercises the SERVING VIEW; the downsample shape
      // routes to the ROLLUP — both must track the raw path
      val praw = QueryParams("cpu", startNs = 0L, endNs = Some(3 * Day - 1))
      def same(): Unit = {
        for (pq <- Seq(p, praw)) {
          val truth = engine.query(pq).collect().map(_.toString).toSeq
          assert(truth.nonEmpty)
          assert(engine.queryServing(pq).collect().map(_.toString).toSeq == truth)
        }
      }
      same()
      // batch 2: ONE day touched — both materializations maintain
      // incrementally off the streaming commit, answers stay identical
      mem.addData(row(1, 30, 4.5))
      q.processAllAvailable()
      assert(maintenanceDelta(engine)(same()) == Map("serving_build_incremental" -> 1L),
        "a one-day streaming micro-batch must take the serving delta path")
    } finally q.stop()
  }

  test("subscription filters: exact + prefix wildcard on metric and tags") {
    val updates = Seq(
      ("cpu.usage", Map("host" -> "web-1"), 1L),
      ("cpu.idle", Map("host" -> "web-2"), 2L),
      ("mem.free", Map("host" -> "db-1"), 3L))
      .toDF("metric", "tags", "timestamp")
    def got(f: PubSub.SubscriptionFilter): Seq[Long] =
      PubSub.subscribe(updates, f).select("timestamp").as[Long].collect().sorted.toSeq
    assert(got(PubSub.SubscriptionFilter("cpu.*")) == Seq(1L, 2L))
    assert(got(PubSub.SubscriptionFilter("*")) == Seq(1L, 2L, 3L))
    assert(got(PubSub.SubscriptionFilter("cpu.usage")) == Seq(1L))
    assert(got(PubSub.SubscriptionFilter("*", Map("host" -> "web-*"))) == Seq(1L, 2L))
    assert(got(PubSub.SubscriptionFilter("*", Map("host" -> "db-1"))) == Seq(3L))
  }

  test("ingest rules reject poison rows (range + tag allowlist), rest pass") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tmp()
    val engine = new TsdbEngine(spark, s"$dir/db")
    val rules = Seq(
      Ingest.IngestRule(metric = "cpu.*", field = "value",
        minValue = Some(0.0), maxValue = Some(100.0)),
      Ingest.IngestRule(allowedTags = Map("env" -> Seq("prod", "dev"))))
    val mem = MemoryStream[String]
    val q = Ingest.start(engine, mem.toDF(), s"$dir/ckpt", rules = rules)
    try {
      mem.addData(
        """{"metric":"cpu.usage","tags":{"env":"prod"},"timestamp":100,"fields":{"value":{"d":42.0}}}""",
        """{"metric":"cpu.usage","tags":{"env":"prod"},"timestamp":200,"fields":{"value":{"d":420.0}}}""",
        """{"metric":"cpu.usage","tags":{"env":"prod"},"timestamp":250,"fields":{"value":{"l":-3}}}""",
        """{"metric":"cpu.usage","tags":{"env":"lab"},"timestamp":300,"fields":{"value":{"d":1.0}}}""",
        """{"metric":"mem.free","tags":{"env":"dev"},"timestamp":400,"fields":{"value":{"d":9999.0}}}""")
      q.processAllAvailable()
    } finally q.stop()
    // 420.0 breaks the cpu.* range, -3 too, env=lab breaks the allowlist;
    // mem.free's 9999.0 passes (range rule is scoped to cpu.*)
    val got = engine.query(QueryParams("cpu.usage", endNs = Some(1000)))
      .select("timestamp").as[Long].collect().sorted.toSeq
    assert(got == Seq(100L))
    assert(engine.query(QueryParams("mem.free", endNs = Some(1000))).count() == 1)
  }

  test("compaction WAF accounting: bytes read/written, waf ratio") {
    val dir = tmp()
    val engine = new TsdbEngine(spark, s"$dir/db")
    val pts = (1 to 5).map(i =>
      TP("cpu", Map("h" -> "a"), i * 100L, Map("v" -> FV.dv(i)), i))
    engine.putDF(pts.toDF())
    engine.putDF(pts.toDF().withColumn("seq", col("seq") + 10)) // shadowed versions
    assert(engine.compactionStats.events == 0)
    engine.compact()
    val s = engine.compactionStats
    assert(s.events == 1)
    assert(s.bytesRead > 0 && s.bytesWritten > 0)
    // two overlapping appends merge into fewer bytes than were read
    assert(s.waf > 0.0 && s.waf < 1.0, s"waf ${s.waf}")
  }

  test("subscribers receive DELETE updates for NBQL REMOVE via the log changefeed") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tmp()
    val engine = new TsdbEngine(spark, s"$dir/db")
    val ex = new graft.nbql.NbqlExecutor(engine)
    assert(ex.execute("""PUSH cpu.usage TAGGED (host="web-1") SET (value=1.0) AT 1000""").isRight)
    assert(ex.execute("""PUSH mem.free TAGGED (host="db-1") SET (value=2.0) AT 2000""").isRight)

    // streaming subscriber with a prefix filter, fed by the commit log
    val deletes = ChangeFeed.deleteUpdates(spark, s"$dir/db")
    val sub = PubSub.subscribe(deletes, PubSub.SubscriptionFilter("cpu.*"))
    val q = sub.writeStream.format("memory").queryName("cpu_deletes")
      .option("checkpointLocation", s"$dir/ckpt").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("cpu_deletes").isEmpty) // puts alone emit no DELETE
      assert(ex.execute("""REMOVE SERIES cpu.usage TAGGED (host="web-1")""").isRight)
      assert(ex.execute("""REMOVE SERIES mem.free TAGGED (host="db-1")""").isRight)
      assert(ex.execute("""REMOVE FROM cpu.usage TAGGED (host="web-1") FROM 0 TO 500""").isRight)
      q.processAllAvailable()
    } finally q.stop()
    // the cpu.* subscriber sees cpu deletes (series + range), not mem's
    val got = spark.table("cpu_deletes")
      .select("update_type", "delete_kind", "metric")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(got == Set(("DELETE", "series", "cpu.usage"), ("DELETE", "range", "cpu.usage")))

    // batch cursor form: resume past the already-seen versions
    val all = ChangeFeed.deleteUpdatesBatch(spark, s"$dir/db")
    assert(all.count() == 3)
    val lastSeen = all.agg(max("version")).head().getLong(0)
    assert(ChangeFeed.deleteUpdatesBatch(spark, s"$dir/db", lastSeen).isEmpty)

    // PUT+DELETE union stream carries both update types through one filter
    val puts = Seq(("cpu.usage", Map("host" -> "web-1"), 1000L))
      .toDF("metric", "tags", "timestamp")
    val unified = PubSub.subscribe(
      PubSub.updateStream(puts, ChangeFeed.deleteUpdatesBatch(spark, s"$dir/db")),
      PubSub.SubscriptionFilter("cpu.*"))
    assert(unified.select("update_type").as[String].collect().sorted.toSeq ==
      Seq("DELETE", "DELETE", "PUT"))
  }

  test("outlier hook flags out-of-band values") {
    val pts = Seq(
      TP("m", Map("h" -> "a"), 1, Map("v" -> FV.dv(5.0)), 1),
      TP("m", Map("h" -> "a"), 2, Map("v" -> FV.dv(500.0)), 2),
      TP("m", Map("h" -> "a"), 3, Map("v" -> FV.lv(-3)), 3)).toDF()
    val alerts = Hooks.outliers(pts, "v", 0.0, 100.0)
    assert(alerts.select("timestamp").as[Long].collect().sorted.toSeq == Seq(2L, 3L))
  }

  test("new-series alerter fires once per series across batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Hooks.SeriesEvent]
    val alerts = Hooks.newSeriesAlerts(mem.toDS())
    val q = alerts.writeStream.format("memory").queryName("new_series")
      .outputMode("append").start()
    try {
      mem.addData(Hooks.SeriesEvent("cpu|h=a", 100), Hooks.SeriesEvent("cpu|h=a", 150),
        Hooks.SeriesEvent("cpu|h=b", 200))
      q.processAllAvailable()
      mem.addData(Hooks.SeriesEvent("cpu|h=a", 300), Hooks.SeriesEvent("cpu|h=c", 400))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("new_series").as[Hooks.NewSeriesAlert]
      .collect().map(a => a.series_key -> a.first_seen).toMap
    assert(got == Map("cpu|h=a" -> 100L, "cpu|h=b" -> 200L, "cpu|h=c" -> 400L))
  }

  test("watermarked event-time windowed aggregation drops too-late rows") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Double)]
    val pts = mem.toDF().toDF("ts_ns", "metric", "value")
      .withColumn("ts", timestamp_micros(col("ts_ns") / lit(1000L) cast "long"))
    val agg = StreamingAgg.windowed(pts, "ts", lateness = "10 seconds", windowDur = "10 seconds")
    val q = agg.writeStream.format("memory").queryName("win_agg")
      .outputMode("append").start()
    try {
      val S = 1000000000L // ns per second
      mem.addData((5 * S, "cpu", 1.0), (7 * S, "cpu", 3.0), (12 * S, "cpu", 5.0))
      q.processAllAvailable()
      // advance watermark far past the first window, then send a too-late row
      mem.addData((60 * S, "cpu", 7.0))
      q.processAllAvailable()
      mem.addData((6 * S, "cpu", 100.0)) // later than watermark -> dropped
      q.processAllAvailable()
      mem.addData((90 * S, "cpu", 9.0)) // flush remaining windows
      q.processAllAvailable()
    } finally q.stop()
    import org.apache.spark.sql.Row
    val rows = spark.table("win_agg")
      .selectExpr("window.start as ws", "n", "sum_value").collect()
      .map(r => (r.getAs[java.sql.Timestamp]("ws").getTime / 1000, r.getAs[Long]("n"),
        r.getAs[Double]("sum_value"))).toSet
    // first window [0,10) emitted with ONLY the on-time rows (late 100.0 dropped)
    assert(rows.contains((0L, 2L, 4.0)), s"got $rows")
    assert(rows.contains((10L, 1L, 5.0)), s"got $rows")
  }

  test("streaming exact dedup: first copy emitted, within-watermark dups dropped") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, String)]
    val docs = mem.toDF().toDF("sec", "doc_id", "text")
      .withColumn("ts", timestamp_seconds(col("sec")))
    val dd = StreamingDedup.exactDedup(docs, "ts", "text", lateness = "10 seconds")
    val q = dd.writeStream.format("memory").queryName("sdedup")
      .outputMode("append").start()
    try {
      mem.addData((1L, 1L, "alpha beta"), (2L, 2L, "gamma delta"))
      q.processAllAvailable()
      // same normalized content (case/whitespace differ) inside the horizon
      mem.addData((3L, 3L, "ALPHA   Beta"), (4L, 4L, "epsilon zeta"))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("sdedup").select("doc_id").as[Long].collect().toSet
    assert(got == Set(1L, 2L, 4L), s"dup doc 3 must be dropped, got $got")
  }

  test("streaming sessionize: gap merge per key, finalized past the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val ev = mem.toDF().toDF("sec", "user")
      .withColumn("ts", timestamp_seconds(col("sec")))
    val ss = StreamingSessionize.sessions(ev, "user", "ts",
      gap = "30 seconds", lateness = "10 seconds")
    val q = ss.writeStream.format("memory").queryName("ssess")
      .outputMode("append").start()
    try {
      // A: three events inside one 30 s-gap session; B: a singleton
      mem.addData((100L, "A"), (110L, "A"), (120L, "A"), (105L, "B"))
      q.processAllAvailable()
      // watermark 200-10=190 > both session ends (150, 135) → finalized;
      // 200 opens A's second session
      mem.addData((200L, "A"))
      q.processAllAvailable()
      mem.addData((400L, "A")) // watermark 390 closes [200, 230)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("ssess")
      .select(col("user"), unix_timestamp(col("session_start")),
        unix_timestamp(col("session_end")), col("n_events"))
      .as[(String, Long, Long, Long)].collect().toSet
    // session_window end = last event + gap
    assert(got.contains(("A", 100L, 150L, 3L)), s"got $got")
    assert(got.contains(("B", 105L, 135L, 1L)), s"got $got")
    assert(got.contains(("A", 200L, 230L, 1L)), s"got $got")
  }

  test("streaming dedup state expires at the horizon: far-later dup re-admits") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, String)]
    val docs = mem.toDF().toDF("sec", "doc_id", "text")
      .withColumn("ts", timestamp_seconds(col("sec")))
    val dd = StreamingDedup.exactDedup(docs, "ts", "text", lateness = "10 seconds")
    val q = dd.writeStream.format("memory").queryName("sdedup_exp")
      .outputMode("append").start()
    try {
      mem.addData((1L, 1L, "alpha beta"))
      q.processAllAvailable()
      // push the watermark far past doc 1's fingerprint state...
      mem.addData((1000L, 2L, "unrelated text"))
      q.processAllAvailable()
      // ...then the same content again: state is gone, row re-admits —
      // the bounded-state contract (and why forever-dedup is the batch
      // CC pass downstream, not this operator)
      mem.addData((1001L, 3L, "alpha beta"))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("sdedup_exp").select("doc_id").as[Long].collect().toSet
    assert(got == Set(1L, 2L, 3L),
      s"doc 3 must re-admit after state expiry, got $got")
  }

  test("self-monitoring: streaming progress republished as __ series") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tmp()
    val metricsEngine = new TsdbEngine(spark, s"$dir/metrics_db")
    val listener = new EngineMetricsListener(metricsEngine)
    spark.streams.addListener(listener)
    val mem = MemoryStream[String]
    val ingestEngine = new TsdbEngine(spark, s"$dir/db")
    val q = Ingest.start(ingestEngine, mem.toDF(), s"$dir/ckpt")
    try {
      mem.addData("""{"metric":"cpu","tags":{"h":"a"},"timestamp":100,"fields":{"v":{"d":1.0}}}""")
      q.processAllAvailable()
      // listener callbacks are async: wait for the progress points to land
      var tries = 0
      def count(): Long = metricsEngine.loadPoints().map(_.count()).getOrElse(0L)
      while (count() == 0 && tries < 50) { Thread.sleep(200); tries += 1 }
      assert(count() > 0, "expected __graft.streaming.progress points")
      val m = metricsEngine.showMetrics().collect().map(_.getString(0))
      assert(m.contains("__graft.streaming.progress"))
    } finally {
      q.stop()
      spark.streams.removeListener(listener)
    }
  }

  test("streaming near-dedup: index + within-batch verdicts, idempotent appends") {
    implicit val sqlCtx = spark.sqlContext
    import graft.pipeline.Dedup
    val idx = tmp(); val ckpt = tmp()
    val base1 = (1 to 11).map(i => s"a$i").mkString(" ")
    val near1 = base1 + " a12" // 9 of 10 shingles shared -> jaccard 0.9
    val base4 = (1 to 11).map(i => s"b$i").mkString(" ")
    val near4 = base4 + " b12"
    val base7 = (1 to 11).map(i => s"c$i").mkString(" ")
    val near7 = base7 + " c12"
    Dedup.writeDedupIndex(Seq((1L, base1)).toDF("doc_id", "text"),
      "doc_id", "text", n = 3, k = 8, bands = 4, idx)
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("doc_id", "text")
    val got = scala.collection.mutable.Map[Long, Map[Long, (String, Option[Long])]]()
    val q = StreamingNearDedup.run(docs, "doc_id", "text", idx, ckpt) { (v, id) =>
      got(id) = v.collect().map(r => r.getLong(0) ->
        (r.getString(1), Option(r.get(2)).map(_.asInstanceOf[Long]))).toMap
    }
    try {
      mem.addData((2L, base1), (3L, near1), (4L, base4), (5L, base4),
        (6L, near4), (7L, base7))
      q.processAllAvailable()
      mem.addData((8L, base4), (9L, near7), (10L, "fresh words entirely new thing here today"))
      q.processAllAvailable()
    } finally q.stop()
    assert(got(0L) == Map(
      2L -> ("exact_dup", Some(1L)), // against the index
      3L -> ("near_dup", Some(1L)),  // index wins over the (2,3) batch pair
      4L -> ("new", None),
      5L -> ("exact_dup", Some(4L)), // within-batch, min-id representative
      6L -> ("near_dup", Some(4L)),  // within-batch verified pair
      7L -> ("new", None)), s"batch 0: ${got(0L)}")
    assert(got(1L) == Map(
      8L -> ("exact_dup", Some(4L)), // doc 4 was admitted to the index
      9L -> ("near_dup", Some(7L)),
      10L -> ("new", None)), s"batch 1: ${got(1L)}")
    // the index grew ONLY with admitted content: base1 + {4, 7} + {10}
    def fpCount = spark.read.parquet(s"$idx/fps").count()
    assert(fpCount == 4L, s"fps rows $fpCount")
    // replaying an increment overwrites its partition - no duplicate rows
    Dedup.appendDedupIndex(
      Seq((10L, "fresh words entirely new thing here today")).toDF("doc_id", "text"),
      "doc_id", "text", n = 3, k = 8, bands = 4, idx, "b1")
    assert(fpCount == 4L, s"fps rows after replay $fpCount")
    // a REPLAYED micro-batch re-judges with its own partition masked, so
    // verdicts match the first attempt even though batch=b1 is on disk
    val batch1 = Seq((8L, base4), (9L, near7),
      (10L, "fresh words entirely new thing here today")).toDF("doc_id", "text")
    val replayed = StreamingNearDedup.verdictsForBatch(spark, idx, batch1,
      "doc_id", "text", 3, 8, 4, 0.8, excludeBatch = Some("b1"))
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), Option(r.get(2)).map(_.asInstanceOf[Long]))).toMap
    assert(replayed == got(1L), s"replayed verdicts drifted: $replayed")
    // without the mask the admitted doc judges as a duplicate of itself
    // (the failure mode the seam exists for)
    val unmasked = StreamingNearDedup.verdictsForBatch(spark, idx, batch1,
      "doc_id", "text", 3, 8, 4, 0.8)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(unmasked(10L) == "exact_dup")
    // an index REBUILD clears stale append partitions with it
    Dedup.writeDedupIndex(Seq((1L, base1)).toDF("doc_id", "text"),
      "doc_id", "text", n = 3, k = 8, bands = 4, idx)
    assert(fpCount == 1L, s"rebuild must clear appends, fps rows $fpCount")
  }

  test("streaming z-score: parity with the batch operator on an in-order feed") {
    implicit val sqlCtx = spark.sqlContext
    val S = 1000L // ms per second for Timestamp literals
    // series a: varied warm-up then a spike; series b: below minPoints
    val feed = (0 until 8).map(i => ("a", (i + 1) * S, i * 1.5)) ++
      Seq(("a", 9 * S, 50.0), ("b", 2 * S, 1.0), ("b", 3 * S, 2.0))
    val mem = MemoryStream[(String, Long, Double)]
    val pts = mem.toDF().toDF("k", "ms", "v")
      .withColumn("ts", timestamp_millis(col("ms")))
    val out = StreamingAnomaly.score(pts, "k", "ts", "v",
      lookback = 5, minPoints = 3, threshold = 3.0)
    val q = out.writeStream.format("memory").queryName("zstream")
      .outputMode("append").start()
    try {
      // split mid-series across micro-batches: ring state must carry over
      mem.addData(feed.take(5): _*)
      q.processAllAvailable()
      mem.addData(feed.drop(5): _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("zstream")
      .select(col("series_key"), col("ts").cast("long") * 1000, col("value"),
        col("z"), col("is_anomaly"))
      .as[(String, Long, Double, Option[Double], Boolean)]
      .collect().map(r => (r._1, r._2) -> (r._3, r._4, r._5)).toMap

    // batch twin over the same rows (ns timestamps)
    val batchPts = feed.map { case (k, ms, v) =>
      TP("m", Map("h" -> k), ms * 1000000L, Map("value" -> FV.dv(v)), ms)
    }
    val want = TsAnalytics.rollingZScore(batchPts.toDF(),
        QueryParams("m", endNs = Some(Long.MaxValue / 2)),
        lookback = 5, minPoints = 3, threshold = 3.0)
      .select(col("tags")("h"), col("timestamp") / 1000000L cast "long",
        col("value"), col("z"), col("is_anomaly"))
      .as[(String, Long, Double, Option[Double], Boolean)]
      .collect().map(r => (r._1, r._2) -> (r._3, r._4, r._5)).toMap

    assert(got.keySet == want.keySet)
    for ((k, (v, z, a)) <- want) {
      val (gv, gz, ga) = got(k)
      assert(gv == v, s"$k value")
      assert(z.isDefined == gz.isDefined, s"$k scored-ness: want $z got $gz")
      for (zw <- z; zg <- gz)
        assert(math.abs(zw - zg) < 1e-9, s"$k z: want $zw got $zg")
      assert(ga == a, s"$k anomaly flag")
    }
    // the spike actually scored anomalous through the streaming path
    assert(got(("a", 9000L))._3, "spike must flag")
  }

  test("cardinality summary persistence: append-only increments, compaction folds") {
    val day = 86400000000000L
    def pt(i: Int, off: Int) =
      TP("m", Map("h" -> s"h${i % 9}"), (i % 3) * day + i * 1000L + off,
        Map("value" -> FV.dv(1.0)), (i + off).toLong)
    val half1 = (0 until 30).map(pt(_, 0))
    val half2 = (0 until 30).map(pt(_, 500))
    val all = (half1 ++ half2).toDF()
    val path = tmp() + "/cardsum"
    def files(): Set[String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(path)).filter(_.getName.endsWith(".parquet"))
        .map(_.getAbsolutePath).toSet
    }
    TsAnalytics.writeCardinalitySummary(half1.toDF(), day, path)
    val baseFiles = files()
    TsAnalytics.appendCardinalitySummary(half2.toDF(), day, path)
    assert(baseFiles.subsetOf(files()), "append must not rewrite base files")

    def served(win: Long): Map[(String, Long), (Long, Long)] =
      TsAnalytics.cardinalityServe(
          TsAnalytics.readCardinalitySummary(spark, path), day, win)
        .select($"metric", $"window_start", $"n_series_est", $"n_points")
        .as[(String, Long, Long, Long)].collect()
        .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    def exact(win: Long): Map[(String, Long), (Long, Long)] =
      TsAnalytics.seriesCardinality(all, win, 0L, Long.MaxValue / 2)
        .as[(String, Long, Long, Long)].collect()
        .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    assert(served(day) == exact(day), "base-grain serve == exact after append")
    assert(served(3 * day) == exact(3 * day), "coarse serve == exact")

    TsAnalytics.compactCardinalitySummary(spark, path)
    val frame = TsAnalytics.readCardinalitySummary(spark, path)
    assert(frame.count() ==
      frame.select("metric", "window_start").distinct().count(),
      "compaction must fold to one row per (metric, window)")
    assert(served(day) == exact(day), "serve unchanged across compaction")
  }

  test("streaming holt smoothing: bit-for-bit parity with the batch operator") {
    implicit val sqlCtx = spark.sqlContext
    val S = 1000L
    val feed = (0 until 9).map(i => ("a", (i + 1) * S, math.sin(i) * 10 + i)) ++
      Seq(("b", 2 * S, 5.0), ("b", 3 * S, 7.5))
    val mem = MemoryStream[(String, Long, Double)]
    val pts = mem.toDF().toDF("k", "ms", "v")
      .withColumn("ts", timestamp_millis(col("ms")))
    val out = StreamingAnomaly.smooth(pts, "k", "ts", "v",
      alpha = 0.5, beta = 0.25)
    val q = out.writeStream.format("memory").queryName("holtstream")
      .outputMode("append").start()
    try {
      // level/trend state must carry across the micro-batch split
      mem.addData(feed.take(6): _*)
      q.processAllAvailable()
      mem.addData(feed.drop(6): _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("holtstream")
      .select(col("series_key"), col("ts").cast("long") * 1000,
        col("level"), col("trend"), col("forecast"))
      .as[(String, Long, Double, Double, Double)]
      .collect().map(r => (r._1, r._2) -> (r._3, r._4, r._5)).toMap

    val batchPts = feed.map { case (k, ms, v) =>
      TP("m", Map("h" -> k), ms * 1000000L, Map("value" -> FV.dv(v)), ms)
    }
    val want = TsAnalytics.holtSmooth(batchPts.toDF(),
        QueryParams("m", endNs = Some(Long.MaxValue / 2)),
        alpha = 0.5, beta = 0.25)
      .select(col("tags")("h"), col("timestamp") / 1000000L cast "long",
        col("level"), col("trend"), col("forecast"))
      .as[(String, Long, Double, Double, Double)]
      .collect().map(r => (r._1, r._2) -> (r._3, r._4, r._5)).toMap

    assert(got == want, "streaming fold must match the batch window bit-for-bit")
  }

  test("streaming downsample: windows match the batch A2 kernel; late rows dropped") {
    implicit val sqlCtx = spark.sqlContext
    val S = 1000L // ms
    val Iv = 5000000000L // 5 s in ns — two windows over the feed
    // a: values across both windows, one NaN (present for count, not a
    // numeric sample); b: a single point (stddev/frac NaN territory)
    val feed = Seq(
      ("a", 1 * S, 4.0), ("a", 2 * S, Double.NaN), ("a", 4 * S, 10.0),
      ("a", 6 * S, 2.0), ("a", 8 * S, 8.0),
      ("b", 3 * S, 7.0))
    val aggs = Seq(AggSpec("count", "*"), AggSpec("count", "value"),
      AggSpec("sum", "value"), AggSpec("avg", "value"),
      AggSpec("min", "value"), AggSpec("max", "value"),
      AggSpec("first", "value"), AggSpec("last", "value"),
      AggSpec("frac", "value"), AggSpec("stddev", "value"))
    val mem = MemoryStream[(String, Long, Double)]
    val pts = mem.toDF().toDF("k", "ms", "v")
      .withColumn("ts", timestamp_millis(col("ms")))
    val out = StreamingDownsample.downsample(pts, "k", "ts", "v", Iv, aggs,
      lateness = "2 seconds")
    val q = out.writeStream.format("memory").queryName("dsstream")
      .outputMode("append").start()
    def emitted() = spark.table("dsstream")
      .filter(col("series_key") =!= "z")
      .select(col("series_key") +: col("window_start") +:
        aggs.map(s => col(s.outputName)): _*)
      .collect().map(_.toString).toSeq.sorted
    try {
      mem.addData(feed: _*)
      q.processAllAvailable()
      // Append mode: nothing emits until the watermark passes a window
      // end — a far-future sentinel closes both feed windows
      mem.addData(("z", 100 * S, 1.0))
      q.processAllAvailable()
      val got = emitted()
      assert(got.size == 3, s"two windows for a + one for b: $got")
      // a too-late row (watermark is ~98 s) must be DROPPED: no new row,
      // no change to the already-emitted window
      mem.addData(("a", 1500L, 999.0))
      q.processAllAvailable()
      assert(emitted() == got, "late row past the watermark must be dropped")
    } finally q.stop()

    // batch twin: the engine kernel over the same points (late row and
    // sentinel excluded — they are not part of the stream's answer)
    val batchPts = feed.map { case (k, ms, v) =>
      TP("m", Map("h" -> k), ms * 1000000L, Map("value" -> FV.dv(v)), ms)
    }
    val want = QueryEngine.run(batchPts.toDF(),
        QueryParams("m", aggs = aggs, downsampleNs = Some(Iv),
          endNs = Some(Long.MaxValue / 2)))
      .select(col("tags")("h") +: col("window_start") +:
        aggs.map(s => col(s.outputName)): _*)
      .collect().map(_.toString).toSeq.sorted
    assert(emitted() == want,
      "streaming windows must match the batch A2 kernel row-for-row")

    // percentile specs are rejected up front
    intercept[IllegalArgumentException] {
      StreamingDownsample.downsample(pts, "k", "ts", "v", Iv,
        Seq(AggSpec("p95", "value")))
    }
  }

  test("streaming rate: bit-for-bit parity with the batch operator, resets included") {
    implicit val sqlCtx = spark.sqlContext
    val S = 1000L
    // a: rising with one counter reset at i=5; b: two points (one rate row)
    val feed = (0 until 9).map(i =>
      ("a", (i + 1) * S, if (i == 5) 2.0 else i * 3.0 + 1)) ++
      Seq(("b", 2 * S, 5.0), ("b", 3 * S, 7.5))
    val mem = MemoryStream[(String, Long, Double)]
    val pts = mem.toDF().toDF("k", "ms", "v")
      .withColumn("ts", timestamp_millis(col("ms")))
    val out = StreamingAnomaly.rate(pts, "k", "ts", "v")
    val q = out.writeStream.format("memory").queryName("ratestream")
      .outputMode("append").start()
    try {
      // the last-point state must carry across the micro-batch split
      mem.addData(feed.take(6): _*)
      q.processAllAvailable()
      mem.addData(feed.drop(6): _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("ratestream")
      .select(col("series_key"), col("ts").cast("long") * 1000,
        col("value"), col("delta"), col("rate_per_sec"))
      .as[(String, Long, Double, Double, Double)]
      .collect().map(r => (r._1, r._2) -> (r._3, r._4, r._5)).toMap

    val batchPts = feed.map { case (k, ms, v) =>
      TP("m", Map("h" -> k), ms * 1000000L, Map("value" -> FV.dv(v)), ms)
    }
    val want = TsAnalytics.rate(batchPts.toDF(),
        QueryParams("m", endNs = Some(Long.MaxValue / 2)))
      .select(col("tags")("h"), col("timestamp") / 1000000L cast "long",
        col("value"), col("delta"), col("rate_per_sec"))
      .as[(String, Long, Double, Double, Double)]
      .collect().map(r => (r._1, r._2) -> (r._3, r._4, r._5)).toMap

    assert(got.nonEmpty && got == want,
      "streaming rate must match the batch operator bit-for-bit")
    // first point per series emits nothing (keys are event-time ms)
    assert(!got.contains(("a", S)) && !got.contains(("b", 2 * S)))
    // the reset row clamps delta to the new value
    assert(got(("a", 6 * S))._2 == 2.0)
  }

  test("streaming running delta: last row per series matches batch rangeDelta") {
    implicit val sqlCtx = spark.sqlContext
    val S = 1000L
    // a: rising with one counter reset at i=5; b: two points
    val feed = (0 until 9).map(i =>
      ("a", (i + 1) * S, if (i == 5) 2.0 else i * 3.0 + 1)) ++
      Seq(("b", 2 * S, 5.0), ("b", 3 * S, 7.5))
    val mem = MemoryStream[(String, Long, Double)]
    val pts = mem.toDF().toDF("k", "ms", "v")
      .withColumn("ts", timestamp_millis(col("ms")))
    val out = StreamingAnomaly.runningDelta(pts, "k", "ts", "v")
    val q = out.writeStream.format("memory").queryName("deltastream")
      .outputMode("append").start()
    try {
      mem.addData(feed.take(6): _*) // state must carry across the split
      q.processAllAvailable()
      mem.addData(feed.drop(6): _*)
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("deltastream")
      .select(col("series_key"), col("ts").cast("long") * 1000,
        col("n_points"), col("delta"), col("increase"))
      .as[(String, Long, Long, Double, Double)].collect()
    // one emitted row per input point (first points emit n=1,0,0)
    assert(rows.length == feed.length)
    assert(rows.filter(_._3 == 1L).map(r => (r._1, r._4, r._5)).toSet ==
      Set(("a", 0.0, 0.0), ("b", 0.0, 0.0)))
    val lastBySeries = rows.groupBy(_._1).map { case (k, rs) =>
      k -> rs.maxBy(_._2) }
    val batchPts = feed.map { case (k, ms, v) =>
      TP("m", Map("h" -> k), ms * 1000000L, Map("value" -> FV.dv(v)), ms)
    }
    val want = TsAnalytics.rangeDelta(batchPts.toDF(),
        QueryParams("m", endNs = Some(Long.MaxValue / 2)))
      .select(col("tags")("h"), col("n_points"), col("delta"), col("increase"))
      .as[(String, Long, Double, Double)]
      .collect().map(r => r._1 -> (r._2, r._3, r._4)).toMap
    lastBySeries.foreach { case (k, (_, _, n, d, inc)) =>
      assert(want(k) == ((n, d, inc)),
        s"series $k: streaming final ($n,$d,$inc) vs batch ${want(k)}")
    }
    // exact values: a = 1,4,7,10,13,2(reset),19,22,25 → delta 24,
    // increase 3·6 + 2(reset) + 17 = 37; b = 5 → 7.5
    assert(want("a") == ((9L, 24.0, 37.0)) && want("b") == ((2L, 2.5, 2.5)))
    // mid-stream row after the reset: n=6, delta = 2−1, increase includes
    // the reset's new-value contribution (12 + 2)
    val aReset = rows.find(r => r._1 == "a" && r._3 == 6L).get
    assert(aReset._4 == 1.0 && aReset._5 == 14.0)
  }

  test("streaming transitions: last row per series matches batch (bit-identical)") {
    implicit val sqlCtx = spark.sqlContext
    val S = 1000L
    // a: rise, reset, flat repeat, rise — resets=1, changes=7 (one
    // consecutive pair equal); b: two equal points — changes=0
    val aVals = Seq(1.0, 4.0, 7.0, 2.0, 5.0, 5.0, 8.0, 11.0, 14.0)
    val feed = aVals.zipWithIndex.map { case (v, i) => ("a", (i + 1) * S, v) } ++
      Seq(("b", 2 * S, 5.0), ("b", 3 * S, 5.0))
    val mem = MemoryStream[(String, Long, Double)]
    val pts = mem.toDF().toDF("k", "ms", "v")
      .withColumn("ts", timestamp_millis(col("ms")))
    val out = StreamingAnomaly.transitions(pts, "k", "ts", "v")
    val q = out.writeStream.format("memory").queryName("transstream")
      .outputMode("append").start()
    try {
      mem.addData(feed.take(6): _*) // counts must carry across the split
      q.processAllAvailable()
      mem.addData(feed.drop(6): _*)
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("transstream")
      .select(col("series_key"), col("ts").cast("long") * 1000,
        col("n_points"), col("resets"), col("changes"))
      .as[(String, Long, Long, Long, Long)].collect()
    assert(rows.length == feed.length) // every point emits (first: 1,0,0)
    assert(rows.filter(_._3 == 1L).map(r => (r._1, r._4, r._5)).toSet ==
      Set(("a", 0L, 0L), ("b", 0L, 0L)))
    val lastBySeries = rows.groupBy(_._1).map { case (k, rs) =>
      k -> rs.maxBy(_._2) }
    val batchPts = feed.map { case (k, ms, v) =>
      TP("m", Map("h" -> k), ms * 1000000L, Map("value" -> FV.dv(v)), ms)
    }
    val want = TsAnalytics.transitions(batchPts.toDF(),
        QueryParams("m", endNs = Some(Long.MaxValue / 2)))
      .select(col("tags")("h"), col("n_points"), col("resets"), col("changes"))
      .as[(String, Long, Long, Long)]
      .collect().map(r => r._1 -> (r._2, r._3, r._4)).toMap
    lastBySeries.foreach { case (k, (_, _, n, r, c)) =>
      assert(want(k) == ((n, r, c)),
        s"series $k: streaming final ($n,$r,$c) vs batch ${want(k)}")
    }
    assert(want("a") == ((9L, 1L, 7L)) && want("b") == ((2L, 0L, 0L)))
    // the flat repeat (5.0 → 5.0) incremented neither count mid-stream
    val aFlat = rows.find(r => r._1 == "a" && r._3 == 6L).get
    assert(aFlat._4 == 1L && aFlat._5 == 4L)
  }

  test("streaming transitions: NaN/Inf are not samples (batch cleanNumeric parity)") {
    implicit val sqlCtx = spark.sqlContext
    val S = 1000L
    // NaN and ±Inf interleaved: the batch operator nulls them via
    // cleanNumeric so they are not samples — the streaming fold must
    // drop them BEFORE touching state or the counts diverge
    val feed = Seq(
      ("a", 1 * S, 5.0), ("a", 2 * S, Double.NaN), ("a", 3 * S, 2.0),
      ("a", 4 * S, Double.PositiveInfinity), ("a", 5 * S, 2.0),
      ("a", 6 * S, Double.NegativeInfinity), ("a", 7 * S, 9.0))
    val mem = MemoryStream[(String, Long, Double)]
    val pts = mem.toDF().toDF("k", "ms", "v")
      .withColumn("ts", timestamp_millis(col("ms")))
    val out = StreamingAnomaly.transitions(pts, "k", "ts", "v")
    val q = out.writeStream.format("memory").queryName("transnan")
      .outputMode("append").start()
    try { mem.addData(feed: _*); q.processAllAvailable() } finally q.stop()
    val rows = spark.table("transnan")
      .select(col("series_key"), col("ts").cast("long") * 1000,
        col("n_points"), col("resets"), col("changes"))
      .as[(String, Long, Long, Long, Long)].collect().sortBy(_._2)
    // only the 4 finite points emit; counts over (5,2,2,9):
    // resets = 1 (5→2), changes = 2 (5→2, 2→9)
    assert(rows.length == 4, rows.mkString(","))
    assert(rows.last._3 == 4L && rows.last._4 == 1L && rows.last._5 == 2L)
    val batchPts = feed.map { case (k, ms, v) =>
      TP("m", Map("h" -> k), ms * 1000000L, Map("value" -> FV.dv(v)), ms) }
    val want = TsAnalytics.transitions(batchPts.toDF(),
        QueryParams("m", endNs = Some(Long.MaxValue / 2)))
      .select(col("n_points"), col("resets"), col("changes"))
      .as[(Long, Long, Long)].collect().head
    assert(want == ((rows.last._3, rows.last._4, rows.last._5)),
      s"batch $want vs streaming ${rows.last}")
  }

  test("streaming windowed analytics: closed+expired windows match batch DELTA/RESETS/TWA BY") {
    implicit val sqlCtx = spark.sqlContext
    val S = 1000L
    val W = 4L * S * 1000000L // 4 s windows in ns
    // a: rises, resets, repeats across 4 windows (one left empty);
    // b: a single 2-point window. Integer values + integer ns gaps keep
    // every TWA sum exact, so even the FP verb compares bit-for-bit.
    val aFeed = Seq(1L -> 2.0, 2L -> 5.0, 3L -> 5.0, 5L -> 9.0, 6L -> 3.0,
      7L -> 4.0, 13L -> 8.0, 14L -> 11.0)
      .map { case (sec, v) => ("a", sec * S, v) }
    val bFeed = Seq(("b", 2 * S, 6.0), ("b", 3 * S, 2.0))
    val mem = MemoryStream[(String, Long, Double)]
    val pts = mem.toDF().toDF("k", "ms", "v")
      .withColumn("ts", timestamp_millis(col("ms")))
    val out = StreamingWindowed.windowedAnalytics(pts, "k", "ts", "v", W)
    val q = out.writeStream.format("memory").queryName("winstream")
      .outputMode("append").start()
    try {
      mem.addData(aFeed.take(5) ++ bFeed: _*)
      q.processAllAvailable()
      mem.addData(aFeed.drop(5): _*)
      q.processAllAvailable()
      // advance the watermark far past idleExpiry (1 h): every live
      // state expires and the FINAL open windows flush
      mem.addData(("zzz", 10L * 3600 * S, 1.0))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("winstream")
      .filter(col("series_key") =!= "zzz")
      .select(col("series_key"), col("window_start"), col("n_points"),
        col("delta"), col("increase"), col("resets"), col("changes"),
        col("twa"))
      .as[(String, Long, Long, Double, Double, Long, Long, Double)]
      .collect().map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6, r._7, r._8)))
      .toMap
    // batch over the identical prefix
    val batchPts = (aFeed ++ bFeed).map { case (k, ms, v) =>
      TP("m", Map("h" -> k), ms * 1000000L, Map("value" -> FV.dv(v)), ms) }
    val p = QueryParams("m", startNs = 0L, endNs = Some(Long.MaxValue / 2))
    val wd = TsAnalytics.windowedDelta(batchPts.toDF(), p, W)
      .select(col("tags")("h"), col("window_start"), col("n_points"),
        col("delta"), col("increase"))
      .as[(String, Long, Long, Double, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    val wt = TsAnalytics.windowedTransitions(batchPts.toDF(), p, W)
      .select(col("tags")("h"), col("window_start"), col("resets"),
        col("changes"))
      .as[(String, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    val twa = TsAnalytics.timeWeightedAvg(batchPts.toDF(),
        p.copy(downsampleNs = Some(W)))
      .select(col("tags")("h"), col("window_start"), col("twa"))
      .as[(String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got.keySet == wd.keySet, s"windows: ${got.keySet} vs ${wd.keySet}")
    got.foreach { case (k, (n, d, inc, rs, ch, tw)) =>
      assert(wd(k) == ((n, d, inc)), s"$k delta: got ($n,$d,$inc), want ${wd(k)}")
      assert(wt(k) == ((rs, ch)), s"$k transitions: got ($rs,$ch), want ${wt(k)}")
      assert(twa(k) == tw, s"$k twa: got $tw, want ${twa(k)}")
    }
    // spot-pin the continuous-counter boundary: a's 5.0→9.0 pair crosses
    // into window 4s — its increase (4) lands THERE, plus the in-window
    // reset 9→3 (counts 3, reset-aware) and 3→4 (1): increase = 8
    assert(got(("a", 4L * S * 1000000L))._3 == 8.0)
    // the reset (9→3) sits in window 4s: resets=1
    assert(got(("a", 4L * S * 1000000L))._4 == 1L)
  }

  test("streaming windowed smoothing matches batch EWMA/HOLT BY bit-for-bit") {
    implicit val sqlCtx = spark.sqlContext
    val S = 1000L
    val W = 4L * S * 1000000L
    val feed = Seq(("a", 1 * S, 2.0), ("a", 2 * S, 5.0), ("a", 3 * S, 4.0),
      ("a", 5 * S, 9.0), ("a", 7 * S, 3.0), ("a", 13 * S, 8.0),
      ("a", 14 * S, 11.0), ("b", 2 * S, 6.0), ("b", 3 * S, 2.5))
    def run(name: String, beta: Option[Double]): Map[(String, Long), Seq[Any]] = {
      val mem = MemoryStream[(String, Long, Double)]
      val pts = mem.toDF().toDF("k", "ms", "v")
        .withColumn("ts", timestamp_millis(col("ms")))
      val out = StreamingWindowed.windowedSmooth(pts, "k", "ts", "v", W,
        alpha = 0.25, beta = beta)
      val q = out.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        mem.addData(feed: _*); q.processAllAvailable()
        mem.addData(("zzz", 10L * 3600 * S, 1.0)); q.processAllAvailable()
      } finally q.stop()
      spark.table(name).filter(col("series_key") =!= "zzz").collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.toSeq.drop(2)).toMap
    }
    val batchPts = feed.map { case (k, ms, v) =>
      TP("m", Map("h" -> k), ms * 1000000L, Map("value" -> FV.dv(v)), ms) }
    val p = QueryParams("m", startNs = 0L, endNs = Some(Long.MaxValue / 2))
    val gotE = run("smoothewma", None)
    val wantE = TsAnalytics.ewmaSmoothBy(batchPts.toDF(), p, 0.25, W)
      .select(col("tags")("h"), col("window_start"), col("n_points"),
        col("last_ts"), col("value"), col("ewma"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.toSeq.drop(2)).toMap
    assert(gotE == wantE, s"ewma: $gotE vs $wantE")
    val gotH = run("smoothholt", Some(0.5))
    val wantH = TsAnalytics.holtSmoothBy(batchPts.toDF(), p, 0.25, 0.5, W)
      .select(col("tags")("h"), col("window_start"), col("n_points"),
        col("last_ts"), col("value"), col("level"), col("trend"),
        col("forecast"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.toSeq.drop(2)).toMap
    assert(gotH == wantH, s"holt: $gotH vs $wantH")
  }

  test("streaming trend: running least squares matches batch predictLinear") {
    implicit val sqlCtx = spark.sqlContext
    val S = 1000L
    // a: exact line v = 1 + 3·i (slope 3/s at 1 s cadence); b: two points
    val feed = (0 until 8).map(i => ("a", (i + 1) * S, 1.0 + 3.0 * i)) ++
      Seq(("b", 2 * S, 5.0), ("b", 3 * S, 7.5))
    val mem = MemoryStream[(String, Long, Double)]
    val pts = mem.toDF().toDF("k", "ms", "v")
      .withColumn("ts", timestamp_millis(col("ms")))
    val out = StreamingAnomaly.trend(pts, "k", "ts", "v", horizonSec = 2.0)
    val q = out.writeStream.format("memory").queryName("trendstream")
      .outputMode("append").start()
    try {
      mem.addData(feed.take(5): _*) // moments must carry across the split
      q.processAllAvailable()
      mem.addData(feed.drop(5): _*)
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("trendstream")
      .select(col("series_key"), col("ts").cast("long") * 1000,
        col("n_points"), col("slope_per_sec"), col("predicted"))
      .collect()
    assert(rows.length == feed.length)
    // first point of each series has no slope yet
    assert(rows.filter(_.getLong(2) == 1L)
      .forall(r => r.isNullAt(3) && r.isNullAt(4)))
    val last = rows.groupBy(_.getString(0)).map { case (k, rs) =>
      k -> rs.maxBy(_.getLong(1)) }
    // exact line: slope 3/s, forecast continues the line 2 s out
    assert(math.abs(last("a").getDouble(3) - 3.0) < 1e-9)
    assert(math.abs(last("a").getDouble(4) - (22.0 + 2.0 * 3.0)) < 1e-9)
    // parity with the batch operator (origin-shift invariant, 1e-6 rel)
    val batchPts = feed.map { case (k, ms, v) =>
      TP("m", Map("h" -> k), ms * 1000000L, Map("value" -> FV.dv(v)), ms)
    }
    val want = TsAnalytics.predictLinear(batchPts.toDF(),
        QueryParams("m", endNs = Some(Long.MaxValue / 2)),
        horizonNs = 2L * 1000000000L)
      .collect().map(r => r.getAs[Map[String, String]]("tags")("h") ->
        (r.getAs[Double]("slope_per_sec"), r.getAs[Double]("predicted"))).toMap
    last.foreach { case (k, r) =>
      val (ws, wp) = want(k)
      assert(math.abs(r.getDouble(3) - ws) <= 1e-6 * math.max(1.0, math.abs(ws)),
        s"slope parity for $k")
      assert(math.abs(r.getDouble(4) - wp) <= 1e-6 * math.max(1.0, math.abs(wp)),
        s"forecast parity for $k")
    }
  }

  test("cardinality summary: sketch serve matches exact counts; unions merge") {
    val pts = (0 until 40).flatMap { i =>
      Seq(TP("m", Map("h" -> s"h$i"), i * 100L, Map("value" -> FV.dv(1.0)), i.toLong),
        TP("m", Map("h" -> s"h${i % 7}"), 4000L + i * 100L, Map("value" -> FV.dv(1.0)), 100L + i))
    } :+ TP("n", Map("h" -> "solo"), 50L, Map("value" -> FV.dv(1.0)), 999L)
    val df = pts.toDF()
    val summary = TsAnalytics.cardinalitySummary(df, baseWindowNs = 1000L)
    // serve at the base grain and a 4× coarser grain; exact twin alongside
    for (win <- Seq(1000L, 4000L)) {
      val est = TsAnalytics.cardinalityServe(summary, 1000L, win)
        .select(col("metric"), col("window_start"), col("n_series_est"), col("n_points"))
        .as[(String, Long, Long, Long)].collect()
        .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
      val exact = TsAnalytics.seriesCardinality(df, win, 0L, Long.MaxValue / 2)
        .as[(String, Long, Long, Long)].collect()
        .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
      assert(est.keySet == exact.keySet, s"win=$win windows")
      // small cardinalities sit in HLL sparse mode → estimates are exact,
      // and point counts are exact sums by construction
      assert(est == exact, s"win=$win: est $est vs exact $exact")
    }
    // serve window must divide into the base grid
    intercept[IllegalArgumentException] {
      TsAnalytics.cardinalityServe(summary, 1000L, 1500L)
    }
  }
}
