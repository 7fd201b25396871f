package graft

import graft.model.FieldValue
import graft.nbql._
import graft.tsdb._

/** Parser-level tests over the grammar strings the reference's own tests
  * use (SURVEY §3.4, e.g. `server/app_server_tcp_test.go:169`,
  * `clients/nbql/golang/example/main.go:88`). */
class NbqlParserSpec extends SparkSpec {

  def p(s: String): Statement = NbqlParser.parse(s).fold(e => fail(e), identity)

  test("PUSH with tags, mixed-type fields, AT") {
    val st = p("""PUSH system.logs TAGGED (app="api", dc="us-east-1")
                  SET (level="info", status=200, success=TRUE, score=1.5) AT 123456789;""")
    val push = st.asInstanceOf[PushStatement]
    assert(push.metric == "system.logs")
    assert(push.tags == Map("app" -> "api", "dc" -> "us-east-1"))
    assert(push.fields("level") == FieldValue.ofString("info"))
    assert(push.fields("status") == FieldValue.ofLong(200))
    assert(push.fields("success") == FieldValue.ofBool(true))
    assert(push.fields("score") == FieldValue.ofDouble(1.5))
    assert(push.atNs.contains(123456789L))
  }

  test("QUERY with range, tags, downsample aggregate, alias, modifiers") {
    val st = p("""QUERY cpu.usage FROM 0 TO 1000000000 TAGGED (region="eu")
                  AGGREGATE BY 1m (avg(load1), max(load5) AS peak, count(*), p99.9(lat))
                  EMIT EMPTY WINDOWS DESC LIMIT 50""")
    val q = st.asInstanceOf[QueryStatement]
    assert(q.metric == "cpu.usage")
    assert(q.fromNs.contains(0L) && q.toNs.contains(1000000000L))
    assert(q.tags == Map("region" -> "eu"))
    assert(q.byIntervalNs.contains(60L * 1000000000L))
    assert(q.aggs == Seq(
      AggSpec("avg", "load1"), AggSpec("max", "load5", Some("peak")),
      AggSpec("count", "*"), AggSpec("p99.9", "lat")))
    assert(q.aggs(3).percentile.contains(99.9))
    assert(q.emitEmptyWindows && q.order == Descending && q.limit.contains(50L))
  }

  test("QUERY FILL modes parse; FILL defaults to NONE") {
    val q = p("QUERY cpu FROM 0 TO 10 AGGREGATE BY 1m (avg(v)) FILL(LINEAR)")
      .asInstanceOf[QueryStatement]
    assert(q.fill == graft.tsdb.FillLinear)
    assert(p("QUERY cpu AGGREGATE BY 1m (avg(v)) FILL(PREVIOUS)")
      .asInstanceOf[QueryStatement].fill == graft.tsdb.FillPrevious)
    assert(p("QUERY cpu AGGREGATE BY 1m (avg(v)) FILL(NONE)")
      .asInstanceOf[QueryStatement].fill == graft.tsdb.FillNone)
    assert(p("QUERY cpu AGGREGATE BY 1m (avg(v))")
      .asInstanceOf[QueryStatement].fill == graft.tsdb.FillNone)
    assert(NbqlParser.parse("QUERY cpu AGGREGATE BY 1m (avg(v)) FILL(ZERO)").isLeft)
  }

  test("QUERY GROUP BY TAGS parses: keys, empty collapse, default absent") {
    val q = p("""QUERY cpu FROM 0 TO 10 AGGREGATE BY 1m (sum(v))
                 GROUP BY TAGS (dc, rack)""").asInstanceOf[QueryStatement]
    assert(q.groupByTags.contains(Seq("dc", "rack")))
    assert(p("QUERY cpu AGGREGATE (sum(v)) GROUP BY TAGS ()")
      .asInstanceOf[QueryStatement].groupByTags.contains(Seq.empty))
    assert(p("QUERY cpu AGGREGATE (sum(v))")
      .asInstanceOf[QueryStatement].groupByTags.isEmpty)
  }

  test("QUERY FROM RELATIVE and final aggregate (no BY)") {
    val q = p("QUERY mem FROM RELATIVE(2h) AGGREGATE (sum(used), stddev(used))")
      .asInstanceOf[QueryStatement]
    assert(q.relativeNs.contains(7200L * 1000000000L))
    assert(q.byIntervalNs.isEmpty && q.aggs.size == 2)
  }

  test("REMOVE forms") {
    assert(p("""REMOVE SERIES "web.hits" TAGGED (host="h1")""") ==
      RemoveSeriesStatement("web.hits", Map("host" -> "h1")))
    assert(p("""REMOVE FROM "web.hits" TAGGED (host="h1") AT 42""") ==
      RemovePointStatement("web.hits", Map("host" -> "h1"), 42L))
    assert(p("""REMOVE FROM "web.hits" TAGGED (host="h1") FROM 10 TO 20""") ==
      RemoveRangeStatement("web.hits", Map("host" -> "h1"), 10L, 20L))
  }

  test("SHOW / FLUSH / SNAPSHOT / RESTORE") {
    assert(p("SHOW METRICS") == ShowMetricsStatement)
    assert(p("SHOW TAG KEYS FROM cpu") == ShowTagKeysStatement("cpu"))
    assert(p("SHOW TAG VALUES FROM cpu WITH KEY = host") ==
      ShowTagValuesStatement(Some("cpu"), "host"))
    assert(p("FLUSH MEMTABLE") == FlushStatement("MEMTABLE"))
    assert(p("SNAPSHOT") == SnapshotStatement)
    assert(p("RESTORE FROM '/tmp/snap' WITH OVERWRITE") ==
      RestoreStatement("/tmp/snap", overwrite = true))
  }

  test("QUERY ANALYZE forms parse; bad forms are errors") {
    assert(p("QUERY cpu FROM 0 TO 10 ANALYZE RATE(v)")
      .asInstanceOf[QueryStatement].analyze.contains(AnalyzeRate("v")))
    assert(p("QUERY cpu ANALYZE EWMA(v, 0.25)")
      .asInstanceOf[QueryStatement].analyze.contains(AnalyzeEwma("v", 0.25)))
    assert(p("QUERY cpu ANALYZE HOLT(v, 0.5, 0.25)")
      .asInstanceOf[QueryStatement].analyze.contains(AnalyzeHolt("v", 0.5, 0.25)))
    assert(p("QUERY cpu ANALYZE EWMA(v, 0.25) BY 1h")
      .asInstanceOf[QueryStatement].analyze
      .contains(graft.tsdb.AnalyzeEwmaBy("v", 0.25, 3600L * 1000000000L)))
    assert(p("QUERY cpu ANALYZE HOLT(v, 0.5, 0.25) BY 1d")
      .asInstanceOf[QueryStatement].analyze
      .contains(graft.tsdb.AnalyzeHoltBy("v", 0.5, 0.25, 86400L * 1000000000L)))
    assert(p("""CREATE ROLLUP cpu BY 1m (value) SMOOTH EWMA(value, 0.25), HOLT(value, 0.5, 0.25)""") ==
      CreateRollupStatement("cpu", 60L * 1000000000L, Seq("value"), false,
        Seq(graft.tsdb.SmoothSpec("value", "ewma", 0.25),
          graft.tsdb.SmoothSpec("value", "holt", 0.5, 0.25))))
    assert(p("QUERY cpu ANALYZE TWA(v) BY 1h")
      .asInstanceOf[QueryStatement].analyze
      .contains(AnalyzeTwa("v", 3600L * 1000000000L)))
    assert(p("QUERY cpu ANALYZE CUMSUM(v)")
      .asInstanceOf[QueryStatement].analyze.contains(AnalyzeCumsum("v")))
    assert(p("QUERY cpu ANALYZE DELTA(v)")
      .asInstanceOf[QueryStatement].analyze.contains(graft.tsdb.AnalyzeDelta("v")))
    assert(p("QUERY cpu ANALYZE IRATE(v)")
      .asInstanceOf[QueryStatement].analyze.contains(graft.tsdb.AnalyzeIrate("v")))
    assert(p("QUERY cpu ANALYZE RESETS(v)")
      .asInstanceOf[QueryStatement].analyze.contains(graft.tsdb.AnalyzeResets("v")))
    assert(p("QUERY cpu ANALYZE CHANGES(v)")
      .asInstanceOf[QueryStatement].analyze.contains(graft.tsdb.AnalyzeChanges("v")))
    assert(p("QUERY cpu ANALYZE RESETS(v) BY 1d")
      .asInstanceOf[QueryStatement].analyze
      .contains(graft.tsdb.AnalyzeResetsBy("v", 86400L * 1000000000L)))
    assert(p("QUERY cpu ANALYZE CHANGES(v) BY 1h")
      .asInstanceOf[QueryStatement].analyze
      .contains(graft.tsdb.AnalyzeChangesBy("v", 3600L * 1000000000L)))
    assert(NbqlParser.parse("QUERY cpu ANALYZE RESETS()").isLeft)
    assert(NbqlParser.parse("QUERY cpu ANALYZE CHANGES").isLeft)
    assert(p("QUERY cpu ANALYZE PREDICT(v, 1h)")
      .asInstanceOf[QueryStatement].analyze
      .contains(graft.tsdb.AnalyzePredict("v", 3600L * 1000000000L)))
    assert(p("QUERY cpu ANALYZE DERIV(v)")
      .asInstanceOf[QueryStatement].analyze.contains(graft.tsdb.AnalyzeDeriv("v")))
    assert(p("QUERY cpu ANALYZE RATE(v) BY 1h")
      .asInstanceOf[QueryStatement].analyze
      .contains(graft.tsdb.AnalyzeRateBy("v", 3600L * 1000000000L)))
    assert(p("QUERY cpu AGGREGATE (sum(v)) ANALYZE BOTTOMK(3, sum_v) " +
        "GROUP BY TAGS (h)")
      .asInstanceOf[QueryStatement].analyze
      .contains(AnalyzeTopK(3, "sum_v", ascending = true)))
    assert(NbqlParser.parse("QUERY cpu ANALYZE PREDICT(v)").isLeft) // horizon mandatory
    assert(NbqlParser.parse("QUERY cpu ANALYZE DELTA()").isLeft)
    assert(p("QUERY cpu ANALYZE ZSCORE(v, 20, 3.0)")
      .asInstanceOf[QueryStatement].analyze.contains(AnalyzeZScore("v", 20, 3.0)))
    // composes with TAGGED/range/FILTER in any order
    val q = p("""QUERY cpu TAGGED (dc="eu") FROM 0 TO 99 FILTER (v > 1) ANALYZE RATE(v)""")
      .asInstanceOf[QueryStatement]
    assert(q.analyze.contains(AnalyzeRate("v")) && q.tags == Map("dc" -> "eu") &&
      q.valueFilters.nonEmpty)
    assert(NbqlParser.parse("QUERY cpu ANALYZE").isLeft)
    // cross-metric + ranking forms
    assert(p("QUERY reqs ANALYZE CORRELATE(v, errs, host) BY 1h")
      .asInstanceOf[QueryStatement].analyze
      .contains(AnalyzeCorrelate("v", "errs", "host", 3600L * 1000000000L, 8)))
    assert(p("QUERY reqs ANALYZE CORRELATE(v, errs, host, 3) BY 1m")
      .asInstanceOf[QueryStatement].analyze
      .contains(AnalyzeCorrelate("v", "errs", "host", 60L * 1000000000L, 3)))
    assert(p("QUERY a ANALYZE RATIO(v, b, host) BY 1s")
      .asInstanceOf[QueryStatement].analyze
      .contains(AnalyzeRatio("v", "b", "host", 1000000000L)))
    assert(p("QUERY m AGGREGATE (sum(v)) ANALYZE TOPK(5, sum_v) GROUP BY TAGS (host)")
      .asInstanceOf[QueryStatement].analyze.contains(AnalyzeTopK(5, "sum_v")))
    assert(NbqlParser.parse("QUERY a ANALYZE CORRELATE(v, b, host)").isLeft) // BY mandatory
    assert(NbqlParser.parse("QUERY a ANALYZE RATIO(v, b) BY 1s").isLeft)
    assert(NbqlParser.parse("QUERY m ANALYZE TOPK(sum_v)").isLeft)
    // SPLIT <dur> rides the order-free query tail
    assert(p("QUERY cpu ANALYZE RATE(v) SPLIT 1h")
      .asInstanceOf[QueryStatement].analyzeSplitNs.contains(3600L * 1000000000L))
    assert(p("QUERY cpu SPLIT 30m ANALYZE EWMA(v, 0.3)")
      .asInstanceOf[QueryStatement].analyzeSplitNs.contains(1800L * 1000000000L))
    assert(p("QUERY cpu ANALYZE RATE(v) SPLIT AUTO")
      .asInstanceOf[QueryStatement].analyzeSplitNs
      .contains(graft.tsdb.TsAnalytics.SplitAuto))
    assert(NbqlParser.parse("QUERY cpu ANALYZE RATE(v) SPLIT").isLeft)
    assert(NbqlParser.parse("QUERY cpu ANALYZE RATE").isLeft) // field is mandatory
    assert(NbqlParser.parse("QUERY cpu ANALYZE EWMA(0.25)").isLeft)
    assert(NbqlParser.parse("QUERY cpu ANALYZE HOLT(v, 0.5)").isLeft)
    assert(NbqlParser.parse("QUERY cpu ANALYZE TWA(v)").isLeft)
  }

  test("EXPLAIN QUERY parses and wraps the inner statement") {
    val e = p("EXPLAIN QUERY cpu FROM 0 TO 10 ANALYZE RATE(v)")
      .asInstanceOf[ExplainStatement]
    assert(e.query.metric == "cpu" && e.query.analyze.contains(AnalyzeRate("v")))
    assert(NbqlParser.parse("EXPLAIN").isLeft)
    assert(NbqlParser.parse("EXPLAIN PUSH m SET (v=1)").isLeft) // QUERY only
  }

  test("parse errors are reported, not thrown") {
    assert(NbqlParser.parse("QUERY").isLeft)
    assert(NbqlParser.parse("PUSH m").isLeft) // SET is mandatory
    assert(NbqlParser.parse("FETCH x").isLeft)
  }

  test("fuzz: arbitrary input never throws — Left or a valid statement") {
    // wire input is attacker-controlled (the TCP server feeds raw frame
    // payloads straight in): the parser must return Either for ANY bytes
    val rnd = new scala.util.Random(20260814L)
    val glyphs =
      "QUERY PUSH REMOVE SHOW ANALYZE SPLIT TAGGED FROM TO BY ( ) \" ' , ; = * . 0 1 9 -   \n \t é 漢 \\ é AGGREGATE FILL LIMIT AFTER"
        .split(' ').toVector
    (0 until 500).foreach { i =>
      val n = rnd.nextInt(24)
      val s = (0 until n).map(_ => glyphs(rnd.nextInt(glyphs.size)))
        .mkString(" ")
      val r = try NbqlParser.parse(s)
      catch { case e: Throwable => fail(s"parser threw on <$s>: $e") }
      assert(r.isLeft || r.isRight) // totality — no exceptions, ever
    }
    // pure binary garbage too
    (0 until 200).foreach { _ =>
      val bytes = Array.fill(rnd.nextInt(64))(rnd.nextInt(256).toByte)
      val s = new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
      try NbqlParser.parse(s)
      catch { case e: Throwable => fail(s"parser threw on binary input: $e") }
    }
  }

  test("PUSHS: batch of PUSH-shaped items") {
    val st = p("""PUSHS cpu TAGGED (h="a") SET (v=1.0) AT 10,
                  cpu TAGGED (h="b") SET (v=2.0) AT 20,
                  mem SET (v=3.0) AT 30""")
    val b = st.asInstanceOf[PushsStatement]
    assert(b.items.size == 3)
    assert(b.items(0).metric == "cpu" && b.items(0).tags == Map("h" -> "a"))
    assert(b.items(2).metric == "mem" && b.items(2).atNs.contains(30L))
    assert(NbqlParser.parse("PUSHS").isLeft) // at least one item
  }
}

/** End-to-end: NBQL strings against a live engine on a temp dir —
  * the analog of `api/nbql/executor_e2e_test.go` / `server/e2e_test.go`. */
class NbqlExecutorSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  def withEngine(f: (TsdbEngine, NbqlExecutor) => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft_e2e").toString
    val eng = new TsdbEngine(spark, s"$dir/db")
    val ex = new NbqlExecutor(eng)
    ex.nowNs = Some(10_000_000_000L)
    try f(eng, ex)
    finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  def rows(ex: NbqlExecutor, q: String): Seq[org.apache.spark.sql.Row] =
    ex.execute(q).fold(e => fail(e), { case r: ex.Rows @unchecked => r.df.collect().toSeq
                                        case other => fail(s"expected rows, got $other") })

  /** [[rows]] plus the serving tier that answered. */
  def served(ex: NbqlExecutor, q: String): (Seq[org.apache.spark.sql.Row], String) =
    ex.execute(q).fold(e => fail(e), {
      case r: ex.Rows @unchecked => (r.df.collect().toSeq, r.tier)
      case other => fail(s"expected rows, got $other") })

  test("FILL end-to-end over NBQL; FILL without AGGREGATE BY is rejected") {
    withEngine { (_, ex) =>
      assert(ex.execute("""PUSH g SET (v=2.0) AT 1000""").isRight)
      assert(ex.execute("""PUSH g SET (v=8.0) AT 4500""").isRight)
      val filled = rows(ex,
        """QUERY g FROM 1000 TO 4999 AGGREGATE BY 1us (avg(v)) FILL(LINEAR)""")
      assert(filled.map(_.getAs[Long]("window_start")) ==
        Seq(1000L, 2000L, 3000L, 4000L))
      assert(filled.map(_.getAs[Double]("avg_v")) == Seq(2.0, 4.0, 6.0, 8.0))
      // LOCF variant through the same statement surface
      val locf = rows(ex,
        """QUERY g FROM 1000 TO 4999 AGGREGATE BY 1us (avg(v)) FILL(PREVIOUS)""")
      assert(locf.map(_.getAs[Double]("avg_v")) == Seq(2.0, 2.0, 2.0, 8.0))
      assert(ex.execute("QUERY g FROM 0 TO 10 FILL(LINEAR)").isLeft)
    }
  }

  test("FILTER end-to-end: predicate applies, distinct filters never share cache rows") {
    withEngine { (_, ex) =>
      for ((v, t) <- Seq((10.0, 1000L), (60.0, 2000L), (90.0, 3000L)))
        assert(ex.execute(
          s"""PUSH m TAGGED (h="a") SET (value=$v) AT $t""").isRight)
      def vals(q: String): Seq[Double] =
        rows(ex, q).map(_.getAs[scala.collection.Map[String, org.apache.spark.sql.Row]](
          "fields")("value").getAs[Double]("d"))
      assert(vals("QUERY m FROM 0 TO 9999 FILTER (value > 50)") == Seq(60.0, 90.0))
      // a second, different threshold must MISS the cache, not collide
      assert(vals("QUERY m FROM 0 TO 9999 FILTER (value > 75.5)") == Seq(90.0))
      assert(vals("QUERY m FROM 0 TO 9999 FILTER (value > 50)") == Seq(60.0, 90.0))
      // multiple FILTER clauses AND together
      assert(vals("QUERY m FROM 0 TO 9999 FILTER (value > 50) FILTER (value < 80)")
        == Seq(60.0))
      // filtered aggregate through the protocol
      val agg = rows(ex, """QUERY m FROM 0 TO 9999 FILTER (value >= 60)
                            AGGREGATE (sum(value), count(*))""").head
      assert(agg.getAs[Double]("sum_value") == 150.0)
      assert(agg.getAs[Long]("count_star") == 2L)
      assert(NbqlParser.parse("QUERY m FILTER (value ~ 5)").isLeft)
      // FILTER composes with GROUP BY TAGS: the predicate applies before
      // the cross-series merge
      assert(ex.execute("""PUSH m TAGGED (h="b") SET (value=70.0) AT 2500""").isRight)
      val g = rows(ex, """QUERY m FROM 0 TO 9999 FILTER (value > 50)
                          AGGREGATE (sum(value), count(*)) GROUP BY TAGS ()""").head
      assert(g.getAs[Double]("sum_value") == 220.0) // 60 + 90 + 70
      assert(g.getAs[Long]("count_star") == 3L)
    }
  }

  test("metric prefix selector: parses for reads, rejected for writes, fans out e2e") {
    assert(NbqlParser.parse("QUERY web.* FROM 0 TO 10")
      .exists(_.asInstanceOf[QueryStatement].metric == "web.*"))
    // writes keep exact names: PUSH to a starred metric is a parse error
    assert(NbqlParser.parse("""PUSH web.* SET (v=1.0)""").isLeft)
    withEngine { (_, ex) =>
      assert(ex.execute("""PUSH web.hits SET (value=1.0) AT 100""").isRight)
      assert(ex.execute("""PUSH web.errs SET (value=2.0) AT 200""").isRight)
      assert(ex.execute("""PUSH db.conns SET (value=9.0) AT 300""").isRight)
      val got = rows(ex, "QUERY web.* FROM 0 TO 9999")
        .map(r => (r.getAs[String]("metric"), r.getAs[Long]("timestamp")))
      assert(got.toSet == Set(("web.hits", 100L), ("web.errs", 200L)))
      // cross-metric aggregate through GROUP BY TAGS collapse
      val agg = rows(ex,
        """QUERY web.* FROM 0 TO 9999 AGGREGATE (sum(value)) GROUP BY TAGS ()""").head
      assert(agg.getAs[Double]("sum_value") == 3.0)
    }
  }

  test("TAGGED prefix selector end-to-end through the serving path") {
    withEngine { (eng, ex) =>
      for ((h, t, v) <- Seq(("web1", 100L, 1.0), ("web2", 200L, 2.0),
          ("db1", 300L, 3.0)))
        assert(ex.execute(
          s"""PUSH m TAGGED (host="$h") SET (value=$v) AT $t""").isRight)
      val got = rows(ex, """QUERY m FROM 0 TO 9999 TAGGED (host="web*")""")
        .map(_.getAs[Long]("timestamp"))
      assert(got == Seq(100L, 200L))
      // serving tier (cached path) agrees with the ground-truth plan
      val p = QueryParams("m", Map("host" -> "web*"),
        startNs = 0L, endNs = Some(9999L))
      assert(eng.serve(PointReq(p)).rows.map(_.toString).toSeq ==
        eng.query(p).collect().map(_.toString).toSeq)
      // distinct selectors never share cache entries
      val pAll = p.copy(tags = Map("host" -> "*"))
      assert(eng.serve(PointReq(pAll)).rows.length == 3)
    }
  }

  test("SHOW CARDINALITY: per-metric distinct series, windowed and whole-range") {
    withEngine { (_, ex) =>
      for ((m, h, t) <- Seq(("cpu", "a", 100L), ("cpu", "b", 150L),
          ("cpu", "a", 1100L), ("mem", "a", 120L)))
        assert(ex.execute(
          s"""PUSH $m TAGGED (host="$h") SET (value=1.0) AT $t""").isRight)
      // whole-range: one row per metric
      val all = rows(ex, "SHOW CARDINALITY")
        .map(r => r.getAs[String]("metric") ->
          (r.getAs[Long]("n_series"), r.getAs[Long]("n_points"))).toMap
      assert(all == Map("cpu" -> ((2L, 3L)), "mem" -> ((1L, 1L))))
      // windowed + metric-scoped
      val win = rows(ex, "SHOW CARDINALITY FROM cpu BY 1us")
        .map(r => r.getAs[Long]("window_start") ->
          (r.getAs[Long]("n_series"), r.getAs[Long]("n_points"))).toMap
      assert(win == Map(0L -> ((2L, 2L)), 1000L -> ((1L, 1L))))
      assert(ex.execute("SHOW CARDINALITY BY 0ns").isLeft)
    }
  }

  test("SHOW CARDINALITY ESTIMATE: summary-served sketches, exact fallback") {
    withEngine { (eng, ex) =>
      for ((m, h, t) <- Seq(("cpu", "a", 100L), ("cpu", "b", 150L),
          ("cpu", "a", 1100L), ("mem", "a", 120L)))
        assert(ex.execute(
          s"""PUSH $m TAGGED (host="$h") SET (value=1.0) AT $t""").isRight)
      def est(q: String): Map[(String, Long), (Long, Long)] =
        rows(ex, q).map(r => (r.getAs[String]("metric"),
          r.getAs[Long]("window_start")) ->
          (r.getAs[Long]("n_series_est"), r.getAs[Long]("n_points"))).toMap
      // no summary registered: ESTIMATE falls back to the exact counts
      assert(est("SHOW CARDINALITY ESTIMATE") ==
        Map(("cpu", 0L) -> ((2L, 3L)), ("mem", 0L) -> ((1L, 1L))))
      // register on the wire; small sets sit in HLL sparse mode → exact
      assert(ex.execute("CREATE CARDINALITY SUMMARY BY 1us").isRight)
      assert(est("SHOW CARDINALITY ESTIMATE") ==
        Map(("cpu", 0L) -> ((2L, 3L)), ("mem", 0L) -> ((1L, 1L))))
      assert(est("SHOW CARDINALITY ESTIMATE FROM cpu BY 1us") ==
        Map(("cpu", 0L) -> ((2L, 2L)), ("cpu", 1000L) -> ((1L, 1L))))
      // a coarser multiple unions base sketches (never re-scans points)
      assert(est("SHOW CARDINALITY ESTIMATE BY 2us") ==
        Map(("cpu", 0L) -> ((2L, 3L)), ("mem", 0L) -> ((1L, 1L))))
      // freshness: the summary rebuilds past the commit
      assert(ex.execute(
        """PUSH cpu TAGGED (host="c") SET (value=1.0) AT 160""").isRight)
      assert(est("SHOW CARDINALITY ESTIMATE FROM cpu")(("cpu", 0L))._1 == 3L)
      // non-multiple window: exact fallback (same statement, right rows)
      assert(est("SHOW CARDINALITY ESTIMATE FROM cpu BY 1500ns") ==
        rows(ex, "SHOW CARDINALITY FROM cpu BY 1500ns")
          .map(r => (r.getAs[String]("metric"), r.getAs[Long]("window_start")) ->
            (r.getAs[Long]("n_series"), r.getAs[Long]("n_points"))).toMap)
      // error bound at real cardinality: 1000 series within the
      // documented ~0.8%·k standard error (gate at 5%)
      assert(eng.putBatch((0 until 1000).map(i =>
        graft.model.DataPoint("big", Map("host" -> s"h$i"), 500L,
          Map("value" -> graft.model.FieldValue.ofDouble(1.0))))).isRight)
      val e = est("SHOW CARDINALITY ESTIMATE FROM big")(("big", 0L))._1
      assert(math.abs(e - 1000L) <= 50, s"estimate $e vs exact 1000")
      // drop on the wire → exact fallback again
      assert(ex.execute("DROP CARDINALITY SUMMARY").isRight)
      assert(est("SHOW CARDINALITY ESTIMATE FROM big")(("big", 0L))._1 == 1000L)
      // validations
      assert(ex.execute("CREATE CARDINALITY SUMMARY BY 0ns").isLeft)
      assert(ex.execute("CREATE CARDINALITY SUMMARY BY 1us LGK 99").isLeft)
    }
  }

  test("GROUP BY TAGS end-to-end: cross-series windows, collapse, validations") {
    withEngine { (_, ex) =>
      for ((dc, host, v) <- Seq(("east", "h1", 1.0), ("east", "h2", 3.0),
          ("west", "h3", 10.0)))
        assert(ex.execute(
          s"""PUSH req TAGGED (dc="$dc", host="$host") SET (value=$v) AT 1500""").isRight)
      assert(ex.execute(
        """PUSH req TAGGED (dc="east", host="h1") SET (value=5.0) AT 2500""").isRight)

      val byDc = rows(ex, """QUERY req FROM 1000 TO 2999 AGGREGATE BY 1us
                             (sum(value), count(*)) GROUP BY TAGS (dc)""")
        .map(r => (r.getAs[String]("tag_dc"), r.getAs[Long]("window_start")) ->
          (r.getAs[Double]("sum_value"), r.getAs[Long]("count_star"))).toMap
      assert(byDc(("east", 1000L)) == ((4.0, 2L))) // h1+h2 merged
      assert(byDc(("east", 2000L)) == ((5.0, 1L)))
      assert(byDc(("west", 1000L)) == ((10.0, 1L)))
      assert(byDc.size == 3)

      // collapse-all + final-agg shape
      val all = rows(ex, """QUERY req FROM 0 TO 9999 AGGREGATE (sum(value))
                            GROUP BY TAGS ()""").head
      assert(all.getAs[Double]("sum_value") == 19.0)

      // invalid combinations surface as errors, not wrong results
      assert(ex.execute("QUERY req GROUP BY TAGS (dc)").isLeft)
      assert(ex.execute(
        """QUERY req AGGREGATE BY 1us (sum(value)) FILL(PREVIOUS)
           GROUP BY TAGS (dc)""").isLeft)
      assert(ex.execute(
        "QUERY req AGGREGATE (sum(value)) GROUP BY TAGS (dc) AFTER MXw=").isLeft)
    }
  }

  test("ANALYZE end-to-end: rate/ewma/cumsum values, serving parity, validations") {
    withEngine { (eng, ex) =>
      // h=a: 1 → 2 → 4 (rising); h=b: 10 → 5 (counter reset)
      assert(ex.execute(
        """PUSHS cpu TAGGED (h="a") SET (v=1.0) AT 1000,
           cpu TAGGED (h="a") SET (v=2.0) AT 2000,
           cpu TAGGED (h="a") SET (v=4.0) AT 3000,
           cpu TAGGED (h="b") SET (v=10.0) AT 1500,
           cpu TAGGED (h="b") SET (v=5.0) AT 2500""").isRight)

      val rate = rows(ex, "QUERY cpu FROM 0 TO 9999 ANALYZE RATE(v)")
      assert(rate.size == 3) // first point of each series emits no rate
      val byKey = rate.map(r => (r.getAs[Map[String, String]]("tags")("h"),
        r.getAs[Long]("timestamp")) -> (r.getAs[Double]("delta"),
        r.getAs[Double]("rate_per_sec"))).toMap
      assert(byKey(("a", 2000L)) == ((1.0, 1e6)))
      assert(byKey(("a", 3000L)) == ((2.0, 2e6)))
      assert(byKey(("b", 2500L)) == ((5.0, 5e6))) // reset: delta = new value

      val ewma = rows(ex, """QUERY cpu TAGGED (h="a") FROM 0 TO 9999 ANALYZE EWMA(v, 0.5)""")
      assert(ewma.map(_.getAs[Double]("ewma")) == Seq(1.0, 1.5, 2.75))

      val cum = rows(ex, """QUERY cpu TAGGED (h="a") FROM 0 TO 9999 ANALYZE CUMSUM(v)""")
      assert(cum.map(_.getAs[Double]("cum_sum")) == Seq(1.0, 3.0, 7.0))
      assert(cum.map(_.getAs[Double]("cum_max")) == Seq(1.0, 2.0, 4.0))
      assert(cum.map(_.getAs[Int]("point_index")) == Seq(1, 2, 3))

      // FILTER composes: only values > 1 survive BEFORE the recurrence
      val filtered = rows(ex,
        """QUERY cpu TAGGED (h="a") FROM 0 TO 9999 FILTER (v > 1) ANALYZE CUMSUM(v)""")
      assert(filtered.map(_.getAs[Double]("cum_sum")) == Seq(2.0, 6.0))

      // serving parity: the NBQL path returns exactly the API path's rows
      val params = QueryParams("cpu", startNs = 0L, endNs = Some(9999L))
      val direct = TsAnalytics.holtSmooth(
        eng.loadPoints().get, params, alpha = 0.5, beta = 0.25,
        field = "v", tombstones = eng.loadTombstones()).collect().toSeq
      val wire = rows(ex, "QUERY cpu FROM 0 TO 9999 ANALYZE HOLT(v, 0.5, 0.25)")
      assert(wire == direct)

      // TWA over 1us windows: each window holds one point here
      val twa = rows(ex, """QUERY cpu TAGGED (h="a") FROM 0 TO 9999 ANALYZE TWA(v) BY 1us""")
      assert(twa.map(r => (r.getAs[Long]("window_start"), r.getAs[Double]("twa"))) ==
        Seq((1000L, 1.0), (2000L, 2.0), (3000L, 4.0)))

      // RESETS/CHANGES: h=a rises 1→2→4 (0 resets, 2 changes);
      // h=b 10→5 is one reset, which is also its one change
      val res = rows(ex, "QUERY cpu FROM 0 TO 9999 ANALYZE RESETS(v)")
      assert(res.map(r => r.getAs[Map[String, String]]("tags")("h") ->
        (r.getAs[Long]("n_points"), r.getAs[Long]("resets"))).toMap ==
        Map("a" -> ((3L, 0L)), "b" -> ((2L, 1L))))
      val chg = rows(ex, "QUERY cpu FROM 0 TO 9999 ANALYZE CHANGES(v)")
      assert(chg.map(r => r.getAs[Map[String, String]]("tags")("h") ->
        (r.getAs[Long]("n_points"), r.getAs[Long]("changes"))).toMap ==
        Map("a" -> ((3L, 2L)), "b" -> ((2L, 1L))))
      // SPLIT composes: maximally-split chunks stay bit-identical
      assert(rows(ex, "QUERY cpu FROM 0 TO 9999 ANALYZE RESETS(v) SPLIT 1us") == res)
      assert(rows(ex, "QUERY cpu FROM 0 TO 9999 ANALYZE CHANGES(v) SPLIT AUTO") == chg)
      // windowed forms: per-window counts sum to the whole-range counts
      val resBy = rows(ex, "QUERY cpu FROM 0 TO 9999 ANALYZE RESETS(v) BY 1us")
      assert(resBy.map(r => r.getAs[Map[String, String]]("tags")("h") ->
        r.getAs[Long]("resets")).groupBy(_._1).map { case (h, xs) =>
          h -> xs.map(_._2).sum } ==
        Map("a" -> 0L, "b" -> 1L))
      assert(resBy.head.schema.fieldNames.contains("window_start"))
      assert(ex.execute("QUERY cpu ANALYZE RESETS(v) BY 0s").isLeft)

      // validations reject non-composing shapes with clear messages
      assert(ex.execute("QUERY cpu AGGREGATE (sum(v)) ANALYZE RATE(v)").isLeft)
      assert(ex.execute("QUERY cpu AGGREGATE BY 1m (sum(v)) ANALYZE RATE(v)").isLeft)
      assert(ex.execute("QUERY cpu AGGREGATE (sum(v)) GROUP BY TAGS (h) ANALYZE RATE(v)").isLeft)
      assert(ex.execute("QUERY cpu ANALYZE RATE(v) DESC").isLeft)
      assert(ex.execute("QUERY cpu ANALYZE EWMA(v, 1.5)").isLeft)
      assert(ex.execute("QUERY cpu ANALYZE HOLT(v, 0.5, 0.0)").isLeft)
      assert(ex.execute("QUERY cpu ANALYZE ZSCORE(v, 1, 3.0)").isLeft)

      // LIMIT applies to the ordered analytic output
      val lim = rows(ex, """QUERY cpu TAGGED (h="a") FROM 0 TO 9999 ANALYZE CUMSUM(v) LIMIT 2""")
      assert(lim.size == 2)

      // SPLIT: hot-series time-splitting on the wire — the lag family is
      // bit-identical to the unsplit plan (1us chunks put every point in
      // its own chunk, the maximally-split case)
      assert(rows(ex, "QUERY cpu FROM 0 TO 9999 ANALYZE RATE(v) SPLIT 1us") == rate)
      // AUTO resolves a width from the actual range; bit-identity holds
      // regardless of the width the engine picks
      assert(rows(ex, "QUERY cpu FROM 0 TO 9999 ANALYZE RATE(v) SPLIT AUTO") == rate)
      assert(rows(ex,
        """QUERY cpu TAGGED (h="a") FROM 0 TO 9999 ANALYZE TWA(v) BY 1us SPLIT 2us""") == twa)
      assert(rows(ex, "QUERY cpu FROM 0 TO 9999 ANALYZE HOLT(v, 0.5, 0.25) SPLIT 1us")
        .map(_.getAs[String]("series_key")) == wire.map(_.getAs[String]("series_key")))
      // ZSCORE splits via context replication — bit-identical on the wire
      assert(rows(ex, "QUERY cpu FROM 0 TO 9999 ANALYZE ZSCORE(v, 3, 2.0) SPLIT 1us") ==
        rows(ex, "QUERY cpu FROM 0 TO 9999 ANALYZE ZSCORE(v, 3, 2.0)"))
      // CUMSUM splits too (sum carry; max/index exact)
      assert(rows(ex,
        """QUERY cpu TAGGED (h="a") FROM 0 TO 9999 ANALYZE CUMSUM(v) SPLIT 1us""")
        .map(r => (r.getAs[Double]("cum_max"), r.getAs[Int]("point_index"))) ==
        cum.map(r => (r.getAs[Double]("cum_max"), r.getAs[Int]("point_index"))))
      // SPLIT validations
      assert(ex.execute("QUERY cpu FROM 0 TO 9 SPLIT 1h").isLeft) // needs ANALYZE
      assert(ex.execute("QUERY cpu ANALYZE CORRELATE(v, mem, h, 2) BY 1us SPLIT 1h").isLeft)
    }
  }

  test("ANALYZE DELTA/IRATE/PREDICT end-to-end with validations") {
    withEngine { (_, ex) =>
      // h=a: 1 → 2 → 4 (rising); h=b: 10 → 5 (counter reset)
      assert(ex.execute(
        """PUSHS cpu TAGGED (h="a") SET (v=1.0) AT 1000,
           cpu TAGGED (h="a") SET (v=2.0) AT 2000,
           cpu TAGGED (h="a") SET (v=4.0) AT 3000,
           cpu TAGGED (h="b") SET (v=10.0) AT 1500,
           cpu TAGGED (h="b") SET (v=5.0) AT 2500""").isRight)

      // DELTA: one row per series; gauge delta vs counter increase
      val del = rows(ex, "QUERY cpu FROM 0 TO 9999 ANALYZE DELTA(v)")
      assert(del.size == 2)
      val dByH = del.map(r => r.getAs[Map[String, String]]("tags")("h") ->
        (r.getAs[Long]("n_points"), r.getAs[Long]("first_ts"),
          r.getAs[Long]("last_ts"), r.getAs[Double]("delta"),
          r.getAs[Double]("increase"))).toMap
      assert(dByH("a") == ((3L, 1000L, 3000L, 3.0, 3.0)))
      // reset pair contributes the NEW value to increase; delta is signed
      assert(dByH("b") == ((2L, 1500L, 2500L, -5.0, 5.0)))

      // IRATE: the last pair only
      val ir = rows(ex, "QUERY cpu FROM 0 TO 9999 ANALYZE IRATE(v)")
      assert(ir.size == 2)
      val iByH = ir.map(r => r.getAs[Map[String, String]]("tags")("h") ->
        (r.getAs[Long]("timestamp"), r.getAs[Double]("value"),
          r.getAs[Double]("delta"), r.getAs[Double]("rate_per_sec"))).toMap
      assert(iByH("a") == ((3000L, 4.0, 2.0, 2e6)))
      assert(iByH("b") == ((2500L, 5.0, 5.0, 5e6)))

      // PREDICT: least-squares trend, forecast 1us past the last sample
      val pr = rows(ex, "QUERY cpu FROM 0 TO 9999 ANALYZE PREDICT(v, 1us)")
      assert(pr.size == 2)
      val pByH = pr.map(r => r.getAs[Map[String, String]]("tags")("h") ->
        (r.getAs[Long]("n_points"), r.getAs[Double]("slope_per_sec"),
          r.getAs[Double]("predicted"))).toMap
      // a: equidistant (1,2,4) → slope 1.5e6/s, v(4000ns) = 16/3
      assert(pByH("a")._1 == 3L)
      assert(math.abs(pByH("a")._2 - 1.5e6) < 1.0)
      assert(math.abs(pByH("a")._3 - 16.0 / 3) < 1e-9)
      // b: two points, slope −5e6/s, hits 0 one gap later
      assert(math.abs(pByH("b")._2 - (-5e6)) < 1.0)
      assert(math.abs(pByH("b")._3) < 1e-9)

      // a single-sample series: delta/increase 0, no irate row, null slope
      assert(ex.execute(
        """PUSH one TAGGED (h="x") SET (v=7.0) AT 5000""").isRight)
      val d1 = rows(ex, "QUERY one FROM 0 TO 9999 ANALYZE DELTA(v)")
      assert(d1.size == 1 &&
        d1.head.getAs[Double]("delta") == 0.0 &&
        d1.head.getAs[Double]("increase") == 0.0)
      assert(rows(ex, "QUERY one FROM 0 TO 9999 ANALYZE IRATE(v)").isEmpty)
      val p1 = rows(ex, "QUERY one FROM 0 TO 9999 ANALYZE PREDICT(v, 1us)")
      assert(p1.size == 1 && p1.head.isNullAt(p1.head.fieldIndex("slope_per_sec")))

      // SPLIT: DELTA/IRATE ride the lag machinery bit-identically;
      // PREDICT's split chunks the merge-dedup slice (same rows picked;
      // the moment sums re-associate, 1e-9-relative like EWMA's split)
      assert(rows(ex, "QUERY cpu FROM 0 TO 9999 ANALYZE DELTA(v) SPLIT 1us") == del)
      assert(rows(ex, "QUERY cpu FROM 0 TO 9999 ANALYZE IRATE(v) SPLIT AUTO") == ir)
      val prS = rows(ex, "QUERY cpu FROM 0 TO 9999 ANALYZE PREDICT(v, 1us) SPLIT 1us")
      assert(prS.size == pr.size)
      val prSByH = prS.map(r => r.getAs[Map[String, String]]("tags")("h") ->
        r.getAs[Double]("predicted")).toMap
      pByH.foreach { case (h, (_, _, predicted)) =>
        assert(math.abs(prSByH(h) - predicted) < 1e-9, s"series $h split predict") }
      // horizon must be positive
      assert(ex.execute("QUERY cpu ANALYZE PREDICT(v, 0s)").isLeft)
      // TAGGED composes; AGGREGATE does not
      assert(rows(ex, """QUERY cpu TAGGED (h="a") FROM 0 TO 9999 ANALYZE DELTA(v)""").size == 1)
      assert(ex.execute("QUERY cpu AGGREGATE (sum(v)) ANALYZE DELTA(v)").isLeft)

      // DELTA BY: windowed change; a reset pair crossing the boundary
      // lands in the LATER window, and window increases sum to the
      // whole-range increase
      val db = rows(ex, "QUERY cpu FROM 0 TO 9999 ANALYZE DELTA(v) BY 2us")
      val dbB = db.filter(_.getAs[Map[String, String]]("tags")("h") == "b")
        .map(r => r.getAs[Long]("window_start") ->
          (r.getAs[Long]("n_points"), r.getAs[Double]("delta"),
            r.getAs[Double]("increase"))).toMap
      // b: 10 @1500 (window 0), 5 @2500 (window 2000) — the reset pair
      // contributes 5 to window 2000
      assert(dbB(0L) == ((1L, 0.0, 0.0)) && dbB(2000L) == ((1L, 0.0, 5.0)))
      val sums = db.groupBy(_.getAs[Map[String, String]]("tags")("h"))
        .map { case (h, rs) => h -> rs.map(_.getAs[Double]("increase")).sum }
      assert(sums("a") == dByH("a")._5 && sums("b") == dByH("b")._5,
        "window increases must sum to the whole-range increase")
      // SPLIT composes (same lag machinery); zero window rejected
      assert(rows(ex,
        "QUERY cpu FROM 0 TO 9999 ANALYZE DELTA(v) BY 2us SPLIT 1us") == db)
      assert(ex.execute("QUERY cpu ANALYZE DELTA(v) BY 0s").isLeft)
    }
  }

  test("ANALYZE CORRELATE/RATIO/TOPK end-to-end with validations") {
    withEngine { (eng, ex) =>
      // two metrics, two users; u=x perfectly correlated (b = 2a),
      // u=y anti-correlated; 1us buckets at 1000-ns cadence
      assert(ex.execute(
        """PUSHS a TAGGED (u="x") SET (v=1.0) AT 100,
           a TAGGED (u="x") SET (v=2.0) AT 1100,
           a TAGGED (u="x") SET (v=3.0) AT 2100,
           b TAGGED (u="x") SET (v=2.0) AT 200,
           b TAGGED (u="x") SET (v=4.0) AT 1200,
           b TAGGED (u="x") SET (v=6.0) AT 2200,
           a TAGGED (u="y") SET (v=1.0) AT 100,
           a TAGGED (u="y") SET (v=2.0) AT 1100,
           a TAGGED (u="y") SET (v=3.0) AT 2100,
           b TAGGED (u="y") SET (v=9.0) AT 200,
           b TAGGED (u="y") SET (v=6.0) AT 1200,
           b TAGGED (u="y") SET (v=3.0) AT 2200""").isRight)

      val corr = rows(ex,
        "QUERY a FROM 0 TO 9999 ANALYZE CORRELATE(v, b, u, 3) BY 1us")
      val rByTag = corr.map(r =>
        r.getAs[String]("tag_value") -> r.getAs[Double]("r")).toMap
      assert(math.abs(rByTag("x") - 1.0) < 1e-9)
      assert(math.abs(rByTag("y") + 1.0) < 1e-9)

      val ratio = rows(ex, "QUERY a FROM 0 TO 9999 ANALYZE RATIO(v, b, u) BY 1us")
      val xRatios = ratio.filter(_.getAs[String]("tag_value") == "x")
        .map(_.getAs[Double]("ratio"))
      assert(xRatios == Seq(0.5, 0.5, 0.5))

      val topk = rows(ex,
        "QUERY a AGGREGATE (sum(v), count(*)) ANALYZE TOPK(1, sum_v) GROUP BY TAGS (u)")
      assert(topk.size == 1) // x and y tie on sum 6 → deterministic tie-break
      assert(topk.head.getAs[Int]("rank") == 1)
      assert(topk.head.getAs[Double]("sum_v") == 6.0)

      // parity with the API path
      val apiCorr = TsAnalytics.correlate(eng.loadPoints().get, "a", "b", "u",
        bucketNs = 1000L, startNs = 0L, endNs = 9999L, field = "v",
        minBuckets = 3, tombstones = eng.loadTombstones()).collect().toSeq
      assert(corr == apiCorr)

      // validations
      assert(ex.execute("QUERY a ANALYZE CORRELATE(v, a, u) BY 1us").isLeft) // same metric
      assert(ex.execute("QUERY a ANALYZE CORRELATE(v, b, u, 1) BY 1us").isLeft) // minBuckets
      assert(ex.execute("""QUERY a TAGGED (u="x") ANALYZE RATIO(v, b, u) BY 1us""").isLeft)
      assert(ex.execute("QUERY a ANALYZE RATIO(v, b, u) BY 1us SPLIT 1h").isLeft)
      assert(ex.execute("QUERY a.* ANALYZE RATIO(v, b, u) BY 1us").isLeft) // prefix
      assert(ex.execute("QUERY a ANALYZE TOPK(1, sum_v) GROUP BY TAGS (u)").isLeft) // no aggs
      assert(ex.execute(
        "QUERY a AGGREGATE (sum(v)) ANALYZE TOPK(1, sum_v)").isLeft) // no keys
      assert(ex.execute(
        "QUERY a AGGREGATE BY 1us (sum(v)) ANALYZE TOPK(1, sum_v) GROUP BY TAGS (u)").isLeft)
      assert(ex.execute(
        "QUERY a AGGREGATE (sum(v)) ANALYZE TOPK(1, nope) GROUP BY TAGS (u)").isLeft)
    }
  }

  test("ANALYZE rides the serving tier: namespaced cache, epoch invalidation") {
    withEngine { (eng, ex) =>
      assert(ex.execute(
        """PUSHS cpu TAGGED (h="a") SET (v=1.0) AT 1000,
           cpu TAGGED (h="a") SET (v=2.0) AT 2000,
           mem TAGGED (h="a") SET (v=8.0) AT 1000,
           mem TAGGED (h="a") SET (v=4.0) AT 2000""").isRight)
      val q = "QUERY cpu FROM 0 TO 9999 ANALYZE RATE(v)"
      val (first, firstTier) = served(ex, q)
      assert(firstTier == "analyze-spark")
      val (h0, _) = eng.cacheStats
      val (again, againTier) = served(ex, q)
      assert(again == first)
      assert(againTier == "analyze-cache", "repeat must hit the cache")
      assert(eng.cacheStats._1 == h0 + 1)

      // the plain-QUERY twin of the same params must NOT cross-serve
      val plain = rows(ex, "QUERY cpu FROM 0 TO 9999")
      assert(plain.size == 2 && first.size == 1) // namespaces are distinct

      // a write to the metric orphans the entry
      assert(ex.execute("""PUSH cpu TAGGED (h="a") SET (v=9.0) AT 3000""").isRight)
      val (after, afterTier) = served(ex, q)
      assert(afterTier == "analyze-spark", "write must invalidate")
      assert(after.size == 2)

      // cross-metric epoch: a write to metric B invalidates CORRELATE(a, b)
      assert(ex.execute(
        """PUSHS cpu TAGGED (h="a") SET (v=3.0) AT 4000,
           mem TAGGED (h="a") SET (v=2.0) AT 4000""").isRight)
      val cq = "QUERY cpu FROM 0 TO 9999 ANALYZE CORRELATE(v, mem, h, 2) BY 1us"
      val c1 = rows(ex, cq)
      assert(served(ex, cq) == ((c1, "analyze-cache")))
      assert(ex.execute("""PUSH mem TAGGED (h="a") SET (v=7.0) AT 5000""").isRight)
      assert(served(ex, cq)._2 == "analyze-spark",
        "a write to the OTHER metric must invalidate the cross-metric entry")
    }
  }

  test("EXPLAIN QUERY returns the physical plan; invalid inner queries error") {
    withEngine { (eng, ex) =>
      assert(ex.execute(
        """PUSH cpu TAGGED (h="a") SET (v=1.0) AT 1000""").isRight)
      val plan = rows(ex, "EXPLAIN QUERY cpu FROM 0 TO 9999")
        .map(_.getAs[String]("plan"))
      assert(plan.nonEmpty && plan.exists(_.contains("Physical Plan")))
      assert(plan.exists(l => l.contains("Scan") || l.contains("LocalTableScan")))
      val aplan = rows(ex, "EXPLAIN QUERY cpu FROM 0 TO 9999 ANALYZE RATE(v) SPLIT 1h")
        .map(_.getAs[String]("plan"))
      assert(aplan.exists(_.contains("Window")), "rate plan must show the window op")
      // inner validation applies to EXPLAIN too
      assert(ex.execute("EXPLAIN QUERY cpu ANALYZE EWMA(v, 1.5)").isLeft)
      assert(ex.execute("EXPLAIN QUERY cpu AGGREGATE (nope(v))").isLeft)
    }
  }

  test("push → query → aggregate → remove → flush → snapshot/restore") {
    withEngine { (eng, ex) =>
      // ingest two series
      for (i <- 0 until 10) {
        assert(ex.execute(
          s"""PUSH cpu.usage TAGGED (host="h1") SET (value=${i}.0) AT ${i * 1000}""").isRight)
        assert(ex.execute(
          s"""PUSH cpu.usage TAGGED (host="h2") SET (value=${i * 2}.0) AT ${i * 1000}""").isRight)
      }
      // raw range query, inclusive bounds
      val raw = rows(ex, """QUERY cpu.usage FROM 2000 TO 4000 TAGGED (host="h1")""")
      assert(raw.map(_.getAs[Long]("timestamp")) == Seq(2000L, 3000L, 4000L))

      // final aggregation
      val agg = rows(ex, """QUERY cpu.usage TAGGED (host="h1") FROM 0 TO 999999
                            AGGREGATE (sum(value), avg(value), count(*))""").head
      assert(agg.getAs[Double]("sum_value") == 45.0)
      assert(agg.getAs[Long]("count_star") == 10L)

      // downsample with window math
      val ds = rows(ex, """QUERY cpu.usage TAGGED (host="h2") FROM 0 TO 9999
                           AGGREGATE BY 2us (sum(value))""")
      assert(ds.map(r => (r.getAs[Long]("window_start"), r.getAs[Double]("sum_value"))) ==
        Seq((0L, 2.0), (2000L, 10.0), (4000L, 18.0), (6000L, 26.0), (8000L, 34.0)))

      // point remove + range remove with seq shadowing
      assert(ex.execute("""REMOVE FROM cpu.usage TAGGED (host="h1") AT 0""").isRight)
      assert(ex.execute("""REMOVE FROM cpu.usage TAGGED (host="h1") FROM 8000 TO 9000""").isRight)
      val afterRm = rows(ex, """QUERY cpu.usage TAGGED (host="h1") FROM 0 TO 999999""")
      assert(afterRm.map(_.getAs[Long]("timestamp")) ==
        Seq(1000L, 2000L, 3000L, 4000L, 5000L, 6000L, 7000L))

      // a point pushed after the delete survives it
      assert(ex.execute(
        """PUSH cpu.usage TAGGED (host="h1") SET (value=99.0) AT 8000""").isRight)
      val resurrect = rows(ex, """QUERY cpu.usage TAGGED (host="h1") FROM 8000 TO 9000""")
      assert(resurrect.map(_.getAs[Long]("timestamp")) == Seq(8000L))

      // series remove hides h2 entirely
      assert(ex.execute("""REMOVE SERIES cpu.usage TAGGED (host="h2")""").isRight)
      assert(rows(ex, """QUERY cpu.usage TAGGED (host="h2") FROM 0 TO 999999""").isEmpty)

      // FLUSH = compact: same observable state, tombstones gone
      assert(ex.execute("FLUSH ALL").isRight)
      assert(eng.loadTombstones().isEmpty)
      val postCompact = rows(ex, """QUERY cpu.usage TAGGED (host="h1") FROM 0 TO 999999""")
      assert(postCompact.map(_.getAs[Long]("timestamp")) ==
        Seq(1000L, 2000L, 3000L, 4000L, 5000L, 6000L, 7000L, 8000L))

      // SHOW
      assert(rows(ex, "SHOW METRICS").map(_.getString(0)) == Seq("cpu.usage"))
      assert(rows(ex, "SHOW TAG KEYS FROM cpu.usage").map(_.getString(0)) == Seq("host"))
      assert(rows(ex, "SHOW TAG VALUES FROM cpu.usage WITH KEY = host")
        .map(_.getString(0)) == Seq("h1"))

      // SNAPSHOT → mutate → RESTORE
      val snapDir = ex.execute("SNAPSHOT").fold(e => fail(e), {
        case a: ex.Ack @unchecked => a.message; case o => fail(s"$o") })
      assert(ex.execute("""REMOVE SERIES cpu.usage TAGGED (host="h1")""").isRight)
      assert(rows(ex, """QUERY cpu.usage TAGGED (host="h1") FROM 0 TO 999999""").isEmpty)
      assert(ex.execute(s"RESTORE FROM '$snapDir' WITH OVERWRITE").isRight)
      assert(rows(ex, """QUERY cpu.usage TAGGED (host="h1") FROM 0 TO 999999""").size == 8)
    }
  }

  test("CREATE/SHOW/DROP ROLLUP: routed AGGREGATE BY stays identical, sees new data") {
    withEngine { (eng, ex) =>
      for (i <- 0 until 12; h <- Seq("h1", "h2"))
        assert(ex.execute(
          s"""PUSH cpu.usage TAGGED (host="$h") SET (value=${i}.0) AT ${i * 1000}""").isRight)
      // 1us rollup; BY 4us over [0, 11999] is a union of whole rollup windows
      val q = """QUERY cpu.usage FROM 0 TO 11999
                 AGGREGATE BY 4us (sum(value), avg(value), count(*))"""
      val before = rows(ex, q).map(_.toString)
      assert(before.nonEmpty)
      assert(ex.execute("CREATE ROLLUP cpu.usage BY 1us (value)").isRight)
      assert(rows(ex, q).map(_.toString) == before)
      // the NBQL path really routed: the registered rollup serves it from
      // the driver-resident tier (LocalRelation result, no Spark re-agg)
      ex.execute(q).fold(e => fail(e), { case r: ex.Rows @unchecked =>
        assert(r.tier == "local-rollup" || r.tier == "cache", r.tier)
        assert(r.df.queryExecution.executedPlan.toString.contains("LocalTableScan"),
          "expected a driver-resident result frame")
      })
      val listed = rows(ex, "SHOW ROLLUPS")
      assert(listed.map(r => (r.getAs[String]("metric"),
        r.getAs[Long]("interval_ns"), r.getAs[String]("fields"),
        r.getAs[Boolean]("digests"))) ==
        Seq(("cpu.usage", 1000L, "value", false)))
      // epoch invalidation: a new point shows up through the routed path
      assert(ex.execute(
        """PUSH cpu.usage TAGGED (host="h1") SET (value=100.0) AT 500""").isRight)
      val after = rows(ex, q).map(_.toString)
      assert(after != before)
      // dropping the rollup keeps answers (now raw path) and empties SHOW
      assert(ex.execute("DROP ROLLUP cpu.usage").isRight)
      assert(rows(ex, q).map(_.toString) == after)
      assert(rows(ex, "SHOW ROLLUPS").isEmpty)
      // bad interval is a clean error
      assert(ex.execute("CREATE ROLLUP cpu.usage BY 0s (value)").isLeft)
      // WITH DIGESTS makes percentile downsamples rollup-eligible
      assert(ex.execute("CREATE ROLLUP cpu.usage BY 1us (value) WITH DIGESTS").isRight)
      assert(rows(ex, "SHOW ROLLUPS").map(r => r.getAs[Boolean]("digests")) ==
        Seq(true))
      val pq = """QUERY cpu.usage FROM 0 TO 11999
                  AGGREGATE BY 4us (p50(value), count(*))"""
      ex.execute(pq).fold(e => fail(e), { case r: ex.Rows @unchecked =>
        // digest percentiles are rollup-eligible AND driver-tier served:
        // the sketches merged on the driver, no Spark re-agg in the plan
        assert(r.df.collect().nonEmpty)
        assert(r.tier == "local-rollup", r.tier)
      })
      // SMOOTH stores exact fold states → ANALYZE EWMA BY rollup-routes
      // bit-identically to the raw windowed fold (wire path end-to-end).
      // The raw twin runs FIRST (before registration, so its entry lands
      // in the result cache under this shape); the routed run uses a
      // TAGGED twin — a distinct cache key — so it exercises the route.
      val eq = """QUERY cpu.usage FROM 0 TO 11999 ANALYZE EWMA(value, 0.25) BY 4us"""
      val eqT = """QUERY cpu.usage TAGGED (host="h1") FROM 0 TO 11999
                   ANALYZE EWMA(value, 0.25) BY 4us"""
      val (rawRows, rawTier) = served(ex, eq)
      val rawE = rawRows.map(_.toString)
      assert(rawTier == "analyze-spark", rawTier)
      assert(ex.execute(
        "CREATE ROLLUP cpu.usage BY 1us (value) SMOOTH EWMA(value, 0.25)").isRight)
      assert(rows(ex, "SHOW ROLLUPS").map(r => r.getAs[String]("smooth")) ==
        Seq("ewma(value,0.25)"))
      val (routedRows, routedTier) = served(ex, eqT)
      val routedT = routedRows.map(_.toString)
      // resident partials make the driver tier eligible first; either
      // rollup-backed tier proves the route (both mirror the raw fold)
      assert(routedTier == "local-rollup-ewma" || routedTier == "rollup-ewma",
        routedTier)
      // routed TAGGED rows ⊂ raw rows (h1's windows), bit-identical
      assert(routedT.nonEmpty && routedT.forall(rawE.contains),
        s"routed $routedT vs raw $rawE")
      // an unregistered alpha keeps the raw path
      val (_, alphaTier) =
        served(ex, """QUERY cpu.usage FROM 0 TO 11999 ANALYZE EWMA(value, 0.5) BY 4us""")
      assert(alphaTier == "analyze-spark", alphaTier)
      // SMOOTH validation errors are clean
      assert(ex.execute(
        "CREATE ROLLUP cpu.usage BY 1us (value) SMOOTH EWMA(other, 0.25)").isLeft)
      assert(ex.execute(
        "CREATE ROLLUP cpu.usage BY 1us (value) SMOOTH EWMA(value, 1.5)").isLeft)
    }
  }

  test("latest version wins across re-push") {
    withEngine { (eng, ex) =>
      assert(ex.execute("""PUSH m TAGGED (k="a") SET (v=1.0) AT 100""").isRight)
      assert(ex.execute("""PUSH m TAGGED (k="a") SET (v=2.0) AT 100""").isRight)
      val r = rows(ex, "QUERY m FROM 0 TO 1000")
      assert(r.size == 1)
      assert(r.head.getAs[Map[String, org.apache.spark.sql.Row]]("fields")("v")
        .getAs[Double]("d") == 2.0)
    }
  }

  test("validation rejects bad names") {
    withEngine { (_, ex) =>
      val res = ex.execute("PUSH \"\" SET (v=1.0)")
      assert(res.isLeft)
    }
  }

  test("PUSHS executes the whole batch as ONE storage commit") {
    withEngine { (eng, ex) =>
      val v0 = eng.version
      assert(ex.execute(
        """PUSHS cpu TAGGED (h="a") SET (v=1.0) AT 10,
          |      cpu TAGGED (h="a") SET (v=2.0) AT 20,
          |      cpu TAGGED (h="b") SET (v=3.0) AT 30""".stripMargin)
        .exists { case a: ex.Ack @unchecked => a.message == "OK 3"; case _ => false })
      assert(eng.version == v0 + 1, "batch push must be a single commit")
      assert(rows(ex, "QUERY cpu FROM 0 TO 100").size == 3)
    }
  }

  test("LIMIT pages end-to-end using only returned NextCursors") {
    withEngine { (eng, ex) =>
      for (i <- 1 to 10)
        assert(ex.execute(
          s"""PUSH m TAGGED (k="a") SET (v=$i.0) AT ${i * 100}""").isRight)
      def pageAfter(cursor: Option[String]): (Seq[Long], Option[String]) = {
        val after = cursor.map(c => s" AFTER $c").getOrElse("")
        ex.execute(s"QUERY m FROM 0 TO 99999 LIMIT 3$after") match {
          case Right(r: ex.Rows @unchecked) =>
            val (rows, next) = r.page()
            (rows.map(_.getAs[Long]("timestamp")).toSeq, next)
          case other => fail(s"$other")
        }
      }
      val all = scala.collection.mutable.ArrayBuffer[Long]()
      var cursor: Option[String] = None
      var pages = 0
      var done = false
      while (!done && pages < 10) {
        val (ts, next) = pageAfter(cursor)
        all ++= ts
        pages += 1
        if (next.isEmpty) done = true else cursor = next
      }
      assert(all.toSeq == (1 to 10).map(_ * 100L),
        "cursor walk must deliver every row exactly once, in order")
      assert(pages == 4, s"10 rows at LIMIT 3 = 4 pages, got $pages")
    }
  }

  test("protocol queries ride the serving tier: cache hit on repeat") {
    withEngine { (eng, ex) =>
      for (i <- 0 until 5)
        assert(ex.execute(
          s"""PUSH m TAGGED (k="a") SET (v=${i}.0) AT ${i * 1000}""").isRight)
      val q = """QUERY m FROM 0 TO 100000 TAGGED (k="a")"""
      val (first, firstTier) = served(ex, q)
      assert(first.size == 5)
      assert(firstTier == "local", firstTier) // driver tier
      val (h0, _) = eng.cacheStats
      val (second, secondTier) = served(ex, q)
      assert(second.map(_.toString) == first.map(_.toString))
      assert(secondTier == "cache", secondTier)
      assert(eng.cacheStats._1 == h0 + 1, "repeat must be a result-cache hit")
      // a write invalidates: fresh rows, not the stale entry
      assert(ex.execute("""PUSH m TAGGED (k="a") SET (v=9.0) AT 9000""").isRight)
      assert(rows(ex, q).size == 6)
    }
  }

  test("multi-statement script: executes in order, stops at first failure") {
    withEngine { (_, ex) =>
      val r = ex.executeScript(
        """PUSH m TAGGED (k="a") SET (v=1.0) AT 10;
          |PUSH m TAGGED (k="a") SET (v=2.0) AT 20;
          |QUERY m FROM 0 TO 100;""".stripMargin)
      assert(r.isRight)
      val results = r.toOption.get
      assert(results.size == 3)
      // failure mid-script stops execution and reports the error
      val bad = ex.executeScript(
        """PUSH m TAGGED (k="a") SET (v=3.0) AT 30;
          |QUERY m AGGREGATE (nosuchfunc(v));
          |PUSH m TAGGED (k="a") SET (v=4.0) AT 40;""".stripMargin)
      assert(bad.isLeft && bad.swap.toOption.get.contains("nosuchfunc"))
      // third statement did NOT run
      val after = rows(ex, "QUERY m FROM 0 TO 100")
      assert(after.map(_.getAs[Long]("timestamp")) == Seq(10L, 20L, 30L))
    }
  }

  test("over-budget ANALYZE pages with a resume cursor; walk completes") {
    withEngine { (eng, ex) =>
      // 6 series x 30 windows of EWMA BY = 180 output rows; budget 40
      (0 until 6).foreach { s =>
        val pushes = (0 until 120).map(i =>
          s"""PUSH cpu TAGGED (host="h$s") SET (v=${i % 17}.0) AT ${i * 1000}""")
        assert(ex.executeScript(pushes.mkString(";")).isRight)
      }
      val q = "QUERY cpu FROM 0 TO 119999 ANALYZE EWMA(v, 0.25) BY 4us"
      val full = rows(ex, q).map(_.toString)
      assert(full.length == 180)
      eng.servingRowBudget = 40L
      try {
        // page walk: every page is budget-bounded, carries a cursor while
        // rows remain, and the concatenation is exactly the full result
        var collected = Vector.empty[String]
        var next: Option[String] = None
        var pages = 0
        var done = false
        while (!done) {
          val stmt = q + next.fold("")(c => s" AFTER $c")
          ex.execute(stmt).fold(e => fail(e), {
            case r: ex.Rows @unchecked =>
              val (page, cur) = r.page()
              assert(page.length <= 40, s"page ${page.length} > budget")
              collected ++= page.map(_.toString)
              pages += 1
              next = cur
              done = cur.isEmpty
            case other => fail(s"expected rows, got $other")
          })
          assert(pages <= 10, "walk must terminate")
        }
        assert(pages >= 5, s"180 rows / 40 budget needs >= 5 pages, got $pages")
        assert(collected == full,
          "page-walk concatenation must equal the unpaged result")
        // LIMIT + AFTER compose: a 50-row LIMIT pages as 40 + 10
        val p1 = ex.execute(q + " LIMIT 40").fold(e => fail(e), {
          case r: ex.Rows @unchecked => r.page()
          case other => fail(s"$other") })
        assert(p1._1.length == 40 && p1._2.isDefined)
        val p2 = ex.execute(q + s" LIMIT 10 AFTER ${p1._2.get}")
          .fold(e => fail(e), { case r: ex.Rows @unchecked => r.page()
                                case other => fail(s"$other") })
        assert(p2._1.map(_.toString).toSeq == full.slice(40, 50))
      } finally eng.servingRowBudget = 2000000L
      // group-keyed analytics have no series keyset: AFTER is a clean,
      // named error at prepare time
      val cur0 = Cursor(0L, "h0").encode
      val bad = ex.execute(s"QUERY cpu FROM 0 TO 119999 AGGREGATE (avg(v)) " +
        s"ANALYZE TOPK(2, avg_v) GROUP BY TAGS (host) AFTER $cur0")
      assert(bad.swap.exists(_.contains("AFTER")), bad.toString)
    }
  }
}
