package graft

import graft.tsdb._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import scala.collection.JavaConverters._

/** Rollup acceleration: a downsample answered from pre-aggregated
  * partials must be ROW-IDENTICAL to the raw path for every decomposable
  * function, across mixed types, missing fields, empty windows, cursors,
  * and limits — and must never touch the raw point frame. */
class RollupSpec extends SparkSpec {
  import spark.implicits._

  private val Min = 60L * 1000000000L // 1 minute in ns
  private val Hr = 60L * Min

  /** Two series over ~3 h with value gaps, an int-typed field, a
    * string-only field (counts but never sums), NaN/Inf inputs (skipped
    * by cleanNumeric), and a duplicate (series, ts) version pair. */
  private def fixture: DataFrame = {
    def p(host: String, tMin: Long, fs: Map[String, FV], seq: Long) =
      TP("cpu.usage", Map("host" -> host), tMin * Min, fs, seq)
    val rows =
      (0 until 150 by 7).map(i => p("h1", i, Map(
        "value" -> FV.dv(math.sin(i) * 10 + i),
        "load" -> FV.lv(i % 13),
        "note" -> FV.sv(s"n$i")), i)) ++
      (0 until 150 by 11).map(i => p("h2", i, Map(
        "value" -> FV.dv(if (i % 33 == 0) Double.NaN else 100.0 - i)), 1000 + i)) ++
      Seq(
        p("h2", 44, Map("value" -> FV.dv(Double.PositiveInfinity)), 2000),
        // same (series, ts) twice: seq 3001 must win in BOTH paths
        p("h1", 7, Map("value" -> FV.dv(-5.0)), 3000),
        p("h1", 7, Map("value" -> FV.dv(-6.0)), 3001))
    rows.toDF()
  }

  private val fullAggs = Seq(
    AggSpec("count", "*"), AggSpec("count", "value"), AggSpec("count", "note"),
    AggSpec("sum", "value"), AggSpec("avg", "value"),
    AggSpec("min", "value"), AggSpec("max", "value"),
    AggSpec("first", "value"), AggSpec("last", "value"),
    AggSpec("frac", "value"), AggSpec("stddev", "value"),
    AggSpec("sum", "load"), AggSpec("avg", "load"))

  /** The analytic's rows, asserting the route that planned them
    * ([[TsdbEngine.analyzeRouted]]). */
  private def analyzeOn(tier: String)(routed: (DataFrame, String)): Array[Row] = {
    assert(routed._2 == tier, routed._2)
    routed._1.collect()
  }

  /** A [[TsdbEngine.serve]] answer's rows, asserting the tier that served. */
  private def servedBy(tier: String)(s: TsdbEngine.Served): Array[Row] = {
    assert(s.tier == tier, s.tier)
    s.rows
  }

  private def normalize(df: DataFrame): Seq[String] =
    df.drop("tags").collect().map(_.toString).toSeq

  /** stddev re-aggregates via the sum-of-squares identity, which differs
    * from Spark's Welford update only in floating-point rounding — compare
    * it at 1e-9 relative, everything else exactly. */
  private def assertSame(raw: DataFrame, rolled: DataFrame): Unit = {
    val stddevCols = raw.columns.filter(_.startsWith("stddev_")).toSeq
    val exactCols = raw.columns.filterNot(c => stddevCols.contains(c) || c == "tags").toSeq
    assert(normalize(raw.select(exactCols.map(col): _*)) ==
      normalize(rolled.select(exactCols.map(col): _*)))
    val rs = raw.select(stddevCols.map(col): _*).collect()
    val qs = rolled.select(stddevCols.map(col): _*).collect()
    assert(rs.length == qs.length)
    rs.zip(qs).foreach { case (a, b) =>
      stddevCols.indices.foreach { i =>
        val (x, y) = (a.getDouble(i), b.getDouble(i))
        assert((x.isNaN && y.isNaN) || math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(x)),
          s"stddev mismatch: $x vs $y")
      }
    }
  }

  private def q(aggs: Seq[AggSpec], interval: Long = Hr,
      emitEmpty: Boolean = false, tags: Map[String, String] = Map.empty,
      limit: Option[Long] = None, afterKey: Option[Cursor] = None) =
    QueryParams("cpu.usage", tags, startNs = 0L, endNs = Some(3 * Hr - 1),
      aggs = aggs, downsampleNs = Some(interval),
      emitEmptyWindows = emitEmpty, limit = limit, afterKey = afterKey)

  test("rollup answers every decomposable function identically to raw") {
    val pts = fixture
    val rollup = Rollup.build(QueryEngine.mergedView(pts, Nil), Min,
      Seq("value", "load", "note"))
    val query = q(fullAggs)
    assert(Rollup.supports(query, Min, Set("value", "load", "note")))
    assertSame(QueryEngine.run(pts, query), Rollup.run(rollup, Min, query))
  }

  test("runDelta: whole-range delta/increase from partials == raw operator") {
    val pts = fixture
    val merged = QueryEngine.mergedView(pts, Nil)
    val rollup = Rollup.build(merged, Min, Seq("value", "load"))
    // the fixture spans [0, 150 min): query a whole-window-aligned range
    val query = QueryParams("cpu.usage", startNs = 0L, endNs = Some(150 * Min - 1))
    assert(Rollup.supportsDelta(query, Min, rollup, "value"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getAs[String]("series_key") ->
        (r.getAs[Long]("n_points"), r.getAs[Long]("first_ts"),
          r.getAs[Long]("last_ts"), r.getAs[Double]("delta"),
          r.getAs[Double]("increase"))).toMap
    val raw = rows(TsAnalytics.rangeDelta(pts, query))
    val routed = rows(Rollup.runDelta(rollup, Min, query, "value"))
    assert(raw.keySet == routed.keySet && raw.keySet.nonEmpty)
    raw.foreach { case (k, (n, ft, lt, d, inc)) =>
      val (n2, ft2, lt2, d2, inc2) = routed(k)
      assert(n == n2 && ft == ft2 && lt == lt2 && d == d2, s"series $k")
      assert(math.abs(inc - inc2) <= 1e-9 * math.max(1.0, math.abs(inc)),
        s"series $k increase $inc vs $inc2")
    }
    // the int-typed field routes too
    assert(rows(Rollup.runDelta(rollup, Min, query, "load")) ==
      rows(TsAnalytics.rangeDelta(pts, query, field = "load")))
    // TAGGED composes through the rollup rows
    val tagged = query.copy(tags = Map("host" -> "h1"))
    assert(rows(Rollup.runDelta(rollup, Min, tagged, "value")) ==
      rows(TsAnalytics.rangeDelta(pts, tagged)))
    // gating: misaligned range, value filters, missing __inc column
    assert(!Rollup.supportsDelta(
      query.copy(endNs = Some(150 * Min)), Min, rollup, "value"))
    assert(!Rollup.supportsDelta(
      query.copy(valueFilters = Seq(ValueFilter("value", ">", 0))),
      Min, rollup, "value"))
    val legacy = rollup.drop("value__inc")
    assert(!Rollup.supportsDelta(query, Min, legacy, "value"))
  }

  test("runDeltaBy: windowed delta from partials == raw operator") {
    val pts = fixture
    val merged = QueryEngine.mergedView(pts, Nil)
    val rollup = Rollup.build(merged, Min, Seq("value", "load"))
    val query = QueryParams("cpu.usage", startNs = 0L, endNs = Some(150 * Min - 1))
    assert(Rollup.supportsDeltaBy(query, Min, rollup, "value", Hr))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getAs[String]("series_key"), r.getAs[Long]("window_start")) ->
          (r.getAs[Long]("n_points"), r.getAs[Double]("delta"),
            r.getAs[Double]("increase"))).toMap
    val raw = rows(TsAnalytics.windowedDelta(pts, query, Hr))
    val routed = rows(Rollup.runDeltaBy(rollup, Min, query, "value", Hr))
    assert(raw.keySet == routed.keySet && raw.keySet.nonEmpty)
    raw.foreach { case (k, (n, d, inc)) =>
      val (n2, d2, inc2) = routed(k)
      assert(n == n2 && d == d2, s"window $k")
      assert(math.abs(inc - inc2) <= 1e-9 * math.max(1.0, math.abs(inc)),
        s"window $k increase $inc vs $inc2")
    }
    // per-window increases still sum to the whole-range increase
    // (continuous-counter contract preserved through the route)
    val whole = Rollup.runDelta(rollup, Min, query, "value").collect()
      .map(r => r.getAs[String]("series_key") -> r.getAs[Double]("increase")).toMap
    val summed = routed.toSeq.groupBy(_._1._1)
      .map { case (sk, ws) => sk -> ws.map(_._2._3).sum }
    whole.foreach { case (sk, inc) =>
      assert(math.abs(summed(sk) - inc) <= 1e-9 * math.max(1.0, math.abs(inc))) }
    // the int-typed field routes exactly; TAGGED composes
    assert(rows(Rollup.runDeltaBy(rollup, Min, query, "load", Hr)) ==
      rows(TsAnalytics.windowedDelta(pts, query, Hr, field = "load")))
    val tagged = query.copy(tags = Map("host" -> "h1"))
    assert(rows(Rollup.runDeltaBy(rollup, Min, tagged, "value", Hr)) ==
      rows(TsAnalytics.windowedDelta(pts, tagged, Hr)))
    // gating: target window must be a multiple of the grain
    assert(!Rollup.supportsDeltaBy(query, Min, rollup, "value", 90L * 1000000000L))
    assert(!Rollup.supportsDeltaBy(query, Min, rollup, "value", 0L))
  }

  test("runTransitionsBy: windowed reset/change counts from partials == raw") {
    val pts = fixture
    val merged = QueryEngine.mergedView(pts, Nil)
    val rollup = Rollup.build(merged, Min, Seq("value", "load"))
    val query = QueryParams("cpu.usage", startNs = 0L, endNs = Some(150 * Min - 1))
    assert(Rollup.supportsTransitionsBy(query, Min, rollup, "value", Hr))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getAs[String]("series_key"), r.getAs[Long]("window_start")) ->
          (r.getAs[Long]("n_points"), r.getAs[Long]("resets"),
            r.getAs[Long]("changes"))).toMap
    val raw = rows(TsAnalytics.windowedTransitions(pts, query, Hr))
    val routed = rows(Rollup.runTransitionsBy(rollup, Min, query, "value", Hr))
    // long counts: EXACT map equality
    assert(raw == routed && raw.nonEmpty)
    // per-window counts sum to the whole-range transitions counts
    // (boundary pairs in the LATER point's window — nothing lost/doubled)
    val whole = TsAnalytics.transitions(pts, query).collect()
      .map(r => r.getAs[String]("series_key") ->
        (r.getAs[Long]("resets"), r.getAs[Long]("changes"))).toMap
    val summed = routed.toSeq.groupBy(_._1._1).map { case (sk, ws) =>
      sk -> (ws.map(_._2._2).sum, ws.map(_._2._3).sum) }
    assert(summed == whole)
    // the int-typed field routes; TAGGED composes; driver fold agrees
    assert(rows(Rollup.runTransitionsBy(rollup, Min, query, "load", Hr)) ==
      rows(TsAnalytics.windowedTransitions(pts, query, Hr, field = "load")))
    val tagged = query.copy(tags = Map("host" -> "h1"))
    assert(rows(Rollup.runTransitionsBy(rollup, Min, tagged, "value", Hr)) ==
      rows(TsAnalytics.windowedTransitions(pts, tagged, Hr)))
    val resident = rollup.orderBy("window_start").collect()
    val localR = LocalRollup.runTransitionsBy(
      resident, rollup.schema, query, "value", Hr, "resets")
      .map(r => (r.getString(2), r.getLong(3)) -> (r.getLong(4), r.getLong(5)))
      .toMap
    assert(localR == raw.map { case (k, (n, r, _)) => k -> (n, r) })
    // gating: target window must be a multiple of the grain
    assert(!Rollup.supportsTransitionsBy(query, Min, rollup, "value",
      90L * 1000000000L))
    assert(!Rollup.supportsTransitionsBy(query, Min, rollup, "value", 0L))
  }

  test("runTransitions: reset/change counts from partials == raw (bit-identical)") {
    val pts = fixture
    val merged = QueryEngine.mergedView(pts, Nil)
    val rollup = Rollup.build(merged, Min, Seq("value", "load"))
    val query = QueryParams("cpu.usage", startNs = 0L, endNs = Some(150 * Min - 1))
    assert(Rollup.supportsTransitions(query, Min, rollup, "value"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getAs[String]("series_key") ->
        (r.getAs[Long]("n_points"), r.getAs[Long]("resets"),
          r.getAs[Long]("changes"))).toMap
    val raw = rows(TsAnalytics.transitions(pts, query))
    val routed = rows(Rollup.runTransitions(rollup, Min, query, "value"))
    // long counts: EXACT map equality, no tolerance anywhere
    assert(raw == routed && raw.nonEmpty)
    // a reset is always also a change; the fixture has both kinds
    raw.values.foreach { case (_, r, c) => assert(r <= c) }
    assert(raw.values.exists(_._2 > 0) && raw.values.exists(v => v._3 > v._2))
    // the int-typed field routes too; TAGGED composes through the partials
    assert(rows(Rollup.runTransitions(rollup, Min, query, "load")) ==
      rows(TsAnalytics.transitions(pts, query, field = "load")))
    val tagged = query.copy(tags = Map("host" -> "h2"))
    assert(rows(Rollup.runTransitions(rollup, Min, tagged, "value")) ==
      rows(TsAnalytics.transitions(pts, tagged)))
    // gating: misaligned range, value filters, legacy frame without the
    // transition partials
    assert(!Rollup.supportsTransitions(
      query.copy(endNs = Some(150 * Min)), Min, rollup, "value"))
    assert(!Rollup.supportsTransitions(
      query.copy(valueFilters = Seq(ValueFilter("value", ">", 0))),
      Min, rollup, "value"))
    assert(!Rollup.supportsTransitions(
      query, Min, rollup.drop("value__resets"), "value"))
  }

  test("engine: ANALYZE RESETS/CHANGES route through a registered rollup") {
    val dir = java.nio.file.Files.createTempDirectory("graft_rollup_trans").toString
    val eng = new TsdbEngine(spark, dir)
    // counter with a reset at i=60 plus a flat stretch (changes < pairs)
    val points = (0 until 120).map { i =>
      graft.model.DataPoint("reqs", Map("host" -> s"h${i % 2}"), i * Min,
        Map("value" -> graft.model.FieldValue.ofDouble(
          if (i == 60) 1.0
          else if (i < 20) 5.0 // flat: no change
          else (i % 60).toDouble * 2 + 1)))
    }
    assert(eng.putBatch(points).isRight)
    val q = QueryParams("reqs", startNs = 0L, endNs = Some(120 * Min - 1))
    val rawR = analyzeOn("analyze-raw")(eng.analyzeRouted(q, AnalyzeResets("value")))
    val rawC = analyzeOn("analyze-raw")(eng.analyzeRouted(q, AnalyzeChanges("value")))
    val rawByR = analyzeOn("analyze-raw")(eng.analyzeRouted(q, AnalyzeResetsBy("value", Hr)))
    assert(rawByR.head.schema.fieldNames.toSeq == Seq("metric", "tags",
      "series_key", "window_start", "n_points", "resets"))
    assert(rawR.head.schema.fieldNames.toSeq ==
      Seq("metric", "tags", "series_key", "n_points", "resets"))
    assert(rawC.head.schema.fieldNames.toSeq ==
      Seq("metric", "tags", "series_key", "n_points", "changes"))
    eng.registerRollup("reqs", Min, Seq("value"))
    val routedR = analyzeOn("rollup-transitions")(eng.analyzeRouted(q, AnalyzeResets("value")))
    assert(rawR.map(_.toSeq).toSeq == routedR.map(_.toSeq).toSeq,
      "routed RESETS must equal the raw analytic bit-for-bit")
    val routedC = analyzeOn("rollup-transitions")(eng.analyzeRouted(q, AnalyzeChanges("value")))
    assert(rawC.map(_.toSeq).toSeq == routedC.map(_.toSeq).toSeq,
      "routed CHANGES must equal the raw analytic bit-for-bit")
    // un-alignable range falls back to raw
    analyzeOn("analyze-raw")(
      eng.analyzeRouted(q.copy(endNs = Some(90 * Min)), AnalyzeResets("value")))
    // LIMIT flows through the routed plan
    assert(eng.analyze(q.copy(limit = Some(1L)),
      AnalyzeResets("value")).collect().length == 1)

    // driver-resident tier serves the same rows with NO Spark job
    val localR = servedBy("local-rollup-resets")(eng.serve(AnalyzeReq(q, AnalyzeResets("value"))))
    assert(localR.map(_.toSeq).toSeq == routedR.map(_.toSeq).toSeq,
      "driver RESETS tier must mirror the Spark rollup route row-for-row")
    val localC = servedBy("local-rollup-changes")(eng.serve(AnalyzeReq(q, AnalyzeChanges("value"))))
    assert(localC.map(_.toSeq).toSeq == routedC.map(_.toSeq).toSeq,
      "driver CHANGES tier must mirror the Spark rollup route row-for-row")
    // second call hits the result cache; the two verbs cache separately
    servedBy("analyze-cache")(eng.serve(AnalyzeReq(q, AnalyzeResets("value"))))
    // TAGGED + LIMIT compose through the fold
    val qt = q.copy(tags = Map("host" -> "h1"))
    assert(eng.serve(AnalyzeReq(qt, AnalyzeResets("value"))).rows.map(_.toSeq).toSeq ==
      eng.analyze(qt, AnalyzeResets("value")).collect().map(_.toSeq).toSeq)
    val qLim = q.copy(limit = Some(1L))
    val localLim = servedBy("local-rollup-changes")(
      eng.serve(AnalyzeReq(qLim, AnalyzeChanges("value"))))
    assert(localLim.length == 1 && localLim.map(_.toSeq).toSeq ==
      eng.analyze(qLim, AnalyzeChanges("value")).collect().map(_.toSeq).toSeq)
    // WINDOWED forms: rollup-routed when the target divides (and
    // bit-identical to the raw windowed path captured pre-registration),
    // raw otherwise; driver tier row-identical to the Spark route
    val routedBy = analyzeOn("rollup-transitions-by")(
      eng.analyzeRouted(q, AnalyzeResetsBy("value", Hr)))
    assert(routedBy.map(_.toSeq).toSeq == rawByR.map(_.toSeq).toSeq,
      "routed RESETS BY must equal the raw windowed path bit-for-bit")
    analyzeOn("analyze-raw")(eng.analyzeRouted(q, AnalyzeResetsBy("value", 90L * 1000000000L)))
    val localBy = servedBy("local-rollup-changes-by")(
      eng.serve(AnalyzeReq(q, AnalyzeChangesBy("value", Hr))))
    assert(localBy.map(_.toSeq).toSeq ==
      eng.analyze(q, AnalyzeChangesBy("value", Hr)).collect().map(_.toSeq).toSeq)

    // a write invalidates: fresh rows, still locally served
    assert(eng.putBatch(Seq(graft.model.DataPoint("reqs",
      Map("host" -> "h0"), 120 * Min - 1, Map("value" ->
        graft.model.FieldValue.ofDouble(0.5))))).isRight)
    val after = servedBy("local-rollup-resets")(eng.serve(AnalyzeReq(q, AnalyzeResets("value"))))
    assert(after.map(_.toSeq).toSeq ==
      eng.analyze(q, AnalyzeResets("value")).collect().map(_.toSeq).toSeq)
  }

  test("runTwa: LOCF time-weighted average from partials == raw operator") {
    val pts = fixture
    val merged = QueryEngine.mergedView(pts, Nil)
    val rollup = Rollup.build(merged, Min, Seq("value", "load"))
    val query = QueryParams("cpu.usage", startNs = 0L, endNs = Some(150 * Min - 1),
      downsampleNs = Some(Hr))
    assert(Rollup.supportsTwa(query, Min, rollup, "value"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getAs[String]("series_key"), r.getAs[Long]("window_start")) ->
          (r.getAs[Long]("n_points"), r.getAs[Double]("twa"))).toMap
    def same(raw: Map[(String, Long), (Long, Double)],
        routed: Map[(String, Long), (Long, Double)]): Unit = {
      assert(raw.keySet == routed.keySet && raw.keySet.nonEmpty)
      raw.foreach { case (k, (n, t)) =>
        val (n2, t2) = routed(k)
        assert(n == n2, s"window $k n_points")
        assert(math.abs(t - t2) <= 1e-9 * math.max(1.0, math.abs(t)),
          s"window $k twa $t vs $t2")
      }
    }
    same(rows(TsAnalytics.timeWeightedAvg(pts, query)),
      rows(Rollup.runTwa(rollup, Min, query, "value")))
    // int field + TAGGED
    same(rows(TsAnalytics.timeWeightedAvg(pts, query, field = "load")),
      rows(Rollup.runTwa(rollup, Min, query, "load")))
    val tagged = query.copy(tags = Map("host" -> "h2"))
    same(rows(TsAnalytics.timeWeightedAvg(pts, tagged)),
      rows(Rollup.runTwa(rollup, Min, tagged, "value")))
    // gating: TWA interval must be a multiple of the grain; a frame
    // without the __area partial (legacy build) routes raw
    assert(!Rollup.supportsTwa(
      query.copy(downsampleNs = Some(90L * 1000000000L)), Min, rollup, "value"))
    assert(!Rollup.supportsTwa(query, Min, rollup.drop("value__area"), "value"))
  }

  test("engine: ANALYZE DELTA BY and TWA route through a registered rollup") {
    val dir = java.nio.file.Files.createTempDirectory("graft_rollup_dby").toString
    val eng = new TsdbEngine(spark, dir)
    // integer-valued counter with a reset, 1-min cadence over 2 h —
    // integer sums make routed == raw exact
    val points = (0 until 120).map { i =>
      graft.model.DataPoint("reqs", Map("host" -> s"h${i % 2}"), i * Min,
        Map("value" -> graft.model.FieldValue.ofDouble(
          if (i == 60) 1.0 else (i % 60).toDouble * 2 + 1)))
    }
    assert(eng.putBatch(points).isRight)
    val q = QueryParams("reqs", startNs = 0L, endNs = Some(120 * Min - 1))
    val dby = AnalyzeDeltaBy("value", Hr)
    val rawD = analyzeOn("analyze-raw")(eng.analyzeRouted(q, dby))
    val rby = AnalyzeRateBy("value", Hr)
    val rawRby = analyzeOn("analyze-raw")(eng.analyzeRouted(q, rby))
    assert(rawRby.head.schema.fieldNames.toSeq == Seq("metric", "tags",
      "series_key", "window_start", "n_points", "rate_per_sec"))
    // rate_per_sec IS the DELTA BY increase over the window duration
    rawRby.zip(rawD).foreach { case (r, d) =>
      assert(r.getDouble(5) == d.getDouble(6) * 1e9 / Hr.toDouble) }
    val twa = AnalyzeTwa("value", Hr)
    val rawT = analyzeOn("analyze-raw")(eng.analyzeRouted(q, twa))
    eng.registerRollup("reqs", Min, Seq("value"))
    val routedD = analyzeOn("rollup-delta-by")(eng.analyzeRouted(q, dby))
    assert(rawD.map(_.toSeq).toSeq == routedD.map(_.toSeq).toSeq,
      "routed DELTA BY must equal the raw analytic")
    val routedT = analyzeOn("rollup-twa")(eng.analyzeRouted(q, twa))
    assert(rawT.map(_.toSeq).toSeq == routedT.map(_.toSeq).toSeq,
      "routed TWA must equal the raw analytic")
    val routedRby = analyzeOn("rollup-delta-by")(eng.analyzeRouted(q, rby))
    assert(rawRby.map(_.toSeq).toSeq == routedRby.map(_.toSeq).toSeq,
      "routed RATE BY must equal the raw analytic")
    val localRby = servedBy("local-rollup-rate-by")(eng.serve(AnalyzeReq(q, rby)))
    assert(localRby.map(_.toSeq).toSeq == routedRby.map(_.toSeq).toSeq,
      "driver RATE BY tier must mirror the Spark rollup route row-for-row")
    // non-multiple target window / interval falls back to raw
    analyzeOn("analyze-raw")(eng.analyzeRouted(q, AnalyzeDeltaBy("value", 90L * 1000000000L)))
    analyzeOn("analyze-raw")(eng.analyzeRouted(q, AnalyzeTwa("value", 90L * 1000000000L)))
    // LIMIT flows through the routed plans
    assert(eng.analyze(q.copy(limit = Some(3L)), dby).collect().length == 3)

    // the driver-resident tiers serve the same rows with NO Spark job
    val localD = servedBy("local-rollup-delta-by")(eng.serve(AnalyzeReq(q, dby)))
    assert(localD.map(_.toSeq).toSeq == routedD.map(_.toSeq).toSeq,
      "driver DELTA BY tier must mirror the Spark rollup route row-for-row")
    val localT = servedBy("local-rollup-twa")(eng.serve(AnalyzeReq(q, twa)))
    assert(localT.map(_.toSeq).toSeq == routedT.map(_.toSeq).toSeq,
      "driver TWA tier must mirror the Spark rollup route row-for-row")
    // cache hits on repeat; TAGGED + LIMIT compose through the folds
    servedBy("analyze-cache")(eng.serve(AnalyzeReq(q, dby)))
    val qt = q.copy(tags = Map("host" -> "h1"))
    assert(eng.serve(AnalyzeReq(qt, dby)).rows.map(_.toSeq).toSeq ==
      eng.analyze(qt, dby).collect().map(_.toSeq).toSeq)
    assert(eng.serve(AnalyzeReq(qt, twa)).rows.map(_.toSeq).toSeq ==
      eng.analyze(qt, twa).collect().map(_.toSeq).toSeq)
    val qLim = q.copy(limit = Some(2L))
    assert(eng.serve(AnalyzeReq(qLim, dby)).rows.map(_.toSeq).toSeq ==
      eng.analyze(qLim, dby).collect().map(_.toSeq).toSeq)
    assert(eng.serve(AnalyzeReq(qLim, twa)).rows.map(_.toSeq).toSeq ==
      eng.analyze(qLim, twa).collect().map(_.toSeq).toSeq)
    // a non-multiple window bails out of the local tier too (spark path)
    servedBy("analyze-spark")(eng.serve(AnalyzeReq(q, AnalyzeTwa("value", 90L * 1000000000L))))
  }

  test("engine: ANALYZE IRATE serves from the driver-resident tier") {
    val dir = java.nio.file.Files.createTempDirectory("graft_rollup_irate").toString
    val eng = new TsdbEngine(spark, dir)
    val points = (0 until 120).map { i =>
      graft.model.DataPoint("reqs", Map("host" -> s"h${i % 2}"), i * Min,
        Map("value" -> graft.model.FieldValue.ofDouble(
          if (i == 60) 1.0 else (i % 60).toDouble * 2 + 1)))
    }
    assert(eng.putBatch(points).isRight)
    val q = QueryParams("reqs", startNs = 0L, endNs = Some(120 * Min - 1))
    val spec = AnalyzeIrate("value")
    val raw = eng.analyze(q, spec).collect()
    eng.registerRollup("reqs", Min, Seq("value"))
    val local = servedBy("local-rollup-irate")(eng.serve(AnalyzeReq(q, spec)))
    assert(local.map(_.toSeq).toSeq == raw.map(_.toSeq).toSeq,
      "driver IRATE tier must mirror the raw analytic row-for-row")
    // second call hits the result cache; TAGGED + LIMIT compose
    servedBy("analyze-cache")(eng.serve(AnalyzeReq(q, spec)))
    val qt = q.copy(tags = Map("host" -> "h1"))
    assert(eng.serve(AnalyzeReq(qt, spec)).rows.map(_.toSeq).toSeq ==
      eng.analyze(qt, spec).collect().map(_.toSeq).toSeq)
    val qLim = q.copy(limit = Some(1L))
    val lim = servedBy("local-rollup-irate")(eng.serve(AnalyzeReq(qLim, spec)))
    assert(lim.length == 1 &&
      lim.map(_.toSeq).toSeq ==
        eng.analyze(qLim, spec).collect().map(_.toSeq).toSeq)
  }

  test("engine: ANALYZE EWMA/HOLT BY route through a smoothing rollup bit-identically") {
    val dir = java.nio.file.Files.createTempDirectory("graft_rollup_smooth").toString
    val eng = new TsdbEngine(spark, dir)
    // irregular cadence + a NaN (not a sample) + two series
    val points = (0 until 90).map { i =>
      graft.model.DataPoint("reqs", Map("host" -> s"h${i % 2}"),
        i * Min + (i % 3) * (Min / 5),
        Map("value" -> graft.model.FieldValue.ofDouble(
          if (i == 40) Double.NaN else math.sin(i * 0.7) * 10 + i)))
    }
    assert(eng.putBatch(points).isRight)
    val q = QueryParams("reqs", startNs = 0L, endNs = Some(8 * Hr - 1))
    val ewmaBy = AnalyzeEwmaBy("value", 0.25, 10 * Min)
    val holtBy = AnalyzeHoltBy("value", 0.25, 0.125, 10 * Min)
    val rawE = analyzeOn("analyze-raw")(eng.analyzeRouted(q, ewmaBy))
    val rawH = eng.analyze(q, holtBy).collect()
    // windowed raw == per-point raw sampled at each window's last point
    val perPoint = eng.analyze(q, AnalyzeEwma("value", 0.25)).collect()
      .map(r => (r.getString(2), r.getLong(3)) -> r.getDouble(5)).toMap
    rawE.foreach { r =>
      assert(perPoint((r.getString(2), r.getLong(5))) == r.getDouble(7),
        "windowed EWMA must sample the per-point fold")
    }
    eng.registerRollup("reqs", 5 * Min, Seq("value"),
      smooth = Seq(SmoothSpec("value", "ewma", 0.25),
        SmoothSpec("value", "holt", 0.25, 0.125)))
    val routedE = analyzeOn("rollup-ewma")(eng.analyzeRouted(q, ewmaBy))
    assert(routedE.map(_.toSeq).toSeq == rawE.map(_.toSeq).toSeq,
      "rollup-served EWMA BY must be bit-identical to the raw fold")
    val routedH = analyzeOn("rollup-holt")(eng.analyzeRouted(q, holtBy))
    assert(routedH.map(_.toSeq).toSeq == rawH.map(_.toSeq).toSeq,
      "rollup-served HOLT BY must be bit-identical to the raw fold")
    // driver-resident tier: serve folds the RESIDENT partials
    // with zero Spark jobs and mirrors the Spark route row-for-row
    val localE = servedBy("local-rollup-ewma")(eng.serve(AnalyzeReq(q, ewmaBy)))
    assert(localE.map(_.toSeq).toSeq == rawE.map(_.toSeq).toSeq,
      "driver EWMA BY tier must mirror the raw fold row-for-row")
    val qt = q.copy(tags = Map("host" -> "h1"))
    val localH = servedBy("local-rollup-holt")(eng.serve(AnalyzeReq(qt, holtBy)))
    assert(localH.map(_.toSeq).toSeq ==
      eng.analyze(qt, holtBy).collect().map(_.toSeq).toSeq)
    // LIMIT parity; a mid-range start is refused by the PREFIX check
    // (stored states fold from the series' first sample)
    val qLim = q.copy(limit = Some(2L))
    assert(eng.serve(AnalyzeReq(qLim, ewmaBy)).rows.map(_.toSeq).toSeq ==
      eng.analyze(qLim, ewmaBy).collect().map(_.toSeq).toSeq)
    val mid = eng.serve(AnalyzeReq(q.copy(startNs = 1 * Hr), ewmaBy))
    assert(mid.tier != "local-rollup-ewma", mid.tier)
    // a different alpha is a different fold — raw path
    analyzeOn("analyze-raw")(eng.analyzeRouted(q, AnalyzeEwmaBy("value", 0.5, 10 * Min)))
    // TWO alphas on one field coexist (param-encoded state columns):
    // each routes to ITS OWN stored fold, both bit-identical to raw
    val raw05 = eng.analyze(q, AnalyzeEwmaBy("value", 0.5, 10 * Min)).collect()
    eng.registerRollup("reqs", 5 * Min, Seq("value"),
      smooth = Seq(SmoothSpec("value", "ewma", 0.25),
        SmoothSpec("value", "ewma", 0.5),
        SmoothSpec("value", "holt", 0.25, 0.125)))
    val r25 = analyzeOn("rollup-ewma")(eng.analyzeRouted(q, ewmaBy))
    assert(r25.map(_.toSeq).toSeq == rawE.map(_.toSeq).toSeq)
    val r05 = analyzeOn("rollup-ewma")(eng.analyzeRouted(q, AnalyzeEwmaBy("value", 0.5, 10 * Min)))
    assert(r05.map(_.toSeq).toSeq == raw05.map(_.toSeq).toSeq,
      "the second alpha must serve from its own stored fold")
    // mid-range start would re-seed the raw fold — the range-start probe
    // must refuse the stored prefix states
    val qMid = q.copy(startNs = 1 * Hr)
    val rawMid = analyzeOn("analyze-raw")(eng.analyzeRouted(qMid, ewmaBy))
    assert(rawMid.nonEmpty)
    // commit AFTER registration: the smoothing rollup full-rebuilds and
    // still serves the fresh fold bit-identically
    val more = (90 until 120).map { i =>
      graft.model.DataPoint("reqs", Map("host" -> s"h${i % 2}"), i * Min,
        Map("value" -> graft.model.FieldValue.ofDouble(i * 1.5)))
    }
    assert(eng.putBatch(more).isRight)
    val q2 = QueryParams("reqs", startNs = 0L, endNs = Some(8 * Hr - 1))
    val raw2 = TsAnalytics.ewmaSmoothBy(
      eng.loadPoints().get, q2, 0.25, 10 * Min).collect()
    val routed2 = analyzeOn("rollup-ewma")(eng.analyzeRouted(q2, ewmaBy))
    assert(routed2.map(_.toSeq).toSeq == raw2.map(_.toSeq).toSeq,
      "post-commit full rebuild must serve the fresh fold")
  }

  test("smoothing rollup marker round-trips on disk; unchanged version skips rebuild") {
    val dir = java.nio.file.Files.createTempDirectory("graft_smooth_marker").toString
    def listRollupFiles(): Seq[String] = {
      val root = java.nio.file.Paths.get(dir, "_rollup")
      if (!java.nio.file.Files.isDirectory(root)) Nil
      else {
        val s = java.nio.file.Files.walk(root)
        try s.iterator().asScala.filter(p =>
            p.getFileName.toString.endsWith(".parquet"))
          .map(root.relativize(_).toString).toSeq.sorted
        finally s.close()
      }
    }
    val smooth = Seq(SmoothSpec("value", "ewma", 0.25),
      SmoothSpec("value", "holt", 0.5, 0.25))
    val points = (0 until 60).map { i =>
      graft.model.DataPoint("reqs", Map("host" -> s"h${i % 2}"), i * Min,
        Map("value" -> graft.model.FieldValue.ofDouble(i * 1.25)))
    }
    val q = QueryParams("reqs", startNs = 0L, endNs = Some(Hr - 1))
    val spec = AnalyzeEwmaBy("value", 0.25, 10 * Min)
    val eng = new TsdbEngine(spark, dir)
    assert(eng.putBatch(points).isRight)
    eng.registerRollup("reqs", Min, Seq("value"), smooth = smooth)
    val served = analyzeOn("rollup-ewma")(eng.analyzeRouted(q, spec))
    val files0 = listRollupFiles()
    assert(files0.nonEmpty)
    // a FRESH engine on the same root (new marker read — json4s
    // round-trip of Seq[SmoothSpec]) must serve from the existing
    // materialization without rewriting a single file
    val eng2 = new TsdbEngine(spark, dir)
    eng2.registerRollup("reqs", Min, Seq("value"), smooth = smooth)
    val served2 = analyzeOn("rollup-ewma")(eng2.analyzeRouted(q, spec))
    assert(served2.map(_.toSeq).toSeq == served.map(_.toSeq).toSeq)
    assert(listRollupFiles() == files0,
      "unchanged version must not rewrite the materialization")
    // a commit rebuilds every partition ≥ the earliest touched date
    // (suffix-incremental maintenance); all this fixture's data is on
    // ONE date, so here the suffix is everything: every file restamps
    // and the served fold is fresh (the multi-day prefix-preservation
    // case has its own test below)
    assert(eng2.putBatch(Seq(graft.model.DataPoint("reqs",
      Map("host" -> "h0"), 30 * Min + 1,
      Map("value" -> graft.model.FieldValue.ofDouble(500.0))))).isRight)
    val served3 = analyzeOn("rollup-ewma")(eng2.analyzeRouted(q, spec))
    val raw3 = TsAnalytics.ewmaSmoothBy(eng2.loadPoints().get, q, 0.25,
      10 * Min).collect()
    assert(served3.map(_.toSeq).toSeq == raw3.map(_.toSeq).toSeq)
    assert(listRollupFiles().intersect(files0).isEmpty,
      "a commit must restamp every suffix partition (single-date fixture" +
        " ⇒ the whole materialization)")
  }

  test("smoothing rollup maintenance is suffix-incremental: prefix " +
      "partitions untouched, resumed folds bit-identical") {
    val Day = TsdbEngine.DayNs
    val dir = java.nio.file.Files.createTempDirectory("graft_smooth_sfx").toString
    def filesOf(date: String): Seq[String] = {
      val d = java.nio.file.Paths.get(dir, "_rollup",
        "metric=reqs", s"date=$date")
      if (!java.nio.file.Files.isDirectory(d)) Nil
      else {
        val s = java.nio.file.Files.list(d)
        try s.iterator().asScala.map(_.getFileName.toString).toSeq.sorted
        finally s.close()
      }
    }
    val smooth = Seq(SmoothSpec("value", "ewma", 0.25),
      SmoothSpec("value", "holt", 0.25, 0.125))
    // two series across THREE days, irregular cadence + a NaN sample
    def pt(host: String, ts: Long, v: Double) =
      graft.model.DataPoint("reqs", Map("host" -> host), ts,
        Map("value" -> graft.model.FieldValue.ofDouble(v)))
    val base = (0 until 120).flatMap { i =>
      val ts = i * 35 * Min + (i % 4) * (Min / 3) // spans ~2.9 days
      Seq(pt("h0", ts, math.sin(i * 0.9) * 20 + i),
        pt("h1", ts + Min, if (i == 50) Double.NaN else 1000.0 - i * 3.5))
    }
    val eng = new TsdbEngine(spark, dir)
    assert(eng.putBatch(base).isRight)
    eng.registerRollup("reqs", 5 * Min, Seq("value"), smooth = smooth)
    val q = QueryParams("reqs", startNs = 0L, endNs = Some(3 * Day - 1))
    val ewmaBy = AnalyzeEwmaBy("value", 0.25, 10 * Min)
    val holtBy = AnalyzeHoltBy("value", 0.25, 0.125, 10 * Min)
    analyzeOn("rollup-ewma")(eng.analyzeRouted(q, ewmaBy)) // forces the initial build
    val (d0, d1, d2) = ("1970-01-01", "1970-01-02", "1970-01-03")
    val (f0, f1) = (filesOf(d0), filesOf(d1))
    assert(f0.nonEmpty && f1.nonEmpty && filesOf(d2).nonEmpty)
    // commit touching ONLY day 3 (h0 + a brand-new series h2): days 1-2
    // must stay physically untouched; day 3 rebuilds with folds RESUMED
    // from the stored day-2 states
    val more = (0 until 12).map(i => pt("h0", 2 * Day + Hr + i * 7 * Min,
      500.0 + i)) :+ pt("h2", 2 * Day + 2 * Hr, 7.25)
    assert(eng.putBatch(more).isRight)
    val routedE = analyzeOn("rollup-ewma")(eng.analyzeRouted(q, ewmaBy))
    assert(filesOf(d0) == f0 && filesOf(d1) == f1,
      "pre-boundary partitions must not be rewritten by a day-3 commit")
    assert(filesOf(d2).nonEmpty)
    val rawE = TsAnalytics.ewmaSmoothBy(eng.loadPoints().get, q, 0.25,
      10 * Min).collect()
    assert(routedE.map(_.toSeq).toSeq == rawE.map(_.toSeq).toSeq,
      "resumed EWMA folds must be bit-identical to the full fold" +
        " (incl. the unseeded new series h2)")
    val routedH = analyzeOn("rollup-holt")(eng.analyzeRouted(q, holtBy))
    val rawH = TsAnalytics.holtSmoothBy(eng.loadPoints().get, q, 0.25,
      0.125, 10 * Min).collect()
    assert(routedH.map(_.toSeq).toSeq == rawH.map(_.toSeq).toSeq,
      "resumed HOLT folds must be bit-identical to the full fold")
    // commit touching day 2: boundary moves — day 1 still untouched,
    // days 2-3 rebuild, folds resume from day-1 states only
    assert(eng.putBatch(Seq(pt("h1", Day + 3 * Hr + 1, -42.0))).isRight)
    val routedE2 = analyzeOn("rollup-ewma")(eng.analyzeRouted(q, ewmaBy))
    assert(filesOf(d0) == f0,
      "a day-2 commit must leave day 1 physically untouched")
    assert(filesOf(d1) != f1, "a day-2 commit must rebuild day 2")
    val rawE2 = TsAnalytics.ewmaSmoothBy(eng.loadPoints().get, q, 0.25,
      10 * Min).collect()
    assert(routedE2.map(_.toSeq).toSeq == rawE2.map(_.toSeq).toSeq)
    // the driver-resident tier reads the same maintained frame
    val localE = servedBy("local-rollup-ewma")(eng.serve(AnalyzeReq(q, ewmaBy)))
    assert(localE.map(_.toSeq).toSeq == rawE2.map(_.toSeq).toSeq)
  }

  test("bounded seed scan: recent window serves steady series; a stale " +
      "series falls back to the full prefix, both bit-identical") {
    val Day = TsdbEngine.DayNs
    val dir = java.nio.file.Files.createTempDirectory("graft_seed_scan").toString
    def pt(host: String, ts: Long, v: Double) =
      graft.model.DataPoint("reqs", Map("host" -> host), ts,
        Map("value" -> graft.model.FieldValue.ofDouble(v)))
    // 6 days of history: "hot" every day; "cold" only on days 1-2 (its
    // last stored fold state then sits 4+ partitions behind the tip)
    val base =
      (0 until 6 * 24).map(i => pt("hot", i * Hr + 5, 10.0 + (i % 7))) ++
      (0 until 2 * 24).map(i => pt("cold", i * Hr + 9, 100.0 - i))
    val eng = new TsdbEngine(spark, dir)
    eng.seedScanDates = 2
    assert(eng.putBatch(base).isRight)
    eng.registerRollup("reqs", Hr, Seq("value"),
      smooth = Seq(SmoothSpec("value", "ewma", 0.25)))
    val q = QueryParams("reqs", startNs = 0L, endNs = Some(7 * Day - 1))
    val ewmaBy = AnalyzeEwmaBy("value", 0.25, 2 * Hr)
    eng.analyze(q, ewmaBy).collect() // initial full build
    // day-6 commit touching only the steady series: every suffix series
    // resolves inside the 2-date recent window — no full-prefix read
    assert(eng.putBatch(Seq(pt("hot", 5 * Day + 30 * Min, 77.0))).isRight)
    var routed1: Array[Row] = null
    val scan1 = maintenanceDelta(eng) {
      routed1 = analyzeOn("rollup-ewma")(eng.analyzeRouted(q, ewmaBy)) }
    assert(scan1 == Map("seed_scan_recent" -> 1L),
      s"steady series must resolve in the bounded window, got $scan1")
    val raw1 = TsAnalytics.ewmaSmoothBy(eng.loadPoints().get, q, 0.25,
      2 * Hr).collect()
    assert(routed1.map(_.toSeq).toSeq == raw1.map(_.toSeq).toSeq,
      "bounded-window seeds must stay bit-identical to the full fold")
    // a BRAND-NEW series appearing in the suffix has no pre-boundary
    // state anywhere — it must NOT force the full-prefix fallback (the
    // common new-series ingest pattern): the pruned series_key-only scan
    // of the older partitions distinguishes new from stale, and the
    // unseeded fold is already exact
    assert(eng.putBatch(Seq(pt("fresh", 5 * Day + 50 * Min, 9.0))).isRight)
    var routedN: Array[Row] = null
    val scanN = maintenanceDelta(eng) {
      routedN = analyzeOn("rollup-ewma")(eng.analyzeRouted(q, ewmaBy)) }
    assert(scanN == Map("seed_scan_recent_new" -> 1L),
      s"a brand-new suffix series must keep the bounded scan, got $scanN")
    val rawN = TsAnalytics.ewmaSmoothBy(eng.loadPoints().get, q, 0.25,
      2 * Hr).collect()
    assert(routedN.map(_.toSeq).toSeq == rawN.map(_.toSeq).toSeq,
      "an unseeded fresh series must be bit-identical to the full fold")
    // the STALE series reappears on day 6: its resume state lives on
    // day 2, outside the recent window — exactness demands the fallback
    assert(eng.putBatch(Seq(pt("cold", 5 * Day + 40 * Min, 55.5))).isRight)
    var routed2: Array[Row] = null
    val scan2 = maintenanceDelta(eng) {
      routed2 = analyzeOn("rollup-ewma")(eng.analyzeRouted(q, ewmaBy)) }
    assert(scan2 == Map("seed_scan_full" -> 1L),
      s"a stale suffix series must force the full-prefix scan, got $scan2")
    val raw2 = TsAnalytics.ewmaSmoothBy(eng.loadPoints().get, q, 0.25,
      2 * Hr).collect()
    assert(routed2.map(_.toSeq).toSeq == raw2.map(_.toSeq).toSeq,
      "the reappearing series must resume from its day-2 state, not restart")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("runIrate: zero-dt trailing pair emits null rate (raw-operator guard parity)") {
    // The merged view dedups same-timestamp versions per series, so a
    // zero-dt pair can't reach runIrate through the engine — but the
    // tiers are documented row-identical, and the raw operator guards
    // the division (TsAnalytics.irate: when(dt =!= 0L, ...) → null).
    // Hand-mutate a collected partial row to the degenerate shape and
    // pin the local fold emits null, never ±Inf/NaN.
    val pts = Seq(
      TP("m", Map("h" -> "a"), 0L, Map("value" -> FV.dv(3.0)), 0L),
      TP("m", Map("h" -> "a"), Min, Map("value" -> FV.dv(7.0)), 1L)).toDF()
    val rollup = Rollup.build(QueryEngine.mergedView(pts, Nil), 2 * Min, Seq("value"))
    val schema = rollup.schema
    val rows = rollup.orderBy("window_start").collect()
    val iLo = schema.fieldIndex("value__last_ord")
    val iPo = schema.fieldIndex("value__plast_ord")
    val mutated = rows.map { r =>
      val vals = r.toSeq.toArray
      val lo = r.getStruct(iLo)
      // second-to-last sample forced to the SAME timestamp as the last
      vals(iPo) = org.apache.spark.sql.Row(lo.getLong(0), lo.getString(1),
        lo.getLong(2) - 1)
      org.apache.spark.sql.Row.fromSeq(vals.toSeq)
    }
    val q = QueryParams("m", startNs = 0L, endNs = Some(2 * Min))
    val out = LocalRollup.runIrate(mutated, schema, q, "value")
    assert(out.length == 1)
    assert(out.head.isNullAt(6), s"zero-dt rate must be null, got ${out.head}")
    assert(out.head.getDouble(5) == 4.0) // delta still defined
  }

  test("runPredict: trend from shifted moments == raw operator (1e-9)") {
    val pts = fixture
    val merged = QueryEngine.mergedView(pts, Nil)
    val rollup = Rollup.build(merged, Min, Seq("value"))
    // non-zero anchor exercises the moment shift
    val query = QueryParams("cpu.usage", startNs = 60 * Min,
      endNs = Some(150 * Min - 1))
    assert(Rollup.supportsPredict(query, Min, rollup, "value"))
    val h = 30 * Min
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getAs[String]("series_key") ->
        (r.getAs[Long]("n_points"), r.getAs[Long]("last_ts"),
          Option(r.getAs[java.lang.Double]("slope_per_sec")).map(_.doubleValue),
          Option(r.getAs[java.lang.Double]("predicted")).map(_.doubleValue))).toMap
    val raw = rows(TsAnalytics.predictLinear(pts, query, h))
    val routed = rows(Rollup.runPredict(rollup, Min, query, "value", h))
    assert(raw.keySet == routed.keySet && raw.nonEmpty)
    def close(a: Option[Double], b: Option[Double]): Boolean = (a, b) match {
      case (None, None) => true
      case (Some(x), Some(y)) =>
        math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(x))
      case _ => false
    }
    raw.foreach { case (k, (n, lt, sl, pr)) =>
      val (n2, lt2, sl2, pr2) = routed(k)
      assert(n == n2 && lt == lt2, s"series $k")
      assert(close(sl, sl2) && close(pr, pr2),
        s"series $k slope $sl vs $sl2, predicted $pr vs $pr2")
    }
    // legacy frames without the moment partials gate out
    assert(!Rollup.supportsPredict(query, Min,
      rollup.drop("value__tsum"), "value"))
  }

  test("engine: ANALYZE PREDICT routes through a registered rollup") {
    val dir = java.nio.file.Files.createTempDirectory("graft_rollup_pred").toString
    val eng = new TsdbEngine(spark, dir)
    val points = (0 until 120).map { i =>
      graft.model.DataPoint("disk", Map("host" -> s"h${i % 2}"), i * Min,
        Map("value" -> graft.model.FieldValue.ofDouble(10.0 + 0.5 * i)))
    }
    assert(eng.putBatch(points).isRight)
    val q = QueryParams("disk", startNs = 0L, endNs = Some(120 * Min - 1))
    val raw = analyzeOn("analyze-raw")(eng.analyzeRouted(q, AnalyzePredict("value", 60 * Min)))
    eng.registerRollup("disk", Min, Seq("value"))
    val routed = analyzeOn("rollup-predict")(
      eng.analyzeRouted(q, AnalyzePredict("value", 60 * Min)))
    assert(raw.length == routed.length)
    raw.zip(routed).foreach { case (a, b) =>
      assert(a.getString(2) == b.getString(2))
      assert(math.abs(a.getDouble(5) - b.getDouble(5)) < 1e-9)
      assert(math.abs(a.getDouble(6) - b.getDouble(6)) < 1e-9)
    }

    // the driver-resident tier mirrors the Spark route with no job
    val local = servedBy("local-rollup-predict")(
      eng.serve(AnalyzeReq(q, AnalyzePredict("value", 60 * Min))))
    assert(local.length == routed.length)
    local.zip(routed).foreach { case (a, b) =>
      assert(a.getString(2) == b.getString(2))
      assert(math.abs(a.getDouble(5) - b.getDouble(5)) < 1e-9)
      assert(math.abs(a.getDouble(6) - b.getDouble(6)) < 1e-9)
    }
    servedBy("analyze-cache")(eng.serve(AnalyzeReq(q, AnalyzePredict("value", 60 * Min))))
    // distinct horizons get distinct cache entries
    servedBy("local-rollup-predict")(eng.serve(AnalyzeReq(q, AnalyzePredict("value", 120 * Min))))
    // LIMIT parity with the Spark path's df.limit
    val qLim = q.copy(limit = Some(1L))
    val localLim = servedBy("local-rollup-predict")(
      eng.serve(AnalyzeReq(qLim, AnalyzePredict("value", 60 * Min))))
    assert(localLim.length == 1)
    assert(localLim.map(_.getString(2)).toSeq ==
      eng.analyze(qLim, AnalyzePredict("value", 60 * Min))
        .collect().map(_.getString(2)).toSeq)

    // DERIV: the same routed moment fit projected to slope — routed and
    // driver tiers match the raw fit's slope exactly
    val deriv = analyzeOn("rollup-predict")(eng.analyzeRouted(q, AnalyzeDeriv("value")))
    assert(deriv.head.schema.fieldNames.toSeq == Seq("metric", "tags",
      "series_key", "n_points", "last_ts", "slope_per_sec"))
    deriv.zip(raw).foreach { case (d, p) =>
      assert(d.getString(2) == p.getString(2))
      assert(math.abs(d.getDouble(5) - p.getDouble(5)) < 1e-9,
        "DERIV slope must equal PREDICT's trend fit")
    }
    val localDeriv = servedBy("local-rollup-deriv")(eng.serve(AnalyzeReq(q, AnalyzeDeriv("value"))))
    assert(localDeriv.map(r => (r.getString(2), r.getDouble(5))).toSeq ==
      deriv.map(r => (r.getString(2), r.getDouble(5))).toSeq)
    servedBy("analyze-cache")(eng.serve(AnalyzeReq(q, AnalyzeDeriv("value"))))
  }

  test("engine: ANALYZE DELTA routes through a registered rollup") {
    {
      val dir = java.nio.file.Files.createTempDirectory("graft_rollup_delta").toString
      val eng = new TsdbEngine(spark, dir)
      // counter with a reset, 1-min cadence over 2 h
      val points = (0 until 120).map { i =>
        graft.model.DataPoint("reqs", Map("host" -> s"h${i % 2}"), i * Min,
          Map("value" -> graft.model.FieldValue.ofDouble(
            if (i == 60) 1.0 else (i % 60).toDouble * 2 + 1)))
      }
      assert(eng.putBatch(points).isRight)
      val q = QueryParams("reqs", startNs = 0L, endNs = Some(120 * Min - 1))
      val raw = analyzeOn("analyze-raw")(eng.analyzeRouted(q, AnalyzeDelta("value")))
      eng.registerRollup("reqs", Min, Seq("value"))
      val routed = analyzeOn("rollup-delta")(eng.analyzeRouted(q, AnalyzeDelta("value")))
      assert(raw.map(_.toSeq).toSeq == routed.map(_.toSeq).toSeq,
        "routed answer must equal the raw analytic")
      // un-alignable range falls back to raw
      val q2 = q.copy(endNs = Some(90 * Min))
      analyzeOn("analyze-raw")(eng.analyzeRouted(q2, AnalyzeDelta("value")))

      // the driver-resident tier serves the same rows with NO Spark job
      val local = servedBy("local-rollup-delta")(eng.serve(AnalyzeReq(q, AnalyzeDelta("value"))))
      assert(local.map(_.toSeq).toSeq == routed.map(_.toSeq).toSeq,
        "driver tier must mirror the Spark rollup route row-for-row")
      // second call hits the result cache
      servedBy("analyze-cache")(eng.serve(AnalyzeReq(q, AnalyzeDelta("value"))))
      // TAGGED composes through the resident rows
      val qt = q.copy(tags = Map("host" -> "h1"))
      val localT = servedBy("local-rollup-delta")(eng.serve(AnalyzeReq(qt, AnalyzeDelta("value"))))
      assert(localT.map(_.toSeq).toSeq ==
        eng.analyze(qt, AnalyzeDelta("value")).collect().map(_.toSeq).toSeq)
      // LIMIT parity: the driver tier truncates exactly like the Spark
      // path's df.limit (and caches the truncated rows under the
      // limit-including key)
      val qLim = q.copy(limit = Some(1L))
      val localLim = servedBy("local-rollup-delta")(
        eng.serve(AnalyzeReq(qLim, AnalyzeDelta("value"))))
      assert(localLim.length == 1)
      assert(localLim.map(_.toSeq).toSeq ==
        eng.analyze(qLim, AnalyzeDelta("value")).collect().map(_.toSeq).toSeq)
      val cachedLim = servedBy("analyze-cache")(eng.serve(AnalyzeReq(qLim, AnalyzeDelta("value"))))
      assert(cachedLim.length == 1)
      // a write invalidates: fresh rows, still locally served
      assert(eng.putBatch(Seq(graft.model.DataPoint("reqs",
        Map("host" -> "h0"), 120 * Min - 1, Map("value" ->
          graft.model.FieldValue.ofDouble(999.0))))).isRight)
      val after = servedBy("local-rollup-delta")(eng.serve(AnalyzeReq(q, AnalyzeDelta("value"))))
      assert(after.map(_.toSeq).toSeq ==
        eng.analyze(q, AnalyzeDelta("value")).collect().map(_.toSeq).toSeq)
    }
  }

  test("rollup path: empty-window emission, tag filter, cursor + limit") {
    val pts = fixture
    val rollup = Rollup.build(QueryEngine.mergedView(pts, Nil), Min, Seq("value"))
    val aggs = Seq(AggSpec("count", "*"), AggSpec("avg", "value"))
    for (query <- Seq(
        q(aggs, emitEmpty = true),
        q(aggs, tags = Map("host" -> "h2")),
        q(aggs, tags = Map("host" -> "h*")), // prefix selector on partials
        q(aggs, limit = Some(3)),
        q(aggs, emitEmpty = true, afterKey = Some(Cursor(Hr, "")), limit = Some(2)))) {
      assertSame(QueryEngine.run(pts, query), Rollup.run(rollup, Min, query))
    }
  }

  /** Exact for counts/min/max/first/last/window keys; 1e-9 relative for
    * sum-derived doubles (cross-path summation ORDER is out of contract —
    * the driver tier folds in collect order, Spark merges partials). */
  private def assertSameRows(a: Seq[org.apache.spark.sql.Row],
      b: Seq[org.apache.spark.sql.Row]): Unit = {
    assert(a.length == b.length, s"${a.length} vs ${b.length} rows")
    a.zip(b).foreach { case (x, y) =>
      assert(x.length == y.length)
      (0 until x.length).foreach { i =>
        (x.get(i), y.get(i)) match {
          case (dx: Double, dy: Double) =>
            assert((dx.isNaN && dy.isNaN) || dx == dy ||
              math.abs(dx - dy) <= 1e-9 * math.max(1.0, math.abs(dx)),
              s"col $i: $dx vs $dy in\n$x\n$y")
          case (vx, vy) => assert(vx == vy, s"col $i: $vx vs $vy in\n$x\n$y")
        }
      }
    }
  }

  test("driver-resident rollup tier mirrors the Spark rollup path row-for-row") {
    val pts = fixture
    val rollup = Rollup.build(QueryEngine.mergedView(pts, Nil), Min,
      Seq("value", "load", "note"))
    val collected = rollup.collect()
    val aggs2 = Seq(AggSpec("count", "*"), AggSpec("avg", "value"),
      AggSpec("sum", "value"))
    for (query <- Seq(
        q(fullAggs),
        q(aggs2, emitEmpty = true),
        q(aggs2, tags = Map("host" -> "h2")),
        q(aggs2, limit = Some(3)),
        q(aggs2, emitEmpty = true, afterKey = Some(Cursor(Hr, "")), limit = Some(2)),
        q(aggs2, interval = 2 * Hr),
        q(aggs2).copy(order = Descending),
        q(aggs2, tags = Map("host" -> "nope")),
        // FILL mirrors: LOCF / linear, grid implied without emitEmpty,
        // and fill composed with desc order + cursor/limit
        q(aggs2).copy(fill = FillPrevious),
        q(aggs2, emitEmpty = true).copy(fill = FillLinear),
        q(aggs2, interval = 2 * Hr).copy(fill = FillLinear, order = Descending),
        q(aggs2, limit = Some(4)).copy(fill = FillPrevious))) {
      val sparkRows = Rollup.run(rollup, Min, query).collect().toSeq
      val localRows = LocalRollup.run(collected, rollup.schema, query, Min).toSeq
      assertSameRows(sparkRows, localRows)
    }
  }

  test("engine: eligible downsamples serve from the driver rollup tier") {
    val dir = java.nio.file.Files.createTempDirectory("graft_rollup_local").toString
    val eng = new TsdbEngine(spark, s"$dir/db")
    eng.putDF(fixture)
    eng.registerRollup("cpu.usage", Min, Seq("value"))
    val p = q(Seq(AggSpec("count", "*"), AggSpec("avg", "value"),
      AggSpec("min", "value"), AggSpec("max", "value")))
    val truth = eng.query(p).collect().toSeq
    assertSameRows(truth, servedBy("local-rollup")(eng.serve(PointReq(p))).toSeq)
    // repeat hits the result cache, not the tier
    servedBy("cache")(eng.serve(PointReq(p)))
    // percentile needs digest partials: this rollup has none, so the
    // shape is rollup-ineligible entirely and falls to the Spark path
    val pp = p.copy(aggs = Seq(AggSpec("p50", "value")))
    servedBy("spark")(eng.serve(PointReq(pp)))
    // a commit invalidates: fresh collect, same answers as raw
    eng.putBatch(Seq(graft.model.DataPoint("cpu.usage", Map("host" -> "h1"),
      100L * Min, Map("value" -> graft.model.FieldValue(d = Some(77.5))))))
    assertSameRows(eng.query(p).collect().toSeq,
      servedBy("local-rollup")(eng.serve(PointReq(p))).toSeq)
  }

  test("driver tier digest percentiles: sketches merge driver-side") {
    val pts = fixture
    val rollup = Rollup.build(QueryEngine.mergedView(pts, Nil), Min,
      Seq("value"), withDigests = true)
    val collected = rollup.collect()
    val aggs = Seq(AggSpec("count", "*"), AggSpec("p50", "value"),
      AggSpec("p95", "value"), AggSpec("avg", "value"))
    for (query <- Seq(q(aggs), q(aggs, interval = 2 * Hr),
        q(aggs, tags = Map("host" -> "h2")))) {
      assert(Rollup.supports(query, Min, Set("value"), digests = true))
      // fixture windows keep singleton centroids, and compress() sorts by
      // mean — the driver-side merge reproduces the Spark merge exactly
      // (the general contract is approximate per the digest bounds)
      assertSameRows(Rollup.run(rollup, Min, query).collect().toSeq,
        LocalRollup.run(collected, rollup.schema, query, Min).toSeq)
    }
    // engine end-to-end: digest-registered rollup serves p<N> driver-side
    val dir = java.nio.file.Files.createTempDirectory("graft_rollup_dig").toString
    val eng = new TsdbEngine(spark, s"$dir/db")
    eng.putDF(pts)
    eng.registerRollup("cpu.usage", Min, Seq("value"), withDigests = true)
    val served = servedBy("local-rollup")(eng.serve(PointReq(q(aggs)))).toSeq
    assertSameRows(
      Rollup.run(rollup, Min, q(aggs)).collect().toSeq, served)
  }

  test("supports: rejects non-divisible, misaligned, relative, percentile") {
    val fields = Set("value")
    assert(Rollup.supports(q(Seq(AggSpec("sum", "value"))), Min, fields))
    // interval not a multiple of the rollup's
    assert(!Rollup.supports(q(Seq(AggSpec("sum", "value")), interval = 90L * 1000000000L),
      Min, fields))
    // range not a union of whole rollup windows
    assert(!Rollup.supports(
      q(Seq(AggSpec("sum", "value"))).copy(endNs = Some(3 * Hr)), Min, fields))
    assert(!Rollup.supports(
      q(Seq(AggSpec("sum", "value"))).copy(startNs = 1L), Min, fields))
    // relative/now resolution
    assert(!Rollup.supports(
      q(Seq(AggSpec("sum", "value"))).copy(relativeNs = Some(Hr)), Min, fields))
    assert(!Rollup.supports(q(Seq(AggSpec("sum", "value"))).copy(endNs = None), Min, fields))
    // percentile is not decomposable; unknown field is not covered
    assert(!Rollup.supports(q(Seq(AggSpec("p95", "value"))), Min, fields))
    assert(!Rollup.supports(q(Seq(AggSpec("sum", "other"))), Min, fields))
    // value predicates filter points — partials can't re-filter
    assert(!Rollup.supports(q(Seq(AggSpec("sum", "value")))
      .copy(valueFilters = Seq(ValueFilter("value", ">", 1.0))), Min, fields))
  }

  test("engine routing: registered rollup serves eligible shapes, epoch-invalidated") {
    val dir = java.nio.file.Files.createTempDirectory("graft_rollup_eng").toString
    val eng = new TsdbEngine(spark, s"$dir/db")
    eng.putDF(fixture)
    eng.registerRollup("cpu.usage", Min, Seq("value", "load", "note"))

    val p = q(Seq(AggSpec("sum", "value"), AggSpec("avg", "value"),
      AggSpec("count", "*")))
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq
    val truth = rows(eng.query(p))
    assert(truth.nonEmpty)
    assert(rows(eng.queryServing(p)) == truth)
    assert(eng.serve(PointReq(p)).rows.map(_.toString).toSeq == truth)
    // the routed plan computes over rollup partials, not raw fields
    val plan = eng.queryServing(p).queryExecution.executedPlan.toString
    assert(plan.contains("value__sum") || plan.contains("__cnt_star"),
      s"expected rollup partial columns in plan:\n$plan")

    // ineligible shapes fall back to the view and still answer correctly
    for (pq <- Seq(
        p.copy(aggs = Seq(AggSpec("p50", "value"))),          // percentile
        p.copy(endNs = Some(100L * 1000000000L)),             // misaligned end
        p.copy(downsampleNs = None))) {                       // final agg
      assert(rows(eng.queryServing(pq)) == rows(eng.query(pq)), s"fallback for $pq")
    }

    // a commit to the metric invalidates the rollup: new point visible
    eng.putBatch(Seq(graft.model.DataPoint("cpu.usage", Map("host" -> "h1"),
      100L * Min, Map("value" -> graft.model.FieldValue(d = Some(1234.5))))))
    val updated = rows(eng.queryServing(p))
    assert(updated != truth, "rollup answer must refresh after a commit")
    assert(updated == rows(eng.query(p)))

    // dropRollup restores the merged-view path, same answers
    eng.dropRollup("cpu.usage")
    assert(rows(eng.queryServing(p)) == updated)
  }

  test("tag-grouped downsample from partials is row-identical to the raw operator") {
    def p(host: String, dc: String, tMin: Long, v: Double, seq: Long) =
      TP("req", Map("host" -> host, "dc" -> dc), tMin * Min,
        Map("value" -> FV.dv(v)), seq)
    val rows = (0 until 150 by 7).map(i => p("h1", "east", i, i + 0.5, i)) ++
      (0 until 150 by 11).map(i => p("h2", "east", i, 100.0 - i, 1000 + i)) ++
      (0 until 150 by 13).map(i => p("h3", "west", i, i * 2.0, 2000 + i)) ++
      Seq(p("h1", "east", 7, -6.0, 3001)) // duplicate version: seq 3001 wins
    val pts = rows.toDF()
    val aggs = Seq(AggSpec("count", "*"), AggSpec("sum", "value"),
      AggSpec("avg", "value"), AggSpec("min", "value"), AggSpec("max", "value"),
      AggSpec("first", "value"), AggSpec("last", "value"),
      AggSpec("frac", "value"), AggSpec("stddev", "value"))
    val query = QueryParams("req", startNs = 0L, endNs = Some(3 * Hr - 1),
      aggs = aggs, downsampleNs = Some(Hr))
    val rollup = Rollup.build(QueryEngine.mergedView(pts, Nil), Min, Seq("value"))
    // grouped by dc (series h1+h2 merge per window) and collapse-all
    assertSame(TsAnalytics.aggregateByTags(pts, query, Seq("dc")),
      Rollup.runByTags(rollup, Min, query, Seq("dc")))
    assertSame(TsAnalytics.aggregateByTags(pts, query, Nil),
      Rollup.runByTags(rollup, Min, query, Nil))
    // per-series shapes still rejected on the rollup path
    intercept[IllegalArgumentException] {
      Rollup.runByTags(rollup, Min, query.copy(fill = FillPrevious), Nil)
    }
  }

  test("engine: GROUP BY TAGS routes through a registered rollup") {
    val dir = java.nio.file.Files.createTempDirectory("graft_rollup_gbt").toString
    val eng = new TsdbEngine(spark, s"$dir/db")
    try {
      def dp(host: String, dc: String, tMin: Long, v: Double) =
        graft.model.DataPoint("req", Map("host" -> host, "dc" -> dc), tMin * Min,
          Map("value" -> graft.model.FieldValue(d = Some(v))))
      eng.putBatch((0 until 120 by 10).flatMap(i => Seq(
        dp("h1", "east", i, i + 1.0), dp("h2", "west", i, 2.0 * i))))
      val query = QueryParams("req", startNs = 0L, endNs = Some(2 * Hr - 1),
        aggs = Seq(AggSpec("sum", "value"), AggSpec("count", "*")),
        downsampleNs = Some(Hr))
      def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq
      val truth = rows(eng.queryByTags(query, Seq("dc")))
      assert(truth.nonEmpty)

      eng.registerRollup("req", Min, Seq("value"))
      val routed = eng.queryByTags(query, Seq("dc"))
      assert(rows(routed) == truth, "rollup-routed GROUP BY TAGS must match raw")
      val plan = routed.queryExecution.executedPlan.toString
      assert(plan.contains("value__sum") || plan.contains("__cnt_star"),
        s"expected rollup partial columns in plan:\n$plan")

      // new data invalidates: routed answer refreshes
      eng.putBatch(Seq(dp("h3", "east", 30, 999.0)))
      assert(rows(eng.queryByTags(query, Seq("dc"))) != truth)

      // DRIVER tier: resident partials re-aggregate in pure Scala,
      // row-identical to the Spark rollup path, no scan in the plan
      val sparkPath = rows(eng.queryByTags(query, Seq("dc")))
      val served = eng.serve(ByTagsReq(query, Seq("dc")))
      assert(served.tier == "local-rollup-tags", served.tier)
      assert(served.result.isLeft, "driver tier must answer on the driver")
      assert(served.rows.map(_.toString).toSeq == sparkPath)
      // collapse-all through the same tier
      val allServed = servedBy("local-rollup-tags")(eng.serve(ByTagsReq(query, Nil)))
      assert(allServed.map(_.toString).toSeq == rows(eng.queryByTags(query, Nil)))
      // ineligible shape (misaligned end) falls to Spark
      servedBy("spark")(eng.serve(ByTagsReq(query.copy(endNs = Some(2 * Hr)), Seq("dc"))))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("engine: CORRELATE/RATIO route through rollup partials when both metrics covered") {
    val dir = java.nio.file.Files.createTempDirectory("graft_rollup_corr").toString
    val eng = new TsdbEngine(spark, s"$dir/db")
    try {
      def dp(metric: String, u: String, tMin: Long, v: Double) =
        graft.model.DataPoint(metric, Map("user" -> u), tMin * Min,
          Map("value" -> graft.model.FieldValue(d = Some(v))))
      // u1: b = 2a (r=1); u2: anti-correlated; several points per hour
      // bucket so the decomposed average is a REAL multi-window fold
      eng.putBatch((0 until 360 by 10).flatMap { i =>
        Seq(dp("a", "u1", i, i + 1.0), dp("b", "u1", i + 3, 2 * i + 2.0),
          dp("a", "u2", i, i + 1.0), dp("b", "u2", i + 3, 720.0 - 2 * i))
      })
      val (s0, e0) = (0L, 6 * Hr - 1)
      def corr() = eng.analyzeRouted(
        QueryParams("a", startNs = s0, endNs = Some(e0)),
        AnalyzeCorrelate("value", "b", "user", Hr, 3))
      def ratio() = eng.analyzeRouted(
        QueryParams("a", startNs = s0, endNs = Some(e0)),
        AnalyzeRatio("value", "b", "user", Hr))
      val truthC = analyzeOn("analyze-raw")(corr()).toSeq
      val truthR = analyzeOn("analyze-raw")(ratio()).toSeq
      assert(truthC.nonEmpty && truthR.nonEmpty)

      eng.registerRollup("a", Min, Seq("value"))
      // only ONE side covered → still the point path
      analyzeOn("analyze-raw")(corr())
      eng.registerRollup("b", Min, Seq("value"))

      val (routedC, routeC) = corr()
      assert(routeC == "rollup-correlate", routeC)
      val planC = routedC.queryExecution.executedPlan.toString
      assert(planC.contains("value__sum"),
        s"expected rollup partial columns in plan:\n$planC")
      val gotC = routedC.collect().toSeq
      assert(gotC.size == truthC.size)
      truthC.zip(gotC).foreach { case (t, g) =>
        assert(t.getAs[String]("tag_value") == g.getAs[String]("tag_value"))
        assert(t.getAs[Long]("n_buckets") == g.getAs[Long]("n_buckets"))
        val (r1, r2) = (t.getAs[Double]("r"), g.getAs[Double]("r"))
        assert(math.abs(r1 - r2) <= 1e-9 * math.max(1.0, math.abs(r1)),
          s"r mismatch: $r1 vs $r2") // decomposed avg re-associates the sum
      }

      val routedR = analyzeOn("rollup-ratio")(ratio())
      val gotR = routedR.toSeq
      assert(gotR.size == truthR.size)
      truthR.zip(gotR).foreach { case (t, g) =>
        assert(t.getAs[String]("tag_value") == g.getAs[String]("tag_value") &&
          t.getAs[Long]("bucket") == g.getAs[Long]("bucket") &&
          t.getAs[Long]("n_a") == g.getAs[Long]("n_a") &&
          t.getAs[Long]("n_b") == g.getAs[Long]("n_b"))
        val (r1, r2) = (t.getAs[Double]("ratio"), g.getAs[Double]("ratio"))
        assert(math.abs(r1 - r2) <= 1e-9 * math.max(1.0, math.abs(r1)))
      }

      // misaligned bucket (not a multiple of the rollup grain) → point path
      analyzeOn("analyze-raw")(eng.analyzeRouted(
        QueryParams("a", startNs = s0, endNs = Some(e0)),
        AnalyzeCorrelate("value", "b", "user", Min + 1, 3)))
      // new data on metric B invalidates the routed answer
      val before = analyzeOn("rollup-correlate")(corr()).toSeq
      eng.putBatch(Seq(dp("b", "u1", 30, 1e6)))
      assert(analyzeOn("rollup-correlate")(corr()).toSeq != before)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("incremental maintenance: a one-day commit rebuilds ONLY that date partition") {
    val dir = java.nio.file.Files.createTempDirectory("graft_rollup_inc").toString
    val eng = new TsdbEngine(spark, s"$dir/db")
    val Day = TsdbEngine.DayNs
    def p(day: Int, m: Long, v: Double, seq: Long) =
      TP("disk.io", Map("host" -> "h1"), day * Day + m * Min,
        Map("value" -> FV.dv(v)), seq)
    // three days of data, then a rollup over them
    eng.putDF((for (d <- 0 until 3; m <- 0 until 120 by 7)
      yield p(d, m, d * 100.0 + m, d * 1000 + m)).toDF())
    eng.registerRollup("disk.io", Min, Seq("value"))
    val q3d = QueryParams("disk.io", startNs = 0L, endNs = Some(3 * Day - 1),
      downsampleNs = Some(Hr),
      aggs = Seq(AggSpec("sum", "value"), AggSpec("count", "*")))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).toSeq
    assert(rows(eng.queryServing(q3d)) == rows(eng.query(q3d)))

    // snapshot the materialized file layout per date
    val rollupM = java.nio.file.Paths.get(s"$dir/db/_rollup/metric=disk.io")
    def filesOf(date: String): Set[String] = {
      val dd = rollupM.resolve(s"date=$date")
      if (!java.nio.file.Files.isDirectory(dd)) Set.empty
      else {
        val s = java.nio.file.Files.list(dd)
        try s.iterator().asScala.map(_.getFileName.toString).toSet
        finally s.close()
      }
    }
    val day0 = "1970-01-01"; val day1 = "1970-01-02"; val day2 = "1970-01-03"
    val (f0, f1, f2) = (filesOf(day0), filesOf(day1), filesOf(day2))
    assert(f0.nonEmpty && f1.nonEmpty && f2.nonEmpty, "all three dates materialized")

    // append ONE point on day 2 → only date=day2 is rewritten (each build
    // stamps its files uniquely, so unchanged names == untouched files)
    eng.putBatch(Seq(graft.model.DataPoint("disk.io", Map("host" -> "h1"),
      2 * Day + 30 * Min,
      Map("value" -> graft.model.FieldValue(d = Some(9999.0))))))
    assert(rows(eng.queryServing(q3d)) == rows(eng.query(q3d)),
      "routed result must stay identical to the raw path after the append")
    assert(filesOf(day0) == f0, "day-0 rollup partition must be untouched")
    assert(filesOf(day1) == f1, "day-1 rollup partition must be untouched")
    assert(filesOf(day2) != f2, "day-2 rollup partition must be rebuilt")

    // a point delete on day 1 → only date=day1 is rewritten
    val (g0, g2) = (filesOf(day0), filesOf(day2))
    val h1 = filesOf(day1)
    eng.deletePoint("disk.io", Map("host" -> "h1"), 1 * Day + 0 * Min)
    assert(rows(eng.queryServing(q3d)) == rows(eng.query(q3d)),
      "routed result must reflect the tombstone")
    assert(filesOf(day0) == g0 && filesOf(day2) == g2,
      "untouched days must survive a tombstone commit")
    assert(filesOf(day1) != h1, "tombstoned day must be rebuilt")
  }

  test("re-registering a different spec rebuilds instead of serving stale partials") {
    val dir = java.nio.file.Files.createTempDirectory("graft_rollup_respec").toString
    val eng = new TsdbEngine(spark, s"$dir/db")
    eng.putDF(fixture)
    // 5-minute rollup first, materialized by a routed query
    eng.registerRollup("cpu.usage", 5 * Min, Seq("value"))
    val hourly = q(Seq(AggSpec("sum", "value"), AggSpec("count", "*")))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).toSeq
    val truth = rows(eng.query(hourly))
    assert(rows(eng.queryServing(hourly)) == truth)
    // re-register at 1m WITHOUT any intervening commit; a 1m downsample
    // is only answerable from the NEW rollup — stale 5m partials would
    // mis-bucket every window
    eng.registerRollup("cpu.usage", Min, Seq("value"))
    val perMin = q(Seq(AggSpec("sum", "value"), AggSpec("count", "*")), interval = Min)
    assert(rows(eng.queryServing(perMin)) == rows(eng.query(perMin)),
      "re-registered rollup must rebuild, not serve the old interval's partials")
    // and the old hourly shape still answers correctly from the new rollup
    assert(rows(eng.queryServing(hourly)) == truth)
  }

  test("digest rollup: percentiles route, merged sketch == raw t-digest, near exact") {
    import graft.functions.TDigestFunctions.tdigest_percentile
    // <= 14 distinct values per the whole range: every t-digest centroid
    // stays a singleton, so merged-sketch quantiles equal the raw-sketch
    // quantiles EXACTLY (the documented small-window exactness case)
    def p(tMin: Long, v: Double, seq: Long) =
      TP("lat.ms", Map("host" -> "h1"), tMin * Min, Map("value" -> FV.dv(v)), seq)
    val pts = Seq(3.0, 7.0, 1.0, 9.0, 4.0, 8.0, 2.0, 6.0, 5.0, 11.0, 10.0, 12.5)
      .zipWithIndex.map { case (v, i) => p(i * 9L, v, i) }.toDF()
    val merged = QueryEngine.mergedView(pts, Nil)
    val rollup = Rollup.build(merged, Min, Seq("value"), withDigests = true)
    assert(Rollup.hasDigests(rollup))
    assert(!Rollup.hasDigests(Rollup.build(merged, Min, Seq("value"))))

    val query = QueryParams("lat.ms", startNs = 0L, endNs = Some(2 * Hr - 1),
      downsampleNs = Some(Hr),
      aggs = Seq(AggSpec("p50", "value"), AggSpec("p95", "value")))
    assert(Rollup.supports(query, Min, Set("value"), digests = true))
    assert(!Rollup.supports(query, Min, Set("value")),
      "without digests, percentiles must fall back to the raw path")

    val routed = Rollup.run(rollup, Min, query)
      .select("series_key", "window_start", "p50_value", "p95_value")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2))
    val raw = merged
      .withColumn("window_start",
        col("timestamp") - pmod(col("timestamp"), lit(Hr)))
      .groupBy("series_key", "window_start")
      .agg(tdigest_percentile(
          col("fields").getItem("value").getField("d"), 0.50).as("p50"),
        tdigest_percentile(
          col("fields").getItem("value").getField("d"), 0.95).as("p95"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2))
    assert(routed.length == raw.length && routed.length == 2)
    routed.zip(raw).foreach { case (a, b) =>
      assert(a == b, s"merged-digest quantile must equal raw-digest: $a vs $b")
    }
    // and both sit close to the EXACT percentile (approximation contract)
    val exact = QueryEngine.run(pts, query)
      .select("series_key", "window_start", "p50_value", "p95_value")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2))
    routed.zip(exact).foreach { case (a, e) =>
      assert(math.abs(a._3 - e._3) <= 2.0 && math.abs(a._4 - e._4) <= 2.0,
        s"digest percentile too far from exact: $a vs $e")
    }
  }

  test("engine routes digest-rollup percentiles end to end") {
    val dir = java.nio.file.Files.createTempDirectory("graft_rollup_dig").toString
    val eng = new TsdbEngine(spark, s"$dir/db")
    eng.putDF(fixture)
    eng.registerRollup("cpu.usage", Min, Seq("value"), withDigests = true)
    val pq = q(Seq(AggSpec("p50", "value"), AggSpec("count", "*")))
    // routed: the plan reads digest partials, not raw fields
    val plan = eng.queryServing(pq).queryExecution.executedPlan.toString
    assert(plan.contains("__tdigest"), s"expected digest column in plan:\n$plan")
    // raw-path comparison: count exact; p50 within digest error of exact
    val routed = eng.queryServing(pq)
      .select("series_key", "window_start", "p50_value", "count_star")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2))
    val raw = eng.query(pq)
      .select("series_key", "window_start", "p50_value", "count_star")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2))
    assert(routed.length == raw.length && routed.nonEmpty)
    routed.zip(raw).foreach { case (a, b) =>
      assert(a._1 == b._1 && a._2 == b._2 && a._4 == b._4)
      val span = math.max(1.0, math.abs(b._3) * 0.25)
      assert((a._3.isNaN && b._3.isNaN) || math.abs(a._3 - b._3) <= span,
        s"routed p50 ${a._3} too far from exact ${b._3}")
    }
  }

  test("rollup plan reads only rollup rows, with one exchange to the target window") {
    val pts = fixture
    val merged = QueryEngine.mergedView(pts, Nil)
    val rollup = Rollup.build(merged, Min, Seq("value"))
    // materialize the rollup the way a real deployment would (parquet),
    // so the query plan's only source is the rollup table
    val dir = java.nio.file.Files.createTempDirectory("graft_rollup").toString
    rollup.write.mode("overwrite").parquet(dir)
    val stored = spark.read.parquet(dir)
    val query = q(Seq(AggSpec("avg", "value"), AggSpec("count", "*")))
    val out = Rollup.run(stored, Min, query)
    assertSame(QueryEngine.run(pts, query), out)
    val plan = out.queryExecution.executedPlan.toString
    // raw fixture has a `fields` map column; the rollup scan must not
    assert(!plan.contains("fields#"), "rollup path must not read raw points")
    val rowsRead = stored.filter(col("metric") === "cpu.usage").count()
    val rawRows = pts.count()
    assert(rowsRead < rawRows, s"rollup should compress: $rowsRead vs $rawRows")
  }

  test("property: seeded suffix folds are bit-identical to the full fold" +
      " across random splits") {
    val Day = TsdbEngine.DayNs
    val rnd = new scala.util.Random(7)
    (0 until 6).foreach { it =>
      val alpha = 0.05 + rnd.nextDouble() * 0.9
      val beta = 0.05 + rnd.nextDouble() * 0.9
      val smooth = Seq(SmoothSpec("value", "ewma", alpha),
        SmoothSpec("value", "holt", alpha, beta))
      val nSeries = 1 + rnd.nextInt(3)
      val n = 20 + rnd.nextInt(40)
      val pts = (0 until n).flatMap { i =>
        (0 until nSeries).map { sIdx =>
          val ts = rnd.nextLong() % (3 * Day)
          val v = if (rnd.nextInt(12) == 0) Double.NaN
            else rnd.nextDouble() * 1000 - 500
          TP("m", Map("h" -> s"h$sIdx"), math.abs(ts),
            Map("value" -> FV.dv(v)), (i * nSeries + sIdx).toLong)
        }
      }
      val merged = QueryEngine.mergedView(pts.toDF(), Nil)
      val interval = Seq(Min, 5 * Min, Hr)(rnd.nextInt(3))
      val full = Rollup.build(merged, interval, Seq("value"), smooth = smooth)
        .withColumn("date", TsdbEngine.dateOfTs(col("window_start")))
      val boundary = TsdbEngine.dayStr(rnd.nextInt(3).toLong * Day)
      val prefix = full.filter(col("date") < boundary)
      // seeds exactly as the engine derives them: per series, the stored
      // state at the field's LAST pre-boundary numeric sample
      val seedAggs = smooth.map { sp =>
        max_by(col(Rollup.smoothStateCol(sp)), col("value__last_ord"))
          .as(Rollup.smoothSeedCol(sp))
      }
      val seeds = prefix.groupBy(col("series_key"))
        .agg(seedAggs.head, seedAggs.tail: _*)
      val suffixPts = merged.filter(
        TsdbEngine.dateOfTs(col("timestamp")) >= boundary)
      val rebuilt = Rollup.build(suffixPts, interval, Seq("value"),
        smooth = smooth, seeds = Some(seeds))
      val stateCols = smooth.map(Rollup.smoothStateCol)
      def rows(df: DataFrame): Seq[String] = df
        .select((Seq(col("series_key"), col("window_start")) ++
          stateCols.map(col)): _*)
        .orderBy("series_key", "window_start").collect().map(_.toString).toSeq
      val fullSuffix = rows(full.filter(col("date") >= boundary))
      assert(rows(rebuilt) == fullSuffix,
        s"iteration $it (alpha=$alpha beta=$beta interval=$interval " +
          s"boundary=$boundary): resumed folds must be bit-identical")
    }
  }

  test("rollup + smoothing survive enforceRetention's partition drop " +
      "bit-identically to raw") {
    // A retention drop is a PREFIX EDIT: the dropped days fall before
    // every surviving one, so the smoothing states (prefix folds from
    // each series' first sample) must re-fold from the NEW first sample
    // — the suffix-incremental maintenance path with an empty prefix.
    // Raw oracle = a second engine on the same root with NO rollup
    // registered, so the routed result is compared against the raw
    // plan over exactly the post-drop data.
    val dir = java.nio.file.Files.createTempDirectory("graft_rollup_ret").toString
    val eng = new TsdbEngine(spark, dir)
    val Day = 24 * Hr
    val points = for (d <- 1 to 9; i <- 0 until 6; h <- Seq("h0", "h1"))
      yield graft.model.DataPoint("ret.m", Map("host" -> h),
        d * Day + i * 4 * Hr + (i % 3) * Min,
        Map("value" -> graft.model.FieldValue.ofDouble(
          math.sin(d * 6 + i) * 10 + d)))
    assert(eng.putBatch(points).isRight)
    assert(eng.compact().isRight) // land the hive date partitions
    eng.registerRollup("ret.m", Hr, Seq("value"),
      smooth = Seq(SmoothSpec("value", "ewma", 0.25)))
    val q = QueryParams("ret.m", startNs = 0L, endNs = Some(11 * Day - 1),
      downsampleNs = Some(Day),
      aggs = Seq(AggSpec("sum", "value"), AggSpec("count", "*"),
        AggSpec("min", "value"), AggSpec("max", "value")))
    val ewmaBy = AnalyzeEwmaBy("value", 0.25, 12 * Hr)
    analyzeOn("rollup-ewma")(eng.analyzeRouted(q.copy(downsampleNs = None, aggs = Nil), ewmaBy))
    // drop days 1-5 as metadata (cutoff = day 6.5)
    eng.retentionPeriodNs = Some(Math.round(3.5 * Day))
    assert(eng.enforceRetention(nowNs = Some(10 * Day)) == Right(5))
    val raw = new TsdbEngine(spark, dir) // no rollup registered → raw plans
    def canon(rs: Array[org.apache.spark.sql.Row]) = rs.map(_.toSeq).toSeq
    val routedDs = eng.queryServing(q).collect()
    val rawDs = raw.query(q).collect()
    assert(canon(routedDs) == canon(rawDs) && rawDs.nonEmpty,
      "routed downsample must equal raw after the partition drop")
    // the smoothing route must still serve
    val routedE = analyzeOn("rollup-ewma")(
      eng.analyzeRouted(q.copy(downsampleNs = None, aggs = Nil), ewmaBy))
    val rawE = analyzeOn("analyze-raw")(
      raw.analyzeRouted(q.copy(downsampleNs = None, aggs = Nil), ewmaBy))
    assert(canon(routedE) == canon(rawE) && rawE.nonEmpty,
      "stored EWMA folds must restart from the post-drop first sample")
  }

  test("buildRaw == build(mergedView): dedup, tombstones, smoothing (r17)") {
    // buildRaw fuses the latest-version dedup + tombstone elision into
    // the build's own (single) exchange; its output must be ROW-identical
    // to the two-exchange build-over-mergedView it replaces — including
    // the duplicate-version pair (seq 3001 wins), a shadowing tombstone,
    // and the bit-exact smoothing fold states.
    val pts = fixture
    val tombs = Seq[Tombstone](
      PointTombstone("cpu.usage", Map("host" -> "h1"), 14 * Min, 5000L),
      RangeTombstone("cpu.usage", Map("host" -> "h2"), 60 * Min, 80 * Min, 5000L))
    val smooth = Seq(SmoothSpec("value", "ewma", 0.25),
      SmoothSpec("value", "holt", 0.5, 0.25))
    def canon(df: DataFrame): Seq[String] = {
      val cols = df.columns.sorted.toSeq
      df.select(cols.map(col): _*).drop("tags")
        .collect().map(_.toString).toSeq.sorted
    }
    val viaMerged = Rollup.build(
      QueryEngine.mergedView(pts, tombs), Min, Seq("value", "load"),
      smooth = smooth)
    val viaRaw = Rollup.buildRaw(pts, Min, Seq("value", "load"),
      smooth = smooth, tombstones = tombs)
    assert(viaMerged.columns.toSeq == viaRaw.columns.toSeq)
    val (a, b) = (canon(viaMerged), canon(viaRaw))
    assert(a.nonEmpty && a == b)
    // and the un-smoothed (time-salted clustering) variant
    val (c, d) = (canon(Rollup.build(QueryEngine.mergedView(pts, tombs),
      Min, Seq("value"))),
      canon(Rollup.buildRaw(pts, Min, Seq("value"), tombstones = tombs)))
    assert(c.nonEmpty && c == d)
  }
}
