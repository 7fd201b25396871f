package graft.nbql

import graft.model.DataPoint
import graft.tsdb._
import org.apache.spark.sql.{DataFrame, Row}

/** NBQL executor: parse → AST → engine calls, mirroring
  * `api/nbql/executor.go:131-172` (QUERY), `:174-205` (REMOVE),
  * `:207-258` (SHOW/FLUSH), `:53-81` (SNAPSHOT/RESTORE).
  *
  * Result rows stream back as a DataFrame; the reference's framed
  * row-at-a-time TCP/gRPC transport (S9) is a serving-layer concern on
  * top of `toLocalIterator`. `LIMIT` is enforced here (the reference
  * engine never truncates and only uses it for cursor bookkeeping —
  * SURVEY §2.5 W2 treats that as a bug and enforces).
  *
  * Pagination: like the reference (`api/nbql/executor.go:349-351`), a
  * LIMITed query's response carries NextCursor — the (timestamp, series
  * key) of the last delivered row, base64-framed — whenever the page was
  * full; feed it back via `AFTER` for the next page. [[Rows.page]] is
  * the serving-layer collect that computes it. */
class NbqlExecutor(val engine: TsdbEngine, snapshotDir: String => String = identity) {

  /** Injectable clock for RELATIVE queries (determinism in tests). */
  @volatile var nowNs: Option[Long] = None

  sealed trait ExecResult
  /** A result-set statement. `df` is the full lazy frame (the engine
    * seam); `page()` collects AT MOST the engine's [[TsdbEngine.servingRowBudget]]
    * rows and returns them plus the cursor to resume AFTER, when one
    * exists — the buffered path must never materialize an unbounded
    * result on the driver (the serving tiers already enforce the same
    * budget; this closes the buffered-transport hole past it). A
    * streaming caller (S9) instead iterates `df` row-at-a-time and calls
    * [[nextCursor]] with the count delivered and the last row — no
    * driver materialization.
    *
    * The cursor closure's third argument is `forced`: true when the page
    * was cut by the BUDGET rather than a requested LIMIT, in which case
    * cursor-capable shapes (raw scans, downsamples) emit a resume cursor
    * even without a LIMIT; shapes with no cursor keyset (final
    * aggregates, ANALYZE, GROUP BY TAGS, SHOW) return the truncated flag
    * instead, telling the client to re-issue with `stream=1`. */
  final case class Rows(
      private val source: TsdbEngine.Served,
      private val cursorOf: (Long, Option[Row], Boolean) => Option[String])
      extends ExecResult {
    /** The serving tier that answered ([[TsdbEngine.serve]]); `spark`
      * for the statements that build a plan directly (SHOW, EXPLAIN). */
    def tier: String = source.tier
    /** The result as a lazy DataFrame. When the serving tiers answered
      * on the driver this builds a LocalRelation ON DEMAND — the
      * protocol servers never ask for it (they stream [[rowIterator]]),
      * so the per-query plan-construction + job cost (~22 ms measured,
      * vs ~50 µs for the tier serve itself — SCALE.md r13) is paid only
      * by callers that genuinely want a frame. */
    lazy val df: DataFrame = source.result match {
      case Left((rows, sch)) =>
        engine.spark.createDataFrame(java.util.Arrays.asList(rows: _*), sch)
      case Right(d) => d
    }
    def schema: org.apache.spark.sql.types.StructType = source.schema
    /** Stream the result rows: driver-resident array when the tiers
      * answered (no job), `toLocalIterator` over the plan otherwise
      * (partitions stream as they finish, driver memory O(1 row)). */
    def rowIterator(): Iterator[Row] = source.result match {
      case Left((rows, _)) => rows.iterator
      case Right(d) =>
        val it = d.toLocalIterator()
        new Iterator[Row] {
          def hasNext: Boolean = it.hasNext
          def next(): Row = it.next()
        }
    }
    def page(): (Array[Row], Option[String]) = {
      val (rows, next, _) = pageBudgeted(engine.servingRowBudget)
      (rows, next)
    }
    /** Budget-capped collect: (rows, nextCursor, truncatedByBudget). */
    def pageBudgeted(budget: Long): (Array[Row], Option[String], Boolean) = {
      val cap = math.min(math.max(budget, 1L), Int.MaxValue - 1L).toInt
      val rows = source.result match {
        case Left((rs, _)) => rs.take(cap + 1)
        case Right(d) => d.limit(cap + 1).collect()
      }
      if (rows.length <= cap)
        (rows, cursorOf(rows.length.toLong, rows.lastOption, false), false)
      else {
        val pageRows = rows.take(cap)
        (pageRows, cursorOf(pageRows.length.toLong, pageRows.lastOption, true),
          true)
      }
    }
    def nextCursor(delivered: Long, last: Option[Row]): Option[String] =
      cursorOf(delivered, last, false)
  }
  /** DataFrame-sourced [[Rows]] (the SHOW/EXPLAIN/snapshot shapes). */
  private def dfRows(df: DataFrame,
      cursorOf: (Long, Option[Row], Boolean) => Option[String]): Rows =
    Rows(TsdbEngine.Served(Right(df), "spark"), cursorOf)
  final case class Ack(message: String) extends ExecResult

  private val noCursor: (Long, Option[Row], Boolean) => Option[String] =
    (_, _, _) => None

  def execute(nbql: String): Either[String, ExecResult] =
    NbqlParser.parse(nbql).flatMap(run)

  /** Execute a `;`-separated script, stopping at the first failure (the
    * reference's PutBatch stop-on-first-error shape, `engine2/adapter.go:635`). */
  def executeScript(nbql: String): Either[String, Seq[ExecResult]] =
    NbqlParser.parseScript(nbql).flatMap { stmts =>
      val out = Vector.newBuilder[ExecResult]
      for (st <- stmts) run(st) match {
        case Right(r) => out += r
        case Left(e) => return Left(e)
      }
      Right(out.result())
    }

  private def toPoint(p: PushStatement): DataPoint = {
    val ts = p.atNs.getOrElse(nowNs.getOrElse(System.currentTimeMillis() * 1000000L))
    DataPoint(p.metric, p.tags, ts, p.fields)
  }

  def run(st: Statement): Either[String, ExecResult] = st match {
    case p: PushStatement =>
      engine.putBatch(Seq(toPoint(p))).map(n => Ack(s"OK $n"))

    /** The batch fast path: N items → ONE storage commit (the binary
      * PUSHS frame's semantics, `server/tcp_connection_handler.go:134`). */
    case PushsStatement(items) =>
      engine.putBatch(items.map(toPoint)).map(n => Ack(s"OK $n"))

    case q: QueryStatement =>
      prepareQuery(q).map { params =>
        // the one serving entry: result cache + driver-resident tiers
        // front the protocol path (the reference's NBQL-layer cache
        // position); over-budget results stream the full plan
        val served = engine.serve(requestOf(q, params))
        Rows(served, cursorOf(served, params))
      }

    /** `EXPLAIN QUERY …` (extension): the physical plan Spark would run
      * for the RAW query — the engine plan BEFORE the serving tiers
      * (cache/driver-resident paths are execution shortcuts, not plans).
      * One `plan` column, one row per line of `explain("formatted")`. */
    case ExplainStatement(q) =>
      prepareQuery(q).map { params =>
        val df = requestOf(q, params) match {
          case AnalyzeReq(p, spec, splitNs) => engine.analyze(p, spec, splitNs)
          case ByTagsReq(p, keys) => engine.queryByTags(p, keys)
          case PointReq(p) => engine.query(p)
        }
        val lines = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          .linesIterator.toSeq
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("plan",
            org.apache.spark.sql.types.StringType)))
        dfRows(engine.spark.createDataFrame(
          java.util.Arrays.asList(lines.map(Row(_)): _*), schema), noCursor)
      }

    case other => runRest(other)
  }

  /** The [[TsdbEngine.serve]] request for a validated QUERY statement.
    * Tag-grouped queries bypass the per-series tiers; TOPK carries its
    * grouping keys in the spec (validated upstream). */
  private def requestOf(q: QueryStatement, params: QueryParams): ServeReq =
    (q.analyze, q.groupByTags) match {
      case (Some(t: AnalyzeTopK), keys) =>
        AnalyzeReq(params, t.copy(tagKeys = keys.getOrElse(Nil)), q.analyzeSplitNs)
      case (Some(spec), _) => AnalyzeReq(params, spec, q.analyzeSplitNs)
      case (None, Some(keys)) => ByTagsReq(params, keys)
      case (None, None) => PointReq(params)
    }

  /** Keyset cursor: raw rows order by (timestamp, series_key),
    * downsamples by (window_start, series_key) and the per-series
    * analytics by (series_key[, window_start | timestamp]) (round 13), so
    * a LIMIT-full page — or one cut by the serving budget (`forced`),
    * which warrants a resume cursor even without a LIMIT — resumes AFTER
    * the last row's key (`executor.go:349-351` emits the cursor alongside
    * the rows; [[TsdbEngine.analyze]]'s AFTER filter is the analytics'
    * other half). Field access is POSITIONAL: the driver-resident tiers
    * hand back schema-less `GenericRow`s, where name lookup throws.
    * Whole-range aggregates and the group-keyed shapes (GROUP BY TAGS,
    * TOPK/CORRELATE/RATIO: no series_key column) keep the no-cursor
    * contract. */
  private def cursorOf(served: TsdbEngine.Served,
      params: QueryParams): (Long, Option[Row], Boolean) => Option[String] = {
    val names = served.schema.fieldNames
    val iSk = names.indexOf("series_key")
    val iSec = Seq("window_start", "timestamp")
      .map(names.indexOf(_)).find(_ >= 0)
    if (iSk < 0 || params.isFinalAgg) noCursor
    else (delivered, lastRow, forced) =>
      lastRow.filter(_ => forced || params.limit.contains(delivered)).map {
        last => Cursor(iSec.fold(0L)(last.getLong), last.getString(iSk)).encode
      }
  }

  /** Shared validation + params construction for QUERY-shaped statements
    * (QUERY itself and EXPLAIN QUERY). Mirrors the reference executor's
    * up-front statement validation (`api/nbql/executor.go:131-172`). */
  private def prepareQuery(q: QueryStatement): Either[String, QueryParams] = {
      val unknown = q.aggs.find(s =>
        !AggFunctions.named.contains(s.func) && s.percentile.isEmpty)
      if (unknown.isDefined)
        return Left(s"unknown aggregation function: ${unknown.get.func}")
      if (q.byIntervalNs.exists(_ <= 0))
        return Left("downsample interval must be positive")
      if (q.byIntervalNs.isDefined && q.aggs.isEmpty)
        return Left("AGGREGATE BY requires at least one aggregation function")
      if (q.fill != FillNone && q.byIntervalNs.isEmpty)
        return Left("FILL requires a downsample (AGGREGATE BY <interval>)")
      if (q.groupByTags.isDefined) {
        if (q.aggs.isEmpty)
          return Left("GROUP BY TAGS requires AGGREGATE functions")
        if (q.fill != FillNone || q.emitEmptyWindows)
          return Left("FILL/EMIT EMPTY WINDOWS are per-series shapes — not valid with GROUP BY TAGS")
        if (q.after.isDefined)
          return Left("AFTER cursors don't apply to GROUP BY TAGS results")
      }
      if (q.analyze.isDefined) {
        // the analytics define their own output shape: point-shaping
        // clauses don't compose (TAGGED/range/FILTER/LIMIT do) — except
        // TOPK, which by definition RANKS the AGGREGATE outputs grouped
        // by the GROUP BY TAGS keys
        val isTopK = q.analyze.get.isInstanceOf[graft.tsdb.AnalyzeTopK]
        if (!isTopK && (q.aggs.nonEmpty || q.byIntervalNs.isDefined))
          return Left("ANALYZE and AGGREGATE don't compose — pick one (TOPK is the exception)")
        if (!isTopK && q.groupByTags.isDefined)
          return Left("ANALYZE and GROUP BY TAGS don't compose (TOPK is the exception)")
        if (q.fill != FillNone || q.emitEmptyWindows)
          return Left("FILL/EMIT EMPTY WINDOWS don't apply to ANALYZE results")
        // AFTER composes with the per-series analytics (round 13): their
        // (series_key[, window]) ordering is a keyset, so over-budget
        // results page like plain queries ([[analyticCursorOf]]). The
        // group-keyed shapes have no series keyset — reject eagerly.
        val groupKeyed = q.analyze.get match {
          case _: graft.tsdb.AnalyzeTopK | _: graft.tsdb.AnalyzeCorrelate |
               _: graft.tsdb.AnalyzeRatio => true
          case _ => false
        }
        if (q.after.isDefined && groupKeyed)
          return Left("AFTER cursors don't apply to group-keyed ANALYZE results")
        if (q.order == Descending)
          return Left("ANALYZE results are ordered (series, time) ascending — DESC is not supported")
        q.analyze.get match {
          case graft.tsdb.AnalyzeEwma(_, a) if a <= 0.0 || a > 1.0 =>
            return Left("EWMA alpha must be in (0, 1]")
          case graft.tsdb.AnalyzeEwmaBy(_, a, w) if a <= 0.0 || a > 1.0 || w <= 0 =>
            return Left("EWMA alpha must be in (0, 1] and BY window positive")
          case graft.tsdb.AnalyzeHolt(_, a, b)
              if a <= 0.0 || a > 1.0 || b <= 0.0 || b > 1.0 =>
            return Left("HOLT alpha and beta must be in (0, 1]")
          case graft.tsdb.AnalyzeHoltBy(_, a, b, w)
              if a <= 0.0 || a > 1.0 || b <= 0.0 || b > 1.0 || w <= 0 =>
            return Left("HOLT alpha/beta must be in (0, 1] and BY window positive")
          case graft.tsdb.AnalyzeTwa(_, iv) if iv <= 0 =>
            return Left("TWA interval must be positive")
          case graft.tsdb.AnalyzeZScore(_, lb, _) if lb < 2 =>
            return Left("ZSCORE lookback must be at least 2")
          case graft.tsdb.AnalyzePredict(_, h) if h <= 0 =>
            return Left("PREDICT horizon must be positive")
          case graft.tsdb.AnalyzeDeltaBy(_, w) if w <= 0 =>
            return Left("DELTA BY window must be positive")
          case graft.tsdb.AnalyzeResetsBy(_, w) if w <= 0 =>
            return Left("RESETS BY window must be positive")
          case graft.tsdb.AnalyzeRateBy(_, w) if w <= 0 =>
            return Left("RATE BY window must be positive")
          case graft.tsdb.AnalyzeChangesBy(_, w) if w <= 0 =>
            return Left("CHANGES BY window must be positive")
          case graft.tsdb.AnalyzeCorrelate(_, b, _, _, mb) =>
            if (b == q.metric)
              return Left("CORRELATE needs two distinct metrics")
            if (mb < 2)
              return Left("CORRELATE minBuckets must be at least 2")
            if (graft.tsdb.TagMatch.isPrefix(q.metric) ||
                graft.tsdb.TagMatch.isPrefix(b))
              return Left("CORRELATE/RATIO need exact metric names, not prefixes")
            if (q.tags.nonEmpty || q.valueFilters.nonEmpty)
              return Left("CORRELATE aligns per tag key — TAGGED/FILTER don't compose")
          case graft.tsdb.AnalyzeRatio(_, b, _, _) =>
            if (b == q.metric)
              return Left("RATIO needs two distinct metrics")
            if (graft.tsdb.TagMatch.isPrefix(q.metric) ||
                graft.tsdb.TagMatch.isPrefix(b))
              return Left("CORRELATE/RATIO need exact metric names, not prefixes")
            if (q.tags.nonEmpty || q.valueFilters.nonEmpty)
              return Left("RATIO aligns per tag key — TAGGED/FILTER don't compose")
          case t: graft.tsdb.AnalyzeTopK =>
            if (t.k <= 0) return Left("TOPK k must be positive")
            if (q.aggs.isEmpty)
              return Left("TOPK ranks AGGREGATE outputs — add AGGREGATE (…)")
            if (q.byIntervalNs.isDefined)
              return Left("TOPK ranks the whole-range aggregation — drop AGGREGATE BY")
            if (q.groupByTags.isEmpty)
              return Left("TOPK needs GROUP BY TAGS (key, …) grouping keys")
            if (!q.aggs.exists(_.outputName == t.by))
              return Left(s"TOPK ranking column '${t.by}' must be one of the AGGREGATE outputs")
          case _ => ()
        }
      }
      if (q.analyzeSplitNs.isDefined) {
        if (q.analyze.isEmpty)
          return Left("SPLIT applies to ANALYZE queries only")
        if (q.analyzeSplitNs.exists(d =>
            d <= 0 && d != graft.tsdb.TsAnalytics.SplitAuto))
          return Left("SPLIT duration must be positive (or AUTO)")
        q.analyze.get match {
          case _: graft.tsdb.AnalyzeRate | _: graft.tsdb.AnalyzeEwma |
               _: graft.tsdb.AnalyzeEwmaBy | _: graft.tsdb.AnalyzeHoltBy |
               _: graft.tsdb.AnalyzeHolt | _: graft.tsdb.AnalyzeTwa |
               _: graft.tsdb.AnalyzeZScore | _: graft.tsdb.AnalyzeCumsum |
               _: graft.tsdb.AnalyzeDelta | _: graft.tsdb.AnalyzeDeltaBy |
               _: graft.tsdb.AnalyzeRateBy |
               _: graft.tsdb.AnalyzeIrate | _: graft.tsdb.AnalyzeResets |
               _: graft.tsdb.AnalyzeChanges | _: graft.tsdb.AnalyzeResetsBy |
               _: graft.tsdb.AnalyzeChangesBy | _: graft.tsdb.AnalyzeDeriv |
               _: graft.tsdb.AnalyzePredict => ()
          case _ =>
            return Left("SPLIT applies to the per-series analytics (RATE/DELTA/IRATE/RESETS/CHANGES/DERIV/PREDICT/EWMA/HOLT/TWA/ZSCORE/CUMSUM)")
        }
      }
      Right(QueryParams(
        metric = q.metric,
        tags = q.tags,
        startNs = q.fromNs.getOrElse(0L),
        endNs = q.toNs,
        relativeNs = q.relativeNs,
        aggs = q.aggs,
        downsampleNs = q.byIntervalNs,
        emitEmptyWindows = q.emitEmptyWindows,
        fill = q.fill,
        order = q.order,
        limit = q.limit,
        afterKey = q.after.map(Cursor.decode),
        nowNs = nowNs,
        valueFilters = q.valueFilters))
  }

  /** Second half of `run` — statements after QUERY/EXPLAIN. */
  private def runRest(st: Statement): Either[String, ExecResult] = st match {
    case RemoveSeriesStatement(m, tg) =>
      engine.deleteSeries(m, tg).map(_ => Ack("OK"))
    case RemovePointStatement(m, tg, ts) =>
      engine.deletePoint(m, tg, ts).map(_ => Ack("OK"))
    case RemoveRangeStatement(m, tg, a, b) =>
      engine.deleteRange(m, tg, a, b).map(_ => Ack("OK"))

    case ShowMetricsStatement => Right(dfRows(engine.showMetrics(), noCursor))
    case ShowTagKeysStatement(m) => Right(dfRows(engine.showTagKeys(m), noCursor))
    case ShowTagValuesStatement(m, k) => Right(dfRows(engine.showTagValues(m, k), noCursor))
    case ShowCardinalityStatement(m, by, estimate) =>
      if (by.exists(_ <= 0)) Left("cardinality window must be positive")
      else if (estimate) Right(dfRows(engine.showCardinalityEstimate(m, by), noCursor))
      else Right(dfRows(engine.showCardinality(m, by), noCursor))

    case CreateCardinalitySummaryStatement(base, lgK) =>
      if (base <= 0) Left("summary base window must be positive")
      else if (lgK.exists(k => k < 4 || k > 21)) Left("LGK must be in [4, 21]")
      else {
        engine.registerCardinalitySummary(base, lgK.getOrElse(12))
        Right(Ack("OK"))
      }
    case DropCardinalitySummaryStatement =>
      engine.dropCardinalitySummary(); Right(Ack("OK"))

    case CreateRollupStatement(m, i, fs, dig, sm) =>
      if (i <= 0) Left("rollup interval must be positive")
      else if (fs.isEmpty) Left("rollup needs at least one field")
      else if (sm.exists(s => !fs.contains(s.field)))
        Left("SMOOTH fields must be among the rollup's fields")
      else if (sm.exists(s => s.alpha <= 0.0 || s.alpha > 1.0 ||
          (s.kind == "holt" && (s.beta <= 0.0 || s.beta > 1.0))))
        Left("SMOOTH alpha/beta must be in (0, 1]")
      else if (sm.distinct.size != sm.size)
        Left("duplicate SMOOTH spec")
      else { engine.registerRollup(m, i, fs, dig, sm); Right(Ack("OK")) }
    case DropRollupStatement(m) =>
      engine.dropRollup(m); Right(Ack("OK"))
    case ShowRollupsStatement =>
      import engine.spark.implicits._
      val df = engine.rollups
        .map { case (m, i, fs, dig, sm) => (m, i, fs.mkString(","), dig,
          sm.map(s => s"${s.kind}(${s.field},${s.alpha}" +
            (if (s.kind == "holt") s",${s.beta}" else "") + ")")
            .mkString(",")) }
        .toDF("metric", "interval_ns", "fields", "digests", "smooth")
      Right(dfRows(df, noCursor))

    case FlushStatement(_) =>
      // memtable/disk flush is meaningless on parquet storage; compaction
      // is the nearest admin analog (cf. FLUSH triggering compaction)
      engine.compact().map(_ => Ack("OK"))

    case SnapshotStatement =>
      val dest = snapshotDir(s"${engine.rootDir}_snapshot_${engine.nextSeq()}")
      engine.snapshot(dest).map(_ => Ack(dest))

    case RestoreStatement(path, overwrite) =>
      engine.restore(path, overwrite).map(_ => Ack("OK"))
  }
}
