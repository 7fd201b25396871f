package graft.tsdb

/** One aggregation request: `func(field) [AS alias]`.
  * Mirrors `core/aggregation.go` — result column name is `alias` when
  * given, else `"{func}_{field}"` (`core/aggregation.go:12-17`).
  * Percentiles arrive as func `p<N>` (e.g. `p95`, `p99.9`),
  * `iterator/agg_helpers.go:8-16`. */
final case class AggSpec(func: String, field: String, alias: Option[String] = None) {
  def outputName: String = alias.getOrElse {
    val f = if (field == "*") "star" else field
    s"${func}_$f"
  }
  /** Percentile in [0,100] when func is a `p<N>` spec. */
  def percentile: Option[Double] =
    if (func.length > 1 && func.charAt(0) == 'p')
      scala.util.Try(func.drop(1).toDouble).toOption.filter(p => p >= 0 && p <= 100)
    else None
}

sealed trait SortOrder
case object Ascending extends SortOrder
case object Descending extends SortOrder

/** Gap-fill policy for downsample windows that contain no points
  * (InfluxQL's `FILL(...)`; the reference has no equivalent — extension).
  *
  * Fill replaces only the UNDEFINED window values — the aggregates that
  * are NaN over an empty set (avg/min/max/first/last/frac/stddev/p⟨N⟩).
  * `count` and `sum` of an empty window are legitimately 0, not missing,
  * so they keep their values under every mode.
  *
  *  - [[FillNone]]     — empty windows keep the default fill values.
  *  - [[FillPrevious]] — LOCF: each gap takes its series' most recent
  *    non-empty window's value; gaps before the first data window keep
  *    the defaults.
  *  - [[FillLinear]]   — each gap interior to two non-empty windows
  *    interpolates linearly on window_start; leading/trailing gaps keep
  *    the defaults.
  *
  * A non-none fill implies empty-window emission (there is nothing to
  * fill otherwise), matching InfluxQL where `fill()` alone materializes
  * the slots. */
sealed trait FillMode
case object FillNone extends FillMode
case object FillPrevious extends FillMode
case object FillLinear extends FillMode

/** Cursor for `AFTER` keyset pagination (`api/nbql/executor.go:159-165`):
  * the last-delivered row's (timestamp, series key). */
final case class Cursor(timestamp: Long, seriesKey: String) {
  def encode: String = java.util.Base64.getEncoder.encodeToString(
    s"$timestamp|$seriesKey".getBytes("UTF-8"))
}
object Cursor {
  def decode(s: String): Cursor = {
    val raw = new String(java.util.Base64.getDecoder.decode(s), "UTF-8")
    val i = raw.indexOf('|')
    Cursor(raw.substring(0, i).toLong, raw.substring(i + 1))
  }
}

/** Mirror of the reference's `core.QueryParams` (`core/query.go:29-42`).
  * Times are ns-epoch, inclusive on BOTH ends (`engine2/adapter.go:2798-2803`).
  * `endNs = None` means "now" (`engine2/adapter.go:1117-1120`); relative
  * queries resolve end = min(now, max data ts) then start = end − duration
  * (`engine2/adapter.go:1236-1276`). `nowNs` is injectable for determinism. */
/** Tag-value matching for query selectors: a TRAILING `*` makes the
  * value a prefix wildcard — the same convention the reference's
  * subscription filters use (`engine2/pubsub.go:34-60`, metric and
  * tag-value `prefix*`); anything else matches exactly. No escape,
  * like the reference. Every tier (Spark plans, driver-resident rows)
  * matches through this one object so the semantics can't drift. */
object TagMatch {
  def isPrefix(v: String): Boolean = v != null && v.nonEmpty && v.endsWith("*")
  /** Spark predicate for `tags[k] <match> v`. */
  def pred(k: String, v: String): org.apache.spark.sql.Column = {
    val c = org.apache.spark.sql.functions.col("tags").getItem(k)
    if (isPrefix(v)) c.startsWith(v.dropRight(1)) else c === v
  }
  /** Driver-side mirror of [[pred]]. */
  def matches(v: String, actual: String): Boolean =
    actual != null &&
      (if (isPrefix(v)) actual.startsWith(v.dropRight(1)) else actual == v)

  /** Spark predicate for the METRIC column — `QUERY web.*` fans out
    * over every matching metric (subscriptions' metric wildcard,
    * same source). */
  def metricPred(m: String): org.apache.spark.sql.Column = {
    val c = org.apache.spark.sql.functions.col("metric")
    if (isPrefix(m)) c.startsWith(m.dropRight(1)) else c === m
  }
}

/** Value predicate on a field's numeric view, applied AFTER the
  * latest-version merge and tombstones (a shadowed version must never
  * satisfy a filter its replacement fails) and BEFORE any
  * aggregation/shaping — the query-surface analog of the reference's
  * `filter.Filter` extension point (`filter/filter.go:4-12`, applied
  * per-point in its iterator chain). Null/non-numeric values never
  * match, like SQL comparison semantics. */
final case class ValueFilter(field: String, op: String, value: Double) {
  require(ValueFilter.Ops.contains(op), s"unsupported filter op: $op")
}
object ValueFilter {
  val Ops: Set[String] = Set(">", ">=", "<", "<=", "=", "!=")
}

/** `QUERY m … ANALYZE <op>` — the NBQL projection of the
  * [[TsAnalytics]] pack (extension; the reference's query surface stops
  * at whole-window aggregation, `api/nbql/executor.go:131-172`, while a
  * dashboard user needs rate/smoothing/anomaly reachable FROM THE WIRE).
  * Composes with TAGGED / time range / FILTER / LIMIT and `SPLIT
  * <dur>|AUTO` (per-series forms); the per-series shaping clauses
  * (AGGREGATE, GROUP BY TAGS, FILL, EMIT EMPTY WINDOWS, DESC, AFTER)
  * are rejected by the executor — the analytics define their own output
  * shape, ordered (series_key, timestamp) ascending. Exceptions:
  * [[AnalyzeTopK]] REQUIRES AGGREGATE + GROUP BY TAGS (it ranks those
  * outputs); the cross-metric forms ([[AnalyzeCorrelate]],
  * [[AnalyzeRatio]]) reject TAGGED/FILTER (alignment is BY the key
  * tag) and route through rollup partials when both metrics carry
  * covering rollups. */
sealed trait AnalyzeSpec { def field: String }
/** `ANALYZE RATE(field)` — counter-reset-aware per-second rate
  * ([[TsAnalytics.rate]]). */
final case class AnalyzeRate(field: String) extends AnalyzeSpec
/** `ANALYZE DELTA(field)` — whole-range last−first change plus
  * counter-reset-aware increase, one row per series
  * ([[TsAnalytics.rangeDelta]]). */
final case class AnalyzeDelta(field: String) extends AnalyzeSpec
/** `ANALYZE DELTA(field) BY <dur>` — windowed change: per tumbling
  * window, gauge delta and continuous-counter increase (boundary pairs
  * land in the later window, so windows sum to the whole-range
  * increase; [[TsAnalytics.windowedDelta]]). */
final case class AnalyzeDeltaBy(field: String, windowNs: Long) extends AnalyzeSpec
/** `ANALYZE IRATE(field)` — instantaneous rate over each series' last
  * two samples ([[TsAnalytics.irate]]). */
final case class AnalyzeIrate(field: String) extends AnalyzeSpec
/** `ANALYZE RATE(field) BY <dur>` — per-window average per-second rate:
  * the windowed counter increase ([[AnalyzeDeltaBy]]'s continuous-counter
  * contract) divided by the window duration. */
final case class AnalyzeRateBy(field: String, windowNs: Long)
  extends AnalyzeSpec
/** `ANALYZE RESETS(field)` — per-series count of counter resets
  * (consecutive numeric-sample pairs where the value DECREASED) over the
  * scanned range, PromQL `resets()` shape ([[TsAnalytics.transitions]]). */
final case class AnalyzeResets(field: String) extends AnalyzeSpec
/** `ANALYZE CHANGES(field)` — per-series count of value changes
  * (consecutive numeric-sample pairs with differing values), PromQL
  * `changes()` shape ([[TsAnalytics.transitions]]). */
final case class AnalyzeChanges(field: String) extends AnalyzeSpec
/** `ANALYZE RESETS(field) BY <dur>` — reset counts per tumbling
  * epoch-aligned window; a pair crossing a boundary lands in the LATER
  * point's window ([[TsAnalytics.windowedTransitions]]). */
final case class AnalyzeResetsBy(field: String, windowNs: Long)
  extends AnalyzeSpec
/** `ANALYZE CHANGES(field) BY <dur>` — change counts per tumbling
  * epoch-aligned window ([[TsAnalytics.windowedTransitions]]). */
final case class AnalyzeChangesBy(field: String, windowNs: Long)
  extends AnalyzeSpec
/** `ANALYZE DERIV(field)` — per-series least-squares slope per second
  * over the scanned range, PromQL `deriv()` shape: [[AnalyzePredict]]'s
  * trend fit without the forecast ([[TsAnalytics.predictLinear]]
  * projected to `slope_per_sec`). */
final case class AnalyzeDeriv(field: String) extends AnalyzeSpec
/** `ANALYZE PREDICT(field, <horizon dur>)` — least-squares trend and
  * horizon forecast past each series' last sample
  * ([[TsAnalytics.predictLinear]]). */
final case class AnalyzePredict(field: String, horizonNs: Long) extends AnalyzeSpec
/** `ANALYZE EWMA(field, alpha)` ([[TsAnalytics.ewmaSmooth]]). */
final case class AnalyzeEwma(field: String, alpha: Double) extends AnalyzeSpec
/** `ANALYZE EWMA(field, alpha) BY <dur>` — the smoothed series sampled
  * at each tumbling window's last point ([[TsAnalytics.ewmaSmoothBy]]);
  * rollup-served from stored fold states when a matching
  * [[graft.tsdb.SmoothSpec]] is registered ([[Rollup.runSmoothBy]]). */
final case class AnalyzeEwmaBy(field: String, alpha: Double, windowNs: Long)
  extends AnalyzeSpec
/** `ANALYZE HOLT(field, alpha, beta)` ([[TsAnalytics.holtSmooth]]). */
final case class AnalyzeHolt(field: String, alpha: Double, beta: Double)
  extends AnalyzeSpec
/** `ANALYZE HOLT(field, alpha, beta) BY <dur>`
  * ([[TsAnalytics.holtSmoothBy]]; rollup-served like [[AnalyzeEwmaBy]]). */
final case class AnalyzeHoltBy(field: String, alpha: Double, beta: Double,
    windowNs: Long) extends AnalyzeSpec
/** `ANALYZE TWA(field) BY <dur>` — time-weighted average over tumbling
  * windows ([[TsAnalytics.timeWeightedAvg]]). */
final case class AnalyzeTwa(field: String, intervalNs: Long) extends AnalyzeSpec
/** `ANALYZE CUMSUM(field)` — running sum/max/index
  * ([[TsAnalytics.runningAggregates]]). */
final case class AnalyzeCumsum(field: String) extends AnalyzeSpec
/** `ANALYZE ZSCORE(field, lookback, threshold)` ([[TsAnalytics.rollingZScore]]). */
final case class AnalyzeZScore(field: String, lookback: Int, threshold: Double)
  extends AnalyzeSpec
/** `QUERY a … ANALYZE CORRELATE(field, b, tagKey[, minBuckets]) BY <dur>`
  * — bucket-aligned Pearson correlation of the queried metric against
  * `metricB`, paired per `tagKey` value ([[TsAnalytics.correlate]]).
  * TAGGED/FILTER don't compose (alignment is BY the key tag). */
final case class AnalyzeCorrelate(field: String, metricB: String,
    tagKey: String, bucketNs: Long, minBuckets: Int = 8) extends AnalyzeSpec
/** `QUERY a … ANALYZE RATIO(field, b, tagKey) BY <dur>` — aligned series
  * algebra a/b on co-observed buckets ([[TsAnalytics.ratio]]). */
final case class AnalyzeRatio(field: String, metricB: String,
    tagKey: String, bucketNs: Long) extends AnalyzeSpec
/** `QUERY m AGGREGATE (aggs) ANALYZE TOPK(k, byColumn) GROUP BY TAGS
  * (keys)` — top-K tag groups by a whole-range aggregate output
  * ([[TsAnalytics.topKGroups]]); the ONE analytic that composes with
  * AGGREGATE (it ranks those aggregates) and GROUP BY TAGS (the
  * grouping keys). `tagKeys` is copied from the GROUP BY TAGS clause by
  * the executor after validation. */
final case class AnalyzeTopK(k: Int, by: String,
    tagKeys: Seq[String] = Nil, ascending: Boolean = false)
  extends AnalyzeSpec {
  def field: String = by
}

final case class QueryParams(
    metric: String,
    tags: Map[String, String] = Map.empty,
    startNs: Long = 0L,
    endNs: Option[Long] = None,
    relativeNs: Option[Long] = None,
    aggs: Seq[AggSpec] = Seq.empty,
    downsampleNs: Option[Long] = None,
    emitEmptyWindows: Boolean = false,
    fill: FillMode = FillNone,
    order: SortOrder = Ascending,
    limit: Option[Long] = None,
    afterKey: Option[Cursor] = None,
    nowNs: Option[Long] = None,
    /** Conjunction: every filter must pass (ANDed). */
    valueFilters: Seq[ValueFilter] = Nil) {
  def isFinalAgg: Boolean = aggs.nonEmpty && downsampleNs.isEmpty
  def isDownsample: Boolean = downsampleNs.isDefined
  /** FILL materializes the slot grid even without EMIT EMPTY WINDOWS. */
  def emitsWindows: Boolean = emitEmptyWindows || fill != FillNone
}

/** One NBQL QUERY shape for [[TsdbEngine.serve]], the single serving
  * entry (the reference answers every QUERY through one executor path,
  * `api/nbql/executor.go:131-172`). */
sealed trait ServeReq {
  def params: QueryParams
  /** The same request over `p` (a PreQuery listener's rewrite). */
  def withParams(p: QueryParams): ServeReq
}
/** A per-series point, downsample or whole-range aggregate query. */
final case class PointReq(params: QueryParams) extends ServeReq {
  def withParams(p: QueryParams): ServeReq = copy(params = p)
}
/** `QUERY … ANALYZE <op> [SPLIT <dur>|AUTO]`. */
final case class AnalyzeReq(params: QueryParams, spec: AnalyzeSpec,
    splitNs: Option[Long] = None) extends ServeReq {
  def withParams(p: QueryParams): ServeReq = copy(params = p)
}
/** `QUERY … AGGREGATE (…) GROUP BY TAGS (keys)`. */
final case class ByTagsReq(params: QueryParams, tagKeys: Seq[String])
    extends ServeReq {
  def withParams(p: QueryParams): ServeReq = copy(params = p)
}
