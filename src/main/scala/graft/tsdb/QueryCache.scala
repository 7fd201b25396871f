package graft.tsdb

/** Canonical keys of the query-result cache ([[Derived]]), with the
  * reference's key semantics (`api/nbql/cache_key.go:17-60`): tags
  * sorted, RELATIVE ranges keyed by duration (not resolved instants) so
  * repeating relative queries hit, while absolute ranges key on exact
  * bounds. Entries are invalidated by write epoch — any put/delete bumps
  * the metric's epoch and orphans every older entry (the reference
  * invalidates on flush; epoch is stricter and race-free).
  *
  * The cache is a driver-side LRU over COLLECTED results, capped per
  * entry: it caches serving-layer answers (the reference's use case —
  * dashboards repeating the same NBQL), never intermediate distributed
  * state, so it adds no executor memory pressure at scale. */
object QueryCache {

  /** Percent-escape a user-controlled name so the structural separators
    * below ('|', ',', '=', parens, the filter ops) can never be forged
    * by a quoted metric/tag/field name — two distinct param sets must
    * never collide into one cache key (a collision SERVES WRONG ROWS). */
  private def esc(s: String): String = {
    val sb = new StringBuilder(s.length)
    s.foreach {
      case c @ ('%' | '|' | ',' | '=' | '(' | ')' | '<' | '>' | '!') =>
        sb.append(f"%%${c.toInt}%02X")
      case c => sb.append(c)
    }
    sb.result()
  }

  /** Canonical key: metric, sorted tags, range (REL:duration vs ABS:a-b),
    * aggs in declaration order, downsample/order/limit/cursor. All
    * user-chosen names ride through [[esc]]. */
  def keyOf(p: QueryParams): String = {
    val tags = p.tags.toSeq.sorted.map { case (k, v) => s"${esc(k)}=${esc(v)}" }.mkString(",")
    val range = p.relativeNs match {
      case Some(d) => s"REL:$d"
      case None => s"ABS:${p.startNs}-${p.endNs.getOrElse(0L)}"
    }
    val aggs = p.aggs.map(a =>
      s"${esc(a.func)}(${esc(a.field)})${a.alias.fold("")(esc)}").mkString(",")
    s"${esc(p.metric)}|$tags|$range|$aggs|${p.downsampleNs.getOrElse(0L)}|" +
      s"${p.emitEmptyWindows}|${p.fill}|${p.order}|${p.limit.getOrElse(-1L)}|" +
      s"${p.afterKey.map(_.encode).getOrElse("")}|" +
      p.valueFilters.map(f => s"${esc(f.field)}${f.op}${f.value}").mkString(",")
  }

  /** Canonical key for an ANALYZE query: the point-query key (TAGGED/
    * range/FILTER/LIMIT compose with ANALYZE and must distinguish
    * entries) extended with the analytic's own parameters and the split
    * width. Every user-chosen name rides [[esc]] — an ANALYZE entry may
    * never collide with its plain-QUERY twin (the `|ANALYZE|` segment
    * separates the namespaces) or with a differently-parameterized
    * analytic. */
  def analyzeKeyOf(p: QueryParams, spec: AnalyzeSpec,
      splitNs: Option[Long]): String = {
    val specKey = spec match {
      case AnalyzeRate(f) => s"rate(${esc(f)})"
      case AnalyzeRateBy(f, w) => s"rateby(${esc(f)},$w)"
      case AnalyzeDelta(f) => s"delta(${esc(f)})"
      case AnalyzeDeltaBy(f, w) => s"deltaby(${esc(f)},$w)"
      case AnalyzeIrate(f) => s"irate(${esc(f)})"
      case AnalyzeResets(f) => s"resets(${esc(f)})"
      case AnalyzeChanges(f) => s"changes(${esc(f)})"
      case AnalyzeResetsBy(f, w) => s"resetsby(${esc(f)},$w)"
      case AnalyzeChangesBy(f, w) => s"changesby(${esc(f)},$w)"
      case AnalyzePredict(f, h) => s"predict(${esc(f)},$h)"
      case AnalyzeDeriv(f) => s"deriv(${esc(f)})"
      case AnalyzeEwma(f, a) => s"ewma(${esc(f)},$a)"
      case AnalyzeEwmaBy(f, a, w) => s"ewmaby(${esc(f)},$a,$w)"
      case AnalyzeHolt(f, a, b) => s"holt(${esc(f)},$a,$b)"
      case AnalyzeHoltBy(f, a, b, w) => s"holtby(${esc(f)},$a,$b,$w)"
      case AnalyzeTwa(f, iv) => s"twa(${esc(f)},$iv)"
      case AnalyzeCumsum(f) => s"cumsum(${esc(f)})"
      case AnalyzeZScore(f, lb, th) => s"zscore(${esc(f)},$lb,$th)"
      case AnalyzeCorrelate(f, b, k, iv, mb) =>
        s"corr(${esc(f)},${esc(b)},${esc(k)},$iv,$mb)"
      case AnalyzeRatio(f, b, k, iv) =>
        s"ratio(${esc(f)},${esc(b)},${esc(k)},$iv)"
      case AnalyzeTopK(k, by, keys, asc) =>
        s"topk($k,${esc(by)},${keys.map(esc).mkString(",")},$asc)"
    }
    s"${keyOf(p)}|ANALYZE|$specKey|${splitNs.getOrElse(0L)}"
  }
}
