package perfbench

import graft.client.QueryResult
import graft.nbql.NbqlParser
import java.util.SplittableRandom
import org.apache.spark.sql.SparkSession
import Wiring._

/** The small metric `pb.cpu`: [[NS]] series tagged host and region, one
  * point every 10 s per series, fields `usage` (gauge) and `reqs`
  * (counter). A share of (series, timestamp) pairs is pushed twice; the
  * model holds the latest version. */
final class CpuModel(seed: Long) {
  val NS = 100
  val NP = 480
  val Step: Long = 10 * Sec
  def host(i: Int): String = f"h$i%03d"
  def region(i: Int): String = s"r${i % 4}"
  def tags(i: Int): Map[String, String] = Map("host" -> host(i), "region" -> region(i))
  def ts(i: Int, j: Int): Long = T0 + j * Step + (i % 10) * Sec

  val usage: Array[Array[Double]] = Array.ofDim[Double](NS, NP)
  val reqs: Array[Array[Double]] = Array.ofDim[Double](NS, NP)
  /** (series, index, first-pushed usage) of every pair pushed twice. */
  val rewritten: Array[(Int, Int, Double)] = {
    val out = Array.newBuilder[(Int, Int, Double)]
    for (i <- 0 until NS) {
      val r = new SplittableRandom(seed * 1000003L + i)
      var u = 20.0 + r.nextDouble() * 60.0
      var c = r.nextInt(1000).toDouble
      for (j <- 0 until NP) {
        u = math.min(100.0, math.max(0.0, u + (r.nextDouble() - 0.5) * 4.0))
        c += r.nextInt(50)
        usage(i)(j) = math.round(u * 100.0) / 100.0
        reqs(i)(j) = c
        if (r.nextInt(50) == 0) {
          val old = usage(i)(j)
          usage(i)(j) = math.round((old + 1.0 + r.nextDouble() * 10.0) * 100.0) / 100.0
          out += ((i, j, old))
        }
      }
    }
    out.result()
  }
  val rows: Long = NS.toLong * NP

  /** The load order: a scrape of every series per time step, then the
    * rewrites, in PUSHS batches of `size` points. */
  def batches(size: Int): Iterator[Seq[Pt]] = {
    val first = rewritten.map(x => (x._1, x._2) -> x._3).toMap
    val main = (0 until NP).iterator.flatMap(j => (0 until NS).iterator.map { i =>
      pt("pb.cpu", tags(i), ts(i, j), "usage" -> first.getOrElse((i, j), usage(i)(j)),
        "reqs" -> reqs(i)(j))
    })
    val again = rewritten.iterator.map { case (i, j, _) =>
      pt("pb.cpu", tags(i), ts(i, j), "usage" -> usage(i)(j), "reqs" -> reqs(i)(j)) }
    main.grouped(size) ++ again.grouped(size)
  }

  /** Indices of series `i` with timestamps in [a, b]. */
  def range(i: Int, a: Long, b: Long): Seq[Int] =
    (0 until NP).filter { j => val t = ts(i, j); t >= a && t <= b }
}

/** A request of one class with its text and its check against the model. */
final case class Req(cls: String, text: String, check: QueryResult => Option[String],
    local: Boolean = false)

/** Builds every request class of the `serve` mix from the two models. */
final class ServeRequests(cpu: CpuModel) {
  import cpu.{NS, Step}
  /** The span of a `lookup`: the reference query-perf-client's 1 h range. */
  val LookupSpan: Long = 3600 * Sec
  /** The span of the other classes' ranges. */
  val Span: Long = 1800 * Sec
  val Minute: Long = 60 * Sec

  private def rawCheck(i: Int, a: Long, b: Long)(r: QueryResult): Option[String] = {
    val want = cpu.range(i, a, b)
    if (r.rows.size != want.size) Some(s"rows ${r.rows.size} != ${want.size}")
    else want.iterator.zip(r.rows.iterator).collectFirst {
      case (j, row) if row.timestamp != cpu.ts(i, j) ||
          num(row.fields, "usage") != cpu.usage(i)(j) ||
          num(row.fields, "reqs") != cpu.reqs(i)(j) =>
        s"row at ${row.timestamp}: usage ${num(row.fields, "usage")} reqs " +
          s"${num(row.fields, "reqs")}, want ts ${cpu.ts(i, j)} ${cpu.usage(i)(j)} ${cpu.reqs(i)(j)}"
    }
  }

  def raw(cls: String, i: Int, a: Long, b: Long): Req =
    Req(cls, s"QUERY pb.cpu FROM $a TO $b TAGGED (host=${cpu.host(i)})", rawCheck(i, a, b))

  /** Per-window count/sum/min/max/avg/first/last (and percentile bounds)
    * of `usage` for series `i`, windows of `iv` over [a, b]. */
  def windowed(cls: String, i: Int, a: Long, b: Long, iv: Long, pct: Boolean): Req = {
    val aggs = "count(usage), sum(usage), min(usage), max(usage), avg(usage), " +
      "first(usage), last(usage)" + (if (pct) ", p90(usage)" else "")
    val text = s"QUERY pb.cpu FROM $a TO $b TAGGED (host=${cpu.host(i)}) " +
      s"AGGREGATE BY ${iv / Sec}s ($aggs)"
    Req(cls, text, r => {
      val groups = cpu.range(i, a, b).groupBy(j => cpu.ts(i, j) - java.lang.Math.floorMod(cpu.ts(i, j), iv))
        .toSeq.sortBy(_._1)
      if (r.rows.size != groups.size) Some(s"windows ${r.rows.size} != ${groups.size}")
      else groups.iterator.zip(r.rows.iterator).map { case ((ws, js), row) =>
        val us = js.map(cpu.usage(i)(_))
        val sum = us.sum
        val bad =
          if (row.windowStart != ws) Some(s"window ${row.windowStart} != $ws")
          else if (agg(row, "count_usage") != us.size) Some("count")
          else if (!close(agg(row, "sum_usage"), sum)) Some("sum")
          else if (agg(row, "min_usage") != us.min) Some("min")
          else if (agg(row, "max_usage") != us.max) Some("max")
          else if (!close(agg(row, "avg_usage"), sum / us.size)) Some("avg")
          else if (agg(row, "first_usage") != us.head) Some("first")
          else if (agg(row, "last_usage") != us.last) Some("last")
          else if (pct && !(agg(row, "p90_usage") >= us.min && agg(row, "p90_usage") <= us.max))
            Some("p90 outside [min, max]")
          else None
        bad.map(b => s"$b at window $ws: ${row.aggregated}")
      }.collectFirst { case Some(e) => e }
    }, local = true)
  }

  /** ANALYZE DELTA(reqs) over [a, b]: one row per series. */
  def delta(i: Int, a: Long, b: Long): Req =
    Req("analyze", s"QUERY pb.cpu FROM $a TO $b TAGGED (host=${cpu.host(i)}) ANALYZE DELTA(reqs)", r => {
      val js = cpu.range(i, a, b)
      val d = cpu.reqs(i)(js.last) - cpu.reqs(i)(js.head)
      r.rows match {
        case Seq(row) =>
          if (agg(row, "n_points") != js.size || agg(row, "first_ts") != cpu.ts(i, js.head).toDouble ||
              agg(row, "last_ts") != cpu.ts(i, js.last).toDouble || !close(agg(row, "delta"), d) ||
              !close(agg(row, "increase"), d)) Some(s"delta row ${row.aggregated}, want n=${js.size} delta=$d")
          else None
        case rows => Some(s"rows ${rows.size} != 1")
      }
    }, local = true)

  /** ANALYZE RATE(reqs) BY iv over [a, b]: per window, the counter
    * increase of pairs whose later point falls in it, per second. */
  def rateBy(i: Int, a: Long, b: Long, iv: Long): Req =
    Req("analyze", s"QUERY pb.cpu FROM $a TO $b TAGGED (host=${cpu.host(i)}) " +
        s"ANALYZE RATE(reqs) BY ${iv / Sec}s", r => {
      val js = cpu.range(i, a, b)
      val groups = js.groupBy(j => cpu.ts(i, j) - java.lang.Math.floorMod(cpu.ts(i, j), iv)).toSeq.sortBy(_._1)
      if (r.rows.size != groups.size) Some(s"windows ${r.rows.size} != ${groups.size}")
      else groups.iterator.zip(r.rows.iterator).map { case ((ws, w), row) =>
        val inc = w.filter(_ > js.head).map(j => cpu.reqs(i)(j) - cpu.reqs(i)(j - 1)).sum
        if (row.windowStart != ws || agg(row, "n_points") != w.size ||
            !close(agg(row, "rate_per_sec"), inc / (iv.toDouble / Sec)))
          Some(s"rate window $ws: ${row.aggregated}, want n=${w.size} inc=$inc")
        else None
      }.collectFirst { case Some(e) => e }
    }, local = true)

  /** GROUP BY TAGS (region), 1-minute windows over [a, b]: one row per
    * (window, region), windows ascending, regions in order within each. */
  def group(a: Long, b: Long): Req =
    Req("group", s"QUERY pb.cpu FROM $a TO $b AGGREGATE BY 60s (count(usage), sum(usage), " +
        "min(usage), max(usage)) GROUP BY TAGS (region)", r => {
      val cells = (0 until NS).flatMap(i => cpu.range(i, a, b).map(j =>
        (cpu.ts(i, j) - java.lang.Math.floorMod(cpu.ts(i, j), Minute), cpu.region(i), cpu.usage(i)(j))))
        .groupBy(c => (c._1, c._2)).toSeq.sortBy(_._1).map { case ((w, _), cs) => (w, cs.map(_._3)) }
      if (r.rows.size != cells.size) Some(s"groups ${r.rows.size} != ${cells.size}")
      else cells.iterator.zip(r.rows.iterator).collectFirst {
        case ((w, us), row) if row.windowStart != w || agg(row, "count_usage") != us.size ||
            !close(agg(row, "sum_usage"), us.sum) || agg(row, "min_usage") != us.min ||
            agg(row, "max_usage") != us.max =>
          s"group at $w: ${row.aggregated}, want n=${us.size} sum=${us.sum}"
      }
    }, local = true)

  /** A value filter every point passes: the same answer as the plain
    * read, but no driver-side tier serves a filtered query, so these run
    * as Spark plans over the engine's serving view. */
  def scanRaw(i: Int, a: Long, b: Long): Req =
    Req("scan", s"QUERY pb.cpu FROM $a TO $b TAGGED (host=${cpu.host(i)}) FILTER (usage >= 0)",
      rawCheck(i, a, b))

  def scanAgg(i: Int, a: Long, b: Long): Req = {
    val w = windowed("scan", i, a, b, Minute, pct = true)
    w.copy(text = w.text + " FILTER (usage >= 0)", local = false)
  }

  /** One request of every class, for building each tier once. */
  def eachClass: Seq[Req] = {
    val a = T0 + Span / 2
    Seq(raw("lookup", 1, a, a + LookupSpan - 1), windowed("rollup", 2, a, a + Span - 1, Minute, pct = false),
      windowed("dashboard", 3, a, a + Span - 1, 5 * Minute, pct = false), delta(4, a, a + Span - 1),
      rateBy(5, a, a + Span - 1, 5 * Minute), group(a, a + Span - 1),
      scanRaw(6, a, a + Span / 2 - 1), scanAgg(7, a, a + Span - 1))
  }

  private def spanStart(r: SplittableRandom): Long = T0 + r.nextInt(cpu.NP - 180) * Step
  private def lookupStart(r: SplittableRandom): Long =
    T0 + r.nextInt(cpu.NP - (LookupSpan / Step).toInt) * Step
  private def minuteStart(r: SplittableRandom, spanMin: Int): Long =
    T0 + r.nextInt((cpu.NP * Step / Minute).toInt - spanMin) * Minute

  /** The fixed dashboard set: fewer entries than the 256-entry result cache. */
  def dashboards(seed: Long): IndexedSeq[Req] = {
    val r = new SplittableRandom(seed * 31L + 7L)
    (0 until 64).map { k =>
      val i = r.nextInt(NS)
      if (k % 2 == 0) { val a = spanStart(r); raw("dashboard", i, a, a + Span / 2 - 1) }
      else {
        val a0 = minuteStart(r, 30)
        val a = a0 - java.lang.Math.floorMod(a0 - T0, 5 * Minute)
        windowed("dashboard", i, a, a + Span - 1, 5 * Minute, pct = false)
      }
    }
  }

  /** A downsample over TCP: the server cannot encode driver-tier window
    * rows (they carry no schema), so this fails every time while that
    * fault stands. One per round keeps the fault in view. */
  val knownFault: Req = {
    val r = windowed("fault", 0, T0, T0 + Span - 1, Minute, pct = false)
    r.copy(local = false)
  }

  /** One request of class `cls`, its parameters drawn from `r`. */
  def make(cls: String, r: SplittableRandom, dash: IndexedSeq[Req]): Req = cls match {
    case "lookup" => val a = lookupStart(r); raw("lookup", r.nextInt(NS), a, a + LookupSpan - 1)
    case "dashboard" => dash(r.nextInt(dash.size))
    case "rollup" =>
      val a = minuteStart(r, 30)
      windowed("rollup", r.nextInt(NS), a, a + Span - 1, Minute, pct = false)
    case "delta" => val a = minuteStart(r, 30); delta(r.nextInt(NS), a, a + Span - 1)
    case "rate" =>
      val a0 = minuteStart(r, 30)
      val a = a0 - java.lang.Math.floorMod(a0 - T0, 5 * Minute)
      rateBy(r.nextInt(NS), a, a + Span - 1, 5 * Minute)
    case "group" => val a = minuteStart(r, 30); group(a, a + Span - 1)
    case "scan-raw" => val a = spanStart(r); scanRaw(r.nextInt(NS), a, a + Span / 2 - 1)
    case "scan-agg" => val a = minuteStart(r, 30); scanAgg(r.nextInt(NS), a, a + Span - 1)
  }

  /** The classes of one round of the closed loop, in a fixed composition
    * so every seed and every client does the same mix of work: 4 requests
    * of each class (analyze: 2 DELTA, 2 RATE BY). Equal shares, because
    * graft has no recorded traffic and the reference protocol has a single
    * class; each tier then weighs in `ops_per_s` by its own cost. The
    * order within a round is drawn per round. */
  val roundClasses: Seq[String] = Seq("lookup", "dashboard", "rollup", "group").flatMap(Seq.fill(4)(_)) ++
    Seq("delta", "delta", "rate", "rate")

  def round(r: SplittableRandom, dash: IndexedSeq[Req]): IndexedSeq[Req] = {
    val order = roundClasses.toArray
    for (k <- order.indices.reverse) {
      val m = r.nextInt(k + 1); val t = order(k); order(k) = order(m); order(m) = t
    }
    order.toIndexedSeq.map(make(_, r, dash))
  }
}

/** The serving phase of `tsdb`: a read-only closed loop of NBQL QUERY
  * requests over TCP. */
object Serve {
  final case class Sample(cls: String, req: Long, startNs: Long, endNs: Long, local: Boolean)
  /** Sequential Spark-plan reads after the loop: half raw, half windowed. */
  val Scans = 4
  /** Closed-loop clients: half the cores, so that the server's threads,
    * the JIT and the collector run beside them without queueing. */
  def clientCount(cpus: Int): Int = math.max(1, cpus / 2)
  /** Untimed rounds per client before the loop, so the JIT has settled. */
  val WarmRounds = 16
  /** `ops_per_s` is the median rate over windows of this length. */
  val Window: Long = Sec / 2

  /** Returns the request builder and dashboard set, for reads beside writes. */
  def run(spark: SparkSession, ctx: Ctx, srv: Served): (ServeRequests, IndexedSeq[Req]) = {
    val cpu = new CpuModel(ctx.seed)
    val reqs = new ServeRequests(cpu)
    val dash = reqs.dashboards(ctx.seed)
    val res = ctx.result
    locally {
      // ---- set-up: load through the front door, in 1,000-point PUSHS (the
      // reference perf-client's batch size), which also warms the write
      // path for the ingest phase ----
      val loader = new Conn(ctx.cpus, srv)
      cpu.batches(1000).foreach { b =>
        val (_, n) = loader.push(b)
        if (n != b.size) res.wrong(s"PUSHS acknowledged $n of ${b.size}")
      }
      loader.close()
      ctx.log("loaded")
      val clients = (0 until clientCount(ctx.cpus)).map(c => new Conn(c, srv))
      clients.head.query("CREATE ROLLUP pb.cpu BY 1m (usage, reqs)")

      def send(c: Conn, q: Req): (Long, Either[String, QueryResult]) =
        if (q.local) c.local(q.text) else c.tryQuery(q.text)
      def rounds(c: Int, salt: Long, n: Int): IndexedSeq[IndexedSeq[Req]] = {
        val r = new SplittableRandom(ctx.seed * 7919L + c * 104729L + salt)
        IndexedSeq.fill(n)(reqs.round(r, dash))
      }
      // warm-up: each tier built once, then every dashboard entry once and
      // WarmRounds rounds per client
      reqs.eachClass.foreach { q =>
        val (_, r) = send(clients.head, q)
        r.fold(Some(_), q.check).foreach(e => res.wrong(s"${q.cls}: ${q.text}: $e"))
      }
      ctx.log("tiers built")
      Ctx.parallel(clients.indices) { k =>
        val c = clients(k)
        (dash.zipWithIndex.collect { case (q, n) if n % clients.size == k => q } ++
          rounds(k, 1L, WarmRounds).flatten :+ reqs.knownFault).foreach { q =>
          val (_, r) = send(c, q)
          if (q ne reqs.knownFault) r.fold(Some(_), q.check).foreach(e => res.wrong(s"${q.cls}: ${q.text}: $e"))
        }
      }
      ctx.log("warmed up")

      // ---- the timed closed loop, in whole rounds ----
      val work = clients.map(c => rounds(c.client, 2L, 256))
      val stats0 = srv.engine.cacheStats
      val obs0 = ctx.observer.snapshot
      val (gc0, jit0) = Observer.jvmTimes
      ctx.setupDone()
      val t0 = System.nanoTime()
      val deadline = t0 + ctx.seconds * Sec
      val samples = Ctx.parallel(clients.indices) { k =>
        val c = clients(k)
        val out = scala.collection.mutable.ArrayBuffer[Sample]()
        var round = 0
        while (System.nanoTime() < deadline) {
          (work(k)(round % work(k).size) :+ reqs.knownFault).foreach { q =>
            if (ctx.tracer.enabled) ctx.tracer.span("nbql.parse", -1L)(NbqlParser.parse(q.text))
            val s = System.nanoTime()
            val (id, r) = send(c, q)
            out += Sample(q.cls, id, s, System.nanoTime(), q.local)
            res.attempted.incrementAndGet()
            (q, r) match {
              case (reqs.knownFault, Left(_)) => res.failed.incrementAndGet()
              case _ => r.fold(Some(_), q.check).foreach(e => res.wrong(s"${q.cls}: ${q.text}: $e"))
            }
          }
          round += 1
        }
        out.toSeq
      }.flatten
      val t1 = samples.map(_.endNs).max
      ctx.log("loop done")
      val stats1 = srv.engine.cacheStats

      // the Spark-plan reads, one at a time, so no other request contends
      val sr = new SplittableRandom(ctx.seed * 131L + 9L)
      val scans = (0 until Scans).map { n =>
        val q = reqs.make(if (n % 2 == 0) "scan-raw" else "scan-agg", sr, dash)
        val s = System.nanoTime()
        val (id, r) = send(clients.head, q)
        r.fold(Some(_), q.check).foreach(e => res.wrong(s"${q.cls}: ${q.text}: $e"))
        Sample(q.cls, id, s, System.nanoTime(), q.local)
      }
      val (gc1, jit1) = Observer.jvmTimes
      val obs1 = ctx.observer.snapshot
      ctx.log("scans done")

      val served = samples.filter(_.cls != "fault")
      def lat(p: Sample => Boolean) = served.filter(p).map(s => Stats.ms(s.endNs - s.startNs))
      val all = lat(_ => true)
      // the median over whole windows resists a burst of load from outside
      val windows = ((t1 - t0) / Window).toInt
      val perWindow = served.groupBy(s => ((s.endNs - t0) / Window).toInt).filter(_._1 < windows)
      res.metric("ops_per_s", Stats.median((0 until windows).map(w =>
        perWindow.get(w).fold(0)(_.size) * (Sec.toDouble / Window))), "1/s")
      res.metric("serve.qps_mean", served.size / ((t1 - t0) / 1e9), "1/s")
      res.metric("serve.p50_ms", Stats.median(all), "ms")
      res.metric("read_p50_ms", Stats.median(lat(_.cls == "lookup")), "ms")
      res.metric("heavy_p50_ms", Stats.median(scans.map(s => Stats.ms(s.endNs - s.startNs))), "ms")
      res.metric("serve.p99_ms", Stats.pct(all, 0.99), "ms")
      val hits = stats1._1 - stats0._1; val misses = stats1._2 - stats0._2
      res.metric("tsdb.cache_hit_ratio", if (hits + misses > 0) hits.toDouble / (hits + misses) else 0.0, "ratio")
      Observer.sparkMetrics(obs0, obs1).foreach { case (n, v, u) => res.metric(n, v, u) }
      res.metric("jvm.gc_s", gc1 - gc0, "s")
      res.metric("jvm.jit_s", jit1 - jit0, "s")
      res.details.put("classes", (samples ++ scans).groupBy(_.cls).toSeq.sortBy(_._1).map { case (k, v) =>
        s""""$k":{"n":${v.size},"p50_ms":${Stats.median(v.map(s => Stats.ms(s.endNs - s.startNs)))}}""" }
        .mkString("{", ",", "}"))
      if (ctx.tracer.enabled) layers(ctx, served ++ scans)
      res.metric("live_heap_mb", Observer.liveHeapMb(), "MB")
      clients.foreach(_.close())
    }
    (reqs, dash)
  }

  /** Per-layer figures from the spans: executor time per class, wire
    * time, parse time, jobs per request. */
  private def layers(ctx: Ctx, samples: Seq[Sample]): Unit = {
    val res = ctx.result
    val runs = ctx.tracer.named("nbql.run").map(s => s.req -> s).toMap
    val jobs = ctx.observer.jobSpans.toArray(Array.empty[(Long, Long, Long)]).toSeq.groupBy(_._1)
    val timed = samples.filter(s => runs.contains(s.req))
    def execMs(s: Sample): Double = {
      val run = runs(s.req)
      // jobs a streamed result ran after `run` returned belong to the request too
      val endMs = run.endNs / 1000000L + ctx.epochOffsetMs
      val after = jobs.getOrElse(s.req, Nil).map(j => j._3 - math.max(j._2, endMs)).filter(_ > 0).sum
      Stats.ms(run.durNs) + after
    }
    val exec = timed.map(s => s -> execMs(s))
    res.metric("server.wire_ms_p50", Stats.median(exec.collect {
      case (s, e) if !s.local => Stats.ms(s.endNs - s.startNs) - e }), "ms")
    val runMs = timed.map(s => Stats.ms(runs(s.req).durNs))
    res.metric("nbql.run_ms_p50", Stats.median(runMs), "ms")
    res.metric("nbql.run_ms_p99", Stats.pct(runMs, 0.99), "ms")
    res.metric("nbql.parse_us_p50", Stats.median(ctx.tracer.named("nbql.parse").map(_.durNs / 1e3)), "us")
    for (cls <- Seq("lookup", "dashboard", "rollup", "analyze", "group", "scan"))
      res.metric(s"tsdb.${cls}_ms_p50", Stats.median(exec.filter(_._1.cls == cls).map(_._2)), "ms")
    val withJobs = timed.count(s => jobs.contains(s.req))
    res.metric("tsdb.jobless_share", 1.0 - withJobs.toDouble / math.max(1, timed.size), "ratio")
    res.metric("tsdb.jobs_per_request",
      timed.map(s => jobs.get(s.req).fold(0)(_.size)).sum.toDouble / math.max(1, timed.size), "count")
    timed.foreach(s => ctx.tracer.add(Span(ctx.tracer.nextId(), 0L, s.req, s"client.${s.cls}", s.startNs, s.endNs)))
  }
}
