package perfbench

import graft.client.NbqlClient
import graft.tsdb.TsdbEngine
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import Wiring._

/** What the writer of `pb.ing` has pushed and removed. Only the
  * writer's thread touches it until the writer is done.
  *
  * Every pushed value is unique: `batch * 1e4 + index`, so a value names
  * the push that carried it. */
final class WriterModel(seed: Long) {
  val series: IndexedSeq[Int] = 0 until IngestRun.NS
  /** latest(i)(step) = the live value at `T0 + step s`, NaN once removed. */
  val latest: Map[Int, ArrayBuffer[Double]] = series.map(_ -> ArrayBuffer[Double]()).toMap
  private val r = new SplittableRandom(seed * 6364136223846793005L)
  private var step = 0
  /** (value, ack ns) per acknowledged batch, and the subscriber-visible
    * pushes (series, ts, value) in push order. */
  val acks = ArrayBuffer[(Double, Long)]()
  val patternPushes = ArrayBuffer[(Int, Long, Double)]()
  var points = 0L
  var userBytes = 0L

  /** Batch `b`: 50 rewrites of live earlier points (from the second
    * batch on) and new points for every owned series at the next steps,
    * 1,000 in all. The last value is the batch's subscriber marker. */
  def batch(b: Int): (Seq[Pt], Double) = {
    val out = ArrayBuffer[(Int, Long, Double)]()
    def value = b * 1e4 + out.size
    if (step > 0) {
      val seen = scala.collection.mutable.HashSet[(Int, Int)]()
      while (out.size < 50) {
        val i = series(r.nextInt(series.size)); val s = r.nextInt(step)
        // a batch can end part-way through a step, so a series' buffer
        // may stop short of `step`
        if (s < latest(i).size && !latest(i)(s).isNaN && seen.add((i, s)))
          out += ((i, T0 + s * Sec, value))
      }
    }
    while (out.size < 1000) {
      series.foreach { i => if (out.size < 1000) out += ((i, T0 + step * Sec, value)) }
      step += 1
    }
    out.foreach { case (i, ts, v) =>
      val s = ((ts - T0) / Sec).toInt
      val buf = latest(i)
      while (buf.size <= s) buf += Double.NaN
      buf(s) = v
      if (IngestRun.subscribed(i)) patternPushes += ((i, ts, v))
    }
    points += out.size
    val pts = out.map { case (i, ts, v) => pt("pb.ing", IngestRun.tags(i), ts, "value" -> v) }.toSeq
    userBytes += pushsBytes(pts)
    (pts, out.filter(x => IngestRun.subscribed(x._1)).lastOption.map(_._3).getOrElse(Double.NaN))
  }

  /** Every tenth batch removes 30 s of one deletable series' past. */
  def removal(b: Int): Option[String] =
    if (b % 10 != 9) None
    else {
      val del = series.filter(i => !IngestRun.noDelete(i))
      val i = del(r.nextInt(del.size))
      val s = r.nextInt(math.max(1, step - 30))
      val (a, e) = (T0 + s * Sec, T0 + (s + 30) * Sec - 1)
      val buf = latest(i)
      (s until math.min(s + 30, buf.size)).foreach(k => buf(k) = Double.NaN)
      Some(s"REMOVE FROM pb.ing TAGGED (host=${IngestRun.host(i)}, rack=${IngestRun.rack(i)}) FROM $a TO $e")
    }

  def live: Long = latest.values.map(_.count(!_.isNaN).toLong).sum
}

/** `ingest`: a PUSHS writer beside a reader and a subscriber, then FLUSH,
  * a Structured Streaming phase, and a close and reopen of the engine. */
object IngestRun {
  val NS = 100
  def host(i: Int): String = f"w$i%03d"
  def rack(i: Int): String = s"k${i % 5}"
  def tags(i: Int): Map[String, String] = Map("host" -> host(i), "rack" -> rack(i))
  /** The subscriber's pattern `host=w00*`: series 0–9. */
  def subscribed(i: Int): Boolean = i < 10
  /** Series no REMOVE touches: the reader's counts over them never drop. */
  def noDelete(i: Int): Boolean = i >= 90
  val StreamFiles = 3
  /** PUSHS batches per `--seconds`. The first half warm the write path
    * further (early pushes take up to 1.5× as long as late ones), and
    * `op_p50_ms` is the median of the second half. */
  val BatchesPerSecond = 40
  /** Client numbers of the ingest connections, apart from the serving
    * loop's, so request ids stay unique. */
  val ClientBase = 100
  val StreamRows = 5000
  val StreamHosts = 20

  /** Runs on `srv0`'s engine and returns the server of the reopened one. */
  def run(spark: SparkSession, ctx: Ctx, srv0: Served, reads: ServeRequests,
      dash: IndexedSeq[Req]): Served = {
    val res = ctx.result
    var srv = srv0
    val root = new java.io.File(srv.engine.rootDir)
    locally {
      val m = new WriterModel(ctx.seed)
      val writer = new Conn(ClientBase, srv)
      val reader = new Conn(ClientBase + 1, srv)

      // the subscriber tails the pattern on a connection of its own
      val sub = NbqlClient.connect("127.0.0.1", srv.port, None, 2000).subscribe("pb.ing", Map("host" -> "w00*"))
      // first arrival per value; a value is pushed once, so a second
      // arrival is a duplicate delivery
      val received = new ConcurrentHashMap[Double, java.lang.Long]()
      val duplicates = new java.util.concurrent.atomic.AtomicLong()
      @volatile var expected = Long.MaxValue
      @volatile var subDone = false
      val subThread = new Thread(() => {
        var quietSince = 0L
        while (!subDone && received.size < expected) {
          try {
            val u = sub.next()
            if (!u.isDelete && received.putIfAbsent(num(u.item.fields, "value"), System.nanoTime()) != null)
              duplicates.incrementAndGet()
            quietSince = 0L
          } catch {
            case _: java.net.SocketTimeoutException =>
              if (expected != Long.MaxValue) {
                if (quietSince == 0L) quietSince = System.nanoTime()
                else if (System.nanoTime() - quietSince > 10 * Sec) subDone = true
              }
            case _: Exception => subDone = true
          }
        }
      })
      subThread.start()

      val stats0 = srv.engine.cacheStats
      val v0 = srv.engine.version
      val stalls0 = srv.engine.writeStallCount
      val fold0 = srv.engine.compactionStats.bytesWritten
      val obs0 = ctx.observer.snapshot
      ctx.setupDone()
      ctx.log("ingest starts")
      val t0 = System.nanoTime()
      // a fixed amount of work, not a deadline: the same number of
      // commits, folds and reader counts in every run
      val batches = BatchesPerSecond * ctx.seconds
      val pushLat = new ConcurrentHashMap[Long, (Int, Double)]() // req -> (batch, ms)
      val readLat = java.util.Collections.synchronizedList(new java.util.ArrayList[Double]())
      val putReqs = java.util.Collections.synchronizedList(new java.util.ArrayList[Long]())
      val removeLat = java.util.Collections.synchronizedList(new java.util.ArrayList[Double]())

      // the reader works in step with the writer: beside each PUSHS it
      // sends one `lookup` and one `dashboard` read of pb.cpu, and at each
      // quarter of the batches, instead, a count of one never-deleted
      // pb.ing series, which must never drop (a Spark plan, so kept to
      // three). The writer sends its next batch once the reader is done,
      // so every push meets the same reads, however the threads interleave.
      val go = new java.util.concurrent.SynchronousQueue[Integer]()
      val done = new java.util.concurrent.Semaphore(0)
      val readerThread = new Thread(() => {
        val r = new SplittableRandom(ctx.seed * 31L + 5L)
        val i = 90 + r.nextInt(10)
        var last = 0.0
        var b: Int = go.take()
        while (b >= 0) {
          try {
            if (b > 0 && b % (batches / 4) == 0) {
              val text = s"QUERY pb.ing FROM $T0 TO ${T0 + 86400 * Sec} TAGGED (host=${host(i)}) " +
                "AGGREGATE (count(value)) FILTER (value >= 0)"
              val c = reader.query(text)._2.rows.headOption.map(agg(_, "count_value")).getOrElse(0.0)
              if (c < last) res.wrong(s"count of ${host(i)} fell $last -> $c")
              last = c
            } else Seq("lookup", "dashboard").foreach { cls =>
              val q = reads.make(cls, r, dash)
              val s = System.nanoTime()
              val got = (if (q.local) reader.local(q.text) else reader.tryQuery(q.text))._2
              if (q.cls == "lookup") readLat.add(Stats.ms(System.nanoTime() - s))
              got.fold(Some(_), q.check).foreach(e => res.wrong(s"${q.cls} under writes: ${q.text}: $e"))
            }
          } catch { case e: Exception => res.wrong(s"reader under writes: $e") }
          finally done.release()
          b = go.take()
        }
      })
      readerThread.start()

      try for (b <- 0 until batches) {
        val (pts, marker) = m.batch(b)
        go.put(b)
        val s = System.nanoTime()
        val (req, n) = writer.push(pts)
        val e = System.nanoTime()
        if (n != pts.size) res.wrong(s"PUSHS acknowledged $n of ${pts.size}")
        pushLat.put(req, (b, Stats.ms(e - s))); putReqs.add(req)
        if (!marker.isNaN) m.acks += ((marker, e))
        m.removal(b).foreach { q =>
          val r0 = System.nanoTime(); writer.query(q); removeLat.add(Stats.ms(System.nanoTime() - r0)) }
        done.acquire()
      } finally go.put(-1)
      val tw = System.nanoTime()
      ctx.log("writes done")
      readerThread.join()
      ctx.log("reader done")
      expected = m.patternPushes.size.toLong
      subThread.join()
      sub.close()
      ctx.log("subscriber done")
      val obs1 = ctx.observer.snapshot
      val stats1 = srv.engine.cacheStats
      val acked = m.points

      // subscriber: exactly the pushes to its pattern, each once
      val want = m.patternPushes.map(_._3).toSet
      if (received.size != want.size || !want.forall(received.containsKey))
        res.wrong(s"subscriber got ${received.size} of ${want.size} pattern pushes")
      if (duplicates.get != 0L)
        res.wrong(s"subscriber got ${duplicates.get} pattern pushes more than once")
      val notify = m.acks.flatMap { case (v, ack) =>
        Option(received.get(v)).map(rcv => Stats.ms(rcv.longValue - ack)) }
      val pl = pushLat.values.asScala.map(_._2).toSeq; val rl = removeLat.asScala.toSeq
      res.details.put("write_ms", s"""{"push_n":${pl.size},"push_p90":${Stats.pct(pl, 0.9)},"push_max":${Stats.pct(pl, 1.0)},""" +
        s""""remove_n":${rl.size},"remove_p50":${Stats.median(rl)},"remove_max":${Stats.pct(rl, 1.0)},"writes_s":${(tw - t0) / 1e9}}""")
      res.details.put("push_ms", pushLat.values.asScala.toSeq.sortBy(_._1).map(_._2).mkString("[", ",", "]"))
      res.details.put("notify_ms", s"""{"p90":${Stats.pct(notify, 0.9)},"max":${Stats.pct(notify, 1.0)}}""")

      res.metric("ingest.rows_per_s", acked / ((tw - t0) / 1e9), "1/s")
      res.metric("op_p50_ms", Stats.median(pushLat.values.asScala.collect {
        case (b, ms) if b >= batches / 2 => ms }), "ms")
      res.metric("ingest.read_under_writes_ms_p50", Stats.median(readLat.asScala.toSeq), "ms")
      res.metric("ingest.notify_p50_ms", Stats.median(notify), "ms")
      res.metric("ingest.points", acked.toDouble, "count")
      res.metric("tsdb.commits", (srv.engine.version - v0).toDouble, "count")
      res.metric("tsdb.write_stalls", (srv.engine.writeStallCount - stalls0).toDouble, "count")
      val hits = stats1._1 - stats0._1; val misses = stats1._2 - stats0._2
      res.metric("ingest.cache_hit_ratio", if (hits + misses > 0) hits.toDouble / (hits + misses) else 0.0, "ratio")
      val (live, l0) = srv.engine.fileCounts
      res.metric("tsdb.files_live", live.toDouble, "count")
      res.metric("tsdb.files_l0", l0.toDouble, "count")
      res.metric("tsdb.inline_commits", srv.engine.inlineCommitCount.toDouble, "count")
      Observer.sparkMetrics(obs0, obs1).foreach { case (n, v, u) => res.metric(n.replace("spark.", "ingest.spark_"), v, u) }
      if (ctx.tracer.enabled) {
        val runs = ctx.tracer.named("nbql.run").map(s => s.req -> s.durNs).toMap
        res.metric("tsdb.put_ms_p50", Stats.median(putReqs.asScala.flatMap(runs.get).map(Stats.ms)), "ms")
      }

      // FLUSH, then the stored footprint
      val f0 = System.nanoTime()
      writer.query("FLUSH")
      res.metric("ingest.flush_s", (System.nanoTime() - f0) / 1e9, "s")
      ctx.log("flushed")
      val liveModel = m.live
      res.metric("ingest.stored_bytes_per_point", Ctx.treeBytes(root).toDouble / liveModel, "B")
      res.metric("tsdb.fold_bytes_per_user_byte",
        (srv.engine.compactionStats.bytesWritten - fold0).toDouble / m.userBytes, "ratio")
      res.metric("tsdb.log_manifests", srv.engine.logStats._2.toDouble, "count")
      writer.close(); reader.close()

      // Structured Streaming phase over generated JSON-lines files
      val streamDir = ctx.dir("stream-src")
      val streamSums = writeStreamFiles(streamDir, ctx.seed)
      val sq = graft.streaming.Ingest.start(srv.engine,
        spark.readStream.option("maxFilesPerTrigger", "1").text(streamDir.getPath),
        ctx.dir("stream-ckpt").getPath, "perfbench-stream")
      val s0 = System.nanoTime()
      sq.processAllAvailable()
      val streamS = (System.nanoTime() - s0) / 1e9
      val progress = sq.recentProgress.filter(_.numInputRows > 0)
      sq.stop()
      ctx.log("streamed")
      res.metric("ingest.stream_rows_per_s", StreamFiles * StreamRows / streamS, "1/s")
      res.metric("streaming.trigger_ms_p50", Stats.median(progress.map(_.batchDuration.toDouble)), "ms")
      res.metric("streaming.add_batch_ms_p50",
        Stats.median(progress.flatMap(p => Option(p.durationMs.get("addBatch")).map(_.doubleValue))), "ms")

      // close, reopen, and read everything back through the front door
      srv.stop()
      srv = new Served(new TsdbEngine(spark, root.getPath), ctx.tracer)
      ctx.log("reopened")
      verify(ctx, srv.port, m, streamSums)
      ctx.log("verified")
    }
    srv
  }

  /** JSON-lines files for the streaming phase; returns per-host (count, sum). */
  private def writeStreamFiles(dir: java.io.File, seed: Long): Map[String, (Long, Double)] = {
    val r = new SplittableRandom(seed * 17L + 3L)
    val sums = scala.collection.mutable.Map[String, (Long, Double)]()
    for (f <- 0 until StreamFiles) {
      val w = new java.io.PrintWriter(new java.io.File(dir, f"part-$f%02d.json"), "UTF-8")
      try for (k <- 0 until StreamRows) {
        val h = f"t${k % StreamHosts}%02d"
        val ts = T0 + (f.toLong * StreamRows + k) * 1000000L
        val v = r.nextInt(100000).toDouble
        w.println(s"""{"metric":"pb.stream","tags":{"host":"$h"},"timestamp":$ts,"fields":{"value":{"d":$v}}}""")
        val (n, s) = sums.getOrElse(h, (0L, 0.0)); sums(h) = (n + 1, s + v)
      } finally w.close()
    }
    sums.toMap
  }

  /** After the reopen: every live point with its latest value, nothing of
    * a removed range, and every streamed row. */
  private def verify(ctx: Ctx, port: Int, m: WriterModel,
      streamSums: Map[String, (Long, Double)]): Unit = {
    val res = ctx.result
    val readLat = java.util.Collections.synchronizedList(new java.util.ArrayList[Double]())
    ctx.log("verify starts")
    Ctx.parallel(0 until ctx.cpus) { k =>
      val c = NbqlClient.connect("127.0.0.1", port, None, 120000)
      try {
        m.series.filter(_ % ctx.cpus == k).foreach { i =>
          val want = m.latest(i).iterator.zipWithIndex.filter(!_._1.isNaN)
            .map { case (v, s) => (T0 + s * Sec, v) }.toIndexedSeq
          val s0 = System.nanoTime()
          val got = c.query(s"QUERY pb.ing FROM $T0 TO ${T0 + 86400 * Sec} TAGGED (host=${host(i)})")
            .rows.map(p => (p.timestamp, num(p.fields, "value")))
          readLat.add(Stats.ms(System.nanoTime() - s0))
          if (got != want) {
            val missing = want.diff(got).take(3); val extra = got.diff(want).take(3)
            res.wrong(s"after reopen ${host(i)}: ${got.size} rows, want ${want.size}; " +
              s"missing $missing extra $extra")
          }
        }
        streamSums.keys.toSeq.sorted.zipWithIndex.filter(_._2 % ctx.cpus == k).foreach { case (h, _) =>
          val q = c.query(s"QUERY pb.stream FROM $T0 TO ${T0 + 86400 * Sec} TAGGED (host=$h) " +
            "AGGREGATE (count(value), sum(value))").rows
          val (n, s) = streamSums(h)
          if (q.size != 1 || agg(q.head, "count_value") != n || agg(q.head, "sum_value") != s)
            res.wrong(s"streamed host $h: ${q.map(_.aggregated)}, want count $n sum $s")
        }
      } finally c.close()
    }
    res.metric("ingest.reopen_read_ms_p50", Stats.median(readLat.asScala.toSeq), "ms")
  }
}
