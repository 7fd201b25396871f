package graft

import graft.hooks._
import graft.model.{DataPoint, FieldValue}
import graft.streaming.Ingest.IngestRule
import graft.tsdb._
import java.nio.file.Files

/** Semantics of the generic hook registry (the analog of the reference's
  * event bus, `hooks/hooks.go:23-57`, pinned by `hooks/hooks_test.go`):
  * sync Pre listeners veto and rewrite in priority order, Post listeners
  * observe (async tracked to shutdown), and the four shipped listeners
  * (outlier, cardinality, WAF, ingest guard) ride the same registry. */
class HooksSpec extends SparkSpec {

  def withEngine(f: TsdbEngine => Unit): Unit = {
    val dir = Files.createTempDirectory("graft_hooks").toString
    try f(new TsdbEngine(spark, s"$dir/db"))
    finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  def pt(metric: String, host: String, ts: Long, v: Double): DataPoint =
    DataPoint(metric, Map("host" -> host), ts, Map("value" -> FieldValue.ofDouble(v)))

  def count(e: TsdbEngine, metric: String): Long =
    e.query(QueryParams(metric, startNs = 0L, endNs = Some(Long.MaxValue / 2))).count()

  test("sync pre-put listener vetoes the write and skips later listeners") {
    withEngine { e =>
      val ran = new java.util.concurrent.CopyOnWriteArrayList[String]
      e.hooks.register(EventType.PrePutDataPoint, HookListener({ ev =>
        ran.add("guard")
        val p = ev.payload.asInstanceOf[Payloads.PrePutDataPoint]
        if (p.point.fields.get("value").flatMap(_.numeric).exists(_ < 0)) Left("negative value")
        else Right(())
      }, prio = 10))
      e.hooks.register(EventType.PrePutDataPoint, HookListener({ _ =>
        ran.add("later"); Right(())
      }, prio = 50))
      val r = e.put(pt("m", "h1", 1000L, -5.0))
      assert(r.isLeft && r.left.exists(_.contains("negative value")))
      assert(ran.toArray.toSeq == Seq("guard"), "veto must skip remaining listeners")
      assert(count(e, "m") == 0, "a vetoed point must not land")
      // a clean point passes both listeners and lands
      ran.clear()
      assert(e.put(pt("m", "h1", 2000L, 5.0)).isRight)
      assert(ran.toArray.toSeq == Seq("guard", "later"))
      assert(count(e, "m") == 1)
    }
  }

  test("pre listeners run in priority order and may rewrite the payload") {
    withEngine { e =>
      val order = new java.util.concurrent.CopyOnWriteArrayList[Int]
      // registered high-priority first; low priority must still run first
      e.hooks.register(EventType.PrePutDataPoint, HookListener({ ev =>
        order.add(90)
        val p = ev.payload.asInstanceOf[Payloads.PrePutDataPoint]
        // second transformer sees the first one's rewrite
        assert(p.point.tags("env") == "prod")
        Right(())
      }, prio = 90))
      e.hooks.register(EventType.PrePutDataPoint, HookListener({ ev =>
        order.add(10)
        val p = ev.payload.asInstanceOf[Payloads.PrePutDataPoint]
        p.point = p.point.copy(tags = p.point.tags + ("env" -> "prod"))
        Right(())
      }, prio = 10))
      assert(e.put(pt("m", "h1", 1000L, 1.0)).isRight)
      assert(order.toArray.toSeq == Seq(10, 90))
      val tags = e.query(QueryParams("m", startNs = 0L, endNs = Some(Long.MaxValue / 2)))
        .select("tags").collect().map(_.getAs[Map[String, String]](0))
      assert(tags.forall(_.get("env").contains("prod")), "stored point must carry the rewrite")
    }
  }

  test("ingest guard listener: batch drops violators, single put is vetoed") {
    withEngine { e =>
      val guard = new Listeners.IngestGuardListener(Seq(
        IngestRule(metric = "temp", field = "value", maxValue = Some(100.0))))
      e.hooks.register(EventType.PrePutDataPoint, guard)
      e.hooks.register(EventType.PrePutBatch, guard)
      // batch: the poison point is dropped, the good ones land (stream parity)
      assert(e.putBatch(Seq(
        pt("temp", "h1", 1000L, 20.0),
        pt("temp", "h2", 2000L, 900.0), // violates
        pt("temp", "h3", 3000L, 30.0))) == Right(2L))
      assert(count(e, "temp") == 2)
      assert(guard.alerts.exists(_.kind == "rejected"))
      // single put: vetoed outright
      assert(e.put(pt("temp", "h4", 4000L, 500.0)).isLeft)
      assert(count(e, "temp") == 2)
    }
  }

  test("async post-compaction listener observes stats; stop() awaits it") {
    withEngine { e =>
      e.inlineMaxRows = 0 // assert FILE lists in the payload: staged layout
      val seen = new java.util.concurrent.atomic.AtomicReference[Payloads.PostCompaction]
      val gate = new java.util.concurrent.CountDownLatch(1)
      e.hooks.register(EventType.PostCompaction, HookListener({ ev =>
        gate.await(10, java.util.concurrent.TimeUnit.SECONDS) // prove async: trigger returns first
        seen.set(ev.payload.asInstanceOf[Payloads.PostCompaction])
        Right(())
      }, async = true))
      assert(e.put(pt("m", "h1", 1000L, 1.0)).isRight)
      assert(e.put(pt("m", "h1", 1000L, 2.0)).isRight) // superseded version → compactable
      assert(e.compact().isRight)
      assert(seen.get() == null, "async listener must not run inline")
      gate.countDown()
      e.hooks.stop() // awaits in-flight async listeners
      val p = seen.get()
      assert(p != null && p.oldFiles.nonEmpty && p.newFiles.nonEmpty && p.bytesWritten > 0)
      // the default-registered WAF listener consumed the same event
      val s = e.compactionStats
      assert(s.events == 1 && s.bytesRead > 0 && s.waf > 0.0)
    }
  }

  test("pre-compaction and pre-snapshot vetoes cancel the operation") {
    withEngine { e =>
      assert(e.put(pt("m", "h1", 1000L, 1.0)).isRight)
      val v0 = e.version
      e.hooks.register(EventType.PreCompaction,
        HookListener(_ => Left("maintenance window closed")))
      assert(e.compact().left.exists(_.contains("maintenance window")))
      assert(e.version == v0, "a vetoed compaction must not commit")
      e.hooks.register(EventType.PreCreateSnapshot, HookListener(_ => Left("no snapshots")))
      val snapDir = Files.createTempDirectory("graft_hooks_snap").toString
      assert(e.snapshot(snapDir).isLeft)
      assert(!Files.isDirectory(java.nio.file.Paths.get(s"$snapDir/_log")))
    }
  }

  test("delete hooks: veto preserves data; post event carries the series key") {
    withEngine { e =>
      assert(e.put(pt("m", "h1", 1000L, 1.0)).isRight)
      val posts = new java.util.concurrent.CopyOnWriteArrayList[Payloads.PostDeleteSeries]
      e.hooks.register(EventType.PreDeleteSeries, HookListener({ ev =>
        val p = ev.payload.asInstanceOf[Payloads.PreDeleteSeries]
        if (p.tags.get("host").contains("protected")) Left("protected series") else Right(())
      }))
      e.hooks.register(EventType.PostDeleteSeries, HookListener({ ev =>
        posts.add(ev.payload.asInstanceOf[Payloads.PostDeleteSeries]); Right(())
      }))
      assert(e.deleteSeries("m", Map("host" -> "protected")).isLeft)
      assert(count(e, "m") == 1)
      assert(posts.isEmpty, "no post event for a vetoed delete")
      assert(e.deleteSeries("m", Map("host" -> "h1")).isRight)
      assert(count(e, "m") == 0)
      assert(posts.size == 1 && posts.get(0).seriesKey == SeriesKey.of("m", Map("host" -> "h1")))
    }
  }

  test("shipped observers: outlier alert on post-put, cardinality on new series") {
    withEngine { e =>
      val outliers = new Listeners.OutlierDetectorListener("value", 0.0, 100.0)
      val cardinality = new Listeners.CardinalityAlerterListener(isAsync = false)
      e.hooks.register(EventType.PostPutDataPoint, outliers)
      e.hooks.register(EventType.PostPutBatch, outliers)
      e.hooks.register(EventType.OnSeriesCreate, cardinality)
      assert(e.put(pt("m", "h1", 1000L, 50.0)).isRight)
      assert(e.put(pt("m", "h1", 2000L, 500.0)).isRight) // outlier, still lands
      assert(e.putBatch(Seq(pt("m", "h2", 3000L, -1.0))).isRight)
      assert(count(e, "m") == 3, "observers never fail the write")
      assert(outliers.alerts.count(_.kind == "outlier") == 2)
      // two distinct series → exactly two cardinality alerts (h1 seen twice)
      assert(cardinality.alerts.map(_.message).toSet ==
        Set(s"new series created: ${SeriesKey.of("m", Map("host" -> "h1"))}",
            s"new series created: ${SeriesKey.of("m", Map("host" -> "h2"))}"))
    }
  }

  test("post listener errors are counted, never propagated; manifest events fire per commit") {
    withEngine { e =>
      val versions = new java.util.concurrent.CopyOnWriteArrayList[Long]
      e.hooks.register(EventType.PostManifestWrite, HookListener({ ev =>
        versions.add(ev.payload.asInstanceOf[Payloads.PostManifestWrite].version); Right(())
      }))
      e.hooks.register(EventType.PostPutDataPoint, HookListener(_ => Left("observer bug")))
      val before = e.hooks.errorCount
      assert(e.put(pt("m", "h1", 1000L, 1.0)).isRight, "post errors must not fail the op")
      assert(e.hooks.errorCount == before + 1)
      assert(e.deletePoint("m", Map("host" -> "h1"), 1000L).isRight)
      assert(versions.toArray.toSeq == Seq(1L, 2L), "one manifest event per commit, in order")
    }
  }

  test("unregister removes a listener; server restart cycles don't accumulate") {
    withEngine { e =>
      val hits = new java.util.concurrent.atomic.AtomicInteger
      val l = HookListener({ _ => hits.incrementAndGet(); Right(()) })
      e.hooks.register(EventType.PostManifestWrite, l)
      assert(e.put(pt("m", "h1", 1000L, 1.0)).isRight)
      assert(hits.get == 1)
      e.hooks.unregister(EventType.PostManifestWrite, l)
      assert(!e.hooks.hasListeners(EventType.PostManifestWrite))
      assert(e.put(pt("m", "h1", 2000L, 2.0)).isRight)
      assert(hits.get == 1, "unregistered listener must not fire")
      // unregistering a never-registered listener is a no-op
      e.hooks.unregister(EventType.PostManifestWrite, l)
      // TCP server lifecycle: stop() must remove its commit-signal
      // listener from the shared engine's registry
      val ex = new graft.nbql.NbqlExecutor(e)
      val srv = new graft.server.GraftTcpServer(ex, 0)
      srv.start()
      assert(e.hooks.hasListeners(EventType.PostManifestWrite))
      srv.stop()
      assert(!e.hooks.hasListeners(EventType.PostManifestWrite),
        "stopped server must not leave its listener behind")
    }
  }

  test("pre-query veto throws; pre-query rewrite narrows the scan") {
    withEngine { e =>
      assert(e.putBatch(Seq(pt("m", "h1", 1000L, 1.0), pt("m", "h2", 2000L, 2.0))).isRight)
      e.hooks.register(EventType.PreQuery, HookListener({ ev =>
        val p = ev.payload.asInstanceOf[Payloads.PreQuery]
        if (p.params.metric == "forbidden") Left("acl: no access")
        else { p.params = p.params.copy(tags = p.params.tags + ("host" -> "h1")); Right(()) }
      }))
      intercept[HookVetoException] {
        e.query(QueryParams("forbidden", startNs = 0L, endNs = Some(Long.MaxValue / 2)))
      }
      assert(count(e, "m") == 1, "rewritten params must constrain the result")
    }
  }

  test("query hooks fire on every serving shape: a GROUP BY TAGS veto is honoured") {
    withEngine { e =>
      assert(e.putBatch(Seq(pt("m", "h1", 1000L, 1.0), pt("m", "h2", 2000L, 2.0))).isRight)
      val ran = new java.util.concurrent.atomic.AtomicInteger()
      e.hooks.register(EventType.PreQuery, HookListener({ ev =>
        val p = ev.payload.asInstanceOf[Payloads.PreQuery]
        if (p.params.metric == "forbidden") Left("acl: no access") else Right(())
      }))
      e.hooks.register(EventType.PostQuery, HookListener({ _ =>
        ran.incrementAndGet(); Right(())
      }))
      val q = QueryParams("m", startNs = 0L, endNs = Some(10000L),
        aggs = Seq(AggSpec("sum", "value")))
      intercept[HookVetoException] {
        e.serve(ByTagsReq(q.copy(metric = "forbidden"), Seq("host")))
      }
      assert(ran.get == 0, "a vetoed query must not run")
      assert(e.serve(ByTagsReq(q, Seq("host"))).rows.length == 2)
      assert(ran.get == 1, "PostQuery must observe the tag-grouped query")
      // the protocol path surfaces the same veto
      val ex = new graft.nbql.NbqlExecutor(e)
      intercept[HookVetoException] {
        ex.execute("QUERY forbidden FROM 0 TO 10000 AGGREGATE (sum(value)) GROUP BY TAGS (host)")
      }
    }
  }
}
