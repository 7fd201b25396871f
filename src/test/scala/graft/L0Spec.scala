package graft

import graft.model.{DataPoint, FieldValue}
import graft.tsdb._
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import scala.collection.JavaConverters._

/** LEVEL-0 storage semantics (round 13): streaming (txn) micro-batch
  * commits land as unpartitioned L0 parquet — metric/date as COLUMNS,
  * shuffle-free, one file per source partition — and [[TsdbEngine
  * .compactL0]] migrates level 0 into the hive layout. The LSM
  * memtable-flush / L0-table shape (cf. the reference's level manifest,
  * `engine2/levels_manifest.go`), adopted because the hive-clustered
  * write was 60-90% of streaming ingest wall-clock (SCALE.md r13: a
  * micro-batch spread over ~150 (metric, date) directories paid ~150
  * parquet writers per batch).
  *
  * Contract pinned here: rows are INDISTINGUISHABLE across levels —
  * every read surface (query merge, tombstones, SHOW, analytics,
  * rollups, subscriptions, time travel) returns identical content
  * whether a row lives in level 0, the hive layout, or moved between
  * them mid-test. */
class L0Spec extends SparkSpec {

  private def withDir(f: String => Unit): Unit = {
    val dir = Files.createTempDirectory("graft_l0").toString
    try f(dir)
    finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  private def txnBatch(e: TsdbEngine, m: String, host: String, ts: Long,
      v: Double) = {
    import SparkTestSession.spark.implicits._
    Seq(TsdbEngine.StoredPoint(m, Map("host" -> host), ts,
      Map("value" -> TsdbEngine.StoredValue(Some(v), None, None, None)),
      e.nextSeq())).toDF()
  }

  private def l0Files(dir: String): Seq[String] = {
    val p = Paths.get(s"$dir/db/data/l0")
    if (!Files.isDirectory(p)) Nil
    else Files.list(p).iterator().asScala.map(_.toString)
      .filter(_.endsWith(".parquet")).toSeq
  }

  private def hiveDirs(dir: String): Seq[String] = {
    val p = Paths.get(s"$dir/db/data")
    if (!Files.isDirectory(p)) Nil
    else Files.list(p).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("metric=")).toSeq
  }

  test("commit routing: txn batches land in level 0, small driver batches " +
      "inline in the log, big driver batches hive-clustered") {
    withDir { dir =>
      val e = new TsdbEngine(spark, s"$dir/db")
      e.putDF(txnBatch(e, "l0.m", "h1", 1000L, 1.0), txn = Some(("app", 0L)))
      assert(l0Files(dir).size == 1, "a txn micro-batch must write level 0")
      assert(!hiveDirs(dir).exists(_.contains("l0.m")),
        "no hive directory until compaction")
      // small driver batch: INLINE in the commit manifest — no file at all
      assert(e.putBatch(Seq(DataPoint("inline.m", Map("host" -> "h1"), 1000L,
        Map("value" -> FieldValue.ofDouble(3.0))))).isRight)
      assert(e.inlineCommitCount == 1, "a small putBatch must commit inline")
      assert(!hiveDirs(dir).exists(_.contains("inline.m")))
      // past the inline row budget: the staged clustered write
      e.inlineMaxRows = 0
      assert(e.putBatch(Seq(DataPoint("bulk.m", Map("host" -> "h1"), 1000L,
        Map("value" -> FieldValue.ofDouble(2.0))))).isRight)
      assert(hiveDirs(dir).exists(_.contains("bulk.m")),
        "an over-budget putBatch keeps the clustered layout")
      // all three levels serve: full content through every basic surface
      assert(e.query(QueryParams("l0.m", startNs = 0L,
        endNs = Some(1L << 60))).count() == 1)
      assert(e.query(QueryParams("inline.m", startNs = 0L,
        endNs = Some(1L << 60))).count() == 1)
      assert(e.showMetrics().collect().map(_.getString(0)).toSeq ==
        Seq("bulk.m", "inline.m", "l0.m"))
      // the LSM ladder: compactInline flushes the manifest rows to
      // LEVEL 0; compactL0 clusters them into the hive layout
      val l0Before = l0Files(dir).size
      e.compactInline()
      assert(e.inlineCommitCount == 0)
      assert(l0Files(dir).size == l0Before + 1,
        "compactInline must flush the inline rows as one level-0 file")
      assert(e.query(QueryParams("inline.m", startNs = 0L,
        endNs = Some(1L << 60))).count() == 1)
      e.compactL0()
      assert(hiveDirs(dir).exists(_.contains("inline.m")),
        "compactL0 must cluster the flushed rows into the hive layout")
      assert(e.query(QueryParams("inline.m", startNs = 0L,
        endNs = Some(1L << 60))).count() == 1)
    }
  }

  test("rows are level-invisible: merge, tombstones, latest-version-wins across levels") {
    withDir { dir =>
      val e = new TsdbEngine(spark, s"$dir/db")
      // hive row first, then a NEWER version of the same (series, ts) via L0
      assert(e.putBatch(Seq(DataPoint("m", Map("host" -> "h1"), 1000L,
        Map("value" -> FieldValue.ofDouble(1.0))))).isRight)
      e.putDF(txnBatch(e, "m", "h1", 1000L, 9.0), txn = Some(("app", 0L)))
      val q = QueryParams("m", startNs = 0L, endNs = Some(1L << 60))
      val rows = e.query(q).collect()
      assert(rows.length == 1, "latest-version merge must span levels")
      assert(rows.head.getAs[Map[String, org.apache.spark.sql.Row]]("fields")
        .get("value").exists(_.getAs[Double]("d") == 9.0),
        "the L0 version (higher seq) must win")
      // a tombstone shadows the L0 row like any other
      assert(e.deletePoint("m", Map("host" -> "h1"), 1000L).isRight)
      assert(e.query(q).count() == 0)
    }
  }

  test("compactL0 migrates level 0 into hive layout, content bit-identical") {
    withDir { dir =>
      val e = new TsdbEngine(spark, s"$dir/db")
      val day = 86400000000000L
      (0 until 3).foreach { i =>
        e.putDF(txnBatch(e, "m", s"h$i", i * day + 1000L, i.toDouble),
          txn = Some(("app", i.toLong)))
      }
      assert(l0Files(dir).size == 3)
      val q = QueryParams("m", startNs = 0L, endNs = Some(1L << 60))
      val before = e.query(q).collect().map(_.toSeq).toSeq
      val vBefore = e.version
      e.compactL0()
      assert(l0Files(dir).isEmpty, "compactL0 must drain level 0")
      val dataDates = Files.list(Paths.get(s"$dir/db/data/metric=m"))
        .iterator().asScala.map(_.getFileName.toString).toSeq.sorted
      assert(dataDates == Seq("date=1970-01-01", "date=1970-01-02", "date=1970-01-03"),
        s"migrated rows must land in their date partitions, got $dataDates")
      assert(e.version == vBefore + 1, "one atomic adds+removes commit")
      val after = e.query(q).collect().map(_.toSeq).toSeq
      assert(after == before, "layout migration must not change content")
      val e2 = new TsdbEngine(spark, s"$dir/db")
      assert(e2.query(q).collect().map(_.toSeq).toSeq == before,
        "a fresh engine (log replay incl. L0 metadata) reads the same rows")
    }
  }

  test("l0CompactThreshold folds level 0 inline once exceeded") {
    withDir { dir =>
      val e = new TsdbEngine(spark, s"$dir/db")
      e.l0CompactThreshold = 2
      e.foldVacuumGraceMs = 0L // assert on-disk state without the grace
      (0 until 4).foreach { i =>
        e.putDF(txnBatch(e, "m", "h1", i * 1000L + 1000L, i.toDouble),
          txn = Some(("app", i.toLong)))
      }
      // 3rd commit exceeded the threshold -> inline migration; the 4th
      // landed in the fresh level 0
      assert(l0Files(dir).size == 1,
        s"expected 1 post-migration L0 file, got ${l0Files(dir).size}")
      assert(hiveDirs(dir).exists(_.contains("m")))
      assert(e.query(QueryParams("m", startNs = 0L,
        endNs = Some(1L << 60))).count() == 4)
    }
  }

  test("rollup maintenance (incl. smoothing) stays exact across L0 commits and migration") {
    withDir { dir =>
      val e = new TsdbEngine(spark, s"$dir/db")
      val Min = 60L * 1000 * 1000 * 1000
      val pts = (0 until 60).map(i => DataPoint("reqs", Map("host" -> s"h${i % 2}"),
        i * Min, Map("value" -> FieldValue.ofDouble((i * 7 % 13).toDouble))))
      assert(e.putBatch(pts).isRight)
      e.registerRollup("reqs", 5 * Min, Seq("value"),
        smooth = Seq(SmoothSpec("value", "ewma", 0.25)))
      val q = QueryParams("reqs", startNs = 0L, endNs = Some(8 * 60 * Min - 1))
      val spec = AnalyzeEwmaBy("value", 0.25, 10 * Min)
      e.analyze(q, spec).collect() // materialize
      // two L0 commits extend the series
      (0 until 2).foreach { i =>
        e.putDF(txnBatch(e, "reqs", "h0", (60 + i) * Min, 5.0 + i),
          txn = Some(("app", i.toLong)))
      }
      val raw = TsAnalytics.ewmaSmoothBy(e.loadPoints().get, q, 0.25, 10 * Min)
        .collect().map(_.toSeq).toSeq
      val (routedDf, tier) = e.analyzeRouted(q, spec)
      val routed = routedDf.collect().map(_.toSeq).toSeq
      assert(tier == "rollup-ewma", tier)
      assert(routed == raw,
        "rollup fold over L0 commits must be bit-identical to the raw fold")
      e.compactL0()
      val routed2 = e.analyze(q, spec).collect().map(_.toSeq).toSeq
      assert(routed2 == raw, "migration must not disturb the routed fold")
    }
  }

  test("random commit-kind interleavings: query == model across levels, " +
      "compactions and restarts") {
    // Storage-level fuzz: hive puts, L0 (txn) puts, point/series deletes,
    // both compaction kinds and engine RESTARTS (log replay incl. the L0
    // key metadata) interleave randomly; after every op the engine's
    // merged read must equal an op-order model (engine seqs are
    // monotonic in call order, so "latest op wins" IS the seq merge).
    val rnd = new scala.util.Random(20260816L)
    val hosts = Seq("a", "b", "c")
    (0 until 3).foreach { round =>
      withDir { dir =>
        def tune(e: TsdbEngine): TsdbEngine = {
          e.l0CompactThreshold = 2
          // size-1 driver batches commit INLINE, bigger ones stage hive —
          // the fuzz then interleaves all three commit kinds
          e.inlineMaxRows = 1
          e.inlineCompactThreshold = 2
          e
        }
        var e = tune(new TsdbEngine(spark, s"$dir/db"))
        // model rows/tombs carry a per-point VERSION mirroring the
        // engine's seq order (each written point / tombstone draws the
        // next version, exactly like nextSeq in call order)
        var ver = 0
        def nextVer(): Int = { ver += 1; ver }
        var rows = Vector.empty[(String, Long, Double, Int)] // host, ts, v, ver
        var ptombs = Vector.empty[(String, Long, Int)]
        var stombs = Vector.empty[(String, Int)]
        var batchId = 0L
        def modelVisible: Set[(String, Long, Double)] = {
          val latest = rows.groupBy(r => (r._1, r._2))
            .map { case (_, vs) => vs.maxBy(_._4) }
          latest.filterNot { case (h, ts, _, v) =>
            ptombs.exists(t => t._1 == h && t._2 == ts && v <= t._3) ||
              stombs.exists(t => t._1 == h && v <= t._2)
          }.map(r => (r._1, r._2, r._3)).toSet
        }
        (0 until 14).foreach { op =>
          rnd.nextInt(8) match {
            case 0 | 1 => // hive putBatch
              val pts = (0 until 1 + rnd.nextInt(3)).map { _ =>
                val (h, ts, v) = (hosts(rnd.nextInt(3)),
                  rnd.nextInt(12).toLong, rnd.nextInt(50).toDouble)
                rows :+= ((h, ts, v, nextVer()))
                DataPoint("m", Map("host" -> h), ts,
                  Map("value" -> FieldValue.ofDouble(v)))
              }
              assert(e.putBatch(pts).isRight)
            case 2 | 3 => // L0 txn put
              import SparkTestSession.spark.implicits._
              val sp = (0 until 1 + rnd.nextInt(3)).map { _ =>
                val (h, ts, v) = (hosts(rnd.nextInt(3)),
                  rnd.nextInt(12).toLong, rnd.nextInt(50).toDouble)
                rows :+= ((h, ts, v, nextVer()))
                TsdbEngine.StoredPoint("m", Map("host" -> h), ts,
                  Map("value" -> TsdbEngine.StoredValue(Some(v), None, None, None)),
                  e.nextSeq())
              }
              e.putDF(sp.toDF(), txn = Some(("fuzz", batchId)))
              batchId += 1
            case 4 => // point delete
              val (h, ts) = (hosts(rnd.nextInt(3)), rnd.nextInt(12).toLong)
              ptombs :+= ((h, ts, nextVer()))
              assert(e.deletePoint("m", Map("host" -> h), ts).isRight)
            case 5 => // series delete
              val h = hosts(rnd.nextInt(3))
              stombs :+= ((h, nextVer()))
              assert(e.deleteSeries("m", Map("host" -> h)).isRight)
            case 6 => // a compaction kind
              rnd.nextInt(3) match {
                case 0 => e.compactL0()
                case 1 => e.compactInline()
                case _ =>
                  assert(e.compact().isRight)
                  // compact folds tombstones into the data; model keeps
                  // them (shadowing is monotone, so keeping is equivalent)
              }
            case 7 => // restart: replay the log, L0 + inline metadata incl.
              e = tune(new TsdbEngine(spark, s"$dir/db"))
          }
          val got = e.query(QueryParams("m", startNs = 0L,
              endNs = Some(1L << 40))).collect().map { r =>
            (r.getAs[Map[String, String]]("tags")("host"),
              r.getAs[Long]("timestamp"),
              r.getAs[Map[String, org.apache.spark.sql.Row]]("fields")("value")
                .getAs[Double]("d"))
          }.toSet
          assert(got == modelVisible,
            s"round $round op $op: engine/model diverged\n got=$got\n exp=$modelVisible")
        }
      }
    }
  }

  test("concurrent wire-shaped writers: no row lost across inline folds") {
    // 10 threads commit unique single-point batches while the tiny
    // thresholds force inline→L0 folds (and L0→hive) to race the
    // writers. The fold records the EXACT versions it folded
    // (LogCommit.foldedInline) — a blunt clear would wipe a commit that
    // landed between the folder's snapshot and its commit, silently
    // losing rows. Every written key must survive.
    withDir { dir =>
      val e = new TsdbEngine(spark, s"$dir/db")
      e.inlineCompactThreshold = 3
      e.l0CompactThreshold = 2
      val (threads, perT) = (10, 12)
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val ts = (0 until threads).map { tid =>
        val t = new Thread(() => try {
          (0 until perT).foreach { i =>
            e.putBatch(Seq(DataPoint("m", Map("host" -> s"h$tid"),
              i.toLong * 1000L,
              Map("value" -> FieldValue.ofDouble(tid * 1000.0 + i)))))
              .fold(sys.error, identity)
          }
        } catch { case x: Throwable => errs.add(x); () })
        t.start(); t
      }
      ts.foreach(_.join())
      assert(errs.isEmpty, s"writer failed: ${Option(errs.peek())}")
      val got = e.query(QueryParams("m", startNs = 0L,
        endNs = Some(1L << 40))).collect()
        .map(r => (r.getAs[Map[String, String]]("tags")("host"),
          r.getAs[Long]("timestamp"))).toSet
      val want = (for (tid <- 0 until threads; i <- 0 until perT)
        yield (s"h$tid", i.toLong * 1000L)).toSet
      assert(got == want,
        s"lost ${(want -- got).size} rows, phantom ${(got -- want).size}")
      // restart: the fold/clear history replays to the same content
      val e2 = new TsdbEngine(spark, s"$dir/db")
      assert(e2.query(QueryParams("m", startNs = 0L,
        endNs = Some(1L << 40))).count() == want.size)
    }
  }

  test("retained ring byte counter stays EXACT under concurrent " +
      "writers and eviction churn") {
    // ADVICE r14: the eviction loop's hard counter reset could race a
    // concurrent appendPoints' addAndGet, permanently under-counting
    // and silently disabling the byte budget. Eviction now only ever
    // subtracts per polled entry, so at quiescence the running counter
    // must equal the ground-truth sum over live entries — under a
    // byte budget small enough that every writer forces evictions.
    withDir { dir =>
      val e = new TsdbEngine(spark, s"$dir/db")
      e.recentPutsMaxBytes = 4096L // continuous eviction churn
      val (threads, perT) = (8, 25)
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val ts = (0 until threads).map { tid =>
        val t = new Thread(() => try {
          (0 until perT).foreach { i =>
            e.putBatch(Seq(DataPoint("m", Map("host" -> s"ring-$tid-$i"),
              i.toLong * 1000L,
              Map("value" -> FieldValue.ofDouble(i.toDouble)))))
              .fold(sys.error, identity)
          }
        } catch { case x: Throwable => errs.add(x); () })
        t.start(); t
      }
      ts.foreach(_.join())
      assert(errs.isEmpty, s"writer failed: ${Option(errs.peek())}")
      assert(e.recentPutsRetainedBytes == e.recentPutsExactBytes,
        s"running counter ${e.recentPutsRetainedBytes} != ground truth " +
          s"${e.recentPutsExactBytes} — eviction raced an insert's accounting")
      assert(e.recentPutsExactBytes > 0L,
        "test setup: the ring should retain something at the end")
    }
  }

  test("subscription commit reads and time travel see L0 commits") {
    withDir { dir =>
      val e = new TsdbEngine(spark, s"$dir/db")
      val v0 = e.version
      e.putDF(txnBatch(e, "m", "h1", 1000L, 1.0), txn = Some(("app", 0L)))
      val v1 = e.version
      assert(v1 == v0 + 1)
      val (puts, tombs) = e.commitChanges(v1)
      assert(tombs.isEmpty)
      val rows = puts.get.collect()
      assert(rows.length == 1 &&
        rows.head.getAs[String]("metric") == "m" &&
        rows.head.getAs[Long]("timestamp") == 1000L,
        "the subscription path must read an L0 commit's rows")
      e.putDF(txnBatch(e, "m", "h1", 2000L, 2.0), txn = Some(("app", 1L)))
      assert(e.readAt(v1).count() == 1, "time travel across L0 versions")
      assert(e.loadPoints().get.count() == 2)
    }
  }

  test("compact() folds EXACT inline versions and tombstone seqs — " +
      "a commit racing the compactor survives at replay") {
    withDir { dir =>
      // engine-level: compact's commit must record foldedInline /
      // clearTombsUpToSeq, never the blunt admin clears (compact runs
      // from PostPutBatch hooks and schedulers DURING ingest — a blunt
      // clearInline wipes an acked inline commit that landed between the
      // compactor's snapshot and its commit; same for a racing delete)
      val e = new TsdbEngine(spark, s"$dir/db")
      def dp(ts: Long, v: Double) = DataPoint("m", Map("host" -> "a"), ts,
        Map("value" -> FieldValue.ofDouble(v)))
      assert(e.putBatch(Seq(dp(1000L, 1.0))).isRight) // inline commit v1
      assert(e.putBatch(Seq(dp(2000L, 2.0))).isRight) // inline commit v2
      assert(e.deletePoint("m", Map("host" -> "a"), 1000L).isRight) // v3
      assert(e.compact().isRight)
      val log = new TxLog(s"$dir/db/_log")
      val c = log.read(e.version)
      assert(!c.clearInline && !c.clearTombs,
        "compact must not blunt-clear inline rows or tombstones")
      assert(c.foldedInline.toSet == Set(1L, 2L),
        s"compact must fold exactly the snapshotted inline versions, got ${c.foldedInline}")
      val tombSeq = log.read(3L).tombs.head.seq
      assert(c.clearTombsUpToSeq.contains(tombSeq),
        "compact must clear tombstones only up to the snapshotted seq")
      assert(e.query(QueryParams("m", startNs = 0L,
        endNs = Some(1L << 40))).count() == 1)

      // replay-level race ordering: an inline commit and a delete landing
      // AFTER the compactor's snapshot but BEFORE its commit stay live
      val t = new TxLog(s"$dir/race_log")
      val blob = InlineRows.encode(Seq((dp(5000L, 5.0), 100L)))
      t.commit(v => LogCommit(v, inline = Some(blob),
        metrics = Seq("m"), dates = Seq("1970-01-01")))     // snapshotted
      t.commit(v => LogCommit(v, inline = Some(blob),
        metrics = Seq("m"), dates = Seq("1970-01-01")))     // racing put
      t.commit(v => LogCommit(v, tombs = Seq(TsdbEngine.TombRow("point",
        "m", Map("host" -> "a"), 1L, 1L, 10L)), metrics = Seq("m"))) // racing delete
      t.commit(v => LogCommit(v, adds = Seq("metric=m/date=1970-01-01/x.parquet"),
        foldedInline = Seq(1L), clearTombsUpToSeq = Some(5L),
        metrics = Seq("m")))                                // the fold
      val s = t.replay()
      assert(s.inline.map(_.version) == Vector(2L),
        "the racing inline commit must survive an exact fold")
      assert(s.tombs.map(_.seq) == Vector(10L),
        "the racing tombstone must survive a seq-bounded clear")
    }
  }

  test("write-path folds vacuum under a grace window; explicit admin " +
      "folds vacuum immediately") {
    withDir { dir =>
      // threshold-triggered folds fire from the ingest path — a query
      // executing a plan resolved against the pre-fold snapshot must not
      // hit FileNotFound because its L0 files were deleted mid-flight
      val e = new TsdbEngine(spark, s"$dir/db")
      e.inlineCompactThreshold = 2
      e.l0CompactThreshold = 1
      e.foldVacuumGraceMs = 3600000L
      def dp(i: Int) = DataPoint("m", Map("host" -> s"h$i"), i * 1000L,
        Map("value" -> FieldValue.ofDouble(i.toDouble)))
      (0 until 8).foreach(i => assert(e.putBatch(Seq(dp(i))).isRight))
      // the inline→L0 and L0→hive folds both ran from the write path by
      // now; folded-away L0 files are DEAD in the manifest but must
      // still be on disk (grace window)
      assert(e.fileCounts._2 == 0 || l0Files(dir).size >= e.fileCounts._2)
      val dead = l0Files(dir).size - e.fileCounts._2
      assert(dead > 0,
        s"write-path folds must leave dereferenced L0 files on disk " +
          s"(disk=${l0Files(dir).size}, live=${e.fileCounts._2})")
      e.vacuum(0L) // explicit immediate vacuum drops them
      assert(l0Files(dir).size == e.fileCounts._2,
        "an explicit vacuum(0) must drop the folded-away files")
      // explicit admin fold: immediate vacuum (historical semantics)
      val e2 = new TsdbEngine(spark, s"$dir/db2")
      e2.putBatch(Seq(dp(1)))
      e2.compactInline()
      assert(Files.isDirectory(Paths.get(s"$dir/db2/data/l0")))
      e2.compactL0()
      val l0Disk = {
        val p = Paths.get(s"$dir/db2/data/l0")
        if (!Files.isDirectory(p)) 0
        else Files.list(p).iterator().asScala.count(_.toString.endsWith(".parquet"))
      }
      assert(l0Disk == 0, "an explicit compactL0 must vacuum immediately")
    }
  }

  test("retained put ring is byte-bounded, not just commit-bounded") {
    withDir { dir =>
      val e = new TsdbEngine(spark, s"$dir/db")
      e.recentPutsMaxBytes = 2048L
      val versions = (0 until 12).map { i =>
        assert(e.putBatch(Seq(DataPoint("m", Map("host" -> s"host-$i"),
          i * 1000L, Map("value" -> FieldValue.ofDouble(i.toDouble))))).isRight)
        e.version
      }
      assert(e.recentPutsRetainedBytes <= 2048L,
        s"ring must stay under the byte budget, got ${e.recentPutsRetainedBytes}")
      assert(e.commitChangesLocal(versions.head).isEmpty,
        "oldest commits must be evicted once the byte budget is hit")
      assert(e.commitChangesLocal(versions.last).isDefined,
        "the newest commit must stay resident")
    }
  }

  test("torn fold: a crash between the staged write (or move-in) and " +
      "the log commit leaves the pre-fold state; orphans are vacuumed") {
    withDir { dir =>
      val e = new TsdbEngine(spark, s"$dir/db")
      def dp(i: Int) = DataPoint("m", Map("host" -> s"h$i"), i * 1000L,
        Map("value" -> FieldValue.ofDouble(i.toDouble)))
      (0 until 3).foreach(i => assert(e.putBatch(Seq(dp(i))).isRight))
      assert(e.inlineCommitCount == 3)
      // simulate compactInline dying at BOTH crash points: (a) after the
      // staged parquet write, before move-in — a stranded _staging dir;
      // (b) after move-in, before log.commit — a data file the manifest
      // never listed
      import SparkTestSession.spark.implicits._
      val stray = Seq(TsdbEngine.StoredPoint("m", Map("host" -> "GHOST"),
        999L, Map("value" -> TsdbEngine.StoredValue(Some(9.9), None, None,
          None)), 999L)).toDF().withColumn("date", lit("1970-01-01"))
      stray.coalesce(1).write.parquet(s"$dir/db/_staging/tornfold/l0")
      Files.createDirectories(Paths.get(s"$dir/db/data/l0"))
      val src = Files.list(Paths.get(s"$dir/db/_staging/tornfold/l0"))
        .iterator().asScala.find(_.toString.endsWith(".parquet")).get
      Files.copy(src, Paths.get(s"$dir/db/data/l0/torn-orphan.parquet"))
      // restart: readers see EXACTLY the pre-fold state — the inline
      // commits still serve, the ghost row is invisible
      val e2 = new TsdbEngine(spark, s"$dir/db")
      assert(e2.inlineCommitCount == 3,
        "the torn fold must not have consumed the inline commits")
      val got = e2.query(QueryParams("m", startNs = 0L,
        endNs = Some(1L << 40))).collect()
        .map(_.getAs[Map[String, String]]("tags")("host")).toSet
      assert(got == Set("h0", "h1", "h2"),
        s"pre-fold state must be intact and the torn file invisible, got $got")
      // vacuum sweeps both orphans (test collapses the quiet window)
      e2.stagingOrphanMinAgeMs = 0L
      e2.vacuum(0L)
      assert(!Files.exists(Paths.get(s"$dir/db/_staging/tornfold")),
        "the stranded staging dir must be vacuumed")
      assert(!Files.exists(Paths.get(s"$dir/db/data/l0/torn-orphan.parquet")),
        "the un-committed moved-in file must be vacuumed")
      assert(e2.query(QueryParams("m", startNs = 0L,
        endNs = Some(1L << 40))).count() == 3)
    }
  }

  test("write-path fold vacuum deletes ONLY files the fold dereferenced " +
      "— never a data-root sweep") {
    withDir { dir =>
      // At 100× scale the data root holds millions of files; the hot
      // write path must delete from the fold's own dereference list,
      // never Files.walk the root (VERDICT r14 #1). Pinned by behavior:
      // an unreferenced stray in the data root — exactly what a full
      // sweep would delete — SURVIVES write-path folds and falls only
      // to the explicit admin vacuum.
      val e = new TsdbEngine(spark, s"$dir/db")
      e.inlineCompactThreshold = 2
      e.l0CompactThreshold = 1
      e.foldVacuumGraceMs = 0L // folded-away files delete at the fold itself
      def dp(i: Int) = DataPoint("m", Map("host" -> s"h$i"), i * 1000L,
        Map("value" -> FieldValue.ofDouble(i.toDouble)))
      assert(e.putBatch(Seq(dp(0))).isRight)
      // plant a stray AFTER the first commit so the data dir exists
      val strayDir = Paths.get(s"$dir/db/data/metric=ghost/date=1970-01-01")
      Files.createDirectories(strayDir)
      val stray = strayDir.resolve("stray-unreferenced.parquet")
      Files.writeString(stray, "not really parquet")
      (1 until 10).foreach(i => assert(e.putBatch(Seq(dp(i))).isRight))
      // inline→L0 and L0→hive folds ran from the write path; their
      // vacuums (grace 0) must have deleted the folded-away L0 files...
      assert(l0Files(dir).size == e.fileCounts._2,
        s"write-path fold vacuum must delete the dereferenced L0 files " +
          s"(disk=${l0Files(dir).size}, live=${e.fileCounts._2})")
      assert(e.derefLedgerSize == 0,
        "the dereference ledger must drain once its files are deleted")
      // ...but never the stray it did not dereference
      assert(Files.exists(stray),
        "a write-path fold must NOT sweep unreferenced strays in the root")
      e.vacuum(0L) // the admin full sweep is where strays die
      assert(!Files.exists(stray),
        "the explicit admin vacuum must keep the full-sweep semantics")
    }
  }

  test("a restored (re-added) file is never deleted by a later " +
      "write-path fold vacuum") {
    withDir { dir =>
      // restoreVersion is the ONE path that re-adds a previously
      // dereferenced file — the dereference ledger must forget it
      // BEFORE the restore commits, or the next write-path fold's
      // grace-0 vacuum deletes a LIVE file (silent data loss)
      val e = new TsdbEngine(spark, s"$dir/db")
      e.vacuumGraceMs = 3600000L // compact keeps the dead file around
      e.foldVacuumGraceMs = 0L   // fold vacuums bite immediately
      // the restored file must be a HIVE file: a restored L0 file gets
      // consumed (legitimately re-dereferenced) by the very next L0
      // fold, so only a hive re-add leaves a stale ledger entry for a
      // file that stays live — the actual data-loss window
      e.putDF(txnBatch(e, "rr", "h1", 1000L, 7.0)) // txn=None → hive layout
      val v1 = e.version
      assert(e.compact().isRight) // hive file dereferenced, ledger holds it
      assert(e.restoreVersion(v1).isRight) // ...and is live again
      assert(e.query(QueryParams("rr", startNs = 0L,
        endNs = Some(1L << 40))).count() == 1)
      // drive threshold folds from the write path (their vacuum runs
      // with grace 0 against the ledger — the fold grace is
      // max(vacuumGraceMs, foldVacuumGraceMs), so the retention grace
      // that protected the pre-restore window must drop now)
      e.vacuumGraceMs = 0L
      e.inlineCompactThreshold = 2
      e.l0CompactThreshold = 1
      def dp(i: Int) = DataPoint("other", Map("host" -> s"h$i"), i * 1000L,
        Map("value" -> FieldValue.ofDouble(i.toDouble)))
      (0 until 8).foreach(i => assert(e.putBatch(Seq(dp(i))).isRight))
      assert(e.query(QueryParams("rr", startNs = 0L,
        endNs = Some(1L << 40))).count() == 1,
        "the restored file must survive write-path fold vacuums")
      // and a restart still reads it (the file really is on disk)
      val e2 = new TsdbEngine(spark, s"$dir/db")
      assert(e2.query(QueryParams("rr", startNs = 0L,
        endNs = Some(1L << 40))).count() == 1)
    }
  }

  test("a crash between a dereference and its grace expiry is RECOVERED: " +
      "restart reseeds the ledger from the log and a write-path fold " +
      "collects the pre-crash deref — no admin vacuum needed") {
    withDir { dir =>
      // the deref ledger is process memory; the dereference itself is
      // durable (the commit's `removes`). A crash used to orphan the
      // graced file into a stray that only a full admin sweep collected
      // (VERDICT r15 #2) — now engine open reseeds the ledger from the
      // surviving manifests.
      val e1 = new TsdbEngine(spark, s"$dir/db")
      e1.vacuumGraceMs = 3600000L // the deref outlives the "crash"
      e1.putDF(txnBatch(e1, "m", "h1", 1000L, 1.0)) // txn=None → hive file
      val preCompact = Files.walk(Paths.get(s"$dir/db/data")).iterator().asScala
        .filter(_.toString.endsWith(".parquet")).map(_.toString).toSet
      assert(preCompact.nonEmpty)
      assert(e1.compact().isRight) // dereferences them; grace keeps them on disk
      preCompact.foreach(f => assert(Files.exists(Paths.get(f)),
        "test setup: the grace window must keep the dereferenced file"))
      // CRASH: e1 is dropped with its in-memory ledger. Restart:
      val e2 = new TsdbEngine(spark, s"$dir/db")
      assert(e2.derefLedgerSize >= preCompact.size,
        s"restart must reseed the ledger from the log " +
          s"(got ${e2.derefLedgerSize}, want >= ${preCompact.size})")
      // write-path folds (grace collapsed) collect the pre-crash deref
      e2.vacuumGraceMs = 0L
      e2.foldVacuumGraceMs = 0L
      e2.inlineCompactThreshold = 2
      e2.l0CompactThreshold = 1
      def dp(i: Int) = DataPoint("other", Map("host" -> s"h$i"), i * 1000L,
        Map("value" -> FieldValue.ofDouble(i.toDouble)))
      (0 until 8).foreach(i => assert(e2.putBatch(Seq(dp(i))).isRight))
      preCompact.foreach(f => assert(!Files.exists(Paths.get(f)),
        "the write-path fold vacuum must collect the pre-crash deref"))
      // and the live data is untouched
      assert(e2.query(QueryParams("m", startNs = 0L,
        endNs = Some(1L << 40))).count() == 1)
    }
  }

  test("restoreVersion re-keys re-added L0 files: per-metric serving " +
      "sees the restored rows") {
    withDir { dir =>
      val e = new TsdbEngine(spark, s"$dir/db")
      e.vacuumGraceMs = 3600000L // keep dead files for the rollback
      // an L0-only metric: one txn micro-batch, never compacted to hive
      e.putDF(txnBatch(e, "rx", "h1", 1000L, 7.0), txn = Some(("app", 0L)))
      val v1 = e.version
      // delete the series and compact — the metric now has NO hive
      // directory anywhere, and the L0 file is dereferenced
      assert(e.deleteSeries("rx", Map("host" -> "h1")).isRight)
      assert(e.compact().isRight)
      assert(e.query(QueryParams("rx", startNs = 0L,
        endNs = Some(1L << 40))).count() == 0)
      // roll back: the restore commit re-adds the L0 file, whose metric/
      // date keys can only come from the OLD snapshot's l0Keys (its path
      // carries no metric= segment and no hive dir for "rx" exists)
      assert(e.restoreVersion(v1).isRight)
      assert(e.query(QueryParams("rx", startNs = 0L,
        endNs = Some(1L << 40))).count() == 1)
      // the PER-METRIC serving path (metricPoints-backed) must see it too
      val served = e.serve(PointReq(QueryParams("rx", startNs = 0L,
        endNs = Some(1L << 40)))).rows
      assert(served.length == 1,
        "per-metric serving must include a restored L0 file's rows")
    }
  }
}
