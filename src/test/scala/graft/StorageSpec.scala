package graft

import graft.model.{DataPoint, FieldValue}
import graft.tsdb._
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Transactional-storage guarantees of the TxLog-backed engine: no torn
  * reads, exactly-once streaming appends, restart recovery, time travel,
  * incremental snapshots, vacuum — the semantics the reference gets from
  * its WAL + snapshot manager (`wal/wal.go`, `snapshot/manager.go`,
  * `engine2/engine_recovery_test.go`). */
class StorageSpec extends SparkSpec {

  def withDir(f: String => Unit): Unit = {
    val dir = Files.createTempDirectory("graft_storage").toString
    try f(dir)
    finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  def pt(metric: String, host: String, ts: Long, v: Double): DataPoint =
    DataPoint(metric, Map("host" -> host), ts, Map("value" -> FieldValue.ofDouble(v)))

  def count(e: TsdbEngine, metric: String): Long =
    e.query(QueryParams(metric, startNs = 0L, endNs = Some(Long.MaxValue / 2))).count()

  test("uncommitted files are invisible (no torn reads)") {
    withDir { dir =>
      val e = new TsdbEngine(spark, s"$dir/db")
      assert(e.putBatch(Seq(pt("m", "h1", 1000L, 1.0), pt("m", "h1", 2000L, 2.0))).isRight)
      assert(count(e, "m") == 2)
      // simulate a crash mid-append: a file appears in the data directory
      // (even a VALID parquet file) without a log commit
      val stray = e.loadPoints().get.limit(1)
      val tmp = s"$dir/stray"
      stray.write.parquet(tmp)
      val strayFile = Files.walk(Paths.get(tmp)).iterator()
      var copied = false
      strayFile.forEachRemaining { p =>
        if (!copied && p.getFileName.toString.endsWith(".parquet")) {
          val dst = Paths.get(s"$dir/db/data/metric=m/date=1970-01-01/torn-${p.getFileName}")
          Files.createDirectories(dst.getParent)
          Files.copy(p, dst)
          copied = true
        }
      }
      assert(copied)
      val e2 = new TsdbEngine(spark, s"$dir/db") // fresh reader, same log
      assert(count(e2, "m") == 2, "a file without a commit must stay invisible")
    }
  }

  test("idempotent txn appends: a replayed micro-batch commits nothing") {
    withDir { dir =>
      val e = new TsdbEngine(spark, s"$dir/db")
      import spark.implicits._
      def batch(v: Double) = Seq(
        TsdbEngine.StoredPoint("m", Map("host" -> "h1"), 1000L,
          Map("value" -> TsdbEngine.StoredValue(Some(v), None, None, None)),
          e.nextSeq())).toDF()
      e.putDF(batch(1.0), txn = Some(("appA", 0L)))
      assert(count(e, "m") == 1)
      val vBefore = e.version
      e.putDF(batch(99.0), txn = Some(("appA", 0L))) // checkpoint replay
      assert(e.version == vBefore, "replayed batch must not commit")
      assert(count(e, "m") == 1)
      e.putDF(batch(2.0), txn = Some(("appA", 1L))) // next batch lands
      assert(count(e, "m") == 1) // same (series, ts): merge keeps latest
      assert(e.loadPoints().get.count() == 2)
    }
  }

  test("restart recovery: new engine sees committed state, seq continues") {
    withDir { dir =>
      val e = new TsdbEngine(spark, s"$dir/db")
      e.putBatch(Seq(pt("m", "h1", 1000L, 1.0)))
      e.deleteSeries("m", Map("host" -> "gone"))
      val e2 = new TsdbEngine(spark, s"$dir/db")
      assert(count(e2, "m") == 1)
      assert(e2.loadTombstones().size == 1)
      // the seq counter resumes ABOVE every committed seq (an uncommitted
      // draw may be reissued — like a WAL, only written entries persist)
      val maxCommitted = e2.loadTombstones().map {
        case SeriesTombstone(_, _, s) => s; case t => fail(s"unexpected $t")
      }.max
      assert(e2.nextSeq() > maxCommitted, "seq high-water mark must survive restart")
    }
  }

  test("time travel: readAt older version; restoreVersion rolls back in place") {
    withDir { dir =>
      val e = new TsdbEngine(spark, s"$dir/db")
      e.putBatch(Seq(pt("m", "h1", 1000L, 1.0)))
      val v1 = e.version
      e.putBatch(Seq(pt("m", "h1", 2000L, 2.0)))
      assert(e.loadPoints().get.count() == 2)
      assert(e.readAt(v1).count() == 1)
      assert(e.restoreVersion(v1).isRight)
      assert(e.loadPoints().get.count() == 1)
      assert(count(e, "m") == 1)
    }
  }

  test("date partitioning: one directory per day, vacuum drops compacted files") {
    withDir { dir =>
      val e = new TsdbEngine(spark, s"$dir/db")
      e.inlineMaxRows = 0 // this test asserts the staged FILE layout
      val day = TsdbEngine.DayNs
      e.putBatch(Seq(pt("m", "h1", 5L, 1.0), pt("m", "h1", day + 5L, 2.0),
        pt("m", "h1", 2 * day + 5L, 3.0)))
      val dates = Files.list(Paths.get(s"$dir/db/data/metric=m")).iterator()
      val dateDirs = new scala.collection.mutable.ArrayBuffer[String]
      dates.forEachRemaining(p => dateDirs += p.getFileName.toString)
      assert(dateDirs.sorted == Seq("date=1970-01-01", "date=1970-01-02", "date=1970-01-03"))
      // overwrite one point, compact: merge materialized, old files vacuumed
      e.putBatch(Seq(pt("m", "h1", 5L, 10.0)))
      val before = Files.walk(Paths.get(s"$dir/db/data")).iterator()
      var nBefore = 0
      before.forEachRemaining(p => if (p.toString.endsWith(".parquet")) nBefore += 1)
      e.compact()
      var nAfter = 0
      Files.walk(Paths.get(s"$dir/db/data")).iterator()
        .forEachRemaining(p => if (p.toString.endsWith(".parquet")) nAfter += 1)
      assert(nAfter < nBefore, s"vacuum must shrink storage ($nBefore -> $nAfter)")
      assert(count(e, "m") == 3)
      val vals = e.query(QueryParams("m", startNs = 0L, endNs = Some(day)))
        .select(col("fields").getItem("value").getField("d")).collect().map(_.getDouble(0))
      assert(vals.toSeq == Seq(10.0))
    }
  }

  test("retention: expired points dropped at compaction time, not query time") {
    withDir { dir =>
      val e = new TsdbEngine(spark, s"$dir/db")
      val day = TsdbEngine.DayNs
      val now = 10 * day
      e.putBatch(Seq(pt("m", "h1", 1 * day, 1.0), pt("m", "h1", 5 * day, 2.0),
        pt("m", "h1", 9 * day, 3.0)))
      e.retentionPeriodNs = Some(4 * day) // cutoff = day 6
      // reference semantics: expired rows stay VISIBLE until a compaction
      assert(count(e, "m") == 3)
      e.compact(nowNs = Some(now))
      val ts = e.query(QueryParams("m", startNs = 0L, endNs = Some(now)))
        .select("timestamp").collect().map(_.getLong(0)).sorted.toSeq
      assert(ts == Seq(9 * day), s"only the unexpired point survives: $ts")
      // no retention configured → compaction never drops by age
      e.retentionPeriodNs = None
      e.compact(nowNs = Some(100 * day))
      assert(count(e, "m") == 1)
    }
  }

  test("enforceRetention drops fully-expired partitions as METADATA — " +
      "no read, no rewrite; boundary rows wait for compact") {
    withDir { dir =>
      // at 100 TB a daily retention pass must not cost a table rewrite:
      // enforceRetention commits `removes` for whole expired date
      // partitions (one manifest write), leaving the boundary partition
      // to compact()'s exact ns filter
      val e = new TsdbEngine(spark, s"$dir/db")
      e.inlineMaxRows = 0 // hive layout, one date partition per day
      val day = TsdbEngine.DayNs
      // days 1, 5, and two points on day 6 straddling a mid-day cutoff
      e.putBatch(Seq(pt("m", "h1", 1 * day, 1.0), pt("m", "h1", 5 * day, 2.0),
        pt("m", "h1", 6 * day + 1000L, 3.0), pt("m", "h1", 9 * day, 4.0)))
      e.retentionPeriodNs = Some(Math.round(3.5 * day)) // cutoff = day 6.5
      val before = e.fileCounts._1
      val vBefore = e.version
      val dropped = e.enforceRetention(nowNs = Some(10 * day))
      assert(dropped == Right(2), s"days 1 and 5 are fully expired: $dropped")
      assert(e.version == vBefore + 1, "ONE metadata commit")
      assert(e.fileCounts._1 == before - 2,
        "no files were written — removes only")
      val ts = e.query(QueryParams("m", startNs = 0L, endNs = Some(20 * day)))
        .select("timestamp").collect().map(_.getLong(0)).sorted.toSeq
      assert(ts == Seq(6 * day + 1000L, 9 * day),
        s"whole expired partitions gone, boundary day-6 row STAYS " +
          s"(compaction-time semantics, advanced per partition): $ts")
      // compact() finishes the job exactly (day-6 row < cutoff dies)
      assert(e.compact(nowNs = Some(10 * day)).isRight)
      assert(count(e, "m") == 1)
      // idempotent / nothing-to-do path
      assert(e.enforceRetention(nowNs = Some(10 * day)) == Right(0))
      // no retention configured → no-op
      e.retentionPeriodNs = None
      assert(e.enforceRetention(nowNs = Some(100 * day)) == Right(0))
      // restart replays the drop
      val e2 = new TsdbEngine(spark, s"$dir/db")
      assert(count(e2, "m") == 1)
    }
  }

  test("enforceRetention drops an L0 file only when EVERY recorded " +
      "date is expired") {
    withDir { dir =>
      val e = new TsdbEngine(spark, s"$dir/db")
      val day = TsdbEngine.DayNs
      import SparkTestSession.spark.implicits._
      def l0batch(id: Long, ts: Long*) = {
        e.putDF(ts.map(t => TsdbEngine.StoredPoint("m", Map("host" -> "h1"),
          t, Map("value" -> TsdbEngine.StoredValue(Some(1.0), None, None, None)),
          e.nextSeq())).toDF(), txn = Some(("ret", id)))
      }
      l0batch(0L, 1 * day)             // fully expired
      l0batch(1L, 2 * day, 9 * day)    // straddles: one live date → kept
      e.retentionPeriodNs = Some(4 * day)
      assert(e.enforceRetention(nowNs = Some(10 * day)) == Right(1))
      val ts = e.query(QueryParams("m", startNs = 0L, endNs = Some(20 * day)))
        .select("timestamp").collect().map(_.getLong(0)).sorted.toSeq
      assert(ts == Seq(2 * day, 9 * day),
        s"the straddling L0 file must be kept whole for compact(): $ts")
    }
  }

  test("incremental snapshot: second snapshot copies only new files") {
    withDir { dir =>
      val e = new TsdbEngine(spark, s"$dir/db")
      e.inlineMaxRows = 0 // this test asserts the staged FILE layout
      e.putBatch(Seq(pt("m", "h1", 1000L, 1.0)))
      val snapDir = s"$dir/snap"
      e.snapshot(snapDir)
      val firstCopy = Files.walk(Paths.get(s"$snapDir/data")).iterator()
      val mtimes = new scala.collection.mutable.HashMap[String, Long]
      firstCopy.forEachRemaining { p =>
        if (p.toString.endsWith(".parquet"))
          mtimes(p.toString) = Files.getLastModifiedTime(p).toMillis
      }
      assert(mtimes.nonEmpty)
      Thread.sleep(20)
      e.putBatch(Seq(pt("m", "h1", 2000L, 2.0)))
      e.snapshot(snapDir)
      // previously-copied files were NOT rewritten (same mtime)...
      mtimes.foreach { case (p, t) =>
        assert(Files.getLastModifiedTime(Paths.get(p)).toMillis == t,
          s"unchanged file recopied: $p")
      }
      // ...and restore from the incremental snapshot sees both points
      val e2 = new TsdbEngine(spark, s"$dir/db2")
      assert(e2.restore(snapDir, overwrite = true).isRight)
      assert(count(e2, "m") == 2)
    }
  }

  test("restore REFUSES while a foreign writer's heartbeat is live; a " +
      "clean close releases the lease; own heartbeat never blocks") {
    withDir { dir =>
      // restore is the one NON-transactional mutation (wholesale root
      // swap) — racing a live writer's folds was "outside documented
      // contract"; the writer heartbeat makes it a loud refusal
      val writer = new TsdbEngine(spark, s"$dir/db")
      assert(writer.putBatch(Seq(pt("m", "h1", 1000L, 1.0))).isRight)
      val snapDir = s"$dir/snap"
      assert(writer.snapshot(snapDir).isRight)
      // snapshots must not carry heartbeats (a copied heartbeat gets a
      // fresh mtime and would block the NEXT restore for a full TTL)
      import scala.collection.JavaConverters._
      assert(!Files.list(Paths.get(s"$snapDir/_log")).iterator().asScala
        .exists(_.getFileName.toString.startsWith("_writer.")),
        "snapshot must strip writer heartbeats")
      // a second (admin) engine on the same LIVE root: refuse the swap
      val admin = new TsdbEngine(spark, s"$dir/db")
      val r = admin.restore(snapDir, overwrite = true)
      assert(r.isLeft && r.left.exists(_.contains("restore refused")),
        s"restore over a live foreign writer must fail loudly, got $r")
      // clean shutdown releases the lease immediately (no TTL wait)
      writer.close()
      assert(admin.restore(snapDir, overwrite = true).isRight)
      assert(count(admin, "m") == 1)
      // an engine's OWN heartbeat never blocks its own restore
      val solo = new TsdbEngine(spark, s"$dir/db2")
      assert(solo.putBatch(Seq(pt("m", "h9", 1000L, 9.0))).isRight)
      assert(solo.restore(snapDir, overwrite = true).isRight)
      assert(count(solo, "m") == 1)
    }
  }

  test("compression codec: every reference codec round-trips; compaction rewrites") {
    withDir { dir =>
      val e = new TsdbEngine(spark, s"$dir/db")
      e.inlineMaxRows = 0 // this test asserts the staged FILE layout
      assert(e.compression == "snappy") // the reference's default
      // every supported codec writes and reads back through the engine
      Seq("zstd", "lz4", "gzip", "none", "snappy").zipWithIndex.foreach {
        case (c, i) =>
          e.setCompression(c)
          assert(e.putBatch(Seq(pt("m", s"h$c", 1000L + i, i.toDouble))).isRight)
      }
      assert(count(e, "m") == 5)
      import scala.collection.JavaConverters._
      def codecsOnDisk(): Set[String] =
        Files.walk(Paths.get(s"$dir/db/data")).iterator().asScala
          .map(_.getFileName.toString).filter(_.endsWith(".parquet"))
          .map { n => n.split('.').toSeq match {
            case parts if parts.length >= 3 => parts(parts.length - 2)
            case _ => "unknown"
          } }.toSet
      // mixed codecs coexist (files keep the codec they were written
      // with; parquet-mr names lz4 "lz4hadoop")
      assert(Set("zstd", "lz4hadoop", "gz", "snappy").subsetOf(codecsOnDisk()))
      // compaction rewrites everything under the CURRENT codec
      e.setCompression("zstd")
      assert(e.compact().isRight)
      e.vacuum()
      assert(codecsOnDisk() == Set("zstd") && count(e, "m") == 5)
      // invalid codec is rejected up front, engine state untouched
      intercept[IllegalArgumentException](e.setCompression("lzma"))
      assert(e.compression == "zstd")
    }
  }

  test("maybeCompact: L0-style trigger fires only past the commit budget") {
    withDir { dir =>
      val e = new TsdbEngine(spark, s"$dir/db")
      e.inlineMaxRows = 0 // this test asserts the staged FILE layout
      (1 to 3).foreach(i => assert(e.putBatch(Seq(pt("m", "h1", i * 1000L, i))).isRight))
      assert(e.uncompactedCommits == 3)
      // under budget: no compaction
      assert(e.maybeCompact(maxUncompacted = 4) == Right(false))
      assert(e.uncompactedCommits == 3)
      // past budget: compacts down to one commit, data intact
      assert(e.putBatch(Seq(pt("m", "h1", 9000L, 9.0))).isRight)
      assert(e.putBatch(Seq(pt("m", "h1", 9500L, 9.5))).isRight)
      assert(e.maybeCompact(maxUncompacted = 4) == Right(true))
      assert(e.uncompactedCommits == 1)
      assert(count(e, "m") == 5)
      // idempotent: immediately after, under budget again
      assert(e.maybeCompact(maxUncompacted = 4) == Right(false))
      intercept[IllegalArgumentException](e.maybeCompact(0))
    }
  }

  test("grace-period vacuum: dereferenced files outlive compaction for readers") {
    withDir { dir =>
      val e = new TsdbEngine(spark, s"$dir/db")
      e.inlineMaxRows = 0 // this test asserts the staged FILE layout
      assert(e.putBatch(Seq(pt("m", "h1", 1000L, 1.0))).isRight)
      assert(e.putBatch(Seq(pt("m", "h1", 2000L, 2.0))).isRight)
      val vOld = e.version
      def parquetCount(): Long = {
        val root = java.nio.file.Paths.get(s"$dir/db/data")
        import scala.collection.JavaConverters._
        Files.walk(root).iterator().asScala
          .count(_.getFileName.toString.endsWith(".parquet"))
      }
      val before = parquetCount()
      // compaction under a grace window keeps the replaced files on disk
      e.vacuumGraceMs = 3600L * 1000
      assert(e.compact().isRight)
      assert(parquetCount() > 0 && parquetCount() >= before,
        "grace must keep the dereferenced files")
      // an older manifest still reads — the long-running-reader contract
      assert(e.readAt(vOld).count() == 2)
      assert(count(e, "m") == 2)
      // grace elapsed (force with 0): dereferenced files go away
      e.vacuum(0L)
      assert(count(e, "m") == 2) // live view unaffected
      assert(parquetCount() < before + 1, "old files vacuumed after grace")
    }
  }

  test("a stray is collected under CONTINUOUS truncation: the graced " +
      "vacuum keys off its FIRST unreferenced observation, not the " +
      "ever-advancing truncation bound") {
    withDir { dir =>
      // crash debris (a moved-in file whose commit never landed) has no
      // remove-commit to date its dereference. The old sound estimate —
      // max(own mtime, truncation bound) — ADVANCES with every
      // truncation, so under sustained ingest a graced vacuum deferred
      // strays until ingest paused for a full grace window (VERDICT r15
      // #2). The first-observation time is equally sound (observed
      // unreferenced ⇒ already dereferenced) and fixed per file.
      val e = new TsdbEngine(spark, s"$dir/db")
      e.inlineMaxRows = 0      // every put commits hive files
      e.checkpointInterval = 4 // checkpoints + truncations flow
      e.foldVacuumGraceMs = 0L // truncation bites immediately → bound recorded
      def put(i: Int) = e.putBatch(Seq(pt("m", s"h$i", i * 1000L, i.toDouble)))
      (0 until 12).foreach(i => assert(put(i).isRight))
      val log = new TxLog(s"$dir/db/_log")
      assert(log.lastTruncationBoundMs().isDefined,
        "test setup: truncation must be running")
      // plant the stray with an OLD mtime (the crash happened long ago)
      val strayDir = Paths.get(s"$dir/db/data/metric=m/date=1970-01-01")
      assert(Files.isDirectory(strayDir), "test setup: hive dir expected")
      val stray = strayDir.resolve("stray-crash-debris.parquet")
      Files.writeString(stray, "crash debris")
      Files.setLastModifiedTime(stray,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 3600_000L))
      val grace = 400L
      e.vacuum(grace) // first graced vacuum: OBSERVES the stray
      assert(Files.exists(stray),
        "the grace window must hold at first observation")
      // ingest (and so truncation) CONTINUES — the truncation bound
      // advances past any fixed cutoff
      (12 until 24).foreach(i => assert(put(i).isRight))
      Thread.sleep(grace + 150)
      (24 until 28).foreach(i => assert(put(i).isRight))
      val boundNow = log.lastTruncationBoundMs().get
      e.vacuum(grace)
      assert(boundNow > System.currentTimeMillis() - grace - 5000,
        "test setup: the truncation bound must be FRESH at collection " +
          "time (the advancing-bound rule alone would defer)")
      assert(!Files.exists(stray),
        "one grace window after first observation the stray must be " +
          "collected even under continuous truncation")
      // live data untouched
      assert(count(e, "m") == 28)
    }
  }

  test("close() releases every persisted block; the root reopens cleanly") {
    withDir { dir =>
      val baseline = spark.sparkContext.getPersistentRDDs.size
      val e = new TsdbEngine(spark, s"$dir/db")
      (0 until 3).foreach(i =>
        assert(e.putBatch(Seq(pt("m", s"h$i", i * 1000L, i.toDouble))).isRight))
      // build Spark-resident serving state: a serving view + a rollup
      e.serve(PointReq(QueryParams("m", startNs = 0L, endNs = Some(1L << 40))))
      e.registerRollup("m", 3600000000000L, Seq("value"))
      e.queryServing(QueryParams("m", startNs = 0L, endNs = Some(1L << 40),
        downsampleNs = Some(3600000000000L),
        aggs = Seq(AggSpec("sum", "value")))).collect()
      e.close()
      assert(spark.sparkContext.getPersistentRDDs.size <= baseline,
        "close() must unpersist every block the engine pinned")
      // storage untouched: the same root reopens and serves
      val e2 = new TsdbEngine(spark, s"$dir/db")
      assert(count(e2, "m") == 3)
      e2.close()
    }
  }

  test("RESTORE drops the old log's cached answers: a reused version " +
      "serves the restored data, not the pre-restore result") {
    withDir { dir =>
      val e = new TsdbEngine(spark, s"$dir/db")
      val snapDir = s"$dir/snap"
      assert(e.putBatch(Seq(pt("m", "h1", 1000L, 1.0))).isRight) // v1
      assert(e.snapshot(snapDir).isRight)
      assert(e.putBatch(Seq(pt("m", "h1", 2000L, 2.0))).isRight) // v2
      val q = QueryParams("m", startNs = 0L, endNs = Some(10000L))
      def stamps(rows: Array[org.apache.spark.sql.Row]): Seq[Long] =
        rows.map(_.getAs[Long]("timestamp")).toSeq.sorted
      assert(stamps(e.serve(PointReq(q)).rows) == Seq(1000L, 2000L)) // cached
      assert(e.restore(snapDir, overwrite = true).isRight)
      // a different point at the reused log version 2
      assert(e.putBatch(Seq(pt("m", "h1", 3000L, 3.0))).isRight)
      assert(e.version == 2L)
      val served = e.serve(PointReq(q))
      assert(served.tier != "cache", "a pre-restore cache entry answered")
      assert(stamps(served.rows) == stamps(e.query(q).collect()))
      assert(stamps(served.rows) == Seq(1000L, 3000L))
      e.close()
    }
  }

  test("RESTORE to an older version: SHOW CARDINALITY ESTIMATE matches the " +
      "exact counts of the restored data") {
    withDir { dir =>
      val e = new TsdbEngine(spark, s"$dir/db")
      val snapDir = s"$dir/snap"
      assert(e.putBatch(Seq(pt("m", "h1", 1000L, 1.0))).isRight)
      assert(e.snapshot(snapDir).isRight)
      assert(e.putBatch(Seq(pt("m", "h2", 2000L, 2.0), pt("m", "h3", 3000L, 3.0))).isRight)
      e.registerCardinalitySummary(baseWindowNs = 1000000000L)
      def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
        df.collect().map(_.toSeq).toSeq
      val before = rows(e.showCardinalityEstimate(None, None))
      assert(before == rows(e.showCardinality(None, None)))
      assert(before.map(_(2)) == Seq(3L))
      assert(e.restore(snapDir, overwrite = true).isRight)
      assert(e.version == 1L)
      val after = rows(e.showCardinalityEstimate(None, None))
      assert(after == rows(e.showCardinality(None, None)),
        s"the pre-restore summary answered: $after")
      assert(after.map(_(2)) == Seq(1L))
      e.close()
    }
  }

  test("commit log race: two writers never drop a commit") {
    withDir { dir =>
      val log = new TxLog(s"$dir/_log")
      val threads = (0 until 4).map { t =>
        new Thread(() => (0 until 10).foreach { i =>
          log.commit(v => LogCommit(v, adds = Seq(s"t$t-$i"), maxSeq = 0L))
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      val s = log.replay()
      assert(s.version == 40L)
      assert(s.files.size == 40, "every add from every writer must survive")
    }
  }
}
