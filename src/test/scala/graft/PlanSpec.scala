package graft

/** Plan-shape regression tests: the scale properties (pushdown, pruning,
  * broadcast joins, shuffle counts) asserted on the ACTUAL physical plans
  * — a wrong-but-correct plan at sf0.01 is a broken plan at 100 TB. */
class PlanSpec extends SparkSpec {

  val sf = "/root/testdata/sf0.001"
  def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  def countIn(p: String, needle: String): Int =
    p.linesIterator.count(_.contains(needle))

  test("filters and column pruning reach the parquet scan") {
    val p = plan("pushdown_scan")
    assert(p.contains("PushedFilters:"))
    assert(p.contains("LessThan(l_quantity,5.0)"), "quantity filter must push down")
    // (PushedFilters display truncates; DataFilters carries the full list)
    assert(p.contains("(l_discount") && p.contains("> 0.05)"),
      "discount filter must push down")
    // projection pruned to exactly the 4 selected columns at the scan
    val scanLine = p.linesIterator.find(_.contains("FileScan parquet")).get
    assert(scanLine.contains("[l_orderkey") && !scanLine.contains("l_extendedprice"),
      s"scan must read only selected columns: $scanLine")
  }

  test("metric + time filters push into the events scan (tag-index analog)") {
    val p = plan("tsdb_raw_scan")
    assert(p.contains("EqualTo(event_type,error)"), "metric filter at the scan")
    assert(p.contains("GreaterThanOrEqual(ts,"), "time range at the scan")
  }

  test("small-dimension joins broadcast, never sort-merge") {
    val p = plan("join_revenue_nation")
    assert(countIn(p, "BroadcastHashJoin") == 3)
    assert(countIn(p, "SortMergeJoin") == 0)
  }

  test("downsample pipeline runs off a single data shuffle") {
    val p = plan("tsdb_downsample_1h")
    // one hash exchange (series_key, window_start) + one range exchange
    // (presentation sort)
    assert(countIn(p, "Exchange hashpartitioning") == 1, p.linesIterator
      .filter(_.contains("Exchange")).mkString("\n"))
    assert(countIn(p, "Exchange rangepartitioning") <= 1)
    // the exchange key must carry the window bucket: that's what spreads a
    // hot series across tasks instead of one (skew salting)
    val ex = p.linesIterator.find(_.contains("Exchange hashpartitioning")).get
    assert(ex.contains("series_key") && ex.contains("window_start"),
      s"downsample exchange must key on (series_key, window_start): $ex")
  }

  test("downsample of a single hot series spreads across tasks") {
    import graft.tsdb._
    import org.apache.spark.sql.functions.spark_partition_id
    import spark.implicits._
    // ONE series, 500 points over 100 windows — the pathological skew case
    val pts = (0 until 500).map(i =>
      TP("hot", Map("h" -> "1"), i.toLong, Map("v" -> FV.dv(1.0)), i.toLong))
    val df = pts.toDF()
    val params = QueryParams("hot", startNs = 0, endNs = Some(500),
      downsampleNs = Some(5L), aggs = Seq(AggSpec("sum", "v")))
    // AQE's size-based coalescing folds this tiny shuffle to one partition
    // (at real scale it would keep many); disable it to observe KEY spread
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      val (salted, _, _) = QueryEngine.partitionedInput(df, params)
      val spread = salted.select(spark_partition_id()).distinct().count()
      assert(spread > 1, s"hot series must spread across tasks, got $spread partition(s)")
      QueryEngine.timeSalting = false
      try {
        val (unsalted, _, _) = QueryEngine.partitionedInput(df, params)
        assert(unsalted.select(spark_partition_id()).distinct().count() == 1,
          "series_key-only partitioning must serialize a single series (the bug being fixed)")
      } finally QueryEngine.timeSalting = true
    } finally spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
  }

  test("raw scan: one shuffle, ordered limit uses TakeOrdered") {
    val p = plan("tsdb_raw_scan")
    assert(countIn(p, "Exchange hashpartitioning") == 1)
    assert(p.contains("TakeOrderedAndProject") || p.contains("Sort"),
      "limit+order should plan TakeOrdered (no global sort materialization)")
  }

  test("aggregation is partial+final (map-side combine) inside codegen") {
    val df = SparkEntry.queries("tpch_q1")(spark, sf)
    val pre = df.queryExecution.executedPlan.toString
    assert(pre.contains("partial_sum"), "map-side partial aggregation expected")
    df.collect() // finalize the adaptive plan so codegen spans are visible
    val post = df.queryExecution.executedPlan.toString
    assert(post.contains("*("), "whole-stage codegen stages expected in final plan")
    assert(countIn(pre, "Exchange") <= 2)
  }

  test("jaccard near-dup: hashed candidate shuffles, no sort-based window") {
    val p = plan("dedup_jaccard_pairs")
    assert(!p.contains("Window"),
      "prefix selection must ride the hash aggregation, not a sort-based window")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      "candidate generation must stay an equi-join")
    // the inverted-index self-join keys on the 64-bit shingle hash, so the
    // wide exchanges carry longs, not shingle text
    assert(p.contains("xxhash64"), "candidates must be generated on hashed shingles")
  }

  test("range join battery: time-bin hash join, never a nested loop") {
    val p = plan("range_join_attrib")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      "the inequality predicate must verify AFTER a bin equi-join:\n" + p)
  }

  test("IVF-PQ battery: cell hash join over codes, no cross join, fused exprs") {
    val p = plan("ann_pq_topk")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    // the scoring side must carry pq codes, not vectors — the fused
    // expressions are the plan's encode/table nodes
    assert(p.contains("pq_codes") && p.contains("pq_adc_table"), p)
  }

  test("PQ refine battery: shortlist re-rank joins by id, no cross join") {
    val p = plan("ann_pq_refine")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    // stage 1 is the fused ADC plan; stage 2's exact rescore is the
    // fused cosine over id-equality joins — never a corpus scan per query
    assert(p.contains("pq_adc_table") && p.contains("vec_cosine"), p)
  }

  test("frame sample is a narrow map: no shuffle before the output sort") {
    val df = SparkEntry.queries("frame_sample")(spark, sf)
    // drop the battery's presentation orderBy: the operator itself is
    // flatMap over the scan — zero exchanges
    val inner = df.queryExecution.optimizedPlan.collectFirst {
      case s: org.apache.spark.sql.catalyst.plans.logical.Sort => s.child
    }.get
    val p = org.apache.spark.sql.graft.ColumnBridge.ofRows(spark, inner)
      .queryExecution.executedPlan.toString
    assert(countIn(p, "Exchange") == 0, s"frame sampling must not shuffle:\n$p")
    assert(p.contains("MapPartitions") || p.contains("SerializeFromObject"), p)
  }

  test("mixture sample: rates broadcast back, corpus side never shuffles") {
    val df = SparkEntry.queries("mixture_sample")(spark, sf)
    val inner = df.queryExecution.optimizedPlan.collectFirst {
      case s: org.apache.spark.sql.catalyst.plans.logical.Sort => s.child
    }.get
    val p = org.apache.spark.sql.graft.ColumnBridge.ofRows(spark, inner)
      .queryExecution.executedPlan.toString
    assert(countIn(p, "BroadcastHashJoin") >= 1, p)
    assert(countIn(p, "SortMergeJoin") == 0,
      s"the corpus side must meet the tiny rate frame via broadcast:\n$p")
  }

  test("semantic dedup battery: bucketed candidate joins, no cross join") {
    val p = plan("semantic_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      "pair generation must stay IVF-bucketed:\n" + p)
  }

  test("indexed ANN battery: probed cells prune as cid PARTITION filters") {
    val p = plan("ann_pq_topk_indexed")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    // the corpus side is the materialized code scan, pruned to the probed
    // cells at the PARTITION level (nprobe/nlist of the index read)
    assert(p.contains("PartitionFilters") &&
      p.linesIterator.exists(l => l.contains("PartitionFilters") && l.contains("cid")),
      s"cid partition pruning missing:\n$p")
  }

  test("shard assign: data cumsum windows on bucket; offsets broadcast back") {
    val p = plan("shard_assign")
    // exactly two Windows: the tiny bucket-offset prefix (empty partition
    // spec over the aggregated bucket frame) and the per-bucket local
    // cumsum over the data — which MUST be partitioned by bucket
    assert(countIn(p, "Window") == 2, p)
    assert(p.linesIterator.exists(l =>
      l.contains("windowspecdefinition(bucket")), s"data window must partition by bucket:\n$p")
    assert(p.contains("BroadcastHashJoin") && countIn(p, "SortMergeJoin") == 0,
      "bucket offsets must broadcast, never shuffle the data side")
  }

  test("ngram top-k: map-side partial counts, TakeOrdered (no global sort)") {
    val p = plan("ngram_topk")
    assert(p.contains("partial_count") || p.contains("partial"),
      "ngram counting must partial-aggregate map-side")
    assert(p.contains("TakeOrderedAndProject"),
      "top-k must plan TakeOrdered, not a materialized global sort")
  }

  test("kmeans assignment stage is a narrow map: no join, no data shuffle") {
    val df = SparkEntry.queries("kmeans_assign")(spark, sf)
    // strip the presentation sort: the assignment itself must be narrow
    val p = df.queryExecution.executedPlan.toString
    assert(countIn(p, "Join") == 0, "centroids are literals — no join expected")
    assert(countIn(p, "Exchange hashpartitioning") == 0,
      s"assignment must not shuffle the vectors:\n$p")
  }

  test("int8 quantize is a pure narrow map over the scan") {
    val df = graft.pipeline.Similarity.int8Quantize(
      graft.tsdb.Tables.load(spark, sf, "embeddings"), "vec_id", "embedding")
    val p = df.queryExecution.executedPlan.toString
    assert(countIn(p, "Exchange") == 0 && countIn(p, "Join") == 0, p)
  }

  test("engine storage: time-ranged query prunes metric AND date partitions") {
    import graft.model.{DataPoint, FieldValue}
    import graft.tsdb._
    val dir = java.nio.file.Files.createTempDirectory("graft_prune").toString
    try {
      val e = new TsdbEngine(spark, s"$dir/db")
      e.inlineMaxRows = 0 // this test asserts FILE partition pruning
      val day = TsdbEngine.DayNs
      e.putBatch((0 until 4).flatMap(d => Seq(
        DataPoint("cpu", Map("h" -> "1"), d * day + 5L,
          Map("v" -> FieldValue.ofDouble(d))),
        DataPoint("mem", Map("h" -> "1"), d * day + 5L,
          Map("v" -> FieldValue.ofDouble(d))))))
      val q = e.query(QueryParams("cpu", startNs = day, endNs = Some(2 * day + 10)))
      val p = q.queryExecution.executedPlan.toString
      val scan = p.linesIterator.find(_.contains("FileScan parquet")).getOrElse("")
      val full = p.linesIterator.filter(_.contains("PartitionFilters")).mkString("\n")
      assert(full.contains("metric"), s"metric partition filter expected:\n$full")
      assert(full.contains("date"), s"date partition filter expected:\n$full")
      // the scan enumerates only the two in-range date directories of one
      // metric: 2 of 8 (metric × date) leaf partitions survive pruning
      assert(q.count() == 2)
      assert(scan.nonEmpty)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  /** Assert on the PLAN TREE, not its string: AQE's toString interleaves
    * pre-AQE "Initial Plan" sections and the cached relations' own build
    * plans (whose one-time exchanges are not per-query work). With AQE
    * off, the tree is plain, `InMemoryTableScanExec` is a leaf (its
    * build plan is outside the tree), and hash-exchange membership is an
    * exact node test. */
  private def withAqeOff[T](f: => T): T = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try f finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }
  private def hashExchanges(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
        if s.outputPartitioning
          .isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => s
    }
  private def cachedScans(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => s
    }

  test("rollup-routed downsample re-aggregates with NO hash exchange") {
    import graft.model.{DataPoint, FieldValue}
    import graft.tsdb._
    val dir = java.nio.file.Files.createTempDirectory("graft_rollup_plan").toString
    try withAqeOff {
      val e = new TsdbEngine(spark, s"$dir/db")
      val min = 60L * 1000000000L
      e.putBatch((0 until 120).map(i =>
        DataPoint("cpu", Map("h" -> (i % 3).toString), i * min,
          Map("v" -> FieldValue.ofDouble(i)))))
      e.registerRollup("cpu", min, Seq("v"))
      val q = QueryParams("cpu", startNs = 0L, endNs = Some(120 * min - 1),
        downsampleNs = Some(60 * min),
        aggs = Seq(AggSpec("sum", "v"), AggSpec("count", "*")))
      val df = e.queryServing(q)
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("v__sum"), s"expected the routed rollup plan:\n$p")
      // the materialized rollup frame is hash-clustered on series_key — a
      // subset of the (series_key, target_window) grouping — so the
      // re-aggregation needs no exchange
      assert(hashExchanges(df).isEmpty,
        s"rollup re-aggregation must ride the cached clustering:\n$p")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("incremental serving view: delta assembly adds no shuffle to a raw scan") {
    import graft.model.{DataPoint, FieldValue}
    import graft.tsdb._
    val dir = java.nio.file.Files.createTempDirectory("graft_serv_plan").toString
    try withAqeOff {
      val e = new TsdbEngine(spark, s"$dir/db")
      val day = TsdbEngine.DayNs
      e.putBatch((0 until 3).map(d =>
        DataPoint("cpu", Map("h" -> "1"), d * day + 5L,
          Map("v" -> FieldValue.ofDouble(d)))))
      e.queryServing(QueryParams("cpu", endNs = Some(10 * day))).collect()
      // a one-day append takes the delta path...
      e.putBatch(Seq(DataPoint("cpu", Map("h" -> "1"), 2 * day + 6L,
        Map("v" -> FieldValue.ofDouble(9.0)))))
      var df: org.apache.spark.sql.DataFrame = null
      assert(maintenanceDelta(e) {
        df = e.queryServing(QueryParams("cpu", endNs = Some(10 * day)))
      } == Map("serving_build_incremental" -> 1L))
      // ...and the served raw scan is filters + union over CACHED frames
      assert(cachedScans(df).size >= 2,
        "base + delta cached scans expected:\n" + df.queryExecution.executedPlan)
      assert(hashExchanges(df).isEmpty,
        "delta assembly must not introduce a hash shuffle:\n" +
          df.queryExecution.executedPlan)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("ts analytics plans: single-scan pivots, bounded exchanges, no joins") {
    // correlate reads BOTH metrics in one scan and pivots by conditional
    // aggregation — a join-based alignment would double the scan and add
    // a shuffle pair
    val corr = plan("ts_correlate")
    assert(countIn(corr, "Join") == 0, s"correlate must not join:\n$corr")
    assert(countIn(corr, "FileScan") == 1, "one scan for both metrics")

    // the per-series family rides ONE series_key exchange end-to-end:
    // dedup window, analytics window, and (for twa) the grouped
    // aggregation all cluster on supersets of the partitioning key
    val twa = plan("ts_twa")
    assert(countIn(twa, "Exchange hashpartitioning") == 1, twa)
    assert(countIn(twa, "Join") == 0)

    val ewma = plan("ts_ewma")
    assert(countIn(ewma, "Exchange hashpartitioning") == 1, ewma)
    assert(ewma.contains("ewma"), "native window function in the plan")

    val rate = plan("ts_rate")
    assert(countIn(rate, "Exchange hashpartitioning") == 1, rate)

    val holt = plan("ts_holt")
    assert(countIn(holt, "Exchange hashpartitioning") == 1, holt)
    assert(holt.contains("holt_trend"), "native window function in the plan")

    // group-by-tags: engine exchange + partial-agg regroup, nothing more
    val gbt = plan("tsdb_groupby_tag")
    assert(countIn(gbt, "Exchange hashpartitioning") <= 2, gbt)
    assert(countIn(gbt, "Join") == 0)

    // cardinality: merge exchange + the two-level exact distinct's pair —
    // no join, and nothing shuffles raw points twice
    val card = plan("ts_cardinality")
    assert(countIn(card, "Join") == 0)
    assert(countIn(card, "Exchange hashpartitioning") <= 3, card)

    // delta/irate ride the same single series_key exchange as rate, plus
    // the per-series partial-agg regroup (a superset key — Spark reuses
    // the clustering, so ≤2 hash exchanges and never a join)
    val del = plan("ts_delta")
    assert(countIn(del, "Join") == 0)
    assert(countIn(del, "Exchange hashpartitioning") <= 2, del)
    val ir = plan("ts_irate")
    assert(countIn(ir, "Join") == 0)
    assert(countIn(ir, "Exchange hashpartitioning") <= 2, ir)

    // predict_linear's ANALYTIC needs no ordered window: plain
    // commutative moments with map-side partials. The only Window in the
    // plan is the engine's latest-version merge (row_number dedup, with
    // its WindowGroupLimit pre-filter) — the analytic itself adds none.
    val pred = plan("ts_predict")
    assert(countIn(pred, "Window [row_number") == 1 &&
      countIn(pred, "Window [") == 1,
      s"only the merge dedup may window:\n$pred")
    assert(countIn(pred, "Join") == 0)
    assert(countIn(pred, "Exchange hashpartitioning") <= 2, pred)
    assert(pred.contains("partial_"), "moments must combine map-side")
  }

  test("probe training: corpus reduces to ONE aggregate row, no window/join") {
    // the entire training scan is a single global aggregation with
    // map-side partials — no Window, no Join, no per-row driver work
    val p = plan("quality_probe_gram")
    assert(countIn(p, "Window") == 0, p)
    assert(countIn(p, "Join") == 0, p)
    assert(countIn(p, "FileScan") == 1)
    assert(p.contains("partial_"), "Gram sums must combine map-side")
    // scoring is a pure narrow map: scan → project, zero exchanges beyond
    // the presentation sort
    val sc = plan("quality_probe_score")
    assert(countIn(sc, "Window") == 0 && countIn(sc, "Join") == 0, sc)
    assert(countIn(sc, "Exchange hashpartitioning") == 0,
      s"scoring must not shuffle:\n$sc")
  }

  test("bucketed layout: co-located join and aggregation plan ZERO exchanges") {
    import graft.pipeline.Bucketing
    import graft.tsdb.Tables
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_bucket").toString
    val docs = Tables.load(spark, sf, "documents").select("doc_id", "lang", "n_chars")
    val embs = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id").as("doc_id"), col("label"))
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      Bucketing.writeBucketed(docs, "b_docs", s"$dir/docs", 8, "doc_id", Seq("doc_id"))
      Bucketing.writeBucketed(embs, "b_embs", s"$dir/embs", 8, "doc_id", Seq("doc_id"))
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

      val j = spark.table("b_docs").join(spark.table("b_embs"), "doc_id")
      val jp = j.queryExecution.executedPlan.toString
      assert(countIn(jp, "Exchange") == 0,
        s"bucket-wise join must not shuffle:\n$jp")
      assert(countIn(jp, "SortMergeJoin") == 1, jp)
      // same rows as the plain (shuffling) join
      assert(j.count() == docs.join(embs, "doc_id").count())

      // aggregation on the bucket key is exchange-free too
      val g = spark.table("b_docs").groupBy("doc_id")
        .agg(sum("n_chars").as("s"))
      assert(countIn(g.queryExecution.executedPlan.toString, "Exchange") == 0,
        "bucket-key aggregation must not shuffle")
      assert(g.count() == docs.select("doc_id").distinct().count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      spark.sql("DROP TABLE IF EXISTS b_docs")
      spark.sql("DROP TABLE IF EXISTS b_embs")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }
}
