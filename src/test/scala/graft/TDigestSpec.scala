package graft

import graft.functions.{TDigest, TDigestFunctions}
import org.apache.spark.sql.functions._

class TDigestSpec extends SparkSpec {
  import spark.implicits._

  test("heavy hitters: MG guarantees hold on a skewed stream across partitions") {
    import graft.functions.HeavyHittersFunctions.heavy_hitters
    // skewed corpus: item i has ~ (50-i)^2/10 occurrences
    val rows = (0 until 50).flatMap(i => Seq.fill((50 - i) * (50 - i) / 10 + 1)(s"w$i"))
    val shuffled = new scala.util.Random(11).shuffle(rows)
    val df = spark.sparkContext.parallelize(shuffled, 8).toDF("w")
    val k = 20
    val hh = df.agg(heavy_hitters(col("w"), k).as("hh"))
      .selectExpr("inline(hh)")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val truth = rows.groupBy(identity).map { case (w, g) => w -> g.size.toLong }
    val n = rows.size.toLong
    // summary bound: at most k-1 tracked items, est <= true <= est + err
    assert(hh.length <= k - 1)
    hh.foreach { case (w, est, err) =>
      assert(est <= truth(w) && truth(w) <= est + err,
        s"$w: est=$est err=$err true=${truth(w)}") }
    // completeness: every item above N/k must be present
    val present = hh.map(_._1).toSet
    truth.filter(_._2 > n / k).keys.foreach(w =>
      assert(present.contains(w), s"frequent item $w missing"))
    // output is sorted (est desc, item asc)
    assert(hh.sortBy { case (w, est, _) => (-est, w) }.sameElements(hh))
  }

  test("sketch core: quantiles of a known distribution within tolerance") {
    val d = new TDigest(100)
    val rnd = new scala.util.Random(7)
    val xs = Array.fill(50000)(rnd.nextDouble() * 1000)
    xs.foreach(d.add(_))
    val sorted = xs.sorted
    def exact(q: Double) = sorted(((sorted.length - 1) * q).toInt)
    for (q <- Seq(0.01, 0.25, 0.5, 0.9, 0.99, 0.999)) {
      val approx = d.quantile(q)
      val err = math.abs(approx - exact(q)) / 1000.0 // relative to range
      assert(err < 0.01, s"q=$q approx=$approx exact=${exact(q)} err=$err")
    }
    assert(d.quantile(0.0) == xs.min)
    assert(d.quantile(1.0) == xs.max)
  }

  test("sketch merges match single-pass within tolerance") {
    val rnd = new scala.util.Random(11)
    val xs = Array.fill(20000)(rnd.nextGaussian() * 50 + 500)
    val whole = new TDigest(100)
    xs.foreach(whole.add(_))
    val parts = xs.grouped(3000).map { chunk =>
      val t = new TDigest(100); chunk.foreach(t.add(_)); t
    }
    val merged = new TDigest(100)
    parts.foreach(merged.merge)
    for (q <- Seq(0.5, 0.95, 0.99))
      assert(math.abs(merged.quantile(q) - whole.quantile(q)) < 5.0,
        s"q=$q merged=${merged.quantile(q)} whole=${whole.quantile(q)}")
  }

  test("serialize/deserialize round-trips") {
    val d = new TDigest(100)
    (1 to 1000).foreach(i => d.add(i.toDouble))
    val r = TDigest.deserialize(d.serialize())
    assert(math.abs(r.quantile(0.5) - d.quantile(0.5)) < 1e-9)
    assert(r.totalWeight == d.totalWeight && r.min == d.min && r.max == d.max)
  }

  test("as a Spark aggregate: distributed sketch ≈ exact percentile") {
    val events = graft.tsdb.Tables.load(spark, "/root/testdata/sf0.01", "events")
      .repartition(8) // force real partial/merge paths
    val row = events.agg(
      TDigestFunctions.tdigest_percentile($"value", 0.95).as("td"),
      percentile($"value", lit(0.95)).as("exact"),
      (max($"value") - min($"value")).as("range")).head()
    val (td, exact, range) = (row.getDouble(0), row.getDouble(1), row.getDouble(2))
    assert(math.abs(td - exact) / range < 0.02, s"td=$td exact=$exact")
    // empty input → NaN (reference empty-accumulator semantics)
    val empty = events.filter($"value" > 1e12)
      .agg(TDigestFunctions.tdigest_percentile($"value", 0.5)).head().getDouble(0)
    assert(empty.isNaN)
  }
}

class QueryCacheSpec extends SparkSpec {
  import graft.tsdb._
  import graft.model._

  test("cache: hit on repeat, canonical tag order, epoch invalidation on write") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cache").toString
    val eng = new TsdbEngine(spark, s"$dir/db")
    try {
      eng.putBatch(Seq(
        DataPoint("m", Map("a" -> "1", "b" -> "2"), 100L, Map("v" -> FieldValue.ofDouble(1.0))),
        DataPoint("m", Map("a" -> "1", "b" -> "2"), 200L, Map("v" -> FieldValue.ofDouble(2.0)))))
      val q1 = QueryParams("m", Map("a" -> "1", "b" -> "2"), endNs = Some(1000))
      val q2 = QueryParams("m", Map("b" -> "2", "a" -> "1"), endNs = Some(1000)) // same, reordered
      assert(eng.serve(PointReq(q1)).rows.length == 2)
      val (h0, m0) = eng.cacheStats
      assert(eng.serve(PointReq(q2)).rows.length == 2) // canonical key → hit
      val (h1, _) = eng.cacheStats
      assert(h1 == h0 + 1, s"expected a cache hit, stats=${eng.cacheStats}")
      // mutation bumps the epoch → stale entry dropped, fresh data served
      eng.putBatch(Seq(
        DataPoint("m", Map("a" -> "1", "b" -> "2"), 300L, Map("v" -> FieldValue.ofDouble(3.0)))))
      assert(eng.serve(PointReq(q1)).rows.length == 3)
      // un-pinned RELATIVE queries are never cached
      val rel = QueryParams("m", relativeNs = Some(1000L))
      eng.serve(PointReq(rel)); eng.serve(PointReq(rel))
      val (h2, _) = eng.cacheStats
      assert(h2 == h1, "relative query without pinned now must bypass the cache")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }
}
