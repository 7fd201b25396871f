package graft.tsdb

import graft.model.DataPoint
import graft.tsdb.TsdbEngine.RollupReg
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

/** Everything a [[TsdbEngine]] derives from its commit log, with one
  * owner: the whole-table frame, the result cache, each metric's serving
  * view, rollup frame and driver-resident rows, the cardinality summary
  * frame and the subscription ring. Each piece is keyed by a log version
  * or a metric epoch, so it is only valid for the log it came from;
  * [[release]] drops all of it at once (engine close, and RESTORE, whose
  * root swap can move versions backwards and which installs a new holder).
  *
  * Hits are lock-free map reads. Builds (Spark jobs) run under the
  * holder's lock, never the engine monitor the commit path takes. A
  * released holder is final: hits miss, and a build that finishes on it
  * unpersists its frame instead of installing it. */
private[tsdb] final class Derived(snapshot: () => LogSnapshot) {
  import Derived._

  @volatile private var released = false

  /** Run `f` serialized with every build of this holder. */
  def exclusive[A](f: => A): A = synchronized(f)

  /** Drop every piece; the holder stays final. Waits for an in-flight
    * build, which then finds the holder released. */
  def release(): Unit = {
    released = true
    exclusive {
      metrics.values().forEach(_.state.unpersist())
      metrics.clear()
      card.foreach(_._3.unpersist(blocking = false)); card = None
      table = (-1L, None)
      results.clear()
      ring.clear(); ringBytes.set(0L)
    }
  }

  // ---- whole-table frame, per log version -------------------------------

  @volatile private var table: (Long, Option[DataFrame]) = (-1L, None)

  def tableAt(version: Long)(read: => Option[DataFrame]): Option[DataFrame] = {
    val t = table
    if (t._1 == version && !released) t._2
    else {
      val v = read
      table = (version, v)
      v
    }
  }

  /** Of the entries of `m` that `holds` something evictable, hand the
    * least recently used past `max` of them to `drop`, never `keep`. */
  private def evict[V <: Used](m: java.util.concurrent.ConcurrentHashMap[String, V],
      max: Int, keep: String)(holds: V => Boolean)(drop: (String, V) => Unit): Unit = {
    var over = if (m.size() > max) m.values().stream().filter(holds(_)).count() - max else 0L
    while (over > 0) {
      var eldest: java.util.Map.Entry[String, V] = null
      m.entrySet().forEach { e =>
        if (e.getKey != keep && holds(e.getValue) &&
            (eldest == null || e.getValue.used < eldest.getValue.used)) eldest = e
      }
      over -= 1
      if (eldest == null) over = 0 else drop(eldest.getKey, eldest.getValue)
    }
  }

  // ---- result cache: LRU over collected answers, epoch-checked ----------

  private final class Answer(val epoch: Long, val rows: Array[Row],
      val schema: StructType) extends Used
  private val results = new java.util.concurrent.ConcurrentHashMap[String, Answer]()

  /** The answer cached under `key` ([[QueryCache.keyOf]]) at `epoch`. The
    * caller reads `epoch` after it picked this holder and before this
    * checks `released`, so a hit is never from a root RESTORE swapped
    * away. */
  def cachedResult(key: String, epoch: Long): Option[(Array[Row], StructType)] = {
    val a = results.get(key)
    if (a != null && a.epoch != epoch) results.remove(key, a)
    if (a == null || a.epoch != epoch || released) None
    else { a.used = System.nanoTime(); Some((a.rows, a.schema)) }
  }

  def cacheResult(key: String, epoch: Long, rows: Array[Row], schema: StructType): Unit =
    if (!released && rows.length <= ResultRowsMax) {
      results.put(key, new Answer(epoch, rows, schema))
      evict(results, ResultEntries, key)(_ => true)((k, a) => results.remove(k, a))
    }

  // ---- per-metric state -------------------------------------------------

  private final class Slot(@volatile var state: MetricState) extends Used
  private val metrics = new java.util.concurrent.ConcurrentHashMap[String, Slot]()

  private def epochOf(metric: String): Long =
    snapshot().metricEpoch.getOrElse(metric, 0L)

  /** `get` of the metric's state when it is current: a lock-free hit. */
  private def hit[A](metric: String)(get: MetricState => Option[A]): Option[A] = {
    val e = epochOf(metric)
    val slot = metrics.get(metric)
    if (slot == null || slot.state.epoch != e || released) None
    else { slot.used = System.nanoTime(); get(slot.state) }
  }

  /** `get`, or else under the build lock `build` from the metric's state
    * at the current epoch (a stale one advanced first) and install the
    * state it returns, unpersisting the Spark frames of the least recently
    * used metric past [[MaxMetrics]] (its driver-resident rows stay until
    * its epoch moves). On a released holder the new frames are
    * unpersisted instead. */
  private def derive[A](metric: String)(get: MetricState => Option[A])(
      build: MetricState => (MetricState, A)): A =
    hit(metric)(get).getOrElse(exclusive {
      val e = epochOf(metric)
      val slot = metrics.get(metric)
      val cur =
        if (slot == null) MetricState(e)
        else if (slot.state.epoch == e) slot.state
        else slot.state.advance(e)
      get(cur).getOrElse {
        val (next, out) = build(cur)
        if (released) next.unpersist()
        else {
          metrics.put(metric, new Slot(next))
          evict(metrics, MaxMetrics, metric)(_.state.holdsFrames) { (_, s) =>
            s.state.unpersist()
            s.state = s.state.withoutFrames
          }
        }
        out
      }
    })

  /** `get`, or else `compute` outside the lock and file it with `put` on
    * the state it was computed at (dropped when a commit moved on). */
  private def memoized[A](metric: String)(get: MetricState => Option[A])(
      put: (MetricState, A) => MetricState)(compute: => A): A =
    hit(metric)(get).getOrElse {
      val e = epochOf(metric)
      val a = compute
      exclusive {
        val slot = metrics.get(metric)
        if (slot != null && slot.state.epoch == e && !released)
          slot.state = put(slot.state, a)
      }
      a
    }

  /** The metric's merged serving view; `build(epoch, seed)` makes it,
    * maintaining the previous epoch's `seed` when it can. */
  def serving(metric: String)(build: (Long, Option[ServingMat]) => ServingMat): DataFrame =
    derive(metric)(_.serving.map(_.view)) { st =>
      val m = build(st.epoch, st.seed)
      (st.copy(serving = Some(m), seed = None), m.view)
    }

  /** The metric's persisted rollup frame for `spec`. */
  def rollup(metric: String, spec: RollupReg)(build: => DataFrame): DataFrame =
    derive(metric)(_.rollupFor(spec).flatMap(_.frame)) { st =>
      st.rollup.foreach(_.unpersist())
      val f = build.persist(StorageLevel.MEMORY_AND_DISK)
      (st.copy(rollup = Some(st.rollupFor(spec).getOrElse(RollupState(spec))
        .copy(frame = Some(f)))), f)
    }

  def dropRollup(metric: String): Unit = exclusive {
    val slot = metrics.get(metric)
    if (slot != null) {
      slot.state.rollup.foreach(_.unpersist())
      slot.state = slot.state.copy(rollup = None)
    }
  }

  /** Min stored window_start of the metric's rollup frame for `spec`. */
  def rollupMinWs(metric: String, spec: RollupReg)(compute: => Long): Long =
    memoized(metric)(_.rollupFor(spec).flatMap(_.minWs))((st, mw) =>
      st.onRollup(spec)(_.copy(minWs = Some(mw))))(compute)

  /** Driver-resident rows of the metric's serving view (`spec` None) or
    * rollup frame, collected once per epoch; None when [[Resident.TooBig]]
    * or over `maxRows` (re-checked per call, so lowering it acts at once). */
  def resident(metric: String, spec: Option[RollupReg], maxRows: Long)(
      collect: => Resident): Option[Resident] = {
    val r = spec match {
      case None => memoized(metric)(_.local)((st, r) => st.copy(local = Some(r)))(collect)
      case Some(s) => memoized(metric)(_.rollupFor(s).flatMap(_.local))((st, r) =>
        st.onRollup(s)(_.copy(local = Some(r))))(collect)
    }
    Some(r).filter(r => r.rows != null && r.rows.length <= maxRows)
  }

  // ---- cardinality summary frame, per log version -----------------------

  /** (log version built at, reg built with, persisted frame). */
  private var card: Option[(Long, (Long, Int), DataFrame)] = None

  def cardinality(reg: (Long, Int))(build: => DataFrame): DataFrame = exclusive {
    val v = snapshot().version
    card match {
      case Some((cv, r, df)) if cv == v && r == reg => df
      case old =>
        old.foreach(_._3.unpersist(blocking = false))
        card = None
        val df = build.persist(StorageLevel.MEMORY_AND_DISK)
        if (released) df.unpersist(blocking = false) else card = Some((v, reg, df))
        df
    }
  }

  def dropCardinality(): Unit = exclusive {
    card.foreach(_._3.unpersist(blocking = false)); card = None
  }

  // ---- subscription ring ------------------------------------------------

  /** Driver-originated append commits as rows, by log version, with each
    * entry's estimated heap bytes. */
  private val ring =
    new java.util.concurrent.ConcurrentSkipListMap[Long, (Seq[(DataPoint, Long)], Long)]()
  private val ringBytes = new java.util.concurrent.atomic.AtomicLong(0L)

  def retain(version: Long, pts: Seq[(DataPoint, Long)], bytes: Long,
      maxCommits: Int, maxBytes: Long): Unit = if (!released) {
    ring.put(version, (pts, bytes))
    ringBytes.addAndGet(bytes)
    // eviction only ever SUBTRACTS per polled entry — a hard counter
    // reset here would race a concurrent retain that just added bytes
    // for an entry it is about to insert, permanently under-counting and
    // silently disabling the byte budget. The counter is exact (every
    // insert adds, every poll subtracts), so an empty ring ends the drain.
    var draining = true
    while (draining && (ring.size() > maxCommits || ringBytes.get() > maxBytes)) {
      val e = ring.pollFirstEntry()
      if (e == null) draining = false
      else ringBytes.addAndGet(-e.getValue._2)
    }
  }

  def retained(version: Long): Option[Seq[(DataPoint, Long)]] = {
    val hit = Option(ring.get(version)).map(_._1)
    if (released) None else hit
  }

  def retainedBytes: Long = ringBytes.get()

  def retainedExactBytes: Long = ring.values().stream().mapToLong(_._2).sum()
}

private[tsdb] object Derived {

  /** An entry stamped at its last use, for LRU eviction. */
  abstract class Used { @volatile var used: Long = System.nanoTime() }

  /** Metrics whose Spark frames are kept persisted at once
    * (MEMORY_AND_DISK — an eviction degrades to recompute, never to wrong
    * results). Driver-resident rows are bounded per metric instead. */
  val MaxMetrics = 8
  /** Result-cache entries, and the most rows one entry may hold. */
  val ResultEntries = 256
  val ResultRowsMax = 100000

  /** One metric's materialized serving state: a PERSISTED base frame (the
    * time-clustered full build) plus per-commit date DELTAS — the LSM
    * shape (levels + small recent tables): a later commit's dates are
    * served from its delta, everything else from the base. `view` is the
    * memoized assembled frame queries run against. */
  final case class ServingMat(epoch: Long, base: DataFrame,
      deltas: Vector[(Set[String], DataFrame)], view: DataFrame) {
    def unpersist(): Unit = {
      base.unpersist(blocking = false)
      deltas.foreach(_._2.unpersist(blocking = false))
    }
  }

  /** Driver-resident rows sorted by `keys` (one long per row, for
    * binary-searched slicing). Raw rows (sorted by (timestamp,
    * series_key)) also index by series on first use: [[series]] is built
    * once per Resident and read lock-free after, so rollup rows and
    * untagged reads never pay for it. */
  final case class Resident(rows: Array[Row], keys: Array[Long], schema: StructType) {
    /** One entry per series, in `Utf8Order` of series_key; each holds that
      * series' rows in time order. A series_key two tag maps encode alike
      * (a tag value holding the key separator) gets one entry per tag
      * map, with the same rank. */
    lazy val series: Array[Series] = {
      val iKey = schema.fieldIndex("series_key")
      val iTags = schema.fieldIndex("tags")
      final class Acc(val key: String, val tags: scala.collection.Map[String, String]) {
        val rows = Array.newBuilder[Row]; val ts = Array.newBuilder[Long]
      }
      val byKey = new java.util.HashMap[String, List[Acc]]()
      var i = 0
      while (i < rows.length) {
        val r = rows(i)
        val k = r.getString(iKey)
        val tags = r.getMap[String, String](iTags)
        val accs = byKey.getOrDefault(k, Nil)
        val acc = accs.find(_.tags == tags).getOrElse {
          val a = new Acc(k, tags); byKey.put(k, a :: accs); a
        }
        acc.rows += r; acc.ts += keys(i)
        i += 1
      }
      val keysSorted = byKey.keySet().toArray(new Array[String](0)).sorted(Utf8Order)
      keysSorted.iterator.zipWithIndex.flatMap { case (k, rank) =>
        byKey.get(k).iterator.map(a =>
          new Series(rank, a.tags, a.rows.result(), a.ts.result()))
      }.toArray
    }
  }
  object Resident {
    /** Memoized "over the row bound at this epoch" verdict. */
    val TooBig = Resident(null, null, null)
  }

  /** One series of a raw [[Resident]]: its tags, rows and their
    * timestamps in time order, and `rank`, its series_key's position in
    * `Utf8Order`, so merging series in (timestamp, series_key) order
    * compares two longs. */
  final class Series(val rank: Int, val tags: scala.collection.Map[String, String],
      val rows: Array[Row], val ts: Array[Long])

  /** A rollup spec's persisted frame (None once evicted), with its min
    * stored window_start and driver-resident rows, which outlive it. */
  final case class RollupState(spec: RollupReg, frame: Option[DataFrame] = None,
      minWs: Option[Long] = None, local: Option[Resident] = None) {
    def unpersist(): Unit = frame.foreach(_.unpersist(blocking = false))
  }

  /** Every derived piece of one metric at `epoch`. `seed` is an older
    * epoch's serving state, kept only as the input of incremental
    * maintenance. */
  final case class MetricState(epoch: Long, serving: Option[ServingMat] = None,
      seed: Option[ServingMat] = None, local: Option[Resident] = None,
      rollup: Option[RollupState] = None) {
    def rollupFor(spec: RollupReg): Option[RollupState] = rollup.filter(_.spec == spec)
    def onRollup(spec: RollupReg)(f: RollupState => RollupState): MetricState =
      copy(rollup = rollup.map(r => if (r.spec == spec) f(r) else r))
    def advance(e: Long): MetricState = {
      rollup.foreach(_.unpersist())
      MetricState(e, seed = serving.orElse(seed))
    }
    def holdsFrames: Boolean =
      serving.nonEmpty || seed.nonEmpty || rollup.exists(_.frame.nonEmpty)
    def withoutFrames: MetricState =
      copy(serving = None, seed = None, rollup = rollup.map(_.copy(frame = None)))
    def unpersist(): Unit = {
      serving.foreach(_.unpersist())
      seed.foreach(_.unpersist())
      rollup.foreach(_.unpersist())
    }
  }
}
