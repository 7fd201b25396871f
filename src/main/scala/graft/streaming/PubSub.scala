package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Real-time subscription semantics (S8, `engine2/pubsub.go`):
  * subscribers receive per-write `DataPointUpdate`s filtered by metric and
  * tag values, where both support a trailing-`*` PREFIX wildcard
  * (`engine2/pubsub.go:34-60`). On Spark the update stream is just the
  * ingest stream (or a table changefeed) and a subscription is a filter —
  * backpressure replaces the reference's drop-on-overflow channel (ST1,
  * a semantics upgrade SURVEY §2.7 calls out). */
object PubSub {

  final case class SubscriptionFilter(metric: String,
      tags: Map[String, String] = Map.empty)

  /** `pat` matches exactly, or by prefix when it ends with `*`; bare `*`
    * matches everything. */
  def patternMatch(c: Column, pat: String): Column =
    if (pat == "*") lit(true)
    else if (pat.endsWith("*")) c.startsWith(pat.dropRight(1))
    else c === pat

  def matches(f: SubscriptionFilter): Column =
    f.tags.foldLeft(patternMatch(col("metric"), f.metric)) {
      case (acc, (k, pat)) => acc && patternMatch(col("tags").getItem(k), pat)
    }

  /** Driver-side form of [[matches]] (same trailing-`*` rules), for
    * updates that never enter a DataFrame — tombstone DELETE
    * notifications on the TCP subscription path. */
  def matchesDriver(f: SubscriptionFilter, metric: String,
      tags: Map[String, String]): Boolean =
    matchesMetric(f, metric) &&
      f.tags.forall { case (k, pat) => tags.get(k).exists(patternMatches(_, pat)) }

  /** Whether `metric` matches the filter's metric pattern alone. */
  def matchesMetric(f: SubscriptionFilter, metric: String): Boolean =
    patternMatches(metric, f.metric)

  private def patternMatches(s: String, pat: String): Boolean =
    pat == "*" || (if (pat.endsWith("*")) s.startsWith(pat.dropRight(1)) else s == pat)

  /** Apply a subscription to an update stream (works identically on batch
    * and streaming frames). */
  def subscribe(updates: DataFrame, f: SubscriptionFilter): DataFrame =
    updates.filter(matches(f))

  /** Full update stream with the reference's PUT *and* DELETE semantics
    * (`engine2/pubsub.go:105-126`; proto `DataPointUpdate.UpdateType`,
    * `api/tsdb/tsdb.pb.go:1163-1227`): a subscriber of the reference sees
    * delete notifications, so ours must too. `puts` is the ingest stream
    * (metric/tags/timestamp/fields), `deletes` a [[ChangeFeed]] frame;
    * schemas are aligned by name, absent columns null-filled, and the
    * same prefix filters apply to both via [[subscribe]]. */
  def updateStream(puts: DataFrame, deletes: DataFrame): DataFrame =
    puts.withColumn("update_type", lit("PUT"))
      .unionByName(deletes, allowMissingColumns = true)
}

/** Change-data feed over the engine's transaction log (the `_log`
  * directory of JSON commit files). Tombstones are log-resident, so a
  * DELETE notification stream is just a file-source scan of the commit
  * log with `tombs` exploded — no extra bookkeeping, and it works both as
  * a Structured-Streaming source (new commit files are discovered as they
  * land; the put-if-absent hard-link publish in `TxLog.commit` means a
  * visible file is always complete) and as a batch cursor read
  * (`sinceVersion` keyset paging, same model as the serving cursor).
  *
  * Compaction commits carry `clearTombs` (storage GC of delete markers);
  * the feed deliberately ignores that flag — a subscriber must see each
  * DELETE exactly once, when it was committed, regardless of when storage
  * reclaims the marker. */
object ChangeFeed {

  private val commitSchema = StructType(Seq(
    StructField("version", LongType),
    StructField("tombs", ArrayType(StructType(Seq(
      StructField("kind", StringType),
      StructField("metric", StringType),
      StructField("tags", MapType(StringType, StringType)),
      StructField("startNs", LongType),
      StructField("endNs", LongType),
      StructField("seq", LongType)))))))

  private def decode(commits: DataFrame): DataFrame =
    commits.select(col("version"), explode(col("tombs")).as("t"))
      .select(
        lit("DELETE").as("update_type"),
        col("t.kind").as("delete_kind"),
        col("t.metric").as("metric"),
        coalesce(col("t.tags"), map()).as("tags"),
        col("t.startNs").as("start_ns"),
        col("t.endNs").as("end_ns"),
        col("t.seq").as("seq"),
        col("version"))

  /** Streaming DELETE updates from an engine root (one row per tombstone,
    * in commit order as files are discovered). */
  def deleteUpdates(spark: SparkSession, engineRoot: String): DataFrame =
    decode(spark.readStream.schema(commitSchema).json(s"$engineRoot/_log"))

  /** Batch/polling form: DELETE updates with `version > sinceVersion` —
    * a subscriber resumes from its last-seen commit version. */
  def deleteUpdatesBatch(spark: SparkSession, engineRoot: String,
      sinceVersion: Long = 0L): DataFrame =
    decode(spark.read.schema(commitSchema).json(s"$engineRoot/_log"))
      .filter(col("version") > sinceVersion)
}

/** Event-time streaming aggregation (ST3 — ABSENT in the reference,
  * whose downsampling is batch-only over stored data; Structured
  * Streaming adds it): tumbling windows on the event-time column with a
  * watermark bounding state and dropping data later than `lateness`. */
object StreamingAgg {
  import org.apache.spark.sql.DataFrame

  /** Per-(window, metric) streaming rollup. `tsCol` must be TimestampType;
    * ns-epoch longs convert via `timestamp_micros(ns / 1000)`. */
  def windowed(points: DataFrame, tsCol: String, lateness: String,
      windowDur: String): DataFrame =
    points
      .withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), windowDur), col("metric"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"),
        avg(col("value")).as("avg_value"))
}

/** Hook-system analogs (ST4, `hooks/hooks.go` + shipped listeners). */
object Hooks {

  /** Threshold outlier detector (`hooks/listeners/outlier_detector.go:19-105`):
    * flags points whose numeric field leaves [lo, hi]. Stateless — a
    * pure filter usable on batch or stream. */
  def outliers(points: DataFrame, field: String, lo: Double, hi: Double): DataFrame = {
    val v = coalesce(col("fields").getItem(field).getField("d"),
      col("fields").getItem(field).getField("l").cast("double"))
    points.withColumn("_value", v)
      .filter(col("_value").isNotNull && (col("_value") < lo || col("_value") > hi))
      .withColumn("alert",
        concat(lit(s"outlier:$field outside [$lo,$hi]: "), col("_value")))
      .drop("_value")
  }

  final case class SeriesEvent(series_key: String, timestamp: Long)
  final case class NewSeriesAlert(series_key: String, first_seen: Long)

  /** New-series cardinality alerter
    * (`hooks/listeners/cardinality_alerter.go:14-46`): emits one alert the
    * first time a series key is observed. Streaming-stateful via
    * `flatMapGroupsWithState` — state is one boolean per series, sharded
    * by the group key, so cardinality tracking scales horizontally
    * instead of living in one process's map like the reference. */
  def newSeriesAlerts(events: Dataset[SeriesEvent]): Dataset[NewSeriesAlert] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.series_key)
      .flatMapGroupsWithState[Boolean, NewSeriesAlert](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[SeriesEvent], state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            val first = rows.map(_.timestamp).min
            Iterator(NewSeriesAlert(key, first))
          }
      }
  }
}
