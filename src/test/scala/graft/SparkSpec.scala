package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites — one JVM-wide SparkSession. */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  /** The maintenance counters of `eng` that moved while `f` ran, with
    * how far ([[graft.tsdb.TsdbEngine.maintenanceCounts]]). */
  def maintenanceDelta(eng: graft.tsdb.TsdbEngine)(f: => Any): Map[String, Long] = {
    val before = eng.maintenanceCounts.toMap
    f
    eng.maintenanceCounts.map { case (k, n) => k -> (n - before(k)) }
      .filter(_._2 != 0L).toMap
  }
}
