package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Fixture-drift guard. The driver has regenerated `events.parquet` with a
  * different physical `ts` type before (round 6: TIMESTAMP(NANOS) →
  * `timestamp[us]`), and a loader hard-coded to one encoding turned that
  * environmental change into a 46-query outage. This spec pins the contract:
  * [[Tables.events]] must load every historical encoding — nanos-as-long,
  * micros TIMESTAMP, and TIMESTAMP_NTZ — to a micro-precision TimestampType
  * `ts` holding the same instant, and q01's plan must analyze against each.
  */
class FixtureDriftSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // 2026-01-02T03:04:05.123456Z as epoch micros; the nanos variant carries
  // 789 extra ns that the loader must floor-truncate away (DuckDB parity).
  private val instantUs: Long = {
    val i = java.time.Instant.parse("2026-01-02T03:04:05.123456Z")
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  }

  /** Two-row events frame with `ts` produced by `tsCol` from epoch micros. */
  private def eventsDf(tsCol: org.apache.spark.sql.Column): DataFrame = {
    import spark.implicits._
    Seq((1L, instantUs, 10L, "click", 1.5, "{}"),
        (2L, instantUs + 1000000L, 11L, "view", 2.5, "{}"))
      .toDF("event_id", "us", "user_id", "event_type", "value", "props")
      .select(col("event_id"), tsCol.as("ts"), col("user_id"),
        col("event_type"), col("value"), col("props"))
  }

  private def roundtrip(df: DataFrame): DataFrame = {
    val dir = TestSpark.tmpDir("drift")
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val loaded = Tables.events(spark, dir)
    assert(loaded.schema("ts").dataType == TimestampType,
      s"ts must load as TimestampType, got ${loaded.schema("ts").dataType}")
    // q01 is the canary the round-6 outage tripped on: the plan must analyze
    // and return rows against this encoding.
    val q01 = SparkEntry.queries("q01_scan_project")(spark, dir)
    assert(q01.collect().length == 2)
    loaded
  }

  private def instants(df: DataFrame): Seq[Long] =
    df.select(unix_micros(col("ts"))).orderBy(col("event_id"))
      .collect().map(_.getLong(0)).toSeq

  test("nanos-as-long fixture: floor-truncated to micros") {
    val loaded = roundtrip(eventsDf((col("us") * 1000L + 789L)))
    assert(instants(loaded) == Seq(instantUs, instantUs + 1000000L))
  }

  test("micros TimestampType fixture: passes through unchanged") {
    val loaded = roundtrip(eventsDf(timestamp_micros(col("us"))))
    assert(instants(loaded) == Seq(instantUs, instantUs + 1000000L))
  }

  test("TIMESTAMP_NTZ fixture (current driver encoding): instant-preserving cast under UTC") {
    val loaded = roundtrip(
      eventsDf(timestamp_micros(col("us")).cast(TimestampNTZType)))
    assert(instants(loaded) == Seq(instantUs, instantUs + 1000000L))
  }
}
