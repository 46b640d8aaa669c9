package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.Tables
import graft.streaming.EventStream

/** Pins the events-loader dtype contract across all physical `ts` vintages
  * the testdata generator has shipped — the round-8 regression was exactly a
  * generator vintage change (micros-UTC → micros-NTZ) landing between "tests
  * ran" and "round ends" with nothing in-suite to catch it. Each fixture is
  * written in one vintage, loaded through [[Tables.events]], and asserted to
  * come back as a session-TZ `TimestampType` with the SAME epoch-µs values;
  * one additional assertion runs against the REAL driver testdata so the
  * next generator drift fails here, not in the driver.
  */
class EventsVintageSpec extends AnyFunSuite with SparkSuite {

  // one unambiguous instant: 2024-03-15 12:34:56.789 UTC
  private val wallClock = "2024-03-15 12:34:56.789"
  private val expectedUs = 1710506096789000L

  /** Write a single-row events.parquet whose `ts` physical type is chosen by
    * `tsExpr`, then load it back through the production loader. */
  private def roundTrip(vintage: String, tsExpr: org.apache.spark.sql.Column): Long = {
    val dir = tempDir(s"events_$vintage").toString
    spark.range(1)
      .select(
        col("id").as("event_id"),
        tsExpr.as("ts"),
        lit(7L).as("user_id"),
        lit("click").as("event_type"),
        lit(1.0).as("value"),
        lit("{}").as("props"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val loaded = Tables.events(spark, dir)
    assert(loaded.schema("ts").dataType == TimestampType,
      s"$vintage vintage must normalize to TimestampType")
    loaded.select(unix_micros(col("ts"))).head().getLong(0)
  }

  test("int64-nanos vintage normalizes to TimestampType with exact micros") {
    // Spark cannot write parquet TIMESTAMP(NANOS); a plain int64 column is
    // byte-identical to what the nanosAsLong read path surfaces (LongType),
    // which is the branch under test.
    assert(roundTrip("nanos", lit(expectedUs * 1000L)) == expectedUs)
  }

  test("TIMESTAMP micros (adjusted-to-UTC) vintage passes through") {
    assert(roundTrip("micros",
      to_timestamp(lit(wallClock))) == expectedUs)
  }

  test("TIMESTAMP_NTZ vintage casts to TimestampType, wall-clock preserved") {
    assert(roundTrip("ntz",
      to_timestamp_ntz(lit(wallClock))) == expectedUs)
  }

  test("unexpected ts dtype fails fast with a clear message") {
    val df = spark.range(1).select(lit("2024-03-15").as("ts"))
    val e = intercept[IllegalArgumentException](Tables.normalizeEventTs(df))
    assert(e.getMessage.contains("unsupported dtype"))
  }

  test("REAL testdata loads as TimestampType (generator-drift tripwire)") {
    val loaded = Tables.events(spark, "/root/testdata/sf0.001")
    assert(loaded.schema("ts").dataType == TimestampType)
    // and the downstream consumers analyze: the exact exprs that broke in r8
    loaded
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)))
      .select(unix_micros(col("session_window.start")))
      .queryExecution.analyzed // throws on DATATYPE_MISMATCH
  }

  test("readStream starts on an empty landing directory via fallback schema") {
    val empty = tempDir("events_empty").toString
    val stream = EventStream.readStream(spark, empty)
    assert(stream.isStreaming)
    assert(stream.schema("ts").dataType == TimestampType)
    // watermark must analyze against the fallback schema — the r8 failure mode
    EventStream.weeklyCounts(stream).queryExecution.analyzed
  }
}
