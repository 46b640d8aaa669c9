package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming extension of the W1/W2 volume counts (the reference
  * is batch-only — SURVEY.md §2.7 notes this as the natural streaming
  * analogue): the same tumbling-window aggregation expressed over a file
  * stream with a watermark for late data.
  *
  * The batch twin ([[weeklyCountsBatch]]) uses the identical window
  * expression, so stream (complete mode, fully drained) ≡ batch — asserted in
  * StreamingSpec.
  */
object EventStream {

  /** Schema used when the landing directory is still empty at stream start
    * (no footers to probe): the current generator's layout with `ts` already
    * a timestamp. Files of a different `ts` vintage landing later would fail
    * parquet column conversion mid-stream — a file-stream schema is frozen
    * at start, so a single physical `ts` type per directory is a documented
    * contract of this source, not something normalize() can recover. */
  private[streaming] val fallbackSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-source stream over a directory of event parquet files (in
    * production: the landing directory the ingestion layer appends to; new
    * files become new micro-batches). A file stream needs its schema up
    * front — probe the parquet footers with a batch read so any `ts` vintage
    * works ([[graft.model.Tables.normalizeEventTs]] folds all three to
    * `TimestampType`). If the directory is empty or absent (stream started
    * before the ingestion layer lands its first file — the normal production
    * boot order) the probe throws `Unable to infer schema`; fall back to
    * [[fallbackSchema]] so the stream still starts. */
  def readStream(spark: SparkSession, eventsDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema =
      try graft.sources.SourceOps.readParquet(spark, eventsDir).schema
      catch { case _: org.apache.spark.sql.AnalysisException => fallbackSchema }
    graft.model.Tables.normalizeEventTs(
      spark.readStream.schema(schema).parquet(eventsDir))
  }

  /** 7-day tumbling-window counts per event type with a 7-day watermark:
    * state is bounded — windows older than the watermark are finalized and
    * evicted, which is what makes this run indefinitely at scale.
    *
    * MONDAY-aligned: a bare `window(ts, "7 days")` aligns to the epoch —
    * 1970-01-01, a THURSDAY — so its `week_start` labels would never match
    * the W1/W2 batch queries' `date_trunc('week')` (Monday) buckets this
    * stream extends; the 4-day `startTime` shifts the window grid onto
    * Mondays (epoch Thursday + 4 days = Monday 1970-01-05 + k·7d). */
  private val mondayWeeks: Column =
    window(col("ts"), "7 days", "7 days", "4 days")

  /** The one weekly-count shape BOTH twins build on — the stream ≡ batch
    * assertion depends on these staying bit-identical, so there is exactly
    * one definition to edit. */
  private def weeklyShape(df: DataFrame): DataFrame =
    df.groupBy(mondayWeeks, col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(date_format(col("window.start"), "yyyy-MM-dd").as("week_start"),
        col("event_type"), col("cnt"))

  def weeklyCounts(stream: DataFrame): DataFrame =
    weeklyShape(stream.withWatermark("ts", "7 days"))

  /** Streaming ingestion dedup — the training-data pipeline's exactly-once
    * guard at the stream boundary (re-delivered files, at-least-once
    * upstreams). `dropDuplicatesWithinWatermark` keys state on `event_id`
    * only and EVICTS entries once the watermark passes them, so state stays
    * bounded by the duplicate-arrival horizon (7 days here) instead of
    * growing with the full stream history — the property that lets this run
    * indefinitely; a plain stream `dropDuplicates` would accumulate every id
    * ever seen. */
  def dedupedEvents(stream: DataFrame): DataFrame =
    stream
      .withWatermark("ts", "7 days")
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-static enrichment — each event joined against a static
    * (batch-loaded) dimension table, the standard pattern for decorating a
    * stream with slowly-changing reference data. The static side is read
    * fresh per micro-batch by Structured Streaming's stream-static join
    * machinery; a broadcast hint keeps it a broadcast-hash join per batch,
    * so the stream side never shuffles. `dimSize` maps the synthetic
    * user-id space onto the dimension's key range. */
  def enrichedEvents(stream: DataFrame, dim: DataFrame,
      dimSize: Long): DataFrame =
    stream
      // +1: c_custkey is the 1-based TPC-H key (1..dimSize); a bare pmod
      // maps onto 0..dimSize-1, silently dropping every user_id ≡ 0 event
      // at the inner join and starving customer dimSize
      .withColumn("cust_key", pmod(col("user_id"), lit(dimSize)) + 1)
      .join(broadcast(dim), col("cust_key") === col("c_custkey"))
      .select(col("event_id"), col("event_type"), col("c_name"),
        col("c_nationkey"))

  /** Streaming partitioned landing sink — the writer side of the hive-
    * partitioned landing zone ([[graft.sources.SourceOps.writePartitioned]]
    * is its batch sibling): each micro-batch appends files under
    * `dir/col=value/` directories, so downstream batch readers get partition
    * pruning over data that is seconds old. The parquet file sink commits
    * through the `_spark_metadata` transaction log, which is what makes the
    * landing exactly-once across stream restarts — a batch read of `dir`
    * sees only committed files, never a torn micro-batch. Per-partition file
    * counts stay bounded because each micro-batch writes at most
    * (tasks holding that value) files; compaction is a layout decision for
    * the batch layer ([[graft.sources.SourceOps.overwritePartitions]]
    * re-lands a partition in one file). */
  def landPartitioned(stream: DataFrame, dir: String, checkpointDir: String,
      partitionCols: Seq[String]): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .format("parquet")
      .option("path", dir)
      .option("checkpointLocation", checkpointDir)
      .partitionBy(partitionCols: _*)
      .start()

  /** Batch twin over the same (Monday-aligned) window expression. */
  def weeklyCountsBatch(spark: SparkSession, dir: String): DataFrame =
    weeklyShape(graft.model.Tables.events(spark, dir))
}
