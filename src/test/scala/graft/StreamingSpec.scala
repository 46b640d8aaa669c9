package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventStream

/** Stream ≡ batch for the windowed volume counts (complete mode, drained). */
class StreamingSpec extends AnyFunSuite with SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  test("streaming weekly counts equal the batch twin once drained") {
    // file stream sources require a directory; stage the single events file
    val staged = java.nio.file.Files.createTempDirectory("events_stream")
    java.nio.file.Files.createSymbolicLink(
      staged.resolve("events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    val stream = EventStream.weeklyCounts(
      EventStream.readStream(spark, staged.toString))
    val query = stream.writeStream
      .format("memory")
      .queryName("weekly_counts")
      .outputMode("complete")
      .start()
    try {
      query.processAllAvailable()
      val streamed = spark.table("weekly_counts")
      val batch = EventStream.weeklyCountsBatch(spark, dir)
      assert(streamed.count() > 0)
      assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
      // Monday alignment (date_trunc('week') parity with the W1/W2 batch
      // queries): a bare epoch-aligned 7-day window would label Thursdays
      import org.apache.spark.sql.functions.{col, dayofweek, to_date}
      val dows = streamed
        .select(dayofweek(to_date(col("week_start")))).distinct().collect()
        .map(_.getInt(0)).toSeq
      assert(dows == Seq(2), s"week_start must be Mondays, got dow $dows")
    } finally query.stop()
  }

  test("stream-static enrichment equals the batch join once drained") {
    import org.apache.spark.sql.functions._
    val staged = java.nio.file.Files.createTempDirectory("events_enrich")
    java.nio.file.Files.createSymbolicLink(
      staged.resolve("events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    val dim = graft.model.Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
    val n = dim.count()
    val enriched = EventStream.enrichedEvents(
      EventStream.readStream(spark, staged.toString), dim, n)
    val query = enriched.writeStream
      .format("memory")
      .queryName("enriched_events")
      .outputMode("append")
      .start()
    try {
      query.processAllAvailable()
      val streamed = spark.table("enriched_events")
      // +1 mirrors enrichedEvents: c_custkey is 1-based (1..n)
      val batch = graft.model.Tables.events(spark, dir)
        .withColumn("cust_key", pmod(col("user_id"), lit(n)) + 1)
        .join(dim, col("cust_key") === col("c_custkey"))
        .select(col("event_id"), col("event_type"), col("c_name"),
          col("c_nationkey"))
      assert(streamed.count() > 0)
      // the 1-based mapping must be LOSSLESS: every event enriches (the
      // 0-based bug silently dropped every user_id ≡ 0 event at the join)
      assert(streamed.count() == graft.model.Tables.events(spark, dir).count(),
        "enrichment must not drop events — key mapping must cover 1..n")
      assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
    } finally query.stop()
  }

  test("streaming dedup collapses a re-delivered file to the batch distinct set") {
    // stage the SAME events file twice — an at-least-once upstream
    // re-delivering a whole file is the classic ingestion-dedup case
    val staged = java.nio.file.Files.createTempDirectory("events_dup")
    java.nio.file.Files.createSymbolicLink(
      staged.resolve("events_a.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    java.nio.file.Files.createSymbolicLink(
      staged.resolve("events_b.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    val deduped = EventStream.dedupedEvents(
      EventStream.readStream(spark, staged.toString))
      .select(org.apache.spark.sql.functions.col("event_id"))
    val query = deduped.writeStream
      .format("memory")
      .queryName("deduped_events")
      .outputMode("append")
      .start()
    try {
      query.processAllAvailable()
      val streamed = spark.table("deduped_events")
      val batch = graft.model.Tables.events(spark, dir)
        .select(org.apache.spark.sql.functions.col("event_id")).distinct()
      assert(streamed.count() == batch.count())
      assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
    } finally query.stop()
  }
}
