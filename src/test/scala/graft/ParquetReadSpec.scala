package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.Tables
import graft.sim.SimilarityOps
import graft.sources.SourceOps

/** Pins [[SourceOps.readParquet]], the engine's one parquet read, and the
  * listing-keyed corpus memos beside it ([[Tables.docCount]],
  * [[Tables.factBytes]]):
  *
  *  - a memoized schema is exactly the plain read's schema, on the corpus
  *    tables, a hive-partitioned zone under either partition-type setting,
  *    and the NANOS events vintage under `nanosAsLong`;
  *  - a repeated read of an unchanged path runs no Spark job;
  *  - an overwrite or append at the same path is seen on the next read;
  *  - a missing or empty path fails exactly as a plain read does;
  *  - a corpus rewritten at a reused path is counted and sized again.
  */
class ParquetReadSpec extends AnyFunSuite with SparkSuite {

  private val sf = "/root/testdata/sf0.001"
  private val inferKey =
    "spark.sql.sources.partitionColumnTypeInference.enabled"
  private val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def plain(path: String): DataFrame = spark.read.parquet(path)

  /** Reads `path` twice through the helper (the second read is served from
    * the memo) and returns the second read. */
  private def memoized(path: String): DataFrame = {
    SourceOps.readParquet(spark, path)
    SourceOps.readParquet(spark, path)
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def assertFailsLikePlainRead(path: String): Unit = {
    val viaHelper = intercept[Exception](SourceOps.readParquet(spark, path))
    val viaPlain = intercept[Exception](plain(path))
    assert(viaHelper.getClass == viaPlain.getClass, path)
    assert(viaHelper.getMessage == viaPlain.getMessage, path)
  }

  /** Spark jobs started while `body` runs. Listener events arrive in post
    * order, so once a marker job run after `body` has been seen, every job
    * `body` started has been seen too. */
  private def jobsDuring(body: => Unit): Int = {
    val phaseKey = "graft.test.phase"
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).map(_.getProperty(phaseKey))
          .getOrElse("none"))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(phaseKey, "body")
      try body finally sc.setLocalProperty(phaseKey, "marker")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.contains("marker") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(seen.contains("marker"), "marker job never reached the listener")
      seen.asScala.count(_ == "body")
    } finally {
      sc.setLocalProperty(phaseKey, null)
      sc.removeSparkListener(listener)
    }
  }

  test("memoized schema equals the plain read on every corpus table") {
    spark.conf.set(nanosKey, "true")
    try
      Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings").foreach { t =>
        val path = s"$sf/$t.parquet"
        assert(memoized(path).schema == plain(path).schema, t)
      }
    finally spark.conf.unset(nanosKey)
  }

  test("memoized schema equals the plain read on the partitioned IVF lists " +
      "zone, partition-type inference on and off") {
    val indexDir = tmp("parquet_read_ivf")
    SimilarityOps.buildIvfIndex(spark, sf, indexDir)
    val lists = s"$indexDir/lists"
    val inferred = memoized(lists).schema
    assert(inferred == plain(lists).schema)
    assert(inferred("bucket").dataType == IntegerType)
    spark.conf.set(inferKey, "false")
    try {
      val raw = memoized(lists)
      assert(raw.schema == plain(lists).schema)
      assert(raw.schema("bucket").dataType == StringType,
        "the inference setting is part of the memo key")
      assert(sortedRows(raw) == sortedRows(plain(lists)))
    } finally spark.conf.unset(inferKey)
    assert(memoized(lists).schema("bucket").dataType == IntegerType)
  }

  /** One events row whose `ts` is parquet TIMESTAMP(NANOS), the vintage
    * Spark cannot write and reads only under `nanosAsLong`. */
  private def writeNanosEvents(file: String, tsNanos: Long): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      """message events {
        |  required int64 event_id;
        |  required int64 ts (TIMESTAMP(NANOS,true));
        |  required int64 user_id;
        |  required binary event_type (STRING);
        |  required double value;
        |  required binary props (STRING);
        |}""".stripMargin)
    val conf = spark.sparkContext.hadoopConfiguration
    val writer = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(new Path(file), conf))
      .withType(schema).withConf(conf).build()
    try writer.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", tsNanos).append("user_id", 7L)
      .append("event_type", "click").append("value", 1.0)
      .append("props", "{}"))
    finally writer.close()
  }

  test("memoized schema equals the plain read on the NANOS events vintage " +
      "under nanosAsLong") {
    val dir = tmp("parquet_read_nanos")
    val path = s"$dir/events.parquet"
    val expectedUs = 1710506096789000L // 2024-03-15 12:34:56.789 UTC
    writeNanosEvents(path, expectedUs * 1000L + 123L)
    spark.conf.set(nanosKey, "true")
    try {
      val df = memoized(path)
      assert(df.schema == plain(path).schema)
      assert(df.schema("ts").dataType == LongType)
      val loaded = Tables.events(spark, dir)
      assert(loaded.schema("ts").dataType == TimestampType)
      assert(loaded.select(unix_micros(col("ts"))).head().getLong(0) ==
        expectedUs)
    } finally spark.conf.unset(nanosKey)
    // without the setting the memoized entry is not served: the read
    // fails exactly as the plain read does
    assertFailsLikePlainRead(path)
  }

  test("a second read of an unchanged path runs no Spark job") {
    val path = s"$sf/lineitem.parquet"
    val first = jobsDuring(SourceOps.readParquet(spark, path))
    val second = jobsDuring(SourceOps.readParquet(spark, path))
    assert(jobsDuring(plain(path)) >= 1,
      "a plain read infers the schema with a job")
    assert(second == 0, s"memoized read ran $second jobs (first read: $first)")
  }

  test("an overwrite or an append at the same path is seen on the next read") {
    val path = s"${tmp("parquet_read_rewrite")}/t"
    spark.range(3).select(col("id").cast("int").as("a"))
      .write.parquet(path)
    assert(memoized(path).count() == 3)

    spark.range(5).select(col("id").as("a"), lit("x").as("b"))
      .write.mode("overwrite").parquet(path)
    val overwritten = SourceOps.readParquet(spark, path)
    assert(overwritten.schema == plain(path).schema)
    assert(overwritten.schema.fieldNames.toSeq == Seq("a", "b"))
    assert(overwritten.schema("a").dataType == LongType)
    assert(sortedRows(overwritten) == sortedRows(plain(path)))
    assert(overwritten.count() == 5)

    memoized(path)
    spark.range(5, 9).select(col("id").as("a"), lit("y").as("b"))
      .write.mode("append").parquet(path)
    val appended = SourceOps.readParquet(spark, path)
    assert(appended.schema == plain(path).schema)
    assert(appended.count() == 9)
    assert(appended.filter(col("b") === "y").count() == 4)
  }

  test("a missing or empty path fails like a plain read") {
    val root = tmp("parquet_read_missing")
    val empty = s"$root/empty"
    val markerOnly = s"$root/marker_only"
    new java.io.File(empty).mkdirs()
    new java.io.File(markerOnly).mkdirs()
    new java.io.File(s"$markerOnly/_SUCCESS").createNewFile()
    Seq(s"$root/absent", empty, markerOnly).foreach(assertFailsLikePlainRead)
  }

  test("a corpus rewritten at a reused path is counted and sized again") {
    val dir = tmp("parquet_read_corpus")
    def writeCorpus(docs: Int, facts: Int): Unit = {
      spark.range(docs).select(col("id").as("doc_id"), lit("t").as("text"),
          lit("en").as("lang"))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      spark.range(facts).select(col("id").as("l_orderkey"),
          (col("id") * 31).as("l_extendedprice"))
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    }
    def lineitemBytes: Long = {
      val p = new Path(s"$dir/lineitem.parquet")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getContentSummary(p).getLength
    }
    writeCorpus(docs = 10, facts = 100)
    assert(Tables.docCount(spark, dir) == 10)
    assert(Tables.factBytes(spark, dir) == lineitemBytes)
    val bytesA = Tables.factBytes(spark, dir)

    writeCorpus(docs = 25, facts = 20000)
    assert(Tables.docCount(spark, dir) == 25)
    assert(Tables.factBytes(spark, dir) == lineitemBytes)
    assert(Tables.factBytes(spark, dir) > bytesA)
  }
}
