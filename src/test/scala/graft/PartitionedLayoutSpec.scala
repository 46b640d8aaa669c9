package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.Tables
import graft.sources.SourceOps

/** Hive-partitioned landing layout: file-count discipline at write time,
  * partition pruning at read time, and dynamic-overwrite backfill semantics —
  * the directory-layout half of the 100 TB story (BucketedJoinSpec owns the
  * bucketed half). All assertions are on executed plans and real directory
  * listings, not on intent. */
class PartitionedLayoutSpec extends AnyFunSuite with SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def parquetFiles(root: String): Seq[java.nio.file.Path] = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(_.toString.endsWith(".parquet")).toList
    } finally s.close()
  }

  test("writePartitioned lands exactly one file per partition value") {
    val out = tmp("layout_one")
    SourceOps.writePartitioned(Tables.documents(spark, dir), out, Seq("source"))
    val bySource = parquetFiles(out).groupBy(_.getParent.getFileName.toString)
    assert(bySource.size == 20, s"expected 20 source= dirs, got ${bySource.keys}")
    assert(bySource.values.forall(_.size == 1),
      s"small-files regression: ${bySource.view.mapValues(_.size).toMap}")
  }

  test("filesPerPartition bounds a hot partition's file count") {
    val out = tmp("layout_salted")
    SourceOps.writePartitioned(Tables.documents(spark, dir), out,
      Seq("source"), filesPerPartition = 3)
    val bySource = parquetFiles(out).groupBy(_.getParent.getFileName.toString)
    assert(bySource.values.forall(f => f.size >= 1 && f.size <= 3),
      s"file counts out of [1,3]: ${bySource.view.mapValues(_.size).toMap}")
    // salting must not lose or duplicate rows
    assert(spark.read.parquet(out).count() ==
      Tables.documents(spark, dir).count())
  }

  test("a filter on the partition column prunes to that partition's files") {
    val out = tmp("layout_prune")
    SourceOps.writePartitioned(Tables.documents(spark, dir), out, Seq("source"))
    val q = spark.read.parquet(out).filter(col("source") === "src7")
    // execute THIS dataframe's plan (count() would build a separate query
    // execution whose metrics the assertions below wouldn't see)
    assert(q.collect().length == 25)
    val scans = q.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f }
    assert(scans.nonEmpty, "expected a FileSourceScanExec leaf")
    val scan = scans.head
    assert(scan.partitionFilters.nonEmpty,
      s"filter did not become a PartitionFilter:\n${q.queryExecution.executedPlan}")
    // pruning happens at listing time: the scan touches 1 of the 20 files
    assert(scan.metrics("numFiles").value == 1,
      s"expected 1 file scanned, got ${scan.metrics("numFiles").value}")
  }

  test("streaming landPartitioned writes a pruned-readable partitioned zone") {
    import graft.streaming.EventStream
    // stage the events file as a stream source
    val staged = java.nio.file.Files.createTempDirectory("events_land_src")
    java.nio.file.Files.createSymbolicLink(
      staged.resolve("events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    val out = tmp("layout_stream")
    val ckpt = tmp("layout_stream_ckpt")
    val query = EventStream.landPartitioned(
      EventStream.readStream(spark, staged.toString), out, ckpt,
      Seq("event_type"))
    try query.processAllAvailable() finally query.stop()

    val landed = spark.read.parquet(out)
    val source = Tables.events(spark, dir)
    // exactly-once landing: content equality with the batch source
    assert(landed.count() == source.count())
    val cols = source.columns.toSeq
    assert(landed.select(cols.map(col): _*).exceptAll(source).isEmpty &&
      source.exceptAll(landed.select(cols.map(col): _*)).isEmpty)
    // and the zone partition-prunes like any batch-written layout
    val one = landed.filter(col("event_type") === "view")
    one.collect()
    val scan = one.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f }.head
    assert(scan.partitionFilters.nonEmpty)
    val total = parquetFiles(out).size
    assert(scan.metrics("numFiles").value < total,
      s"pruned scan should touch fewer than all $total files")
  }

  test("compactPartitions collapses a salted partition to one file, content intact") {
    val out = tmp("layout_compact")
    val docs = Tables.documents(spark, dir)
    SourceOps.writePartitioned(docs, out, Seq("source"), filesPerPartition = 3)
    val before = parquetFiles(out).groupBy(_.getParent.getFileName.toString)
    // slice→task routing is hash-based, so WHICH partitions are multi-file
    // varies; with 20 sources × 3 slices at least one is, essentially always
    val multiDir = before.collect { case (k, v) if v.size > 1 => k }.headOption
      .getOrElse(fail("no multi-file partition to compact"))
    val target = multiDir.stripPrefix("source=")
    SourceOps.compactPartitions(spark, out, Seq("source"),
      col("source") === target)
    val after = parquetFiles(out).groupBy(_.getParent.getFileName.toString)
    assert(after(multiDir).size == 1, "compaction should leave one file")
    assert(after.filterNot(_._1 == multiDir) ==
      before.filterNot(_._1 == multiDir), "siblings must be untouched")
    val reread = spark.read.parquet(out)
    assert(reread.count() == docs.count())
    val cols = reread.columns.toSeq
    assert(reread.exceptAll(docs.select(cols.map(col): _*)).isEmpty)
  }

  test("compactPartitions dedupKeys: reclaims exact retries, rejects conflicts") {
    val out = tmp("layout_dedup")
    val docs = Tables.documents(spark, dir).limit(50).localCheckpoint()
    SourceOps.writePartitioned(docs, out, Seq("source"))
    // at-least-once replay: the SAME rows appended again → dedup reclaims
    docs.write.mode("append").partitionBy("source").parquet(out)
    assert(spark.read.parquet(out).count() == 100)
    SourceOps.compactPartitions(spark, out, Seq("source"), lit(true),
      dedupKeys = Seq("doc_id"))
    assert(spark.read.parquet(out).count() == 50)
    // same key, DIFFERENT payload: an arbitrary keeper would be
    // nondeterministic — the compactor must refuse, not pick one
    docs.withColumn("text", lit("MUTATED"))
      .write.mode("append").partitionBy("source").parquet(out)
    val e = intercept[IllegalArgumentException](
      SourceOps.compactPartitions(spark, out, Seq("source"), lit(true),
        dedupKeys = Seq("doc_id")))
    assert(e.getMessage.contains("non-identical"))
    // and the refusal must not have half-compacted the zone
    assert(spark.read.parquet(out).count() == 100)
  }

  test("compactPartitions refuses a streaming file-sink zone") {
    val out = tmp("layout_compact_stream")
    java.nio.file.Files.createDirectory(
      java.nio.file.Paths.get(out, "_spark_metadata"))
    val e = intercept[IllegalArgumentException](
      SourceOps.compactPartitions(spark, out, Seq("source"), lit(true)))
    assert(e.getMessage.contains("_spark_metadata"))
  }

  test("overwritePartitions backfills one partition, leaves the rest intact") {
    val out = tmp("layout_backfill")
    val docs = Tables.documents(spark, dir)
    SourceOps.writePartitioned(docs, out, Seq("source"))
    // recompute src7 with a changed column, re-land ONLY that partition
    val patched = docs.filter(col("source") === "src7")
      .withColumn("lang", lit("xx"))
    SourceOps.overwritePartitions(patched, out, Seq("source"))
    val after = spark.read.parquet(out)
    assert(after.count() == docs.count(), "backfill must not change totals")
    assert(after.filter(col("source") === "src7" && col("lang") === "xx")
      .count() == 25, "backfilled partition must carry the new rows")
    assert(after.filter(col("source") =!= "src7" && col("lang") === "xx")
      .count() == 0, "other partitions must be untouched")
    // and the untouched partitions still byte-match the original data
    val others = after.filter(col("source") =!= "src7")
    val expected = docs.filter(col("source") =!= "src7")
      .select(others.columns.map(col).toSeq: _*)
    assert(others.exceptAll(expected).isEmpty &&
      expected.exceptAll(others).isEmpty)
  }
}
