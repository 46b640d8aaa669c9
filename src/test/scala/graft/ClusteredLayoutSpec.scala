package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.Tables
import graft.sources.SourceOps

/** Sort-clustered layout (`SourceOps.writeClustered`): range-routed,
  * in-file-sorted parquet whose row-group/page min-max statistics make
  * point and range predicates on the cluster key skip most of the data.
  * All assertions are on executed-scan metrics against real files — the
  * skipping must be observed, not assumed. */
class ClusteredLayoutSpec extends AnyFunSuite with SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  private def tmp(prefix: String): String =
    tempDir(prefix).toString

  private def parquetFiles(root: String): Seq[java.nio.file.Path] = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(_.toString.endsWith(".parquet")).toList
    } finally s.close()
  }

  /** Executed-scan row count for `pred` over the layout at `path`. */
  private def scanRows(path: String,
      pred: org.apache.spark.sql.Column): (Long, Long) = {
    val q = spark.read.parquet(path).filter(pred)
    val exact = q.collect().length.toLong
    val scan = q.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f }.head
    assert(scan.dataFilters.nonEmpty,
      s"predicate did not push into the scan:\n${q.queryExecution.executedPlan}")
    (scan.metrics("numOutputRows").value, exact)
  }

  test("point query on the cluster key skips most row groups") {
    val events = Tables.events(spark, dir)
    val total = events.count()
    val probe = events.select(col("user_id")).head().getLong(0)

    val clustered = tmp("clustered")
    SourceOps.writeClustered(events, clustered, Seq("user_id"), files = 8)
    assert(parquetFiles(clustered).size == 8,
      "range routing should emit exactly `files` files")

    val baseline = tmp("unclustered")
    events.repartition(8).write.mode("overwrite").parquet(baseline)

    val (clusteredRead, exact1) = scanRows(clustered, col("user_id") === probe)
    val (baselineRead, exact2) = scanRows(baseline, col("user_id") === probe)
    assert(exact1 == exact2, "layouts must agree on the query result")
    // unclustered: every file spans the full key range, min/max excludes
    // nothing, the reader materializes (close to) everything
    assert(baselineRead >= total / 2,
      s"expected the unclustered scan to read most of $total, got $baselineRead")
    // clustered: the key lives in one file's range; at 8 files that bounds
    // the read at roughly total/8 (+ page-level skipping often far less)
    assert(clusteredRead <= total / 4,
      s"expected the clustered scan to skip most of $total, got $clusteredRead")
    assert(clusteredRead < baselineRead / 2,
      s"clustered read $clusteredRead not clearly below baseline $baselineRead")
  }

  test("range query reads only the overlapping key slice") {
    val events = Tables.events(spark, dir)
    val total = events.count()
    val Array(lo, hi) = events
      .select(expr("percentile_approx(user_id, array(0.4, 0.5), 1000)"))
      .head().getSeq[Long](0).toArray

    val clustered = tmp("clustered_range")
    SourceOps.writeClustered(events, clustered, Seq("user_id"), files = 8)
    val (read, exact) =
      scanRows(clustered, col("user_id") >= lo && col("user_id") < hi)
    assert(exact > 0, "probe range should not be empty")
    assert(read <= total / 2,
      s"expected a ~10% key range to skip at least half of $total, got $read")
  }

  test("clustered round-trip preserves content exactly") {
    val events = Tables.events(spark, dir)
    val out = tmp("clustered_roundtrip")
    SourceOps.writeClustered(events, out, Seq("user_id"), files = 8)
    val back = spark.read.parquet(out)
    assert(back.count() == events.count())
    assert(back.select(col("event_id")).exceptAll(
      events.select(col("event_id"))).isEmpty)
    assert(events.select(col("event_id")).exceptAll(
      back.select(col("event_id"))).isEmpty)
  }

  test("bad arguments throw") {
    val events = Tables.events(spark, dir)
    intercept[IllegalArgumentException] {
      SourceOps.writeClustered(events, tmp("bad"), Seq.empty, 8)
    }
    intercept[IllegalArgumentException] {
      SourceOps.writeClustered(events, tmp("bad2"), Seq("user_id"), 0)
    }
  }
}
