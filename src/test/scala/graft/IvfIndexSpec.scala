package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.Tables
import graft.sim.SimilarityOps

/** Persisted IVF index lifecycle: build-once/query-many with the inverted
  * lists laid out as hive partitions, so a probe is a partition-pruned scan.
  * Pins (1) search-result equality with the in-memory IVF path — same
  * arithmetic, same tiebreaks, bit-identical rows — and (2) the scale
  * property: a search's list scan reads only the probed bucket directories,
  * via dynamic partition pruning on the executed plan. */
class IvfIndexSpec extends AnyFunSuite with SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  private lazy val indexDir = {
    val d0 = java.nio.file.Files.createTempDirectory("ivf_index").toString
    SimilarityOps.buildIvfIndex(spark, dir, d0)
    d0
  }

  /** Collect file scans through AQE wrappers — `AdaptiveSparkPlanExec` and
    * `QueryStageExec` hold their subplans outside `children`, so a plain
    * `collect` never reaches the scans of an adaptively-executed query. */
  private def fileScans(
      p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] =
    p.flatMap {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        fileScans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        fileScans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case _ => Nil
    }

  test("index layout: one inverted-list file per bucket directory") {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$indexDir/lists"))
    val byBucket =
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(_.toString.endsWith(".parquet")).toList
          .groupBy(_.getParent.getFileName.toString)
      } finally s.close()
    assert(byBucket.nonEmpty && byBucket.keys.forall(_.startsWith("bucket=")))
    assert(byBucket.values.forall(_.size == 1),
      s"inverted lists should be single-file: ${byBucket.view.mapValues(_.size).toMap}")
  }

  test("persisted-index search equals the in-memory IVF path bit-for-bit") {
    val queries = Tables.embeddings(spark, dir).filter(col("vec_id") % 100 === 0)
    val fromIndex = SimilarityOps.searchIvfIndex(spark, indexDir, queries,
      nprobe = 3, k = 5)
    val inMemory = SimilarityOps.ivfTopk(spark, dir, nprobe = 3, k = 5)
    assert(fromIndex.count() == inMemory.count())
    assert(fromIndex.exceptAll(inMemory).isEmpty &&
      inMemory.exceptAll(fromIndex).isEmpty)
  }

  test("a search's list scan is pruned to the probed buckets") {
    val one = Tables.embeddings(spark, dir).filter(col("vec_id") === 100)
    val res = SimilarityOps.searchIvfIndex(spark, indexDir, one,
      nprobe = 3, k = 5)
    assert(res.collect().length == 5)
    val listScans = fileScans(res.queryExecution.executedPlan)
      .filter(_.metadata("Location").contains("lists"))
    assert(listScans.nonEmpty, "expected a scan over the lists zone")
    val scan = listScans.head
    assert(scan.partitionFilters.nonEmpty,
      s"probe join should dynamically prune the list scan:\n${res.queryExecution.executedPlan}")
    // one file per bucket (pinned above) → files read == buckets probed
    assert(scan.metrics("numFiles").value <= 3,
      s"expected <= nprobe files, got ${scan.metrics("numFiles").value}")
  }

  test("incremental append: new vectors become searchable in place") {
    // own index dir — the shared fixture must stay immutable for the
    // other tests regardless of execution order
    val d2 = java.nio.file.Files.createTempDirectory("ivf_append").toString
    SimilarityOps.buildIvfIndex(spark, dir, d2)
    val before = spark.read.parquet(s"$d2/lists").count()

    // appended batch: exact copies of three corpus vectors under fresh ids
    // — each lands in its source's bucket (same arithmetic as the build)
    // and must surface at cos=1 for a query equal to its source
    val copies = Tables.embeddings(spark, dir)
      .filter(col("vec_id").isin(100, 200, 300))
      .select((col("vec_id") + 100000).as("vec_id"), col("embedding"))
    SimilarityOps.appendToIvfIndex(spark, d2, copies)

    val after = spark.read.parquet(s"$d2/lists")
    assert(after.count() == before + 3, "append must not rewrite the zone")
    assert(after.filter(col("vec_id") >= 100000).count() == 3)

    val queries = Tables.embeddings(spark, dir)
      .filter(col("vec_id").isin(100, 200, 300))
    val res = SimilarityOps.searchIvfIndex(spark, d2, queries,
      nprobe = 3, k = 5).collect()
    for (q <- Seq(100L, 200L, 300L)) {
      val top = res.filter(r => r.getLong(0) == q && r.getInt(3) == 1).head
      assert(top.getLong(1) == q + 100000,
        s"appended copy of $q should rank first, got ${top.getLong(1)}")
      assert(math.abs(top.getDouble(2) - 1.0) < 1e-6,
        s"copy of $q should score cos=1, got ${top.getDouble(2)}")
    }
    // the scan still prunes: probed bucket dirs now hold at most 2 files
    // (build file + one append file), so <= 2 * nprobe files read
    val one = Tables.embeddings(spark, dir).filter(col("vec_id") === 100)
    val res1 = SimilarityOps.searchIvfIndex(spark, d2, one, nprobe = 3, k = 5)
    res1.collect()
    val scan = fileScans(res1.queryExecution.executedPlan)
      .filter(_.metadata("Location").contains("lists")).head
    assert(scan.metrics("numFiles").value <= 6,
      s"append broke pruning: ${scan.metrics("numFiles").value} files read")

    // at-least-once retry: the SAME batch appended twice (a foreachBatch
    // replay) must not perturb search — the candidate dedup collapses the
    // duplicate entries before ranking
    SimilarityOps.appendToIvfIndex(spark, d2, copies)
    assert(spark.read.parquet(s"$d2/lists").count() == before + 6)
    def ranked(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .sortBy(t => (t._1, t._4))
    val resDup = SimilarityOps.searchIvfIndex(spark, d2, queries,
      nprobe = 3, k = 5).collect()
    assert(ranked(resDup).toSeq == ranked(res).toSeq,
      "duplicate list entries must not change ranked results")
    // compaction with dedupKeys restores exactly-once on the zone itself
    graft.sources.SourceOps.compactPartitions(spark, s"$d2/lists",
      Seq("bucket"), col("bucket").isNotNull, dedupKeys = Seq("vec_id"))
    assert(spark.read.parquet(s"$d2/lists").count() == before + 3,
      "dedup compaction should remove the replayed rows")
    val resCompacted = SimilarityOps.searchIvfIndex(spark, d2, queries,
      nprobe = 3, k = 5).collect()
    assert(ranked(resCompacted).toSeq == ranked(res).toSeq,
      "compaction must preserve search results")
  }

  test("streaming index maintenance: streamed vectors become searchable") {
    import graft.streaming.EmbeddingStream
    val d3 = java.nio.file.Files.createTempDirectory("ivf_stream").toString
    SimilarityOps.buildIvfIndex(spark, dir, d3)
    val before = spark.read.parquet(s"$d3/lists").count()

    // stage one arrival file: exact copies of two corpus vectors, fresh ids
    val staged = java.nio.file.Files.createTempDirectory("emb_stream")
    val scratch = java.nio.file.Files.createTempDirectory("emb_scratch")
    Tables.embeddings(spark, dir)
      .filter(col("vec_id").isin(400, 450))
      .select((col("vec_id") + 200000).as("vec_id"), col("embedding"),
        col("label"))
      .coalesce(1).write.mode("overwrite").parquet(scratch.toString)
    val partFile = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.list(scratch).iterator().asScala
        .find(_.toString.endsWith(".parquet"))
        .getOrElse(fail("no part file written"))
    }
    java.nio.file.Files.copy(partFile, staged.resolve("batch0.parquet"))

    val ckpt = java.nio.file.Files.createTempDirectory("emb_ckpt").toString
    val query = EmbeddingStream.indexStream(
      EmbeddingStream.readStream(spark, staged.toString), d3, ckpt)
    try query.processAllAvailable() finally query.stop()

    assert(spark.read.parquet(s"$d3/lists").count() == before + 2)
    val res = SimilarityOps.searchIvfIndex(spark, d3,
      Tables.embeddings(spark, dir).filter(col("vec_id").isin(400, 450)),
      nprobe = 3, k = 5).collect()
    for (q <- Seq(400L, 450L)) {
      val top = res.filter(r => r.getLong(0) == q && r.getInt(3) == 1).head
      assert(top.getLong(1) == q + 200000 &&
        math.abs(top.getDouble(2) - 1.0) < 1e-6,
        s"streamed copy of $q should rank first at cos=1")
    }
  }
}
