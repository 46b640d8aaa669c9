package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.Tables
import graft.sim.SimilarityOps

/** Persisted IVF index lifecycle: build-once/query-many with the inverted
  * lists laid out as hive partitions, so a probe is a partition-pruned scan.
  * Pins (1) search-result equality with the in-memory IVF path — same
  * arithmetic, same tiebreaks, bit-identical rows — (2) the scale
  * property: a search's list scan reads only the probed bucket directories,
  * via a static `isin` filter on the collected probed-bucket set, checked
  * on the executed plan, and (3) the fixed per-call cost: the Spark jobs of
  * a repeated search and of one append. */
class IvfIndexSpec extends AnyFunSuite with SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  private lazy val indexDir = {
    val d0 = tempDir("ivf_index").toString
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
      s"the probed-bucket filter should prune the list scan:\n${res.queryExecution.executedPlan}")
    // one file per bucket (pinned above) → files read == buckets probed
    assert(scan.metrics("numFiles").value <= 3,
      s"expected <= nprobe files, got ${scan.metrics("numFiles").value}")
  }

  test("incremental append: new vectors become searchable in place") {
    // own index dir — the shared fixture must stay immutable for the
    // other tests regardless of execution order
    val d2 = tempDir("ivf_append").toString
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
    val d3 = tempDir("ivf_stream").toString
    SimilarityOps.buildIvfIndex(spark, dir, d3)
    val before = spark.read.parquet(s"$d3/lists").count()

    // stage one arrival file: exact copies of two corpus vectors, fresh ids
    val staged = tempDir("emb_stream")
    val scratch = tempDir("emb_scratch")
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

    val ckpt = tempDir("emb_ckpt").toString
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

  test("a repeated search on an unchanged index runs 4 Spark jobs") {
    // the codebook is collected once per centroids listing and the lists
    // schema once per lists listing, so a repeat pays only the
    // probed-bucket collect and the search itself
    val one = Tables.embeddings(spark, dir).filter(col("vec_id") === 100)
    def search() = SimilarityOps.searchIvfIndex(spark, indexDir, one,
      nprobe = 3, k = 5).collect()
    val first = search()
    var again: Array[org.apache.spark.sql.Row] = null
    val jobs = jobsDuring { again = search() }
    assert(again.toSeq == first.toSeq)
    assert(jobs == 4, s"a repeated search ran $jobs jobs")
  }

  test("one appendToIvfIndex runs 2 Spark jobs") {
    val d = tempDir("ivf_append_jobs").toString
    SimilarityOps.buildIvfIndex(spark, dir, d)
    val copies = Tables.embeddings(spark, dir)
      .filter(col("vec_id").isin(100, 200))
      .select((col("vec_id") + 100000).as("vec_id"), col("embedding"))
    val jobs = jobsDuring(SimilarityOps.appendToIvfIndex(spark, d, copies))
    assert(spark.read.parquet(s"$d/lists")
      .filter(col("vec_id") >= 100000).count() == 2)
    assert(jobs == 2, s"one append ran $jobs jobs")
  }

  test("equal-score centroids: assign and probe take the lower c_label") {
    // a hand-made codebook: labels 5 and 3 hold the SAME vector, written
    // higher label first, so only the tiebreak decides between them
    val d = tempDir("ivf_tie").toString
    val session = spark
    import session.implicits._
    Seq((5, Seq(1.0, 0.0)), (3, Seq(1.0, 0.0)), (1, Seq(0.0, 1.0)))
      .toDF("c_label", "cv").coalesce(1)
      .write.mode("overwrite").parquet(s"$d/centroids")
    val vecs = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    SimilarityOps.appendToIvfIndex(spark, d, vecs)
    val buckets = spark.read.parquet(s"$d/lists")
      .select(col("vec_id"), col("bucket")).as[(Long, Int)].collect().toMap
    assert(buckets == Map(1L -> 3, 2L -> 1),
      s"a tie must assign the lower c_label: $buckets")
    // nprobe = 1 probes only the first-ranked centroid: the copy of vector
    // 1 is found only if the tie ranks c_label 3 ahead of 5
    val q = Seq((100L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val hits = SimilarityOps.searchIvfIndex(spark, d, q, nprobe = 1, k = 5)
      .select(col("vec_id"), col("rk")).as[(Long, Int)].collect().toSeq
    assert(hits == Seq((1L, 1)), s"a tie must probe the lower c_label: $hits")
  }

  test("index stream restarted from its checkpoint lands batch 2 once") {
    import graft.streaming.EmbeddingStream
    // arrival files: copies of corpus vectors under fresh ids, one file per
    // batch
    def arrival(ids: Seq[Int]): java.nio.file.Path = {
      val out = tempDir("emb_arrival")
      Tables.embeddings(spark, dir)
        .filter(col("vec_id").isin(ids: _*))
        .select((col("vec_id") + 300000).as("vec_id"), col("embedding"),
          col("label"))
        .coalesce(1).write.mode("overwrite").parquet(out.toString)
      val s = java.nio.file.Files.list(out)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.find(_.toString.endsWith(".parquet"))
          .getOrElse(fail("no part file written"))
      } finally s.close()
    }
    val batch1 = arrival(Seq(410, 420))
    val batch2 = arrival(Seq(430, 440))
    def fresh(prefix: String) =
      tempDir(prefix)
    def land(landing: java.nio.file.Path, name: String,
        file: java.nio.file.Path): Unit =
      java.nio.file.Files.copy(file, landing.resolve(name))
    def start(index: String, landing: java.nio.file.Path, ckpt: String) =
      EmbeddingStream.indexStream(
        EmbeddingStream.readStream(spark, landing.toString), index, ckpt)

    // restarted: stop after batch 1, land batch 2, restart on the same
    // checkpoint
    val restarted = fresh("ivf_restart").toString
    SimilarityOps.buildIvfIndex(spark, dir, restarted)
    val landingR = fresh("emb_restart_landing")
    val ckptR = fresh("emb_restart_ckpt").toString
    land(landingR, "batch1.parquet", batch1)
    val q1 = start(restarted, landingR, ckptR)
    try q1.processAllAvailable() finally q1.stop()
    land(landingR, "batch2.parquet", batch2)
    val q2 = start(restarted, landingR, ckptR)
    try q2.processAllAvailable() finally q2.stop()

    // uninterrupted: one stream sees both batches
    val straight = fresh("ivf_straight").toString
    SimilarityOps.buildIvfIndex(spark, dir, straight)
    val landingS = fresh("emb_straight_landing")
    land(landingS, "batch1.parquet", batch1)
    val q3 = start(straight, landingS, fresh("emb_straight_ckpt").toString)
    try {
      q3.processAllAvailable()
      land(landingS, "batch2.parquet", batch2)
      q3.processAllAvailable()
    } finally q3.stop()

    val listsR = spark.read.parquet(s"$restarted/lists")
    val listsS = spark.read.parquet(s"$straight/lists")
    val cols = listsS.columns.toSeq.map(col)
    assert(listsR.count() == listsS.count())
    assert(listsR.select(cols: _*).exceptAll(listsS.select(cols: _*)).isEmpty &&
      listsS.select(cols: _*).exceptAll(listsR.select(cols: _*)).isEmpty,
      "restarted lists zone differs from the uninterrupted run")
    assert(listsR.filter(col("vec_id") >= 300000).count() == 4)

    val queries = Tables.embeddings(spark, dir)
      .filter(col("vec_id").isin(410, 420, 430, 440))
    def ranked(index: String) =
      SimilarityOps.searchIvfIndex(spark, index, queries, nprobe = 3, k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getInt(3))).sortBy(t => (t._1, t._4)).toSeq
    assert(ranked(restarted) == ranked(straight))
  }
}
