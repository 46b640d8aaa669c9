package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sim.SimilarityOps

/** The lineage-cut storage policy (`spark.graft.cutPolicy`): the IVF
  * assignment pipeline's cuts must be a pure deployment knob — bit-identical
  * results under `local` (executor-local checkpoint blocks), `reliable`
  * (cluster-durable checkpoint dir; survives executor loss), and `disk`
  * (DISK_ONLY persist; lineage preserved, lost partitions recompute). The
  * full 8-table OR-amplified pair sweep is the heaviest cut consumer (13
  * cuts per run: vectors + 3 per table via concurrent builders), so it is
  * the equality vehicle. */
class CutPolicySpec extends AnyFunSuite with SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  private def sweep(indexDir: Option[String] = None): Seq[String] =
    SimilarityOps.ivfCosinePairs(spark, dir, indexDir)
      .orderBy("id_a", "id_b")
      .collect()
      .map(r => s"${r.get(0)}|${r.get(1)}|${r.get(2)}|${r.get(3)}")
      .toSeq

  private def withPolicy[A](policy: String)(body: => A): A =
    try { spark.conf.set(PlanProbe.PolicyKey, policy); body }
    finally spark.conf.unset(PlanProbe.PolicyKey)

  test("unknown policy fails fast; reliable without a checkpoint dir " +
      "names the missing setup") {
    import spark.implicits._
    val df = Seq(1, 2, 3).toDF("x")
    val bad = intercept[IllegalArgumentException] {
      withPolicy("bogus")(PlanProbe.cut(df))
    }
    assert(bad.getMessage.contains("local/reliable/disk"))
    assert(spark.sparkContext.getCheckpointDir.isEmpty) // precondition
    val noDir = intercept[IllegalArgumentException] {
      withPolicy("reliable")(PlanProbe.cut(df))
    }
    assert(noDir.getMessage.contains("setCheckpointDir"))
  }

  test("IVF pair sweep is bit-identical under local, reliable, and disk " +
      "cut policies") {
    val base = sweep() // default = local
    assert(base.nonEmpty, "sf0.001 must yield near-dup pairs")

    val ckDir = java.nio.file.Files.createTempDirectory("graft_ck").toString
    spark.sparkContext.setCheckpointDir(ckDir)
    val reliable = withPolicy("reliable")(sweep())
    assert(reliable == base, "reliable-checkpoint cuts changed the result")
    // the reliable policy actually wrote into the durable dir
    val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(ckDir))
      .filter(p => java.nio.file.Files.isRegularFile(p)).count()
    assert(wrote > 0, "reliable policy produced no checkpoint files")

    val disk = withPolicy("disk")(sweep())
    assert(disk == base, "DISK_ONLY-persist cuts changed the result")
    PlanProbe.releaseCuts()
    assert(spark.sharedState.cacheManager.isEmpty,
      "releaseCuts must drop every disk-policy cache entry")
  }

  test("CC loop under the reliable policy: identical labels, checkpoint " +
      "files fully retired") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (10L, 11L))
      .toDF("src", "dst")
    val sym = edges.union(edges.select(col("dst").as("src"),
      col("src").as("dst")))
    val verts = Seq(0L, 1L, 2L, 3L, 10L, 11L, 20L).toDF("doc_id")
    def labels(): Seq[(Long, Long)] =
      graft.text.CorpusOps.connectedComponents(verts, sym)
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val base = labels()
    assert(base == Seq(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L,
      10L -> 10L, 11L -> 10L, 20L -> 20L))
    // fresh checkpoint dir so file-retirement is observable in isolation
    val ckDir = java.nio.file.Files.createTempDirectory("graft_cc_ck")
    spark.sparkContext.setCheckpointDir(ckDir.toString)
    val reliable = withPolicy("reliable")(labels())
    assert(reliable == base, "reliable per-round cuts changed the labels")
    // the loop frees each retired round; releasing the registered final
    // cut must leave the durable dir with ZERO checkpoint files — the
    // two-generation plateau holds under the reliable policy too
    graft.text.CorpusOps.releaseCcState()
    val walk = java.nio.file.Files.walk(ckDir)
    val left =
      try walk.filter(p => java.nio.file.Files.isRegularFile(p)).count()
      finally walk.close()
    assert(left == 0, s"$left checkpoint files survived retirement")
  }

  test("market pipeline is bit-identical under local, reliable, and disk " +
      "cut policies") {
    // round 14 put a cut on the pipeline's labeled search frame — a GATED
    // query now depends on cut semantics, so policy-invariance must hold
    // for it the same way it does for the IVF sweep
    def run(): Seq[String] =
      Registry.all.find(_.name == "q_market_pipeline").get
        .run(spark, dir).collect().map(_.toString).toSeq
    val ckDir = java.nio.file.Files.createTempDirectory("graft_mkt_ck")
    try {
      val base = run()
      assert(base.nonEmpty)
      spark.sparkContext.setCheckpointDir(ckDir.toString)
      assert(withPolicy("reliable")(run()) == base,
        "reliable-checkpoint cut changed the panel")
      assert(withPolicy("disk")(run()) == base,
        "DISK_ONLY-persist cut changed the panel")
    } finally {
      // hygiene even on assertion failure: cut state must not leak into
      // the adjacent tests (which assert on cache/checkpoint retirement),
      // and the reliable run's files must not outlive the test
      PlanProbe.releaseCuts()
      import scala.jdk.CollectionConverters._
      val w = java.nio.file.Files.walk(ckDir)
      try w.sorted(java.util.Comparator.reverseOrder()).iterator().asScala
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
      finally w.close()
    }
  }

  test("network pipeline is bit-identical under local, reliable, and disk " +
      "cut policies") {
    // round 15 put the market pipeline's cut on the graph arm's labeled
    // search frame too — same policy-invariance obligation (the layout is
    // seeded and deterministic, so any divergence is the cut's fault)
    def run(): Seq[String] =
      Registry.all.find(_.name == "q_network_pipeline").get
        .run(spark, dir).collect().map(_.toString).toSeq
    val ckDir = java.nio.file.Files.createTempDirectory("graft_net_ck")
    try {
      val base = run()
      assert(base.nonEmpty)
      spark.sparkContext.setCheckpointDir(ckDir.toString)
      assert(withPolicy("reliable")(run()) == base,
        "reliable-checkpoint cut changed the layout node set")
      assert(withPolicy("disk")(run()) == base,
        "DISK_ONLY-persist cut changed the layout node set")
    } finally {
      PlanProbe.releaseCuts()
      import scala.jdk.CollectionConverters._
      val w = java.nio.file.Files.walk(ckDir)
      try w.sorted(java.util.Comparator.reverseOrder()).iterator().asScala
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
      finally w.close()
    }
  }

  test("a sweep through the persisted assignment index is bit-identical " +
      "to the computed path") {
    val base = sweep()
    val ix = java.nio.file.Files.createTempDirectory("graft_ndidx").toString
    SimilarityOps.buildNearDupIndex(spark, dir, ix)
    assert(sweep(Some(ix)) == base,
      "persisted-assignment sweep diverged from the computed quantizers")
  }
}
