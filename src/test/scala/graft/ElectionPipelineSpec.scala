package graft

import org.scalatest.funsuite.AnyFunSuite

/** Composition invariants of the election-monitor pipeline
  * (`q_election_pipeline`) the row-hash gate can't state row-locally:
  * topic filtering (COMP drop + blacklist), the degree filter's cross-row
  * property, per-entity ride-along constancy, and the broadcast shape of
  * the merges on the ADAPTIVE-final plan. */
class ElectionPipelineSpec extends AnyFunSuite with SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  private def pipeline = Registry.all.find(_.name == "q_election_pipeline").get

  private lazy val (rows, plan) =
    PlanCheck.executedFinalPlan(pipeline.run(spark, dir))

  test("only non-COMP, non-blacklisted topics survive") {
    assert(rows.nonEmpty)
    val topics = rows.map(_.getAs[String]("topic")).distinct
    graft.analytics.ElectionPipeline.TopicBlacklist.foreach(b =>
      assert(!topics.contains(b), s"blacklisted topic $b leaked through"))
    // COMP topics are customer names (`Customer#...`); SECT/REGI are
    // nation/region names — a COMP leak is visible by shape
    topics.foreach(t => assert(!t.startsWith("Customer"),
      s"COMP topic $t leaked through the type filter"))
  }

  test("every surviving topic is linked to more than 2 entities") {
    rows.groupBy(_.getAs[String]("topic")).foreach { case (t, rs) =>
      val ents = rs.map(_.getAs[String]("entity_name")).distinct
      assert(ents.length > 2, s"topic $t kept with degree ${ents.length}")
    }
  }

  test("per-entity scaffold stats ride along unchanged") {
    rows.groupBy(_.getAs[String]("entity_name")).foreach { case (_, rs) =>
      assert(rs.map(r => (r.getAs[String]("peak_day"),
        r.getAs[Long]("peak_volume"),
        r.getAs[Long]("n_zero_days"))).distinct.length === 1,
        "stage-3 panel summary columns must ride along unchanged")
      assert(rs.head.getAs[Long]("peak_volume") > 0,
        "a dense zero-filled panel's peak must be a real observation")
      assert(rs.head.getAs[Long]("n_zero_days") >= 0)
    }
  }

  test("edge weights are positive distinct-sentence counts") {
    rows.foreach(r => assert(r.getAs[Long]("weight") >= 1))
  }

  test("the label is a pure function of the sentence (weight derivation)") {
    // the engine derives each edge's distinct-sentence weight as
    // Σ_label per-label distinct counts (one corpus pass); that equals the
    // reference's per-(entity, topic) nunique ONLY while labels partition
    // sentences — i.e. every sentence_id carries exactly one label. The
    // oracle keeps the reference form, so a break also reds the gate; this
    // pin names the root cause directly.
    import org.apache.spark.sql.functions._
    val multi = graft.label.Labeler
      .labeledChunks(spark, dir)
      .groupBy(col("sentence_id"))
      .agg(countDistinct(col("label")).as("n"))
      .filter(col("n") > 1)
      .count()
    assert(multi === 0L,
      "a sentence_id carries more than one label — the one-pass weight " +
        "derivation no longer equals the reference's nunique semantics")
  }

  test("the S8 one-scan shape is value-identical to the two-pass gate") {
    // the corpus-size-dependent trade (pipelineFrame scaladoc) is only a
    // legal knob while the shapes agree row-for-row — pinned here at
    // fixture scale on top of the probe/stress runtime pins, so a drift
    // between the arms' projections fails in the suite first
    // the one-scan shape registers a PlanProbe cut (localCheckpoint) —
    // release it even on assertion failure, or the checkpoint blocks leak
    // into the suite's shared session for every remaining test
    val one =
      try graft.analytics.ElectionPipeline
        .pipelineFrame(spark, dir, oneScan = true).collect()
        .map(_.toString).sorted
      finally graft.PlanProbe.releaseCuts()
    assert(one.sameElements(rows.map(_.toString).sorted),
      "one-scan and two-pass election shapes must return identical rows")
  }

  test("merges stay broadcast on the ADAPTIVE-final plan") {
    assert(rows.nonEmpty)
    // edges/hubs/stats are all dimension-bounded aggregates; the corpus
    // shuffles only for the groupBys, never for a merge
    assert(!plan.contains("SortMergeJoin"),
      s"a merge fell back to a shuffle join:\n$plan")
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"),
      s"expected broadcast merges:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }
}
