package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.model.Tables

/** Pins the round-18 size-gated lineage-cut policy
  * ([[Tables.beyondCutCrossover]]) and the value-neutrality of the five
  * cut knobs it gates (scaffold / exposure panel / semi / anti / board —
  * the shapes round 17 reverted at gate scale and round 18 re-measured at
  * blowup scale with CutCrossoverProbe).
  *
  * Two families:
  *  - policy: the threshold reads the fact table's on-disk size and the
  *    session conf, so the small test SFs stay below it (the registered
  *    queries keep their r17 uncut gate-scale shapes — bench
  *    comparability) and a lowered conf flips it on;
  *  - value-neutrality: cut and uncut arms are row-identical on real
  *    testdata — the cut is a materialization boundary, not a semantic
  *    change, which is what licenses gating it on something as
  *    value-irrelevant as corpus size.
  */
class CutCrossoverSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("small SFs sit below the default crossover threshold") {
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
      "/root/testdata/sf0.1").foreach { d =>
      assert(!Tables.beyondCutCrossover(spark, d),
        s"$d unexpectedly beyond the cut crossover — the registered " +
          "gate-scale shapes would silently change")
    }
  }

  test("a lowered conf threshold flips the policy on") {
    spark.conf.set(Tables.CutCrossoverBytesKey, "1")
    try assert(Tables.beyondCutCrossover(spark, sf))
    finally spark.conf.unset(Tables.CutCrossoverBytesKey)
  }

  private def assertCutNeutral(name: String,
      mk: (SparkSession, String, Boolean) => org.apache.spark.sql.DataFrame)
      : Unit = test(s"$name: cut and uncut arms are row-identical") {
    val uncut = mk(spark, sf, false).collect().map(_.toString).sorted
    val cut =
      try mk(spark, sf, true).collect().map(_.toString).sorted
      finally PlanProbe.releaseCuts()
    assert(uncut.sameElements(cut), s"$name cut arm diverged from uncut")
  }

  assertCutNeutral("q_scaffold_month_entity",
    graft.analytics.TimeSeriesOps.scaffoldFrame)
  assertCutNeutral("q_exposure_panel",
    graft.analytics.Baskets.exposurePanelFrame)
  assertCutNeutral("q_semi_membership",
    graft.analytics.Baskets.semiMembershipFrame)
  assertCutNeutral("q_anti_membership",
    graft.analytics.Baskets.antiMembershipFrame)
  assertCutNeutral("q_board_pipeline",
    graft.analytics.BoardPipeline.pipelineFrame)

  // The basket's size-gated aggregate shape (VERDICT item 5) rides the
  // same crossover policy: pin the two arms row-identical the same way.
  assertCutNeutral("q_basket (one- vs two-level aggregate)",
    graft.analytics.Baskets.basketAggregate)
}
