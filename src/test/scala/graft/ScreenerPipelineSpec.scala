package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.model.ThemeTree

/** Composition invariants of the §3.2 thematic-screener pipeline
  * (`q_screener_pipeline`): the tree→matrix column contract, the
  * leaf/parent/composite accounting identities, and the single-shuffle
  * broadcast shape on the ADAPTIVE-final plan. */
class ScreenerPipelineSpec extends AnyFunSuite with SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  private def pipeline = Registry.all.find(_.name == "q_screener_pipeline").get

  private lazy val (rows, plan) =
    PlanCheck.executedFinalPlan(pipeline.run(spark, dir))

  private val tree = ThemeTree.fixture
  private val parentOf = ThemeTree.labelToParent(tree)
  private val leaves = ThemeTree.leaves(tree).map(_.label)

  test("matrix columns are generated from the parsed tree") {
    val schema = pipeline.run(spark, dir).schema.fieldNames.toSet
    leaves.foreach(l => assert(schema.contains(l),
      s"leaf '$l' must be a count column"))
    leaves.map(parentOf).distinct.foreach(t => assert(
      schema.contains(s"${t}_score"), s"parent '$t' must be a rollup column"))
    assert(schema.contains("composite_score"))
  }

  test("composite = sum of leaf counts = sum of parent rollups, per company") {
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val leafSum = leaves.map(l => r.getAs[Long](l)).sum
      val themeSum = leaves.map(parentOf).distinct
        .map(t => r.getAs[Long](s"${t}_score")).sum
      val composite = r.getAs[Long]("composite_score")
      assert(leafSum === composite && themeSum === composite,
        s"score accounting broke for ${r.getAs[String]("entity_name")}")
    }
  }

  test("one row per screened company, ordered by composite score") {
    val names = rows.map(_.getAs[String]("entity_name"))
    assert(names.distinct.length === names.length)
    val scores = rows.map(r => (r.getAs[Long]("composite_score"),
      r.getAs[String]("entity_name")))
    assert(scores.sameElements(scores.sortBy { case (c, n) => (-c, n) }),
      "rows must be ordered composite desc, name asc")
  }

  test("leaf-dim join broadcasts; the only joins are the star scan's") {
    assert(rows.nonEmpty)
    assert(!plan.contains("SortMergeJoin"),
      s"the tree dim join must broadcast, not shuffle:\n$plan")
  }
}
