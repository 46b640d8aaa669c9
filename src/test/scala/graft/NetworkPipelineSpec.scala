package graft

import org.scalatest.funsuite.AnyFunSuite

/** Composition invariants of the §3.1 graph-arm pipeline
  * (`q_network_pipeline`) beyond its partial oracle: the role-suffix node
  * alphabet, bipartite-ness of the underlying pair construction, the
  * rescale booleans, and bit-identical determinism across runs (the G6
  * layout contract — same inputs, same seed, same coordinates, so the
  * node-set hash the oracle checks is stable). */
class NetworkPipelineSpec extends AnyFunSuite with SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  private def pipeline = Registry.all.find(_.name == "q_network_pipeline").get

  private lazy val rows = pipeline.run(spark, dir).collect()

  test("nodes carry exactly the two role suffixes") {
    assert(rows.nonEmpty, "the sf0.001 corpus must yield a non-empty graph")
    val nodes = rows.map(_.getAs[String]("node"))
    assert(nodes.distinct.length === nodes.length, "duplicate layout nodes")
    nodes.foreach(n => assert(
      n.endsWith("_provider") || n.endsWith("_user"),
      s"node $n lacks the role suffix"))
    // both roles must be present — a bipartite graph needs both sides
    assert(nodes.exists(_.endsWith("_provider")) &&
      nodes.exists(_.endsWith("_user")))
  }

  test("rescale invariants hold") {
    rows.foreach { r =>
      assert(r.getAs[Boolean]("in_range"))
      assert(r.getAs[Boolean]("axis_max_ok"))
    }
  }

  test("the pipeline is deterministic across runs") {
    val again = pipeline.run(spark, dir).collect()
    assert(rows.map(_.toString).toSeq === again.map(_.toString).toSeq,
      "seeded layout + deterministic edges must reproduce bit-identically")
  }

  test("plan-only mode exposes the distributed upstream without collecting") {
    // the registry-wide plan sweep must see the search→role→pair chain,
    // not a post-collect LocalRelation — and building it must be free
    val plan = PlanProbe.planOnly.withValue(true) {
      pipeline.run(spark, dir).queryExecution.executedPlan.toString
    }
    assert(!plan.contains("LocalTableScan") || plan.contains("Exchange"),
      s"plan-only mode should expose the distributed chain:\n$plan")
  }
}
