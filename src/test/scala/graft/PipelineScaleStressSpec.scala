package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.PipelineScaleStress

/** Pins the PipelineScaleStress harness itself: the off-fact-key
  * SortMergeJoin classifier the ×10/×25 plan pins rest on — a parsing
  * regression there would turn the scale audit into a no-op. (The corpus
  * construction laws are [[BlowupSpec]]'s.) */
class PipelineScaleStressSpec extends AnyFunSuite {

  test("the SMJ classifier allows fact keys and flags everything else") {
    val plan = Seq(
      "  SortMergeJoin [l_orderkey#5L], [o_orderkey#7L], Inner",
      "  SortMergeJoin [document_id#3], [document_id#9], LeftSemi",
      "  SortMergeJoin [pmod((l_orderkey#5L * 7), 500)], [doc_id#2L], Inner",
      "  SortMergeJoin [entity_name#4, day#9], [entity_name#6, day#11], " +
        "LeftOuter",
      "  SortMergeJoin [s_suppkey#1L], [l_suppkey#8L], Inner",
      "  SortMergeJoin [s_suppkey#1L], [l_suppkey#8L], Inner", // dup line
      "  BroadcastHashJoin [n_nationkey#2L], [s_nationkey#3L]"
    ).mkString("\n")
    val off = PipelineScaleStress.offendingSmjKeys(plan)
    // fact-key joins pass; the dim join and the panel merge are flagged,
    // the duplicated dim line reported once
    assert(off === Seq(
      "SortMergeJoin [entity_name#4, day#9], [entity_name#6, day#11], " +
        "LeftOuter",
      "SortMergeJoin [s_suppkey#1L], [l_suppkey#8L], Inner"))
    // the election allowance admits exactly the documented (entity, day)
    // merge and nothing else
    val allowed = PipelineScaleStress.AllowedSmj("q_election_pipeline")
    assert(PipelineScaleStress.offendingSmjKeys(plan, allowed) === Seq(
      "SortMergeJoin [s_suppkey#1L], [l_suppkey#8L], Inner"))
  }

  test("the SMJ classifier parses KEY LISTS, not the whole rendered line") {
    // a dimension join whose post-join CONDITION mentions a fact key must
    // stay offending — substring matching over the line would admit it
    val dimWithCond = "SortMergeJoin [s_suppkey#1L], [l_suppkey#8L], " +
      "Inner, (o_orderkey#7L > 5)"
    assert(PipelineScaleStress.offendingSmjKeys(dimWithCond) ===
      Seq(dimWithCond))
    // an entity_name-ONLY join whose line happens to contain `peak_day`
    // must stay offending even under the election allowance (the allowance
    // is the exact (entity_name, day) pair)
    val entityOnly = "SortMergeJoin [entity_name#4], [entity_name#6], " +
      "Inner, (peak_day#12 >= day_zero#13)"
    val allowed = PipelineScaleStress.AllowedSmj("q_election_pipeline")
    assert(PipelineScaleStress.offendingSmjKeys(entityOnly, allowed) ===
      Seq(entityOnly))
    // an AQE-split skewed fact join parses through the (skew=true) prefix
    val skewed =
      "SortMergeJoin(skew=true) [l_orderkey#5L], [o_orderkey#7L], Inner"
    assert(PipelineScaleStress.offendingSmjKeys(skewed) === Nil)
    // a line that doesn't parse is OFFENDING (fail loud), never allowed
    val weird = "SortMergeJoin unparseable-render-shape"
    assert(PipelineScaleStress.offendingSmjKeys(weird) === Seq(weird))
  }
}
