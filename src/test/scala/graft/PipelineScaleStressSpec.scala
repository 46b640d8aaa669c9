package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.PipelineScaleStress

/** Pins the PipelineScaleStress harness itself (the TextScaleStressSpec
  * pattern): the fact blowup's construction laws at a tiny factor, and the
  * off-fact-key SortMergeJoin classifier the ×10/×25 plan pins rest on —
  * a parsing regression there would turn the scale audit into a no-op. */
class PipelineScaleStressSpec extends AnyFunSuite with SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  test("fact blowup is size-exact, key-unique, join-closed, dims verbatim") {
    val factor = 3
    val out = java.nio.file.Files
      .createTempDirectory("pipe_stress_spec").toString
    PipelineScaleStress.blowUpFacts(spark, dir, out, factor)
    val o0 = spark.read.parquet(s"$dir/orders.parquet")
    val l0 = spark.read.parquet(s"$dir/lineitem.parquet")
    val o1 = spark.read.parquet(s"$out/orders.parquet")
    val l1 = spark.read.parquet(s"$out/lineitem.parquet")
    assert(o1.count() === o0.count() * factor)
    assert(l1.count() === l0.count() * factor)
    // orderkeys stay unique after the remap (k·factor + j is injective)
    assert(o1.select(col("o_orderkey")).distinct().count() === o1.count())
    // every blown lineitem still finds its order — the remap is applied
    // consistently on both facts
    assert(l1.join(o1, col("l_orderkey") === col("o_orderkey"), "left_anti")
      .count() === 0L)
    // copy 0 is the source verbatim under the remap
    val src = o0.select((col("o_orderkey") * factor).as("k"),
      col("o_orderpriority").as("p0"))
    val c0 = o1.filter(pmod(col("o_orderkey"), lit(factor)) === 0)
      .select(col("o_orderkey").as("k"), col("o_orderpriority"))
    assert(c0.join(src, Seq("k")).filter(col("p0") =!= col("o_orderpriority"))
      .count() === 0L)
    // dimensions ship verbatim (spot-check the one the text join keys on)
    val d0 = spark.read.parquet(s"$dir/documents.parquet")
    val d1 = spark.read.parquet(s"$out/documents.parquet")
    assert(d0.exceptAll(d1).isEmpty && d1.exceptAll(d0).isEmpty)
    // and the blowup is a pure function: a second run is bit-identical
    val out2 = java.nio.file.Files
      .createTempDirectory("pipe_stress_spec2").toString
    PipelineScaleStress.blowUpFacts(spark, dir, out2, factor)
    val l2 = spark.read.parquet(s"$out2/lineitem.parquet")
    assert(l1.exceptAll(l2).isEmpty && l2.exceptAll(l1).isEmpty)
  }

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

  test("hot-key skew blowup: same n, 1:N join closed, hot fractions land") {
    val factor = 4
    val skewPct = 25
    val out = java.nio.file.Files
      .createTempDirectory("pipe_skew_spec").toString
    PipelineScaleStress.blowUpFacts(spark, dir, out, factor, skewPct)
    val l0 = spark.read.parquet(s"$dir/lineitem.parquet")
    val o1 = spark.read.parquet(s"$out/orders.parquet")
    val l1 = spark.read.parquet(s"$out/lineitem.parquet")
    // the skew re-keys rows, never adds or drops them: n is exactly the
    // uniform blowup's n (the wall-time comparison is at the same n)
    assert(l1.count() === l0.count() * factor)
    // orderkeys stay unique in orders (exactly ONE hot order row) — the
    // doc-skewed slice joins 1:N, never N:M
    assert(o1.select(col("o_orderkey")).distinct().count() === o1.count())
    assert(o1.filter(col("o_orderkey") === 1L).count() === 1L)
    // every lineitem row still finds its order (hot slice included, and
    // no order copy was dropped while keeping its children)
    assert(l1.join(o1, col("l_orderkey") === col("o_orderkey"), "left_anti")
      .count() === 0L)
    // the hot document and hot entity each hold ≈ skewPct% of the corpus
    // (selection is pmod over contiguous source keys — tight at any n)
    val n = l1.count().toDouble
    val hotDoc = l1.filter(col("l_orderkey") === 1L).count() / n
    val hotEnt = l1.filter(col("l_suppkey") === 1L).count() / n
    assert(hotDoc > skewPct / 100.0 * 0.5 && hotDoc < skewPct / 100.0 * 1.5,
      s"hot-doc fraction $hotDoc")
    // hot entity: the routed slice plus whatever source rows already carry
    // suppkey 1 — at least the routed share
    assert(hotEnt > skewPct / 100.0 * 0.5, s"hot-entity fraction $hotEnt")
    // the two slices are DISJOINT: no row is both doc-hot and entity-hot
    // beyond source rows that organically carry suppkey 1
    val both = l1.filter(col("l_orderkey") === 1L &&
      col("l_suppkey") === 1L).count() / n
    assert(both < 0.05, s"overlap fraction $both")
    // pure function: a second run is bit-identical
    val out2 = java.nio.file.Files
      .createTempDirectory("pipe_skew_spec2").toString
    PipelineScaleStress.blowUpFacts(spark, dir, out2, factor, skewPct)
    val l2 = spark.read.parquet(s"$out2/lineitem.parquet")
    assert(l1.exceptAll(l2).isEmpty && l2.exceptAll(l1).isEmpty)
  }
}
