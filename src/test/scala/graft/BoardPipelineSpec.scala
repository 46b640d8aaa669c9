package graft

import org.scalatest.funsuite.AnyFunSuite

/** Composition invariants of the board-monitoring pipeline
  * (`q_board_pipeline`) the row-hash gate can't state row-locally: scaffold
  * density on the common quarter axis, the mode-containment law (strict ⊆
  * relaxed_post ⊆ relaxed survives the per-mode dedup), the dedup's
  * one-row-per-document accounting, and the broadcast scaffold merges on
  * the ADAPTIVE-final plan. */
class BoardPipelineSpec extends AnyFunSuite with SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  private def pipeline = Registry.all.find(_.name == "q_board_pipeline").get

  private lazy val (rows, plan) =
    PlanCheck.executedFinalPlan(pipeline.run(spark, dir))

  test("panel is a dense common-quarter × mode scaffold") {
    assert(rows.nonEmpty)
    val quarters = rows.map(_.getAs[String]("quarter_date")).distinct.sorted
    val modes = rows.map(_.getAs[String]("mode")).distinct.sorted
    assert(modes === graft.analytics.BoardPipeline.Modes.sorted)
    assert(rows.length === quarters.length * modes.length,
      "every (quarter, mode) cell must exist exactly once")
    // consecutive quarter starts are exactly 3 months apart (common axis)
    val fmt = java.time.format.DateTimeFormatter.ISO_LOCAL_DATE
    quarters.sliding(2).filter(_.length == 2).foreach { pair =>
      assert(java.time.LocalDate.parse(pair(0), fmt).plusMonths(3) ===
        java.time.LocalDate.parse(pair(1), fmt),
        s"quarter gap between ${pair(0)} and ${pair(1)}")
    }
    // the period label and the start date agree
    rows.foreach { r =>
      val d = java.time.LocalDate.parse(r.getAs[String]("quarter_date"), fmt)
      val expected = s"${d.getYear}Q${(d.getMonthValue - 1) / 3 + 1}"
      assert(r.getAs[String]("quarter") === expected)
      assert(d.getDayOfMonth === 1 && (d.getMonthValue - 1) % 3 === 0,
        s"${r.getAs[String]("quarter_date")} is not a quarter start")
    }
  }

  test("timestamps are constant per document (containment-law premise)") {
    // The per-quarter containment assertion below holds only because every
    // chunk of a document shares one timestamp: strict's kept row for a
    // document could otherwise carry a LATER timestamp than relaxed_post's
    // (strict rows are a subset, so its first-wins winner can differ) and
    // land the same document in a different quarter. Pin the corpus shape
    // explicitly — same pattern as MarketPipelineSpec's watchlist-role pin
    // — so a generator change surfaces HERE, not as a baffling
    // containment failure.
    import org.apache.spark.sql.functions._
    val multiTs = graft.model.Tables.chunkRows(spark, dir)
      .groupBy(col("document_id"))
      .agg(countDistinct(col("timestamp_utc")).as("n"))
      .filter(col("n") > 1)
      .count()
    assert(multiTs === 0L,
      "a document carries more than one timestamp — the per-quarter mode " +
        "containment law no longer follows from first-wins dedup")
  }

  test("mode containment survives the per-mode dedup") {
    // strict rows ⊆ relaxed_post rows ⊆ relaxed rows at the chunk level,
    // first-wins dedup keeps exactly one row per (mode, document), and
    // each document's rows share one timestamp (pinned above) — so a
    // document lands in the SAME quarter under every mode that admits it,
    // and per-quarter DOC counts must preserve the containment order
    val byQuarter = rows.groupBy(_.getAs[String]("quarter"))
    byQuarter.foreach { case (q, rs) =>
      val n = rs.map(r => r.getAs[String]("mode") -> r.getAs[Long]("n_docs"))
        .toMap
      assert(n("strict") <= n("relaxed_post"),
        s"$q: strict docs exceed relaxed_post")
      assert(n("relaxed_post") <= n("relaxed"),
        s"$q: relaxed_post docs exceed relaxed")
    }
  }

  test("dedup keeps at most one entity per document") {
    rows.foreach { r =>
      assert(r.getAs[Long]("n_entities") <= r.getAs[Long]("n_docs"),
        "distinct kept entities cannot exceed kept documents")
      assert(r.getAs[Long]("n_docs") >= 0)
    }
  }

  test("scaffold merges stay broadcast on the ADAPTIVE-final plan") {
    assert(rows.nonEmpty)
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"),
      s"expected broadcast scaffold merges:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }
}
