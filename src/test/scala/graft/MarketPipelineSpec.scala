package graft

import org.scalatest.funsuite.AnyFunSuite

/** Composition invariants of the §3.1 end-to-end market pipeline
  * (`q_market_pipeline`) the row-hash gate can't state row-locally: scaffold
  * density, basket restriction and ordering, the zero-fill/net arithmetic,
  * and the broadcast shape of the panel merges on the ADAPTIVE-final plan. */
class MarketPipelineSpec extends AnyFunSuite with SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  private def pipeline = Registry.all.find(_.name == "q_market_pipeline").get

  private lazy val (rows, plan) =
    PlanCheck.executedFinalPlan(pipeline.run(spark, dir))

  test("panel is a dense weeks × basket scaffold") {
    assert(rows.nonEmpty)
    val weeks = rows.map(_.getAs[String]("week")).distinct.sorted
    val companies = rows.map(_.getAs[String]("entity_name")).distinct
    assert(companies.length <= 6, "basket must be top-k bounded (k=6)")
    assert(rows.length === weeks.length * companies.length,
      "every (week, basket company) cell must exist exactly once")
    // consecutive W-MON labels are 7 days apart (dense, no gaps)
    val fmt = java.time.format.DateTimeFormatter.ISO_LOCAL_DATE
    weeks.sliding(2).filter(_.length == 2).foreach { pair =>
      val (a, b) = (pair(0), pair(1))
      assert(java.time.LocalDate.parse(a, fmt).plusDays(7) ===
        java.time.LocalDate.parse(b, fmt), s"week gap between $a and $b")
    }
    // and each label is a Monday (pandas W-MON period end)
    weeks.foreach(w => assert(
      java.time.LocalDate.parse(w, fmt).getDayOfWeek ===
        java.time.DayOfWeek.MONDAY, s"$w is not a Monday"))
  }

  test("basket attributes are constant per company and internally consistent") {
    rows.groupBy(_.getAs[String]("entity_name")).foreach { case (_, rs) =>
      assert(rs.map(r => (r.getAs[Long]("basket_total"),
        r.getAs[Double]("basket_positive_pct"),
        r.getAs[Long]("basket_net"))).distinct.length === 1,
        "stage-5 basket columns must ride along unchanged")
      val total = rs.head.getAs[Long]("basket_total")
      assert(total > 0, "basket keeps only companies with exposure")
      // the weekly counts must sum back to the basket totals (same frame,
      // two aggregations — the composition seam this spec exists for)
      val posSum = rs.map(_.getAs[Long]("positive_exp")).sum
      val negSum = rs.map(_.getAs[Long]("negative_exp")).sum
      assert(posSum + negSum === total,
        "weekly P/N counts must reconcile with the basket total")
    }
  }

  test("weekly net exposure is the zero-filled P−N arithmetic") {
    rows.foreach { r =>
      assert(r.getAs[Long]("net_exposure") ===
        r.getAs[Long]("positive_exp") - r.getAs[Long]("negative_exp"))
    }
  }

  test("EntityAnyQ is boolean-equivalent to the per-entity Or-tree") {
    // The InSet rendering exists purely for plan/eval economics (see
    // EntityAnyQ's measurement); if its VALUES ever diverged from
    // AnyQ(ids.map(EntityQ)) the sargable watchlist conjunct would
    // silently change the searched slice. Evaluate both over the real
    // relation for id sets hitting each role, absent ids, and the empty
    // list (null-safe compare: both sides must agree even where one
    // renders three-valued logic differently).
    import graft.query.QueryAlgebra._
    import org.apache.spark.sql.functions.col
    val c = graft.model.Tables.chunkRows(spark, dir)
    val sets = Seq(
      (1 to 8).map(i => s"s$i"),
      Seq("c1", "c2", "p3", "s1"),
      Seq("zz-absent", "s999999"),
      Seq.empty[String])
    sets.foreach { idSet =>
      val a = EntityAnyQ(idSet).toColumn
      val b = AnyQ(idSet.map(EntityQ(_)): _*).toColumn
      val mismatches = c.filter(!(a <=> b)).count()
      assert(mismatches === 0L,
        s"EntityAnyQ diverged from the Or-tree for ids=$idSet")
    }
  }

  test("watchlist ids occupy only the entity_id role (batch fan-out = 1)") {
    // The stage-1 docstring's "explode fans out exactly 1" claim is
    // data-shape-dependent: EntityQ matches the entity/other/part roles, so
    // it holds only while watchlist ids ('s…') never appear in the other
    // ('c…') or part ('p…') roles. Pin the shape here so a generator or
    // id-scheme change surfaces as THIS failure, not as a silent
    // multiplicity drift inside the hash gate.
    import org.apache.spark.sql.functions.col
    val wl = graft.analytics.MarketPipeline.Watchlist
    val offRole = graft.model.Tables.chunkRows(spark, dir)
      .filter(col("other_entity_id").isin(wl: _*) ||
        col("part_entity_id").isin(wl: _*))
      .count()
    assert(offRole === 0L, "a watchlist id appeared outside the entity_id " +
      "role — the batch-explode multiplicity-1 property no longer holds")
  }

  test("step-7 outputs round-trip through the S6 xlsx sink and S7 source") {
    // the reference's closing step (AI_Cost_Cutting_Market_Analysis.ipynb
    // cell 41) writes the basket and the weekly panel through
    // ExcelManager.save_workbook; pin the engine's equivalent — the
    // pipeline result through Xlsx.saveWorkbook, back through
    // Xlsx.readWorkbook — as frame equality, so the sink arm is composed
    // WITHOUT making the hash gate itself side-effecting (the
    // NarrativePipelineSpec stage-1 round-trip pattern).
    import graft.sources.Xlsx
    import org.apache.spark.sql.functions.col
    val panel = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows.toSeq).asJava),
      pipeline.run(spark, dir).schema)
    val basket = panel.select("entity_name", "entity_sector", "basket_total",
      "basket_positive_pct", "basket_net").distinct()
    val path = java.nio.file.Files.createTempDirectory("mkt_wb")
      .resolve("market.xlsx").toString
    Xlsx.saveWorkbook(
      Seq((basket, "Basket", (0, 0)), (panel, "Panel", (0, 0))), path)
    for ((df, sheet) <- Seq(basket -> "Basket", panel -> "Panel")) {
      val back = Xlsx.readWorkbook(spark, path, sheet = Some(sheet))
      // the S7 source parses all-ISO-date string columns as dates (the
      // reference's pandas reading) — project the writer side to match
      val a = df.columns.foldLeft(df) { case (acc, c) =>
        if (c == "week") acc.withColumn(c, col(c).cast("date")) else acc
      }
      assert(back.columns.toSeq === df.columns.toSeq,
        s"sheet $sheet column drift through the workbook round-trip")
      assert(a.exceptAll(back).isEmpty && back.exceptAll(a).isEmpty,
        s"sheet $sheet must round-trip through the workbook exactly")
    }
  }

  test("panel merges stay broadcast on the ADAPTIVE-final plan") {
    assert(rows.nonEmpty)
    // basket cross join + counts left merge: both sides are
    // dimension-bounded aggregates and must broadcast — the fact table
    // shuffles only for its two groupBys, never for the panel merges
    assert(!plan.contains("SortMergeJoin"),
      s"a panel merge fell back to a shuffle join:\n$plan")
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"),
      s"expected broadcast panel merges:\n$plan")
  }
}
