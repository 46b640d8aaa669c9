package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.label.Labeler
import graft.model.Tables
import graft.summarize.SummarizeOps

/** The typed Aggregator summarizer must equal the column-expression form the
  * oracle gates (both: distinct → sorted → ' | ' join → budget truncation). */
class SummarizeSpec extends AnyFunSuite with SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  test("typed Aggregator equals the column-expression summarizer") {
    import spark.implicits._
    val lc = Labeler.withStubLabels(Tables.chunkRows(spark, dir))
      .filter(col("label") =!= "U")
    val viaColumns = lc.groupBy(col("entity_sector"))
      .agg(substring(
        concat_ws(" | ", array_sort(collect_set(col("motivation")))),
        1, SummarizeOps.PartialBudget).as("summary"))
    val agg = new SummarizeOps.BudgetSummarize[(String, String)](
      SummarizeOps.PartialBudget, _._2)
    val viaAggregator = lc.select(col("entity_sector"), col("motivation"))
      .as[(String, String)]
      .groupByKey(_._1)
      .agg(agg.toColumn.name("summary"))
      .toDF("entity_sector", "summary")
    assert(viaColumns.exceptAll(viaAggregator).isEmpty &&
      viaAggregator.exceptAll(viaColumns).isEmpty)
  }

  test("Aggregator equals the column twin on supplementary-plane text") {
    import spark.implicits._
    // 🚀 (U+1F680) sorts BELOW ｡ (U+FF61) in UTF-16 code-unit order but
    // ABOVE it in code-point order (what array_sort and DuckDB use); the
    // emoji is also 2 UTF-16 units but 1 code point, so a String.take
    // budget would cut differently than substring's — both divergences
    // must be absent
    val rows = Seq(("g", "🚀 rocket"), ("g", "｡ halfwidth"),
      ("g", "ascii plain"), ("g", "😀😀😀"))
      .toDF("k", "v")
    val budget = 14
    val viaColumns = rows.groupBy(col("k"))
      .agg(substring(concat_ws(" | ", array_sort(collect_set(col("v")))),
        1, budget).as("summary"))
    val agg = new SummarizeOps.BudgetSummarize[(String, String)](budget, _._2)
    val viaAggregator = rows.as[(String, String)]
      .groupByKey(_._1).agg(agg.toColumn.name("summary"))
      .toDF("k", "summary")
    val a = viaColumns.head().getString(1)
    val b = viaAggregator.head().getString(1)
    assert(a == b, s"column '${a}' vs aggregator '${b}'")
  }
}
