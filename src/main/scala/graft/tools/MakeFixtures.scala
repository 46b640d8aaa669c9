package graft.tools

import org.apache.spark.sql.functions._

import graft.model.Tables

/** One-shot generator for the committed repo fixtures.
  *
  * `fixtures/evalset.parquet`: the external eval-set table
  * `q_decontaminate_ext` decontaminates against — every 97th sf0.01
  * document with at least 13 words (so production-width 13-grams exist),
  * re-keyed as `(eval_id, text)`. Copying corpus text is exactly how real
  * contamination happens (the benchmark leaked into the crawl), so overlap
  * is guaranteed at sf0.01 while the table remains a genuinely separate
  * input with its own schema and path.
  *
  * Deterministic: same input ⇒ byte-identical rows (single output file,
  * ordered by eval_id). Re-run only if the test data changes:
  * {{{ sbt "runMain graft.tools.MakeFixtures" }}}
  */
object MakeFixtures {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outDir = if (args.length > 1) args(1) else "/root/repo/fixtures"
    val spark = graft.Session()
    Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 97 === 0 &&
        size(split(col("text"), " ")) >= 13)
      .select(col("doc_id").as("eval_id"), col("text"))
      .orderBy(col("eval_id"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$outDir/evalset.parquet")
    println(s"[fixtures] wrote $outDir/evalset.parquet")
    spark.stop()
  }
}
