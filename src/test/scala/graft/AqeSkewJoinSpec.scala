package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins that AQE's skew-join mitigation ENGAGES on a hot-key join under
  * this engine's session settings — the runtime half of the skew story
  * (q_salted_agg owns the write-side/aggregation half). A 100 TB join with a
  * hot key otherwise stalls on one straggler reducer; AQE splits the skewed
  * partition into subpartitions and replicates the matching build rows.
  * The thresholds here are scaled down so a local fixture trips the same
  * code path a production hot key would. */
class AqeSkewJoinSpec extends AnyFunSuite with SparkSuite {

  override protected def sparkOverrides = Map(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    // scale the skew detector down to fixture size: a partition is skewed if
    // > factor × median and > threshold; make the hot partition trip both
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32KB",
    // force the sort-merge path: a broadcast join would dodge the skew
    "spark.sql.autoBroadcastJoinThreshold" -> "-1")

  private def smjs(p: SparkPlan): Seq[SortMergeJoinExec] =
    p.flatMap {
      case a: AdaptiveSparkPlanExec => smjs(a.executedPlan)
      case q: QueryStageExec => smjs(q.plan)
      case j: SortMergeJoinExec => Seq(j)
      case _ => Nil
    }

  test("a hot-key sort-merge join executes with AQE skew mitigation") {
    import spark.implicits._
    // left: 100k rows on ONE key (the hot key) + 10k spread over 100 keys.
    // The payload must (a) survive column pruning — stay in the output — and
    // (b) not compress away (shuffle partition sizes are measured on
    // compressed map output; a constant would vanish): md5(id) varies per row
    val left = spark.range(110000)
      .select(
        when(col("id") < 100000, lit(0L)).otherwise(pmod(col("id"), lit(100)))
          .as("k"),
        concat(md5(col("id").cast("string")),
          md5(concat(lit("b"), col("id")))).as("payload"))
    val right = spark.range(100).select(col("id").as("k"),
      concat(lit("dim"), col("id")).as("name"))
    val joined = left.join(right, Seq("k"))
      .select(col("k"), col("payload"), col("name"))
    // execute THIS dataframe (count() would be a separate query execution
    // whose adaptive plan the assertions below couldn't see)
    assert(joined.collect().length == 110000)
    val joins = smjs(joined.queryExecution.executedPlan)
    assert(joins.nonEmpty, "expected the join to plan as sort-merge")
    assert(joins.exists(_.isSkewJoin),
      "AQE should have split the hot partition (isSkewJoin):\n" +
        joined.queryExecution.executedPlan)
  }
}
