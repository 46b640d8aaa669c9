package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.Tables
import graft.sources.SourceOps

/** Co-located joins via bucketing: both fact tables written
  * `bucketBy(n, key).sortBy(key)` must join with NO exchange and NO sort —
  * the write-once/join-many layout that removes the only scaling shuffle in
  * the chunk star join (lineitem⋈orders) at 100 TB. */
class BucketedJoinSpec extends AnyFunSuite with SparkSuite {

  private val dir = "/root/testdata/sf0.001"
  private lazy val warehouse =
    tempDir("graft_wh").toString
  override protected def sparkOverrides = Map(
    "spark.sql.warehouse.dir" -> warehouse,
    // force the sort-merge path so the assertion is about exchanges, not a
    // broadcast dodging them
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    // propagate the buckets' sortBy order to the scan's outputOrdering —
    // off by default since Spark 3.0 because multi-file buckets would need a
    // merge-sort per bucket; writeBucketed guarantees single-file buckets,
    // which is exactly the regime the flag is safe (and profitable) in
    "spark.sql.legacy.bucketedTableScan.outputOrdering" -> "true")

  override def beforeAll(): Unit = {
    SourceOps.writeBucketed(Tables.lineitem(spark, dir), "li_b", "l_orderkey", 8)
    SourceOps.writeBucketed(Tables.orders(spark, dir), "ord_b", "o_orderkey", 8)
  }

  test("bucketed fact-fact join plans with zero exchanges and zero sorts") {
    val joined = spark.table("li_b")
      .join(spark.table("ord_b"), col("l_orderkey") === col("o_orderkey"))
    // pin the ADAPTIVE-final plan (execute, then unwrap), not the
    // compile-time one — same pattern as ReportPipelineSpec
    val (rows, plan) = PlanCheck.executedFinalPlan(joined)
    assert(plan.contains("SortMergeJoin"))
    assert(!plan.contains("Exchange"),
      s"bucketed join should not shuffle:\n$plan")
    assert(!plan.contains("Sort "),
      s"sortBy buckets should make the merge sort-free:\n$plan")
    // and it computes the same thing as the plain shuffled join
    val plain = Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
    assert(rows.length == plain.count())
  }

  test("composite-key bucketing joins exchange-free on the full key") {
    // the multi-column overload exists because Spark's co-partition check
    // ignores a subset-key layout (both sides would re-shuffle on the full
    // join key — observed with the band table's (band, key) join); bucket
    // the FULL key and the join plans shuffle-free
    SourceOps.writeBucketed(Tables.lineitem(spark, dir), "li_mk",
      Seq("l_orderkey", "l_linenumber"), 8)
    SourceOps.writeBucketed(Tables.lineitem(spark, dir), "li_mk2",
      Seq("l_orderkey", "l_linenumber"), 8)
    val joined = spark.table("li_mk").select(col("l_orderkey"),
      col("l_linenumber"), col("l_quantity"))
      .join(spark.table("li_mk2").select(col("l_orderkey"),
        col("l_linenumber"), col("l_extendedprice")),
        Seq("l_orderkey", "l_linenumber"))
    val (_, plan) = PlanCheck.executedFinalPlan(joined)
    assert(plan.contains("SortMergeJoin"))
    assert(!plan.contains("Exchange"),
      s"full-key bucketed join should not shuffle:\n$plan")
    // (l_orderkey, l_linenumber) is NOT unique in the synthetic lineitem,
    // so compare against the plain shuffled join, not the table count
    val li = Tables.lineitem(spark, dir)
    val plainCount = li.select(col("l_orderkey"), col("l_linenumber"))
      .join(li.select(col("l_orderkey"), col("l_linenumber")),
        Seq("l_orderkey", "l_linenumber")).count()
    assert(joined.count() == plainCount)
  }

  test("aggregation on the bucket key also skips the exchange") {
    val agg = spark.table("li_b")
      .groupBy(col("l_orderkey")).agg(sum(col("l_quantity")).as("q"))
    val (_, plan) = PlanCheck.executedFinalPlan(agg)
    assert(!plan.contains("Exchange"),
      s"groupBy on the bucket key should reuse the bucketing:\n$plan")
    val expected = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey")).agg(sum(col("l_quantity")).as("q"))
    assert(agg.exceptAll(expected).isEmpty && expected.exceptAll(agg).isEmpty)
  }
}
