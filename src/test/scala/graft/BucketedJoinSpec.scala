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
    java.nio.file.Files.createTempDirectory("graft_wh").toString
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

  test("bucketed near-dup assignment zone: exchange-free candidate " +
      "self-join, sweep bit-identical to the computed path") {
    import graft.sim.SimilarityOps
    SimilarityOps.buildNearDupIndexBucketed(spark, dir, "nd_asg", 8)
    // the candidate-generation fragment: the (tbl, bucket) self-join must
    // reuse the table's hash layout on BOTH sides — zero exchanges
    val t = spark.table("nd_asg")
    val selfJoin = t.select(col("tbl"), col("bucket"),
      col("vec_id").as("id_a"))
      .join(t.select(col("tbl"), col("bucket"), col("vec_id").as("id_b")),
        Seq("tbl", "bucket"))
      .filter(col("id_a") < col("id_b"))
    val (_, plan) = PlanCheck.executedFinalPlan(selfJoin)
    assert(plan.contains("SortMergeJoin"))
    assert(!plan.contains("Exchange"),
      s"bucketed assignment self-join should not shuffle:\n$plan")
    // and the full sweep through the table equals the computed path
    def key(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("id_a", "id_b").collect()
        .map(r => s"${r.get(0)}|${r.get(1)}|${r.get(2)}|${r.get(3)}").toSeq
    assert(key(SimilarityOps.ivfCosinePairsFromTable(spark, dir, "nd_asg"))
      == key(SimilarityOps.ivfCosinePairs(spark, dir)),
      "bucketed-table sweep diverged from the computed quantizers")
  }

  test("registered bucketed-route gate survives an orphaned warehouse " +
      "location and matches the parquet route") {
    import graft.sim.SimilarityOps
    // simulate a FRESH JVM against a warehouse a previous session wrote:
    // the in-memory catalog is empty but the managed table's files are on
    // disk — CTAS refuses a non-empty location, so the resolver must clear
    // the orphan before rebuilding (the in-code comment's exact scenario)
    val fp = SimilarityOps.corpusFingerprint(spark, dir)
    val table = s"graft_nd_asg_$fp"
    val loc = java.nio.file.Paths.get(warehouse,
      table.toLowerCase(java.util.Locale.ROOT))
    java.nio.file.Files.createDirectories(loc)
    java.nio.file.Files.writeString(loc.resolve("part-orphan"), "junk")
    assert(!spark.catalog.tableExists(table))
    def rows(name: String): Seq[String] =
      SparkEntry.queries(name)(spark, dir).collect()
        .map(_.toString).toSeq
    val got = rows("q_embed_neardup_ivf_bucketed")
    assert(got.nonEmpty)
    assert(spark.catalog.tableExists(table),
      "the gate must have registered the bucketed assignment zone")
    // both physical routes produce identical gate output (shared oracle)
    assert(got == rows("q_embed_neardup_ivf"),
      "bucketed-route gate diverged from the parquet route")
  }

  test("bucketed gate never keys a shared table off an unreadable corpus") {
    import graft.sim.SimilarityOps
    // an unreadable corpus fingerprints as "absent"; the gate must fall
    // back to computing (which fails loudly at the scan) rather than read
    // or create graft_nd_asg_absent — a fingerprint-less SHARED name that
    // a different corpus' listing hiccup would then silently serve
    val ghost = "/nonexistent/graft_corpus"
    assert(SimilarityOps.corpusFingerprint(spark, ghost) == "absent")
    intercept[Exception] {
      SparkEntry.queries("q_embed_neardup_ivf_bucketed")(spark, ghost)
        .collect()
    }
    assert(!spark.catalog.tableExists("graft_nd_asg_absent"),
      "an unreadable corpus must never create the shared absent table")
  }

  test("table pruner drops only provably stale bucketed assignment zones") {
    import graft.sim.SimilarityOps
    def gate(d: String) =
      SparkEntry.queries("q_embed_neardup_ivf_bucketed")(spark, d).collect()
    // zone 1: the standing testdata corpus → kept
    gate(dir)
    val fpKeep = SimilarityOps.corpusFingerprint(spark, dir)
    // zone 2: a corpus that is then REGENERATED → dropped_regenerated
    val corpus = java.nio.file.Files.createTempDirectory("ndtab").toString
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    emb.write.parquet(s"$corpus/embeddings.parquet")
    gate(corpus)
    val fpOld = SimilarityOps.corpusFingerprint(spark, corpus)
    emb.write.mode("overwrite").parquet(s"$corpus/embeddings.parquet")
    assert(SimilarityOps.corpusFingerprint(spark, corpus) != fpOld)
    // zone 3: a corpus deleted outright → dropped_corpus_gone
    val corpus2 = java.nio.file.Files.createTempDirectory("ndtab2").toString
    emb.write.parquet(s"$corpus2/embeddings.parquet")
    gate(corpus2)
    val fpGone = SimilarityOps.corpusFingerprint(spark, corpus2)
    org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(corpus2), true)
    // a prefix-colliding table WITHOUT provenance properties → kept
    spark.sql(
      "CREATE TABLE graft_nd_asg_foreign (x INT) USING parquet")
    try {
      val report = SimilarityOps.pruneNearDupTables(spark).toMap
      assert(report(s"graft_nd_asg_$fpKeep") == "kept")
      assert(report(s"graft_nd_asg_$fpOld") == "dropped_regenerated")
      assert(report(s"graft_nd_asg_$fpGone") == "dropped_corpus_gone")
      assert(report("graft_nd_asg_foreign") == "kept")
      assert(spark.catalog.tableExists(s"graft_nd_asg_$fpKeep"))
      assert(!spark.catalog.tableExists(s"graft_nd_asg_$fpOld"))
      assert(!spark.catalog.tableExists(s"graft_nd_asg_$fpGone"))
      // the kept zone still answers the gate (files intact, not just meta)
      assert(gate(dir).nonEmpty)
    } finally spark.sql("DROP TABLE IF EXISTS graft_nd_asg_foreign")
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
