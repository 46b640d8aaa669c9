package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{AsOfJoinOps, AsOfJoinStrategy}

/** Custom as-of join operator: LogicalPlan → Strategy → sorted-merge
  * SparkPlan, installed on a plain session by `AsOfJoinOps.ensureRegistered`
  * (the one install path every as-of query takes). */
class AsOfPlanSpec extends AnyFunSuite with SparkSuite {

  test("as-of semantics on a known fixture: latest ref <= t, ties, no-match") {
    import spark.implicits._
    val probes = Seq(
      ("a", 5, "p1"), ("a", 10, "p2"), ("a", 2, "p3"),
      ("b", 7, "p4"),
      ("c", 9, "p5")) // key with no refs at all
      .toDF("k", "t", "probe")
    val refs = Seq(
      ("a", 3, 100L), ("a", 5, 200L), ("a", 5, 150L), ("a", 8, 300L),
      ("b", 9, 400L)) // only ref is AFTER b's probe
      .toDF("rk", "rt", "v")
    val out = AsOfJoinOps.asof(probes, refs, "k", "rk", "t", "rt",
      rightTiebreak = Seq("v"))
      .select(col("probe"), col("v"))
      .collect().map(r => r.getString(0) -> Option(r.get(1))).toMap
    assert(out("p1") == Some(200L)) // tie at t=5 -> max tiebreak wins
    assert(out("p2") == Some(300L)) // latest ref <= 10
    assert(out("p3") == None)       // no ref <= 2
    assert(out("p4") == None)       // b's only ref is later
    assert(out("p5") == None)       // key never present on right
  }

  test("custom plan output equals the composed union+window formulation") {
    val dir = "/root/testdata/sf0.001"
    val viaPlan = SparkEntry.queries("q_asof_plan")(spark, dir)
    val viaWindow = SparkEntry.queries("q_asof_join")(spark, dir)
    assert(viaPlan.schema.fieldNames.sameElements(viaWindow.schema.fieldNames))
    assert(viaPlan.exceptAll(viaWindow).isEmpty &&
      viaWindow.exceptAll(viaPlan).isEmpty)
  }

  test("self-as-of-join: shared ExprIds are deduplicated, not misbound") {
    import spark.implicits._
    // same DataFrame on both sides — without re-aliasing, left and right
    // outputs share ExprIds and BindReferences binds the right key to the
    // left slot, which either throws or silently self-matches everything
    val df = Seq(("a", 1, 10L), ("a", 3, 30L), ("b", 2, 20L))
      .toDF("k", "t", "v")
    val out = AsOfJoinOps.asof(df, df, "k", "k", "t", "t")
    assert(out.columns.length == 6)
    val rows = out.collect()
    assert(rows.length == 3)
    // every left row matches at least itself (t <= t, same key)
    assert(rows.forall(r => !r.isNullAt(5)))
    // ("a",3) must match the LATEST ref <= 3, i.e. itself (v=30)
    val a3 = rows.find(r => r.getString(0) == "a" && r.getInt(1) == 3).get
    assert(a3.getLong(5) == 30L)
  }

  test("string keys at volume match a window-based oracle") {
    import spark.implicits._
    // many right rows per string key across several partitions — regression
    // cover for retained-key corruption from reused row buffers
    val rnd = new scala.util.Random(7)
    val keys = (0 until 40).map(i => s"entity_$i")
    val probes = (0 until 2000).map { i =>
      (keys(rnd.nextInt(keys.size)), rnd.nextInt(1000), i.toLong) }
      .toDF("k", "t", "pid")
    val refs = (0 until 5000).map { i =>
      (keys(rnd.nextInt(keys.size)), rnd.nextInt(1000), i.toLong) }
      .toDF("rk", "rt", "rid")
    val out = AsOfJoinOps.asof(probes, refs, "k", "rk", "t", "rt",
      rightTiebreak = Seq("rid"))
      .select("pid", "rid")
    // oracle: composed union-free formulation via a plain join + window argmax
    import org.apache.spark.sql.expressions.Window
    val cand = probes.join(refs, col("k") === col("rk") && col("rt") <= col("t"), "left")
    val w = Window.partitionBy("pid").orderBy(col("rt").desc, col("rid").desc)
    val oracle = cand.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).select("pid", "rid")
    assert(out.exceptAll(oracle).isEmpty && oracle.exceptAll(out).isEmpty)
  }

  test("declared output ordering elides a downstream re-sort on (key, time)") {
    import spark.implicits._
    val probes = Seq(("a", 1), ("a", 2), ("b", 1)).toDF("k", "t")
    val refs = Seq(("a", 1, 1L), ("b", 1, 2L)).toDF("rk", "rt", "v")
    val sorted = AsOfJoinOps.asof(probes, refs, "k", "rk", "t", "rt")
      .sortWithinPartitions(col("k"), col("t"))
    val physical = sorted.queryExecution.executedPlan.toString
    // only the exec's two required child sorts — no third sort on top
    assert("Sort \\[".r.findAllIn(physical).size == 2,
      s"expected the downstream (k, t) sort to be elided:\n$physical")
  }

  test("physical plan is the custom exec over one exchange per side") {
    import spark.implicits._
    val probes = Seq(("a", 1)).toDF("k", "t")
    val refs = Seq(("a", 1, 1L)).toDF("rk", "rt", "v")
    val out = AsOfJoinOps.asof(probes, refs, "k", "rk", "t", "rt")
    val physical = out.queryExecution.executedPlan.toString
    assert(physical.contains("AsOfJoin")) // nodeName of AsOfJoinExec
    assert("Exchange hashpartitioning".r.findAllIn(physical).size == 2)
  }

  test("the strategy is installed once per session, on first as-of use") {
    import spark.implicits._
    val probes = Seq(("a", 1)).toDF("k", "t")
    val refs = Seq(("a", 1, 1L)).toDF("rk", "rt", "v")
    AsOfJoinOps.asof(probes, refs, "k", "rk", "t", "rt")
    AsOfJoinOps.ensureRegistered(spark)
    assert(spark.experimental.extraStrategies
      .count(_ == AsOfJoinStrategy) == 1)
  }

  test("mismatched key/time types fail at PLAN time, by name") {
    import spark.implicits._
    // a hand-built node skips the analyzer's implicit casts: the exec
    // compares right values with LEFT-typed orderings, so a type mismatch
    // must be rejected before any task runs (not a mid-job ClassCast)
    val probes = Seq(("a", java.sql.Date.valueOf("2024-01-01"))).toDF("k", "t")
    val refs = Seq(("a", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1L))
      .toDF("rk", "rt", "v")
    val e = intercept[IllegalArgumentException](
      AsOfJoinOps.asof(probes, refs, "k", "rk", "t", "rt"))
    assert(e.getMessage.contains("time type mismatch") &&
      e.getMessage.contains("t is date") &&
      e.getMessage.contains("rt is timestamp"))
    val probes2 = Seq((1, 1)).toDF("k", "t")
    val refs2 = Seq(("a", 1, 1L)).toDF("rk", "rt", "v")
    val e2 = intercept[IllegalArgumentException](
      AsOfJoinOps.asof(probes2, refs2, "k", "rk", "t", "rt"))
    assert(e2.getMessage.contains("key type mismatch"))
  }

  test("column resolution follows Spark: case-insensitive, and duplicate " +
      "names are an ERROR, not a silent first-match") {
    import spark.implicits._
    val probes = Seq(("a", 5, "p1")).toDF("k", "t", "probe")
    val refs = Seq(("a", 3, 100L)).toDF("rk", "rt", "v")
    // spark.sql.caseSensitive defaults false — "K"/"RT" must resolve like
    // every other DataFrame API
    val out = AsOfJoinOps.asof(probes, refs, "K", "rk", "t", "RT")
    assert(out.count() == 1)
    // asof output itself carries duplicate names (self-join: k,t,v,k,t,v);
    // feeding it back must refuse the ambiguous key instead of silently
    // binding whichever side comes first
    val selfOut = AsOfJoinOps.asof(probes, probes, "k", "k", "t", "t")
    val dupNames = selfOut.columns.groupBy(identity).filter(_._2.length > 1)
    assert(dupNames.nonEmpty, "precondition: self-join output has dups")
    val e = intercept[IllegalArgumentException](
      AsOfJoinOps.asof(selfOut, refs, "k", "rk", "t", "rt"))
    assert(e.getMessage.contains("ambiguous"))
  }
}
