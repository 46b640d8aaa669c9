package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.graph.GraphOps

/** G6 spring layout: deterministic seeded Fruchterman-Reingold over a
  * bounded, already-aggregated edge list (presentation boundary — the
  * distributed work is the G2/G4 edge extraction upstream). */
class SpringLayoutSpec extends AnyFunSuite with SparkSuite {

  private def twoCliques = {
    import spark.implicits._
    val a = Seq("a1", "a2", "a3")
    val b = Seq("b1", "b2", "b3")
    val edges = (for (x <- a; y <- a if x < y) yield (x, y)) ++
      (for (x <- b; y <- b if x < y) yield (x, y))
    edges.toDF("src", "dst")
  }

  test("layout is bit-deterministic for a fixed seed") {
    val p1 = GraphOps.springLayout(spark, twoCliques, seed = 42L).collect()
    val p2 = GraphOps.springLayout(spark, twoCliques, seed = 42L).collect()
    assert(p1.map(_.toSeq).toSeq == p2.map(_.toSeq).toSeq)
  }

  test("layout is invariant to input edge ORDER (collect-order hazard)") {
    import org.apache.spark.sql.functions.col
    // same edge set, reversed row order: the force loop accumulates doubles
    // in edge order, so without the internal canonicalizing sort the
    // coordinates would differ in low-order bits between these two runs
    val reversed = twoCliques.orderBy(col("src").desc, col("dst").desc)
    val p1 = GraphOps.springLayout(spark, twoCliques).collect()
    val p2 = GraphOps.springLayout(spark, reversed).collect()
    assert(p1.map(_.toSeq).toSeq == p2.map(_.toSeq).toSeq)
  }

  test("connected cliques end up closer than the disconnected pair") {
    val pos = GraphOps.springLayout(spark, twoCliques, iterations = 100)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    def d(u: String, v: String): Double = {
      val (x1, y1) = pos(u); val (x2, y2) = pos(v)
      math.hypot(x1 - x2, y1 - y2)
    }
    val intra = for {
      c <- Seq(Seq("a1", "a2", "a3"), Seq("b1", "b2", "b3"))
      x <- c; y <- c if x < y
    } yield d(x, y)
    val inter = for (x <- Seq("a1", "a2", "a3"); y <- Seq("b1", "b2", "b3"))
      yield d(x, y)
    assert(intra.max < inter.min,
      s"intra ${intra.max} should be < inter ${inter.min}")
  }

  test("coordinates are centered and rescaled into [-1, 1]") {
    val rows = GraphOps.springLayout(spark, twoCliques, dim = 3).collect()
    assert(rows.head.schema.fieldNames.toSeq == Seq("node", "x", "y", "z"))
    rows.foreach { r =>
      for (i <- 1 to 3)
        assert(math.abs(r.getDouble(i)) <= 1.0 + 1e-12)
    }
    assert(rows.exists(r => math.abs(r.getDouble(1)) > 0.5),
      "rescale should push the extent to the unit box")
  }

  test("node and edge bounds throw rather than truncate") {
    intercept[IllegalArgumentException] {
      GraphOps.springLayout(spark, twoCliques, maxNodes = 3)
    }
    intercept[IllegalArgumentException] {
      GraphOps.springLayout(spark, twoCliques, maxEdges = 2)
    }
    intercept[IllegalArgumentException] {
      GraphOps.springLayout(spark, twoCliques, dim = 4)
    }
  }

  test("duplicate and bidirectional rows collapse to one undirected edge") {
    import spark.implicits._
    // same edge SET as twoCliques but with every edge also present reversed
    // and one edge tripled — nx.Graph semantics: re-adding an edge is a
    // no-op, so the layout must be bit-identical to the clean list
    val clean = twoCliques
    val noisy = clean
      .union(clean.select($"dst".as("src"), $"src".as("dst")))
      .union(Seq(("a1", "a2"), ("a2", "a1")).toDF("src", "dst"))
    val p1 = GraphOps.springLayout(spark, clean).collect()
    val p2 = GraphOps.springLayout(spark, noisy).collect()
    assert(p1.map(_.toSeq).toSeq == p2.map(_.toSeq).toSeq,
      "duplicate/bidirectional rows must not double the attraction")
  }

  test("edge weights scale attraction: heavy edge ends up shorter") {
    import spark.implicits._
    val edges = Seq(("hub", "heavy", 10.0), ("hub", "light", 1.0))
      .toDF("src", "dst", "weight")
    val pos = GraphOps
      .springLayout(spark, edges, iterations = 100, weightCol = Some("weight"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    def d(u: String, v: String): Double = {
      val (x1, y1) = pos(u); val (x2, y2) = pos(v)
      math.hypot(x1 - x2, y1 - y2)
    }
    assert(d("hub", "heavy") < d("hub", "light"),
      s"heavy ${d("hub", "heavy")} should be < light ${d("hub", "light")}")
    // weighted duplicates SUM: the same edge list with the heavy edge split
    // into two directed halves must lay out bit-identically
    val split = Seq(("hub", "heavy", 4.0), ("heavy", "hub", 6.0),
      ("hub", "light", 1.0)).toDF("src", "dst", "weight")
    val p2 = GraphOps
      .springLayout(spark, split, iterations = 100, weightCol = Some("weight"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    assert(pos == p2, "bidirectional weighted rows must merge by summing")
  }

  test("a NULL weight means weight 1, not a dropped edge") {
    import spark.implicits._
    // nx semantics: a missing weight attribute defaults to 1 — the edge
    // (and its nodes) must survive; only a missing ENDPOINT drops a row
    val withNull = Seq(("a", "b", Some(5.0)), ("a", "c", None))
      .toDF("src", "dst", "weight")
    val withOne = Seq(("a", "b", 5.0), ("a", "c", 1.0))
      .toDF("src", "dst", "weight")
    val p1 = GraphOps.springLayout(spark, withNull,
      weightCol = Some("weight")).collect()
    val p2 = GraphOps.springLayout(spark, withOne,
      weightCol = Some("weight")).collect()
    assert(p1.map(_.getString(0)).sorted.toSeq == Seq("a", "b", "c"))
    assert(p1.map(_.toSeq).toSeq == p2.map(_.toSeq).toSeq,
      "NULL weight must behave exactly like weight 1")
  }

  test("self-loops are ignored; singleton edge list still lays out") {
    import spark.implicits._
    val df = Seq(("n1", "n1"), ("n1", "n2")).toDF("src", "dst")
    val rows = GraphOps.springLayout(spark, df).collect()
    assert(rows.map(_.getString(0)).sorted.toSeq == Seq("n1", "n2"))
  }
}
