package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.text.CorpusOps

/** Convergence proof for the distributed connected-components loop behind
  * `q_dup_clusters` — the oracle gate exercises it on LSH candidate graphs
  * (small, dense clusters: diameter ~2), so this spec drives the shape the
  * gate can't: a long PATH graph, whose diameter forces multiple
  * label-propagation rounds and whose correct answer (every node → min id)
  * fails loudly if pointer jumping or the changed-label convergence count is
  * wrong. */
class CorpusOpsSpec extends AnyFunSuite with SparkSuite {

  private def vertices(ids: Seq[Long]): DataFrame = {
    import spark.implicits._
    ids.toDF("doc_id")
  }

  /** Symmetric edge list for an undirected path over `ids` in order. */
  private def pathEdges(ids: Seq[Long]): DataFrame = {
    import spark.implicits._
    val es = ids.zip(ids.tail)
    (es ++ es.map(_.swap)).toDF("src", "dst")
  }

  test("long path graph converges to the min id (multi-round regime)") {
    // diameter 63: plain propagation needs 63 rounds; pointer jumping must
    // land it within the default 20-round cap (O(log d) ~ 6-7 rounds)
    val ids = (0L to 63L)
    val labels = CorpusOps.connectedComponents(vertices(ids), pathEdges(ids))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == 64)
    assert(labels.values.forall(_ == 0L),
      s"all path nodes must label to min id 0, got ${labels.filter(_._2 != 0L)}")
  }

  test("disjoint components and singletons keep separate min-id labels") {
    val a = (10L to 25L)   // path component, min 10
    val b = (100L to 140L) // longer path component, min 100
    val single = Seq(999L) // no edges at all
    val labels = CorpusOps.connectedComponents(
      vertices(a ++ b ++ single), pathEdges(a).union(pathEdges(b)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a.forall(labels(_) == 10L))
    assert(b.forall(labels(_) == 100L))
    assert(labels(999L) == 999L)
  }

  test("random graphs agree with a reference union-find") {
    // seeded random sparse graphs, checked against an independent
    // sequential union-find: same partition AND same min-id labels
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val n = 20 + rnd.nextInt(20)
      val ids = (0L until n.toLong)
      val es = Seq.fill(n / 2)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      // reference: path-compressed union-find, then relabel to component min
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = {
        var r = x; while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = ids.map(i => i -> ids.filter(j =>
        find(j.toInt) == find(i.toInt)).min).toMap
      import spark.implicits._
      val sym = (es ++ es.map(_.swap)).toDF("src", "dst")
      val got = CorpusOps.connectedComponents(vertices(ids), sym)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"trial $trial (n=$n, edges=${es.size})")
    }
  }

  test("repeated CC runs leak at most the final label checkpoint each") {
    // every intermediate (edge list, superseded rounds) must be freed by
    // the loop itself — only the final round's checkpoint, which backs the
    // returned frame, may survive a call. Without freeing, a diameter-63
    // path leaks ~7 round checkpoints per run and Bench/Verify accumulate
    // block-store for the session.
    val ids = (0L to 63L)
    def persistentCount(): Int = spark.sparkContext.getPersistentRDDs.size
    CorpusOps.connectedComponents(vertices(ids), pathEdges(ids)).count()
    val afterFirst = persistentCount()
    CorpusOps.connectedComponents(vertices(ids), pathEdges(ids)).count()
    val afterSecond = persistentCount()
    assert(afterSecond - afterFirst <= 1,
      s"CC run leaked ${afterSecond - afterFirst} persistent RDDs — " +
        "intermediate checkpoints are not being freed")
  }

  test("round cap exhaustion still returns one row per vertex") {
    // maxRounds=1 cannot finish a diameter-15 path: the loop must exit at
    // the cap (warning on stderr) and hand back a complete, if unconverged,
    // labeling — never lose or duplicate vertices
    val ids = (0L to 15L)
    val out = CorpusOps.connectedComponents(
      vertices(ids), pathEdges(ids), maxRounds = 1)
    assert(out.select(col("doc_id")).distinct().count() == 16)
  }
}
