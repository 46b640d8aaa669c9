package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Blowup

/** The ×N corpus behind every scale tool must be a REPRODUCIBLE and
  * CONSISTENT measurement instrument: every table deterministic bit-for-bit,
  * size-exact, id-injective and schema-preserving, and the tables must still
  * join the way the engine joins them — otherwise the recorded ×N curves in
  * BASELINE.md could not be re-derived. */
class BlowupSpec extends AnyFunSuite with SparkSuite {

  private val dir = "/root/testdata/sf0.001"
  private val factor = 3
  private val tmp = tempDir("blowup_spec")

  private def blowup(name: String, f: Int, skewPct: Int = 0): String = {
    val out = tmp.resolve(name).toString
    Blowup.corpus(spark, dir, f, out, skewPct)
    out
  }

  private lazy val uni = blowup("uni", factor)
  private lazy val uni2 = blowup("uni2", factor)

  private def read(d: String, t: String): DataFrame =
    spark.read.parquet(s"$d/$t.parquet")

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  /** (table, id columns, multiplied by the blowup). */
  private val tables = Seq(
    ("region", Seq("r_regionkey"), false),
    ("nation", Seq("n_nationkey"), false),
    ("customer", Seq("c_custkey"), false),
    ("supplier", Seq("s_suppkey"), false),
    ("part", Seq("p_partkey"), false),
    ("events", Seq("event_id"), false),
    ("orders", Seq("o_orderkey"), true),
    ("lineitem", Seq("l_orderkey", "l_linenumber"), true),
    ("documents", Seq("doc_id"), true),
    ("embeddings", Seq("vec_id"), true))

  test("every table: a second run is bit-identical, the row count is " +
      "exact, the id remap is injective, and the schema equals the " +
      "source's") {
    val written = new java.io.File(uni).list().filter(_.endsWith(".parquet"))
    assert(written.sorted.toSeq === tables.map(_._1 + ".parquet").sorted)
    tables.foreach { case (t, idCols, multiplied) =>
      val (src, a, b) = (read(dir, t), read(uni, t), read(uni2, t))
      assert(sameRows(a, b), s"$t: two blowups of the same corpus diverged")
      val k = if (multiplied) factor else 1
      assert(a.count() === k * src.count(), t)
      // the remap is injective: unique ids stay unique (lineitem's
      // (orderkey, linenumber) is not unique in the source itself)
      def ids(df: DataFrame) =
        df.select(idCols.map(col): _*).distinct().count()
      assert(ids(a) === k * ids(src), s"$t: the id remap must be injective")
      assert(a.schema === src.schema, s"$t: schema drifted")
      if (!multiplied) assert(sameRows(a, src), s"$t must ship verbatim")
    }
  }

  test("facts: copy 0 is the source under the orderkey remap, and every " +
      "blown-up lineitem row finds its order") {
    val (o0, o1, l1) =
      (read(dir, "orders"), read(uni, "orders"), read(uni, "lineitem"))
    assert(l1.join(o1, col("l_orderkey") === col("o_orderkey"), "left_anti")
      .count() === 0L)
    val src = o0.select((col("o_orderkey") * factor).as("k"),
      col("o_orderpriority").as("p0"))
    val c0 = o1.filter(pmod(col("o_orderkey"), lit(factor)) === 0)
      .select(col("o_orderkey").as("k"), col("o_orderpriority"))
    assert(c0.join(src, Seq("k")).filter(col("p0") =!= col("o_orderpriority"))
      .count() === 0L)
  }

  test("documents: every blown-up lineitem row finds a document under the " +
      "pmod assignment, and |documents|/|lineitem| equals the source's") {
    def docsPerLine(d: String) =
      (read(d, "documents").count(), read(d, "lineitem").count())
    val (docs0, lines0) = docsPerLine(dir)
    val (docs1, lines1) = docsPerLine(uni)
    // integer cross-multiplication: the ratios are equal exactly
    assert(docs1 * lines0 === docs0 * lines1,
      s"|documents|/|lineitem| $docs1/$lines1 vs source $docs0/$lines0")
    val assigned = read(uni, "lineitem").select(
      pmod(col("l_orderkey") * 7 + col("l_linenumber"), lit(docs1))
        .as("doc_id"))
    assert(assigned.join(read(uni, "documents"), Seq("doc_id"), "left_anti")
      .count() === 0L)
  }

  test("embeddings: copy 0 is the source vector, copies are jittered, " +
      "labels are kept") {
    val byId = read(uni, "embeddings").collect()
      .map(r => r.getLong(0) -> (r.getSeq[Float](1), r.get(2))).toMap
    read(dir, "embeddings").orderBy("vec_id").take(20).foreach { r =>
      val id = r.getLong(0)
      val v0 = r.getSeq[Float](1)
      assert(byId(id * factor)._1 == v0, "copy 0 must be verbatim")
      assert(byId(id * factor + 1)._1 != v0, "copy 1 must be jittered")
      assert(byId(id * factor + 1)._2 == byId(id * factor)._2,
        "label preserved")
    }
  }

  test("documents: copy 0 is the source text, copies only drop words") {
    val byId = read(uni, "documents").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val long = read(dir, "documents").orderBy("doc_id").collect()
      .filter(_.getString(1).split("\\s+").length >= 40).take(20)
    assert(long.nonEmpty)
    var jittered = 0
    long.foreach { r =>
      val id = r.getLong(0)
      assert(byId(id * factor) == r.getString(1), "copy 0 must be verbatim")
      if (byId(id * factor + 1) != r.getString(1)) jittered += 1
      // a copy is a SUBSEQUENCE of the source words — drops, no rewrites
      val sw = r.getString(1).split("\\s+")
      var i = 0
      byId(id * factor + 1).split("\\s+").foreach { w =>
        i = sw.indexOf(w, i)
        assert(i >= 0, s"copy introduced a word not in the source: $w")
        i += 1
      }
    }
    // per-doc "must differ" would be wrong: a ~5% drop rate keeps a
    // 40-word doc intact with p ≈ 0.95^40 ≈ 13% — pin the aggregate
    assert(jittered >= long.length / 2,
      s"only $jittered of ${long.length} long copies dropped words")
  }

  test("hot-key skew blowup: same n, 1:N join closed, hot fractions land") {
    val (f, skewPct) = (4, 25)
    val out = blowup("skew", f, skewPct)
    val l0 = read(dir, "lineitem")
    val o1 = read(out, "orders")
    val l1 = read(out, "lineitem")
    // the skew re-keys rows, never adds or drops them: n is exactly the
    // uniform blowup's n (the wall-time comparison is at the same n)
    assert(l1.count() === l0.count() * f)
    // orderkeys stay unique in orders (exactly ONE hot order row) — the
    // doc-skewed slice joins 1:N, never N:M
    assert(o1.select(col("o_orderkey")).distinct().count() === o1.count())
    assert(o1.filter(col("o_orderkey") === Blowup.HotOrder).count() === 1L)
    // every lineitem row still finds its order (hot slice included, and
    // no order copy was dropped while keeping its children)
    assert(l1.join(o1, col("l_orderkey") === col("o_orderkey"), "left_anti")
      .count() === 0L)
    // the hot document and hot entity each hold ≈ skewPct% of the corpus
    // (selection is pmod over contiguous source keys — tight at any n)
    val n = l1.count().toDouble
    val hotDoc = l1.filter(col("l_orderkey") === Blowup.HotOrder).count() / n
    val hotEnt = l1.filter(col("l_suppkey") === Blowup.HotSupp).count() / n
    assert(hotDoc > skewPct / 100.0 * 0.5 && hotDoc < skewPct / 100.0 * 1.5,
      s"hot-doc fraction $hotDoc")
    // hot entity: the routed slice plus whatever source rows already carry
    // suppkey 1 — at least the routed share
    assert(hotEnt > skewPct / 100.0 * 0.5, s"hot-entity fraction $hotEnt")
    // the two slices are DISJOINT: no row is both doc-hot and entity-hot
    // beyond source rows that organically carry suppkey 1
    val both = l1.filter(col("l_orderkey") === Blowup.HotOrder &&
      col("l_suppkey") === Blowup.HotSupp).count() / n
    assert(both < 0.05, s"overlap fraction $both")
    // pure function: a second run is bit-identical
    val out2 = blowup("skew2", f, skewPct)
    assert(sameRows(l1, read(out2, "lineitem")))
    assert(sameRows(o1, read(out2, "orders")))
  }
}
