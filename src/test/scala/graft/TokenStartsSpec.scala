package graft

import org.apache.spark.sql.functions.col
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.model.Tables

/** Property test for [[Tables.tokenStarts]] — the split-fold occurrence
  * enumerator feeding the entities array, both mask gates, and the
  * other_entities projection. Compared against an independent reference:
  * `String.indexOf` non-overlapping scan (the reference's `finditer`
  * semantics).
  *
  * The property generators are ASCII (where code units and code points
  * coincide, so the `String.indexOf` oracle applies verbatim); the
  * supplementary-plane tests below pin the unit contract itself — offsets
  * are CODE POINTS end-to-end, and `Masking.maskUdf` converts them to code
  * units before splicing, so the chain is correct on emoji-bearing text. */
class TokenStartsSpec extends AnyFunSuite with SparkSuite {

  /** Reference: non-overlapping left-to-right scan. */
  private def refStarts(text: String, token: String): Seq[Int] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Int]
    var i = text.indexOf(token)
    while (i >= 0) { out += i; i = text.indexOf(token, i + token.length) }
    out.toSeq
  }

  private def sparkStarts(texts: Seq[String], token: String): Seq[Seq[Int]] = {
    import spark.implicits._
    texts.toDF("text")
      .select(Tables.tokenStarts(col("text"), token).as("starts"))
      .collect().toSeq.map(_.getSeq[Int](0))
  }

  test("property: split-fold enumeration equals the indexOf scan") {
    // corpora built from a tiny alphabet plus the token itself, so
    // occurrences are dense and adjacent ("partpart"), leading, and trailing
    val token = "part"
    val pieceGen = Gen.oneOf("part", "p", "a", "r", "t", "x", " ", "pa", "par")
    val textGen = Gen.listOf(pieceGen).map(_.mkString)
    val prop = Prop.forAll(Gen.listOfN(30, textGen)) { texts =>
      sparkStarts(texts, token) == texts.map(refStarts(_, token))
    }
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(result.passed, result.status.toString)
  }

  test("edge cases: empty, token-only, leading, trailing, no match") {
    val token = "order"
    val texts = Seq("", "order", "orderX", "Xorder", "oorderr",
      "orderorder", "ordeorder", "no match here", "ord")
    assert(sparkStarts(texts, token) == texts.map(refStarts(_, token)))
  }

  test("supplementary-plane text: offsets are code points") {
    // each emoji is ONE code point but TWO UTF-16 code units; tokenStarts
    // must report the code-point position (Spark `length` semantics), not
    // the Java-string index
    assert(sparkStarts(Seq("🚀part"), "part") == Seq(Seq(1)))
    assert(sparkStarts(Seq("🚀🎉 part part"), "part")
      == Seq(Seq(3, 8)))
  }

  test("emoji-bearing text round-trips through mask→unmask") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.Masking
    // 🚀🚀 customer loves 🎉 part 🐉 — tokens sit AFTER supplementary-plane
    // chars, so a code-unit consumer of these code-point offsets would
    // splice mid-word (the pre-round-10 caveat this test retires)
    val text = "🚀🚀 customer loves 🎉 part " +
      "🐉"
    val df = Seq((text, "c1", "p1")).toDF("text", "ck", "pk")
    def spans(key: org.apache.spark.sql.Column, token: String) =
      transform(Tables.tokenStarts(col("text"), token), p =>
        struct(key.as("key"), key.as("name"), p.as("start"),
          (p + token.length).cast("int").as("end")))
    val ents = concat(spans(col("ck"), "customer"), spans(col("pk"), "part"))
    val m = df.select(
      Masking.maskUdf(col("text"), ents, col("ck")).as("m")).head()
      .getStruct(0)
    val masked = m.getString(0)
    assert(masked == "🚀🚀 Target Company loves " +
      "🎉 Other Company_1 🐉",
      s"bad splice: $masked")
    val phMap = m.getSeq[org.apache.spark.sql.Row](1)
      .map(r => (r.getInt(0), r.getString(1)))
    assert(Masking.unmask(masked, "customer", phMap)
      .replace("p1", "part") == text)
  }

  test("all three planted tokens cannot self-overlap (split == full scan)") {
    // the non-overlapping enumeration equals the every-position scan exactly
    // when no token has a proper border (prefix == suffix); verify that
    // property for the tokens the corpus plants
    for (t <- Seq("customer", "part", "order"); k <- 1 until t.length)
      assert(!(t.take(k) == t.takeRight(k)),
        s"token '$t' has a border of length $k — overlapping occurrences " +
          "would diverge from split enumeration")
  }
}
