package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.report.Presentation

/** P8 presentation shaping: the greedy 80-char wrap's reference quirks
  * (`tool.py:11-46`) and the co-mention window truncation's branch map
  * (`network_analysis.py:146-151`). */
class PresentationSpec extends AnyFunSuite with SparkSuite {

  private def wrap(t: String, n: Int) = Presentation.wrap(t, n)

  test("wrap joins lines with <br>, greedy fill") {
    assert(wrap("aa bb cc dd", 6) == "aa bb<br>cc dd")
  }

  test("wrap counts the trailing space per word (line holds maxLength-1)") {
    // "aaaa bbbb" is 9 chars; accounting reaches exactly 10 = maxLength,
    // so both words fit; "cc" would push to 13 and wraps.
    assert(wrap("aaaa bbbb cc", 10) == "aaaa bbbb<br>cc")
  }

  test("wrap: first word over budget emits the reference's empty first line") {
    assert(wrap("abcdefghijk xx", 10) == "<br>abcdefghijk<br>xx")
  }

  test("wrap passthrough: null and empty; whitespace-only collapses to ''") {
    assert(wrap(null, 80) == null)
    assert(wrap("", 80) == "")
    assert(wrap("   ", 80) == "")
  }

  test("wrap splits on whitespace runs, dropping empties") {
    assert(wrap("a\t b\n\nc", 80) == "a b c")
  }

  test("truncateAround: all four branches") {
    import spark.implicits._
    val df = Seq(
      // both hits: i1=10 (x*10 then 'one'), i2=20
      ("x" * 10 + "ONE" + "y" * 7 + "two" + "z" * 40, "t1"),
      // miss + longer than window -> head cut + ellipsis
      ("a" * 30, "t2"),
      // miss + within window -> unchanged
      ("one short", "t3"),
      // both hits, window covers the whole text -> no ellipsis
      ("one two", "t4")
    ).toDF("text", "tag")
    val out = df.select(col("tag"),
      Presentation.truncateAround(col("text"), lit("one"), lit("two"), 20)
        .as("s")).collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // t1: i1=10, i2=20, len=63; start=max(0,10-10)=0,
    // end=min(63, 20+3+10)=33 -> text[0:33] + "..."
    val t1 = "x" * 10 + "ONE" + "y" * 7 + "two" + "z" * 10
    assert(out("t1") == t1 + "...")
    assert(out("t2") == "a" * 20 + "...")
    assert(out("t3") == "one short")
    // t4: i1=0, i2=4, len=7; start=0, end=min(7,4+3+10)=7 -> full, no "..."
    assert(out("t4") == "one two")
  }

  test("truncateAround is case-insensitive like the reference's lower+find") {
    import spark.implicits._
    val out = Seq("AbC def GhI").toDF("text")
      .select(Presentation.truncateAround(col("text"), lit("abc"), lit("ghi"),
        100).as("s")).head().getString(0)
    assert(out == "AbC def GhI")
  }

  test("addLineBreaks column form equals the driver function on real docs") {
    val docs = graft.model.Tables.documents(spark, "/root/testdata/sf0.001")
      .limit(20)
    val got = docs.select(col("text"),
      Presentation.addLineBreaks(col("text"), 80).as("w")).collect()
    got.foreach { r =>
      assert(r.getString(1) == wrap(r.getString(0), 80))
      // wrapped text re-joins to the original word sequence
      assert(r.getString(1).replace("<br>", " ").split("\\s+")
        .filter(_.nonEmpty).toSeq ==
        r.getString(0).split("\\s+").filter(_.nonEmpty).toSeq)
      // every emitted line respects the budget (given no over-long words)
      r.getString(1).split("<br>", -1).foreach(l => assert(l.length <= 80))
    }
  }
}
