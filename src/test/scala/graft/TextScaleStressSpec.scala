package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.{Blowup, TextScaleStress}

/** The text-family scale pins must hold at a small operating point of the
  * [[graft.tools.Blowup.corpus]] corpus ([[BlowupSpec]] pins the corpus
  * itself) — otherwise the recorded curve in BASELINE.md could not be
  * re-derived. */
class TextScaleStressSpec extends AnyFunSuite with SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  private lazy val out = {
    val o = tempDir("ts_d").toString
    Blowup.corpus(spark, dir, 3, o)
    o
  }

  test("schema matches the source table exactly") {
    assert(spark.read.parquet(s"$out/documents.parquet").schema
      == spark.read.parquet(s"$dir/documents.parquet").schema)
  }

  test("the three near-dup pins hold at a small factor") {
    val (f1, m1) = TextScaleStress.lshRecallCheck(spark, out, 3)
    val (f2, m2) = TextScaleStress.lshVolumeCheck(spark, out, 3)
    val (f3, m3) = TextScaleStress.ngramTopCheck(spark, out, 3)
    assert(f1.isEmpty && f2.isEmpty && f3.isEmpty,
      s"pins failed: ${(f1 ++ f2 ++ f3).mkString("; ")} [$m1 | $m2 | $m3]")
  }

  test("the min-intersection knob floors pair support and is a pure " +
      "restriction of the default ranking") {
    import graft.text.TextOps
    val base = SparkEntry.queries("q_ngram_jaccard")(spark, out).collect()
    val k = 5L
    val kept = TextOps.ngramJaccardTop(spark, out, TextOps.ShingleDfCap,
      k.toInt).collect()
    assert(kept.nonEmpty && kept.forall(_.getAs[Long]("inter") >= k),
      "a pair below the support floor survived the knob")
    // and the gated query refuses a session-conf override outright —
    // its oracle is locked to the defaults (r13 advice tripwire)
    spark.conf.set(TextOps.NgramMinInterConf, k.toString)
    try intercept[IllegalStateException] {
      SparkEntry.queries("q_ngram_jaccard")(spark, out)
    } finally spark.conf.unset(TextOps.NgramMinInterConf)
    // filtering preserves relative order, so every supported pair of the
    // default top-20 must reappear in the filtered top-20 (new entries may
    // rise from below it — that is the point of the knob)
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))
    val keptKeys = kept.map(key).toSet
    base.filter(_.getAs[Long]("inter") >= k).foreach(r =>
      assert(keptKeys.contains(key(r)),
        s"supported pair ${key(r)} dropped out of the filtered ranking"))
  }
}
