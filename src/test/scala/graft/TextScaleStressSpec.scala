package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.TextScaleStress

/** The text-family blowup must be a REPRODUCIBLE measurement instrument
  * (deterministic, size-exact, id-unique, schema-preserving) and its three
  * pins must hold at a small operating point — otherwise the recorded
  * curve in BASELINE.md could not be re-derived. */
class TextScaleStressSpec extends AnyFunSuite with SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  private def dump(out: String): Seq[String] =
    spark.read.parquet(s"$out/documents.parquet")
      .orderBy("doc_id").collect()
      .map(r => (0 until r.length).map(r.get).mkString("|")).toSeq

  test("doc blowup is deterministic, size-exact, id-unique, and worded") {
    val (a, b) = (
      java.nio.file.Files.createTempDirectory("ts_a").toString,
      java.nio.file.Files.createTempDirectory("ts_b").toString)
    TextScaleStress.blowUpDocs(spark, dir, a, 3)
    TextScaleStress.blowUpDocs(spark, dir, b, 3)
    val (da, db) = (dump(a), dump(b))
    assert(da == db, "two blowups of the same corpus diverged")
    val n0 = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(da.size == 3 * n0)
    val ids = da.map(_.takeWhile(_ != '|'))
    assert(ids.distinct.size == ids.size, "doc_ids must stay unique")
    // copy 0 verbatim; copy k>0 drops words (texts differ for long docs)
    val src = spark.read.parquet(s"$dir/documents.parquet")
      .orderBy("doc_id").collect()
    val byId = spark.read.parquet(s"$a/documents.parquet").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val long = src.filter(_.getString(1).split("\\s+").length >= 40)
    assert(long.nonEmpty)
    var jittered = 0
    long.take(20).foreach { r =>
      val id = r.getLong(0)
      assert(byId(id * 3) == r.getString(1), "copy 0 must be verbatim")
      if (byId(id * 3 + 1) != r.getString(1)) jittered += 1
      // a copy is a SUBSEQUENCE of the source words — drops, no rewrites
      val sw = r.getString(1).split("\\s+")
      val cw = byId(id * 3 + 1).split("\\s+")
      var i = 0
      cw.foreach { w =>
        i = sw.indexOf(w, i)
        assert(i >= 0, s"copy introduced a word not in the source: $w")
        i += 1
      }
    }
    // per-doc "must differ" would be wrong: a ~5% drop rate keeps a
    // 40-word doc intact with p ≈ 0.95^40 ≈ 13% — pin the aggregate
    assert(jittered >= long.take(20).length / 2,
      s"only $jittered of ${long.take(20).length} long copies dropped words")
  }

  test("schema matches the source table exactly") {
    val out = java.nio.file.Files.createTempDirectory("ts_c").toString
    TextScaleStress.blowUpDocs(spark, dir, out, 2)
    assert(spark.read.parquet(s"$out/documents.parquet").schema
      == spark.read.parquet(s"$dir/documents.parquet").schema)
  }

  test("the three near-dup pins hold at a small factor") {
    val out = java.nio.file.Files.createTempDirectory("ts_d").toString
    TextScaleStress.blowUpDocs(spark, dir, out, 3)
    val (f1, m1) = TextScaleStress.lshRecallCheck(spark, out, 3)
    val (f2, m2) = TextScaleStress.lshVolumeCheck(spark, out, 3)
    val (f3, m3) = TextScaleStress.ngramTopCheck(spark, out, 3)
    assert(f1.isEmpty && f2.isEmpty && f3.isEmpty,
      s"pins failed: ${(f1 ++ f2 ++ f3).mkString("; ")} [$m1 | $m2 | $m3]")
  }

  test("the min-intersection knob floors pair support and is a pure " +
      "restriction of the default ranking") {
    val out = java.nio.file.Files.createTempDirectory("ts_e").toString
    TextScaleStress.blowUpDocs(spark, dir, out, 3)
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
