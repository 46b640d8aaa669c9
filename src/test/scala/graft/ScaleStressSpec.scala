package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.ScaleStress

/** The third-operating-point blowup must be a REPRODUCIBLE measurement
  * instrument: deterministic bit-for-bit across runs, size-exact, and
  * id-unique — otherwise the recorded three-point curve in BASELINE.md
  * could not be re-derived. */
class ScaleStressSpec extends AnyFunSuite with SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  private def dump(out: String): Seq[String] =
    spark.read.parquet(s"$out/embeddings.parquet")
      .orderBy("vec_id").collect()
      .map(r => s"${r.get(0)}|${r.getSeq[Float](1).mkString(",")}|${r.get(2)}")
      .toSeq

  test("blowup is deterministic, size-exact, id-unique, and jittered") {
    val (a, b) = (
      java.nio.file.Files.createTempDirectory("ss_a").toString,
      java.nio.file.Files.createTempDirectory("ss_b").toString)
    ScaleStress.blowUp(spark, dir, a, 3)
    ScaleStress.blowUp(spark, dir, b, 3)
    val (da, db) = (dump(a), dump(b))
    assert(da == db, "two blowups of the same corpus diverged")
    val n0 = spark.read.parquet(s"$dir/embeddings.parquet").count()
    assert(da.size == 3 * n0)
    val ids = da.map(_.takeWhile(_ != '|'))
    assert(ids.distinct.size == ids.size, "vec_ids must stay unique")
    // copy 0 is the source verbatim (ids remapped ×factor); copies k>0
    // are jittered — same label, different vector
    val src = spark.read.parquet(s"$dir/embeddings.parquet")
      .orderBy("vec_id").collect()
    val byId = da.map(s => s.split('|') match {
      case Array(i, v, l) => i.toLong -> (v, l)
    }).toMap
    src.take(20).foreach { r =>
      val id = r.getLong(0)
      val v0 = r.getSeq[Float](1).mkString(",")
      assert(byId(id * 3)._1 == v0, "copy 0 must be verbatim")
      assert(byId(id * 3 + 1)._1 != v0, "copy 1 must be jittered")
      assert(byId(id * 3 + 1)._2 == byId(id * 3)._2, "label preserved")
    }
  }

  test("schema matches the source table exactly (dtype-pinned loaders " +
      "accept the blowup dir)") {
    val out = java.nio.file.Files.createTempDirectory("ss_c").toString
    ScaleStress.blowUp(spark, dir, out, 2)
    assert(spark.read.parquet(s"$out/embeddings.parquet").schema
      == spark.read.parquet(s"$dir/embeddings.parquet").schema)
  }
}
