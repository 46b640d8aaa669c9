package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Blowup

/** The embeddings of the ×N corpus [[graft.tools.ScaleStress]] measures on
  * must keep the source schema, so the dtype-pinned loaders read the blowup
  * dir as they read the source ([[BlowupSpec]] pins the corpus itself). */
class ScaleStressSpec extends AnyFunSuite with SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  test("schema matches the source table exactly (dtype-pinned loaders " +
      "accept the blowup dir)") {
    Blowup.inDir(None, "ss_c") { out =>
      Blowup.corpus(spark, dir, 2, out)
      assert(spark.read.parquet(s"$out/embeddings.parquet").schema
        == spark.read.parquet(s"$dir/embeddings.parquet").schema)
    }
  }
}
