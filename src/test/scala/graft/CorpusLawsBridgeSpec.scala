package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.Tables
import graft.text.CorpusOps

/** The bridge that makes [[CorpusLaws]] bind: the pure-JVM [[HashMirror]]
  * must agree with the engine's ACTUAL Spark columns row-for-row on real
  * corpus data — then every sampling law the properties prove about the
  * mirror holds for the engine. Plus the subset-stability law exercised
  * directly through Spark plans (filter pushed below the split projection
  * must not change any document's routing). */
class CorpusLawsBridgeSpec extends AnyFunSuite with SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  test("Spark split/mix columns equal the JVM mirror on every corpus row") {
    val rows = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        CorpusOps.splitCol.as("split"), CorpusOps.mixKept.as("kept"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (id, source) = (r.getLong(0), r.getString(1))
      assert(r.getString(2) == HashMirror.split(id),
        s"split mismatch for doc $id")
      assert(r.getBoolean(3) == HashMirror.mixKept(id, source),
        s"mix-kept mismatch for doc $id (source $source)")
    }
  }

  test("split routing is unchanged when the corpus is subset (Spark plans)") {
    val full = Tables.documents(spark, dir)
      .select(col("doc_id"), CorpusOps.splitCol.as("split"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val subset = Tables.documents(spark, dir)
      .filter(col("doc_id") % 3 === 0)
      .select(col("doc_id"), CorpusOps.splitCol.as("split"))
      .collect()
    assert(subset.nonEmpty)
    subset.foreach(r => assert(full(r.getLong(0)) == r.getString(1),
      s"doc ${r.getLong(0)} changed split under subsetting"))
  }
}
