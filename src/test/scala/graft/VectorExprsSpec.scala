package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorExprs

/** The codegen DotProduct must be bit-identical to the interpreted
  * left-to-right fold it replaced (that equivalence is what keeps the DuckDB
  * oracles valid). */
class VectorExprsSpec extends AnyFunSuite with SparkSuite {

  test("codegen dot equals interpreted fold bit-for-bit") {
    VectorExprs.register(spark)
    import spark.implicits._
    val rows = Seq(
      (Array(1.0, 2.0, 3.0), Array(-1.0, 0.5, 2.0)),
      (Array(0.1, 0.2), Array(0.3, 0.7)),
      (Array.empty[Double], Array.empty[Double]),
      (Array(1e-300, 1e300), Array(1e300, 1e-300)))
      .toDF("a", "b")
    val both = rows.select(
      VectorExprs.dot(col("a"), col("b")).as("codegen"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y), lit(0.0),
        (acc, x) => acc + x).as("interp"))
      .collect()
    both.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("null input yields null") {
    VectorExprs.register(spark)
    import spark.implicits._
    val df = Seq((Some(Array(1.0)), Option.empty[Array[Double]]))
      .toDF("a", "b")
    val r = df.select(VectorExprs.dot(col("a"), col("b"))).collect()
    assert(r.head.isNullAt(0))
  }

  test("length mismatch yields null, not a truncated dot (oracle parity)") {
    // DuckDB's list_zip pads the short side with NULL and the fold
    // propagates it; a silently-truncated Spark dot would return a
    // plausible-but-wrong value AND diverge from the oracle on the same row
    VectorExprs.register(spark)
    import spark.implicits._
    val df = Seq(
      (Array(1.0, 2.0, 3.0), Array(1.0, 2.0)),       // mismatched → null
      (Array(1.0, 2.0), Array(3.0, 4.0)))            // matched → 11.0
      .toDF("a", "b")
    val r = df.select(VectorExprs.dot(col("a"), col("b")).as("d")).collect()
    assert(r(0).isNullAt(0), "mismatched lengths must yield null")
    assert(r(1).getDouble(0) == 11.0)
    // same answer through both evaluation paths
    val interp = df.selectExpr("graft_dot(a, b) AS d").collect()
    assert(interp(0).isNullAt(0) && interp(1).getDouble(0) == 11.0)
  }

  test("a NULL element yields null, not a silent 0.0 (oracle parity)") {
    // DuckDB propagates a NULL element through the fold; reading getDouble
    // on the null slot would have treated it as 0.0 — a cross-engine diff
    // on any row whose vector carries a null element
    VectorExprs.register(spark)
    val df = spark.sql(
      "SELECT graft_dot(array(1.0D, CAST(NULL AS DOUBLE)), " +
        "array(1.0D, 2.0D)) AS d, " +
        "graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS ok")
    val r = df.collect().head
    assert(r.isNullAt(0), "a null element must propagate to a null dot")
    assert(r.getDouble(1) == 11.0)
  }
}
