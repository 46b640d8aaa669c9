package graft

/** Mirrors the driver's t1 smoke: SparkEntry.entry must return >0 rows on
  * sf0.001. Prints the row count and the first rows. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Session()
    val df = SparkEntry.entry(spark)
    val n = df.count()
    println(s"[smoke] entry rows = $n")
    df.show(10, truncate = false)
    require(n > 0, "entry returned no rows")
    spark.stop()
  }
}
