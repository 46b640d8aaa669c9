package graft.tools

/** Dev profiler for the connected-components loop in the high-diameter
  * regime: runs `chainClustersWithRounds` once at SPARK_GRAFT_SF_DIR and
  * prints loop/materialize wall times and the round count (set
  * GRAFT_CC_DEBUG=1 for per-round timings on stderr). */
object CcProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Session()
    val t0 = System.nanoTime()
    val (df, rounds) = graft.text.CorpusOps.chainClustersWithRounds(spark, sfDir)
    val t1 = System.nanoTime()
    val n = df.count()
    val t2 = System.nanoTime()
    println(f"[ccprof] rounds=$rounds loop=${(t1 - t0) / 1e9}%.2f s " +
      f"materialize=${(t2 - t1) / 1e9}%.2f s rows=$n")
    spark.stop()
  }
}
