package graft.tools

import graft.SparkEntry

/** Dev helper: dump a SUBSET of SparkEntry.queries (args(2..)) to parquet +
  * oracle_sql.json in the Verify layout, so `scripts/check.py` can compare
  * just the queries a change touched instead of the full registry. Shares
  * [[graft.Verify]]'s dump discipline verbatim (same escape rules, same
  * stale-dump deletion on failure, same per-query cut release) — the two
  * mains must never drift, and one failing query must not abort the rest
  * of the requested dumps.
  *
  * {{{ sbt "runMain graft.tools.CheckOne /root/testdata/sf0.01 /tmp/out q_bm25 ..." }}}
  */
object CheckOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val names = args.drop(2).toSeq
    val spark = graft.Session(overrides = graft.Session.registryConf)
    new java.io.File(outDir).mkdirs()
    val qs = SparkEntry.queries
    names.foreach { name =>
      graft.Verify.dumpQuery(spark, sfDir, outDir, name, qs(name))
    }
    graft.Verify.writeOracleJson(outDir, names)
    spark.stop()
  }
}
